package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.run.Transforms

/** The Fit CLI's contract: every transform-DSL gate artifact is
  * buildable from the shell surface (`Fit.fit` is `main` minus the
  * process boundary) and the artifact it writes is EXACTLY what the
  * gate loads — each family here fits an index from a parquet corpus
  * and then gates arrivals through the `GRAFT_TRANSFORMS` string
  * surface, asserting near-dups drop while novel and NULL rows
  * survive (the index-gate contract RunnerSpec pins for
  * hand-built indexes). */
class FitSpec extends SparkSpec with Matchers {

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fit-$tag").toString

  /** History corpus: one long document the band/fp gates can match
    * against, persisted as parquet (Fit reads paths, not frames). */
  private lazy val textCorpus: String = {
    import spark.implicits._
    val dir = scratch("corpus")
    val shared = (1 to 40).map(i => s"word$i").mkString(" ")
    Seq((100L, shared),
      (101L, "completely different historical record with its own tokens"))
      .toDF("doc_id", "body")
      .write.mode("overwrite").parquet(s"$dir/docs")
    s"$dir/docs"
  }

  /** Arrivals: 1 near-dups history, 2 is novel, 3 is NULL. */
  private def arrivals = {
    import spark.implicits._
    val vary = (1 to 40)
      .map(i => if (i == 7) "CHANGED" else s"word$i").mkString(" ")
    Seq(
      (1L, Option(vary)),
      (2L, Option("entirely novel writing with fresh vocabulary throughout this row")),
      (3L, None: Option[String])
    ).toDF("id", "bio")
  }

  private def gateIds(transform: String): Seq[Long] =
    Transforms.applyAll(arrivals, Transforms.parse(transform))
      .collect().map(_.getLong(0)).sorted.toSeq

  test("minhash_index: Fit builds the band-bucketed LSH layout minhash_filter serves") {
    val out = scratch("mh")
    val n = Fit.fit(spark, "minhash_index", textCorpus, "doc_id", "body",
      s"$out/idx", Some(8), Map("shingle_n" -> "3", "k" -> "16"))
    n shouldBe 2L
    // The sidecar must round-trip the build params (the gate derives
    // its serve-side signing from it).
    val idx = graft.ops.Dedup.loadLshBandIndex(spark, s"$out/idx")
    (idx.k, idx.bands, idx.portable, idx.shingleN) shouldBe
      ((16, 8, false, Some(3)))
    gateIds(s"minhash_filter(key=id,col=bio,index=$out/idx,threshold=0.5)") shouldBe
      Seq(2L, 3L)
  }

  test("simhash_index: Fit builds the band-bucketed layout simhash_filter serves") {
    val out = scratch("sh")
    Fit.fit(spark, "simhash_index", textCorpus, "doc_id", "body",
      s"$out/idx", Some(8), Map("portable" -> "true"))
    // Family captured at build: the gate hashes arrivals WITH it.
    graft.ops.Dedup.loadSimhashBandIndex(spark, s"$out/idx")
      .portable shouldBe true
    gateIds(s"simhash_filter(key=id,col=bio,index=$out/idx,max_hamming=8)") shouldBe
      Seq(2L, 3L)
  }

  test("winnow_index: Fit builds the fp-bucketed layout winnow_filter serves") {
    val out = scratch("wn")
    Fit.fit(spark, "winnow_index", textCorpus, "doc_id", "body",
      s"$out/idx", None, Map("k" -> "8", "w" -> "16"))
    val idx = graft.ops.Dedup.loadWinnowFpIndex(spark, s"$out/idx")
    (idx.k, idx.w) shouldBe ((8, 16))
    gateIds(s"winnow_filter(key=id,col=bio,index=$out/idx,min_shared=2)") shouldBe
      Seq(2L, 3L)
  }

  test("exact_index: Fit builds the hash-bucketed layout dedup_against serves, 64 buckets by default") {
    import spark.implicits._
    val out = scratch("ex")
    Fit.fit(spark, "exact_index", textCorpus, "doc_id", "body",
      s"$out/idx", None)
    graft.ops.Dedup.loadExactIndexPartitioned(spark, s"$out/idx")
      .hashBuckets shouldBe 64
    val shared = (1 to 40).map(i => s"word$i").mkString(" ")
    Transforms.applyAll(
        Seq((1L, Option(s"  $shared ")), (2L, Option("fresh words")),
          (3L, None: Option[String])).toDF("id", "bio"),
        Transforms.parse(s"dedup_against(key=id,col=bio,index=$out/idx)"))
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 3L)
  }

  test("semantic_index: Fit builds the self-contained ann+encoded layout semantic_filter serves") {
    import spark.implicits._
    val dir = scratch("sem")
    def vec(axis: Int): Seq[Float] =
      (0 until 8).map(i => if (i == axis) 1.0f else 0.0f)
    Seq((100L, vec(0)), (101L, vec(1)), (102L, vec(2)))
      .toDF("vid", "emb")
      .write.mode("overwrite").parquet(s"$dir/vecs")
    Fit.fit(spark, "semantic_index", s"$dir/vecs", "vid", "emb",
      s"$dir/idx", Some(2), Map("m" -> "2", "k_sub" -> "2"))
    // Self-contained: stored vectors ride the encoded rows, so the
    // gate never needs a separate <index>/vectors table.
    graft.ops.Similarity.loadEncodedCorpus(spark, s"$dir/idx/encoded")
      .columns should contain("hv")
    val vdf = Seq(
      (1L, Option(vec(0))),          // exact dup of history vector 100
      (2L, Option(vec(5))),          // orthogonal to all of history
      (3L, None: Option[Seq[Float]])
    ).toDF("id", "emb")
    Transforms.applyAll(vdf, Transforms.parse(
        s"semantic_filter(key=id,col=emb,index=$dir/idx," +
          "threshold=0.9,n_probe=2,adc_margin=2.0)"))
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 3L)
  }

  test("bm25_index: Fit builds the term-partitioned postings bm25ServeBatch serves") {
    import spark.implicits._
    val out = scratch("bm")
    Fit.fit(spark, "bm25_index", textCorpus, "doc_id", "body",
      s"$out/idx", Some(8))
    val idx = graft.ops.Retrieval.loadBm25Index(spark, s"$out/idx")
    idx.termBuckets shouldBe Some(8)
    idx.nDocs shouldBe 2L
    val hits = graft.ops.Retrieval.bm25ServeBatch(idx,
        Seq((1L, "historical record")).toDF("qid", "qtext"),
        "qid", "qtext", k = 1)
      .collect()
    hits should have size 1
    hits.head.getAs[Long]("doc_id") shouldBe 101L
  }

  test("Fit kn5 rejects an unservable corpus at FIT time, naming the contract") {
    // The synthetic docs FIT fine (raw counts always exist) but lack
    // count-class decay at order 5, so every serve would fail — the
    // trap must surface at train time.
    val out = scratch("kn5bad")
    val e = intercept[IllegalArgumentException](
      Fit.fit(spark, "kn5", textCorpus, "doc_id", "body", s"$out/m", None))
    e.getMessage should include("can never SERVE")
    // ...and nothing was persisted (the gate would sniff c5/ and die).
    new java.io.File(s"$out/m/c5").exists() shouldBe false
  }

  test("Fit fails fast on unknown families and unknown or mistyped opts") {
    val out = scratch("bad")
    intercept[IllegalArgumentException](
      Fit.fit(spark, "bogus", textCorpus, "doc_id", "body", out, None))
      .getMessage should include("unknown artifact")
    intercept[IllegalArgumentException](
      Fit.fit(spark, "minhash_index", textCorpus, "doc_id", "body", out,
        None, Map("bukets" -> "8")))
      .getMessage should include("unknown opt")
    intercept[IllegalArgumentException](
      Fit.fit(spark, "bm25_index", textCorpus, "doc_id", "body", out,
        None, Map("k" -> "8")))
      .getMessage should include("no opts")
    intercept[IllegalArgumentException](
      Fit.fit(spark, "winnow_index", textCorpus, "doc_id", "body", out,
        None, Map("k" -> "eight")))
      .getMessage should include("must be an integer")
    intercept[IllegalArgumentException](
      Fit.fit(spark, "simhash_index", textCorpus, "doc_id", "body", out,
        None, Map("portable" -> "yes")))
      .getMessage should include("true or false")
    // The KN families take no size — accepting-and-ignoring one is the
    // silent-misconfiguration class (review finding r14).
    intercept[IllegalArgumentException](
      Fit.fit(spark, "kn3", textCorpus, "doc_id", "body", out, Some(512)))
      .getMessage should include("no [size]")
    // Non-positive knobs build artifacts that fit fine and serve
    // nothing (max_bucket=0 drops EVERY band row) — fail at fit.
    intercept[IllegalArgumentException](
      Fit.fit(spark, "minhash_index", textCorpus, "doc_id", "body", out,
        None, Map("max_bucket" -> "0")))
      .getMessage should include("positive")
    intercept[IllegalArgumentException](
      Fit.fit(spark, "bm25_index", textCorpus, "doc_id", "body", out,
        Some(0)))
      .getMessage should include("positive")
  }
}
