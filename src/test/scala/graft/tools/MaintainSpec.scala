package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.ops.{Dedup, Similarity}

/** The maintenance entry point: layout auto-detection, rows-untouched
  * compaction, and the crash-leftover guard (a died-mid-swap
  * `.__graft_old` must BLOCK the next run with the recovery path
  * named, never silently double-compact). */
class MaintainSpec extends SparkSpec with Matchers {

  private def scratch() =
    java.nio.file.Files.createTempDirectory("graft-maintain").toString

  test("auto-detects a SimHash band index and folds appends to one file per bucket") {
    import spark.implicits._
    val d = s"${scratch()}/simhashp"
    val half1 = (1L to 60L).map(i => (i, s"alpha beta text number $i"))
      .toDF("doc_id", "text")
    val half2 = (61L to 120L).map(i => (i, s"gamma delta text number $i"))
      .toDF("doc_id", "text")
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(half1, "doc_id", "text"), d, nHashBuckets = 8)
    Dedup.appendSimhashBandIndex(
      Dedup.withSimhash(half2, "doc_id", "text"), d)
    val before = Dedup.loadSimhashBandIndex(spark, d).rows
      .orderBy("id", "band").collect().map(_.toString).toSeq
    val (layout, nBefore, nAfter) = Maintain.run(spark, d)
    layout shouldBe "simhash_band_index"
    nAfter should be < nBefore // appends folded
    val rows = Dedup.loadSimhashBandIndex(spark, d).rows
    rows.select(input_file_name()).distinct().count() shouldBe
      rows.select("__graft_bb").distinct().count() // one file per bucket
    rows.orderBy("id", "band").collect().map(_.toString).toSeq shouldBe before
  }

  test("auto-detects a MinHash LSH band index — never mislabeled simhash — and folds appends") {
    import spark.implicits._
    val d = s"${scratch()}/minhashp"
    val docs = (1L to 90L).map(i =>
      (i, (1 to 14).map(j => s"w${(i % 4) * 10 + j}").mkString(" ")))
      .toDF("doc_id", "text")
    def sigs(p: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(p, "doc_id", "text", shingleN = 2, k = 16)
    // Uncapped build (the append-maintained configuration), then an
    // append — the shape a maintenance job compacts.
    Dedup.saveLshBandIndex(sigs(docs.filter(col("doc_id") <= 45L)), d,
      k = 16, bands = 8, nHashBuckets = 8)
    Dedup.appendLshBandIndex(sigs(docs.filter(col("doc_id") > 45L)), d)
    val before = Dedup.loadLshBandIndex(spark, d).rows
      .orderBy("id", "band").collect().map(_.toString).toSeq
    val (layout, nBefore, nAfter) = Maintain.run(spark, d)
    // r13-verdict regression: both band indexes persist bands/ +
    // stats/, and detection used to report ANY such directory as a
    // simhash index — the stats sidecar schema must name it correctly.
    layout shouldBe "minhash_band_index"
    nAfter should be < nBefore
    val idx = Dedup.loadLshBandIndex(spark, d)
    idx.rows.select(input_file_name()).distinct().count() shouldBe
      idx.rows.select("__graft_bb").distinct().count()
    idx.rows.orderBy("id", "band").collect().map(_.toString).toSeq shouldBe
      before
    // ...and the compacted index still serves (sidecar untouched).
    Dedup.minhashLshAgainst(sigs(docs.filter(col("doc_id") === 3L)), idx,
      threshold = 0.25, maxBucket = Int.MaxValue).count() should be > 0L
  }

  test("auto-detects an encoded corpus and compacts; crash leftovers block the next run") {
    import spark.implicits._
    val base = scratch()
    val d = s"$base/encoded"
    val vecs = (1L to 80L)
      .map(i => (i, Array.tabulate(8)(k => ((i * 7 + k) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val ann = Similarity.fitIndex(vecs, "vec_id", "embedding",
      nCentroids = 4, m = 4, kSub = 4)
    val enc = Similarity.encodeCorpus(vecs, "vec_id", "embedding", ann)
    Similarity.saveEncodedCorpus(enc.filter(col("neighbor_id") <= 40L), d)
    Similarity.appendEncodedCorpus(enc.filter(col("neighbor_id") > 40L), d)
    val before = Similarity.loadEncodedCorpus(spark, d)
      .orderBy("neighbor_id").collect().map(_.toString).toSeq
    val (layout, nBefore, nAfter) = Maintain.run(spark, d)
    layout shouldBe "encoded_corpus"
    nAfter should be < nBefore
    Similarity.loadEncodedCorpus(spark, d)
      .orderBy("neighbor_id").collect().map(_.toString).toSeq shouldBe before

    // Plant a died-mid-swap leftover: the next run must refuse and
    // name the recovery path, not silently compact over it.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(d + ".__graft_old"))
    val e = intercept[IllegalArgumentException](Maintain.run(spark, d))
    e.getMessage should include("__graft_old")
    e.getMessage should include("died mid-swap")
  }

  test("rebuild-maintained kinds (exact, winnow, capped minhash) are refused, naming the kind") {
    import spark.implicits._
    val d = scratch()
    val docs = (1L to 40L).map(i => (i, s"body ${i % 7} of some words here"))
      .toDF("doc_id", "text")
    Dedup.saveExactIndexPartitioned(Dedup.exact(docs, "doc_id", "text"), s"$d/exact", 4)
    Dedup.saveWinnowFpIndex(
      Dedup.winnowFingerprints(docs, "doc_id", "text", k = 6, w = 8), s"$d/winnow", 4)
    Dedup.saveLshBandIndex(Dedup.minhashSignatures(docs, "doc_id", "text", shingleN = 2),
      s"$d/capped", maxBucket = 5, nHashBuckets = 4)
    // a sidecar written before the kind was recorded is told by its fields
    Dedup.saveLshBandIndex(Dedup.minhashSignatures(docs, "doc_id", "text", shingleN = 2),
      s"$d/legacy", maxBucket = 5, nHashBuckets = 4)
    graft.SidecarFaults.rewrite(spark, s"$d/legacy/stats")(_.drop("kind", "schema"))
    for ((dir, kind) <- Seq("exact" -> "exact index", "winnow" -> "winnow index",
        "capped" -> "minhash index capped at max_bucket=5",
        "legacy" -> "minhash index capped at max_bucket=5")) {
      val e = intercept[IllegalArgumentException](Maintain.run(spark, s"$d/$dir"))
      e.getMessage should include (kind)
      e.getMessage should include ("rebuild-maintained")
    }
  }

  test("unknown layouts and missing dirs fail fast with the supported set named") {
    val d = scratch()
    // plain directory with a stray file: neither layout
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(d, "stray.txt"), "x")
    val e = intercept[IllegalArgumentException](Maintain.run(spark, d))
    e.getMessage should include("neither a band index")
    intercept[IllegalArgumentException](
      Maintain.run(spark, s"$d/nope")).getMessage should include("does not exist")
  }
}
