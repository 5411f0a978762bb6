package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.{SidecarFaults, SparkSpec}

/** Unit + property coverage for the dedup operator family, checked
  * against naive in-memory oracles. */
class DedupSpec extends SparkSpec with Matchers {
  import scala.jdk.CollectionConverters._

  private def docsDf(docs: Seq[(Long, String)]) = {
    import org.apache.spark.sql.{Row, types => T}
    spark.createDataFrame(
      docs.map { case (i, t) => Row(i, t) }.asJava,
      T.StructType(Seq(
        T.StructField("doc_id", T.LongType, nullable = false),
        T.StructField("text", T.StringType, nullable = true))))
  }

  private def naiveShingles(text: String, n: Int): Set[String] = {
    val ws = text.toLowerCase.trim.split("\\s+").toSeq
    if (ws.size < n) Set.empty
    else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  private def naiveJaccard(a: String, b: String, n: Int): Double = {
    val (sa, sb) = (naiveShingles(a, n), naiveShingles(b, n))
    if (sa.isEmpty && sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  test("exact dedup groups whitespace/case variants") {
    val df = docsDf(Seq(
      1L -> "Hello   World", 2L -> "hello world", 3L -> "different doc",
      4L -> "HELLO\tWORLD"))
    val out = Dedup.exact(df, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    out shouldBe Set((1L, 3L), (3L, 1L)) // (keep_id, dup_count) pairs
  }

  test("exactAgainst: first-seen-wins vs the index, batch min within the batch, NULL for fresh; through parquet") {
    val history = docsDf(Seq(
      10L -> "Hello   World", 11L -> "old news here", 12L -> "hello world"))
    val scratch = java.nio.file.Files.createTempDirectory("graft-xidx").toString
    Dedup.saveExactIndexPartitioned(
      Dedup.exact(history, "doc_id", "text"), s"$scratch/idx", 4)
    val index = Dedup.loadExactIndexPartitioned(spark, s"$scratch/idx")
    val arrivals = docsDf(Seq(
      2L -> "HELLO WORLD",      // in the index, arrival id SMALLER than keep_id
      20L -> "fresh content a", // new to everyone: survivor
      21L -> "repeated inside", // within-batch dup pair: 21 survives
      22L -> "Repeated   Inside",
      23L -> "old news here",   // plain index hit
      24L -> null.asInstanceOf[String])) // content-free arrival
    val got = Dedup.exactAgainst(arrivals, index, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    got shouldBe Map(
      2L -> Some(10L), // history is immutable: 10 stays survivor despite 2 < 10
      20L -> None,
      21L -> None,
      22L -> Some(21L),
      23L -> Some(11L),
      24L -> None) // NULL text: one output row, survivor — never silently eaten
  }

  test("ExactHashIndex: identical classification to the flat serve, probed buckets only") {
    val history = docsDf((1L to 200L).map(i => i -> s"doc content ${i % 40}"))
    val arrivals = docsDf(Seq(
      1000L -> "doc content 5",   // index hit
      1001L -> "fresh content a", // survivor
      1002L -> "repeated inside", // batch pair
      1003L -> "Repeated  INSIDE",
      1004L -> null.asInstanceOf[String])) // content-free arrival
    val scratch = java.nio.file.Files.createTempDirectory("graft-xpidx").toString
    val nBuckets = 16
    Dedup.saveExactIndexPartitioned(
      Dedup.exact(history, "doc_id", "text"), s"$scratch/idx",
      nHashBuckets = nBuckets)
    val idx = Dedup.loadExactIndexPartitioned(spark, s"$scratch/idx")
    idx.hashBuckets shouldBe nBuckets

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val served = rows(Dedup.exactAgainst(arrivals, idx, "doc_id", "text"))
    val flat = rows(Dedup.exactAgainst(
      arrivals, Dedup.exact(history, "doc_id", "text"), "doc_id", "text"))
    served shouldBe flat
    served.map(_._1) shouldBe Set(1000L, 1001L, 1002L, 1003L, 1004L)
    // unmatched arrivals stay survivors through the pruned LEFT join
    served.find(_._1 == 1001L).get._3 shouldBe None
    served.find(_._1 == 1004L).get._3 shouldBe None

    // pruning pin: the 4 distinct arrival hashes touch ≤ 4 of the 16
    // bucket directories; the full index spans (far) more
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val arrBuckets = Dedup.exact(arrivals, "doc_id", "text")
      .select(pmod(xxhash64(col("text_hash")), lit(nBuckets.toLong))
        .cast("int").as("bb"))
      .filter(col("bb").isNotNull)
      .distinct().collect().map(_.getInt(0)).toSeq
    filesRead(idx.rows.filter(col("__graft_bb").isin(arrBuckets: _*))) should
      be <= 4L
    filesRead(idx.rows) should be > 4L
  }

  test("sequential ingest property: a k-day merge loop converges to the batch index; daily classifications stay consistent") {
    // The real ingest loop: day 0 seeds the index; each later day is
    // classified against the running index, then folded in. After k
    // days the running index must equal exact() over everything seen
    // (per-day survivor semantics are first-seen, so a day's survivor
    // is whoever the running index knew first).
    val rnd = new scala.util.Random(97)
    val texts = (1 to 12).map(i => s"content variant number $i")
    val days = (0 until 4).map { d =>
      docsDf((1L to 50L).map(i =>
        (d * 1000L + i) -> texts(rnd.nextInt(texts.size))))
    }
    var index = Dedup.exact(days.head, "doc_id", "text")
    days.tail.foreach { day =>
      val classified = Dedup.exactAgainst(day, index, "doc_id", "text")
      classified.count() shouldBe 50L // every arrival classified
      // every dup_of target is a PRE-EXISTING survivor or a batch min
      val keepIds = index.select("keep_id")
        .collect().map(_.getLong(0)).toSet
      val dayIds = day.select("doc_id").collect().map(_.getLong(0)).toSet
      classified.filter(col("dup_of").isNotNull)
        .select("dup_of").collect().map(_.getLong(0))
        .foreach(t => assert(keepIds.contains(t) || dayIds.contains(t)))
      index = Dedup.mergeExactIndexes(Seq(
        index, Dedup.exact(day, "doc_id", "text")))
    }
    val whole = Dedup.exact(
      days.reduce(_ unionByName _), "doc_id", "text")
    index.exceptAll(whole).count() shouldBe 0L
    whole.exceptAll(index).count() shouldBe 0L
  }

  test("mergeExactIndexes law: merge of split-half indexes is row-identical to indexing the union") {
    val rnd = new scala.util.Random(41)
    val texts = Seq("alpha beta", "gamma delta", "epsilon zeta", "eta theta")
    val docs = (1L to 120L).map(i => i -> texts(rnd.nextInt(texts.size)))
    val df = docsDf(docs)
    val whole = Dedup.exact(df, "doc_id", "text")
    val merged = Dedup.mergeExactIndexes(Seq(
      Dedup.exact(df.filter(col("doc_id") % 3 === 0), "doc_id", "text"),
      Dedup.exact(df.filter(col("doc_id") % 3 === 1), "doc_id", "text"),
      Dedup.exact(df.filter(col("doc_id") % 3 === 2), "doc_id", "text")))
    merged.columns.toSeq shouldBe whole.columns.toSeq
    merged.exceptAll(whole).count() shouldBe 0L
    whole.exceptAll(merged).count() shouldBe 0L
  }

  test("ngram jaccard matches a naive oracle exactly") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox leaps over the lazy dog",
      3L -> "entirely unrelated text about spark engines here",
      4L -> "the quick brown fox jumps over the lazy dog today")
    val got = Dedup.ngramJaccard(docsDf(docs), "doc_id", "text", shingleN = 3, threshold = 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      j = naiveJaccard(ta, tb, 3)
    } {
      if (j >= 0.01) got((ia, ib)) shouldBe j +- 1e-12
      else got.contains((ia, ib)) shouldBe false
    }
  }

  test("minhash signature approximates jaccard and finds near-dups") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 7) "CHANGED" else s"token$i").mkString(" ")
    val far = (100 to 140).map(i => s"other$i").mkString(" ")
    val df = docsDf(Seq(1L -> base, 2L -> near, 3L -> far))
    val pairs = Dedup.minhashLsh(df, "doc_id", "text", shingleN = 3, k = 16,
      bands = 8, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("incremental minhash: batch-vs-base pairs equal the full run's cross pairs, through parquet") {
    // corpus with known near-dups straddling the batch/base boundary
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    def vary(j: Int) = (1 to 40).map(i => if (i == j) "CHANGED" else s"token$i").mkString(" ")
    val docs = Seq(
      1L -> base, 2L -> vary(7), 3L -> vary(9),          // near-dup family
      4L -> (100 to 140).map(i => s"other$i").mkString(" "),
      5L -> (100 to 140).map(i => if (i == 120) "X" else s"other$i").mkString(" "),
      6L -> "entirely unrelated text that stands alone in this corpus today ok")
    val df = docsDf(docs)
    val batchIds = Set(2L, 5L)
    val batch = df.filter(col("doc_id").isin(batchIds.toSeq: _*))
    val hist = df.filter(!col("doc_id").isin(batchIds.toSeq: _*))
    val path = java.nio.file.Files.createTempDirectory("graft-sigs").toString + "/sigs"
    Dedup.saveLshBandIndex(
      Dedup.minhashSignatures(hist, "doc_id", "text", shingleN = 3, k = 16), path,
      k = 16, bands = 8, nHashBuckets = 8)
    val inc = Dedup.minhashLshAgainst(
      Dedup.minhashSignatures(batch, "doc_id", "text", shingleN = 3, k = 16),
      Dedup.loadLshBandIndex(spark, path), threshold = 0.3, maxBucket = Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // oracle: the one-shot full-corpus run, restricted to pairs that
    // cross the batch/base boundary (id order normalized)
    val full = Dedup.minhashLsh(df, "doc_id", "text", shingleN = 3, k = 16,
      bands = 8, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter { case ((a, b), _) => batchIds.contains(a) ^ batchIds.contains(b) }
      .map { case ((a, b), j) =>
        (if (batchIds.contains(a)) (a, b) else (b, a)) -> j }
      .toMap
    inc shouldBe full
    inc.keySet should contain((2L, 1L)) // a real cross-boundary near-dup found
  }

  test("minhashLshAgainst fails fast on wrong-k and NULL signatures, with real messages") {
    import org.apache.spark.sql.{Row, types => T}
    val sigSchema = T.StructType(Seq(
      T.StructField("id", T.LongType, nullable = false),
      T.StructField("sig", T.ArrayType(T.LongType), nullable = true)))
    def sigs(rows: Seq[(Long, Seq[Long])]) = spark.createDataFrame(
      rows.map { case (i, s) =>
        Row(i, if (s == null) null else s)
      }.asJava, sigSchema)
    val good = sigs(Seq(1L -> Seq.tabulate(16)(_.toLong)))
    val wrongK = sigs(Seq(2L -> Seq.tabulate(8)(_.toLong)))
    val withNull = sigs(Seq(3L -> null))
    val eK = intercept[Exception] {
      Dedup.minhashLshAgainst(good, wrongK, k = 16, bands = 8).collect()
    }
    eK.getMessage should include("different k")
    val eN = intercept[Exception] {
      Dedup.minhashLshAgainst(good, withNull, k = 16, bands = 8).collect()
    }
    eN.getMessage should include("NULL") // not raise_error(NULL)'s empty message
  }

  test("minhash signatures are deterministic across evaluations") {
    val df = docsDf(Seq(1L -> "a b c d e f g h", 2L -> "a b c d e f g h"))
    val sigs = df.select(TextOps.tokens(TextOps.normalized(col("text"))).as("ws"))
      .select(TextOps.shingles(col("ws"), 2).as("sh"))
      .select(Dedup.minhashSignature(col("sh"), 8).as("sig"))
      .collect().map(_.getSeq[Long](0))
    sigs(0) shouldBe sigs(1)
    sigs(0).length shouldBe 8
  }

  test("simhash: identical docs collide, near docs within hamming budget, far docs beyond") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i % 29 == 0) s"swap$i" else s"tok$i").mkString(" ")
    val far = (200 to 260).map(i => s"zzz$i").mkString(" ")
    val df = docsDf(Seq(1L -> base, 2L -> base, 3L -> near, 4L -> far))
    val sims = Dedup.withSimhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sims(1L) shouldBe sims(2L)
    java.lang.Long.bitCount(sims(1L) ^ sims(3L)) should be < 20
    java.lang.Long.bitCount(sims(1L) ^ sims(4L)) should be > 15
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 14)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
  }

  test("simhashAgainst: cross pairs equal the self-join's cross slice, through a parquet index") {
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    def vary(j: Int) =
      (1 to 30).map(i => if (i == j) "CHANGED" else s"token$i").mkString(" ")
    val docs = docsDf(Seq(
      2L -> base, 4L -> vary(3), 6L -> "some wholly different text here now",
      1L -> vary(5), 3L -> base, 5L -> "unrelated content about other things"))
    val history = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 =!= 0)
    val scratch = java.nio.file.Files.createTempDirectory("graft-simidx").toString
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(history, "doc_id", "text"), s"$scratch/idx", 8)
    val got = Dedup.simhashAgainst(
      arrivals, Dedup.loadSimhashBandIndex(spark, s"$scratch/idx"),
      "doc_id", "text", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: the self-join over the union, restricted to cross pairs
    val self = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val crossRef = self.collect {
      case (a, b, h) if a % 2 == 0 && b % 2 != 0 => (b, a, h)
      case (a, b, h) if a % 2 != 0 && b % 2 == 0 => (a, b, h)
    }.toSet
    got shouldBe crossRef
    got.map(t => (t._1, t._2)) should contain (3L -> 2L) // exact dup, hamming 0
    got.map(_._1) should not contain 5L                  // novel content passes
  }

  test("clusters: connected components match a naive union-find on random graphs") {
    import org.apache.spark.sql.{Row, types => T}
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 30
      val pairs = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // naive union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      val expected = touched.map(id => id -> {
        // min member of the component
        (0 until n).filter(j => find(j) == find(id.toInt)).min.toLong
      }).toMap

      val pairsDf = spark.createDataFrame(
        pairs.map { case (a, b) => Row(a, b) }.asJava,
        T.StructType(Seq(
          T.StructField("id_a", T.LongType, nullable = false),
          T.StructField("id_b", T.LongType, nullable = false))))
      val got = Dedup.clusters(pairsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"trial $trial: ") { got shouldBe expected }
      // durable scratch mode (the pageRank dial): identical clusters,
      // labels read back from scratch parquet instead of checkpoint
      // blocks; a long chain exercises multiple persisted rounds
      if (trial == 1) {
        val scratch =
          java.nio.file.Files.createTempDirectory("graft-cc-scratch").toString
        val durable = Dedup.clusters(pairsDf, scratchDir = Some(scratch))
        durable.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
        durable.inputFiles.exists(_.contains("labels-")) shouldBe true
        val chain = spark.createDataFrame(
          (0L until 20L).map(i => Row(i, i + 1)).asJava,
          T.StructType(Seq(
            T.StructField("id_a", T.LongType, nullable = false),
            T.StructField("id_b", T.LongType, nullable = false))))
        val chained = Dedup.clusters(chain, scratchDir = Some(scratch))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        chained shouldBe (0L to 20L).map(_ -> 0L).toMap
      }
    }
  }

  test("stop-shingle cap: one corpus-wide shingle doesn't go quadratic") {
    // 10k docs, each with unique content plus one shared boilerplate
    // trigram. Uncapped, that shingle alone creates ~50M candidate
    // pairs on one shuffle key; with the df-cap it is dropped and only
    // genuinely-similar pairs remain (none here).
    val docs = (1L to 10000L).map { i =>
      i -> s"unique$i alpha$i beta$i common boiler plate gamma$i delta$i"
    }
    val pairs = Dedup.ngramJaccard(
      docsDf(docs), "doc_id", "text", shingleN = 3, threshold = 0.05, maxDf = 100)
    pairs.count() shouldBe 0L
    // and the cap leaves legitimately-similar pairs intact: two copies
    // of the same rare text still match at jaccard 1.0
    val withDup = docs ++ Seq(
      20001L -> "rare one two three four five six",
      20002L -> "rare one two three four five six")
    val dup = Dedup.ngramJaccard(
      docsDf(withDup), "doc_id", "text", shingleN = 3, threshold = 0.5, maxDf = 100)
      .collect()
    dup.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((20001L, 20002L))
    dup.head.getDouble(2) shouldBe 1.0 +- 1e-12
  }

  test("minhash bucket cap drops template-collapse buckets") {
    // 500 identical docs collapse every band into one bucket of width
    // 500 (250k candidate pairs per band uncapped); the bucket cap
    // drops them — mass-identical docs are exact-dedup's job.
    val docs = (1L to 500L).map(i => i -> "same boilerplate text for all docs here")
    val capped = Dedup.minhashLsh(
      docsDf(docs), "doc_id", "text", shingleN = 3, k = 16, bands = 8,
      threshold = 0.125, maxBucket = 200)
    capped.count() shouldBe 0L
    // sanity: uncapped they do pair up
    val uncapped = Dedup.minhashLsh(
      docsDf(docs.take(20)), "doc_id", "text", shingleN = 3, k = 16, bands = 8,
      threshold = 0.125)
    uncapped.count() shouldBe 190L // 20 choose 2
  }

  test("winnowOverlap: shared-substring docs pair; boilerplate fingerprints df-cap away") {
    val rnd = new scala.util.Random(67)
    def noise(n: Int) = rnd.alphanumeric.take(n).mkString
    // k=5, w=8: any shared substring of length >= w+k-1 = 12 guarantees
    // a shared fingerprint. Give docs 1,2 a 40-char shared run.
    val shared = noise(40)
    val docs = Seq(
      1L -> (noise(50) + shared + noise(50)),
      2L -> (noise(80) + shared + noise(20)),
      3L -> noise(150))
    val pairs = Dedup.winnowOverlap(
      docsDf(docs), "doc_id", "text", k = 5, w = 8, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
    // df-cap: 100 docs sharing only boilerplate pair up uncapped (the
    // quadratic hot key), and maxDf = 1 drops every shared fingerprint
    // before the self-join — zero pairs, no quadratic stage
    val boiler = "standard legal disclaimer boilerplate line"
    val many = (1L to 100L).map(i => i -> (noise(30) + boiler + noise(30)))
    Dedup.winnowOverlap(
      docsDf(many), "doc_id", "text", k = 5, w = 8, minShared = 1)
      .count() should be > 0L
    Dedup.winnowOverlap(
      docsDf(many), "doc_id", "text", k = 5, w = 8, minShared = 1, maxDf = 1)
      .count() shouldBe 0L
  }

  test("winnowAgainst: cross overlaps equal the self-join's cross slice, through a parquet index") {
    val boiler = "common shared boilerplate text appearing everywhere in this corpus"
    val copied = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    val docs = docsDf(Seq(
      2L -> s"$copied and some base-only trailing content",
      4L -> "a wholly different base document with its own words",
      1L -> s"prefix stolen words: $copied",
      3L -> "novel arrival content sharing nothing with the base at all",
      5L -> boiler))
    val base = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 =!= 0)
    val scratch = java.nio.file.Files.createTempDirectory("graft-wfp").toString
    Dedup.saveWinnowFpIndex(
      Dedup.winnowFingerprints(base, "doc_id", "text", k = 8, w = 16),
      s"$scratch/idx", 8)
    val got = Dedup.winnowAgainst(
      arrivals, Dedup.loadWinnowFpIndex(spark, s"$scratch/idx"),
      "doc_id", "text", minShared = 2, maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: uncapped self-join over the union, cross slice only
    val self = Dedup.winnowOverlap(docs, "doc_id", "text",
      k = 8, w = 16, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val crossRef = self.collect {
      case (a, b, n) if a % 2 == 0 && b % 2 != 0 => (b, a, n)
      case (a, b, n) if a % 2 != 0 && b % 2 == 0 => (a, b, n)
    }.toSet
    got shouldBe crossRef
    got.map(t => (t._1, t._2)) should contain (1L -> 2L) // the copied run
    got.map(_._1) should not contain 3L                  // novel content passes
  }

  test("contamination flags exactly the docs sharing enough eval shingles") {
    val evalSet = docsDf(Seq(
      1000L -> "the quick brown fox jumps over the lazy dog"))
    val train = docsDf(Seq(
      1L -> "the quick brown fox jumps somewhere else entirely now", // shares 3 shingles
      2L -> "quick brown dogs sleep all day long",                   // shares 0 trigrams
      3L -> "the quick brown fox jumps over the lazy dog indeed",    // shares 7
      4L -> "completely unrelated text about something different"))
    val got = Dedup.contamination(train, evalSet, "doc_id", "text",
      shingleN = 3, minShared = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.keySet shouldBe Set(1L, 3L)
    got(1L) shouldBe 3L
    got(3L) shouldBe 7L
  }

  test("contaminationBloom is bit-identical to contamination, even with a leaky sketch") {
    val rnd = new scala.util.Random(41)
    def sentence() = Seq.fill(12)("w" + rnd.nextInt(40)).mkString(" ")
    val evalSet = docsDf((1000L to 1019L).map(i => i -> sentence()))
    val train = docsDf((1L to 200L).map(i => i -> sentence()))
    val exact = Dedup.contamination(train, evalSet, "doc_id", "text",
      shingleN = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact should not be empty // the 40-word vocab guarantees collisions
    // tight fpp AND a deliberately leaky 50% sketch: false positives
    // must die in the exact re-check, never reach the output
    for (fpp <- Seq(0.01, 0.5)) {
      Dedup.contaminationBloom(train, evalSet, "doc_id", "text",
        shingleN = 3, minShared = 2, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe exact
    }
  }

  test("fuzzyLevenshtein: blocked pairs within distance; hot block capped away") {
    val docs = docsDf(Seq(
      1L -> "shared opening line with a small typo at the end xx",
      2L -> "shared opening line with a small typo at the end yy",
      3L -> "shared opening line but then a completely different continuation of text",
      4L -> "entirely different opening so never a candidate pair",
      // a hot block: 4 docs sharing a 16-char prefix, maxBlock = 3 drops it
      10L -> "boilerplate head A", 11L -> "boilerplate head B",
      12L -> "boilerplate head C", 13L -> "boilerplate head D"))
    val got = Dedup.fuzzyLevenshtein(docs, "doc_id", "text",
      blockChars = 16, compareChars = 60, maxDist = 4, maxBlock = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    got.keySet shouldBe Set((1L, 2L)) // 3 is blocked with 1,2 but 24 edits away
    got((1L, 2L)) shouldBe 2 // xx -> yy
    // without the cap the boilerplate block pairs appear
    val uncapped = Dedup.fuzzyLevenshtein(docs, "doc_id", "text",
      blockChars = 16, compareChars = 60, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain allOf ((10L, 11L), (10L, 12L), (12L, 13L))
  }

  test("semanticPairs: subset of exact pairs with full recall on well-separated clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 3 tight clusters far apart: near-dup pairs only exist inside a
    // cluster, so cluster-local scoring loses nothing.
    val base = Seq(
      Array(10.0, 0.0, 0.0, 0.0), Array(0.0, 10.0, 0.0, 0.0), Array(0.0, 0.0, 10.0, 0.0))
    val vecs = (0L until 30L).map { i =>
      val c = base((i % 3).toInt)
      i -> c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val sem = Dedup.semanticPairs(df, "vec_id", "embedding", nCentroids = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact should not be empty
    sem shouldBe exact // subset AND recall 1.0 when clusters are separable
  }

  test("ngramContainment sees the quoted-subsumption pairs Jaccard misses") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = docsDf(Seq(
      1L -> quote,                       // the quote itself
      2L -> (filler + " " + quote),      // host embedding it verbatim
      3L -> (1 to 40).map(i => s"other$i").mkString(" "))) // unrelated
    val cont = Dedup.ngramContainment(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    cont.keySet shouldBe Set((1L, 2L))
    cont((1L, 2L)) shouldBe 1.0 // every quote shingle appears in the host
    // the same pair is invisible to Jaccard at any sane threshold:
    // 6 shared shingles over ~67 union shingles
    Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3, threshold = 0.5)
      .count() shouldBe 0L
  }

  test("LSH band index: identical pairs to the raw-signature serve, band-bucket scan pruned, params validated") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 40).map(i => s"w$i")
    val docs = docsDf((1L to 120L).map { i =>
      // 4 clusters of shared prose + per-doc noise → real cross pairs
      val base = (0 until 12).map(j => vocab(((i % 4) * 10 + j % 10).toInt))
      i -> (base ++ Seq.fill(4)(vocab(rnd.nextInt(vocab.size)))).mkString(" ")
    })
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val histSigs = Dedup.minhashSignatures(hist, "doc_id", "text", shingleN = 2, k = 16)
    val batchSigs = Dedup.minhashSignatures(batch, "doc_id", "text", shingleN = 2, k = 16)
    val scratch = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
    val nBuckets = 16
    Dedup.saveLshBandIndex(histSigs, s"$scratch/idx",
      k = 16, bands = 8, nHashBuckets = nBuckets)
    val idx = Dedup.loadLshBandIndex(spark, s"$scratch/idx")
    idx.k shouldBe 16
    idx.bands shouldBe 8
    idx.hashBuckets shouldBe nBuckets

    val served = Dedup.minhashLshAgainst(batchSigs, idx,
      threshold = 0.25, maxBucket = Int.MaxValue)
    val raw = Dedup.minhashLshAgainst(batchSigs, histSigs,
      k = 16, bands = 8, threshold = 0.25)
    val servedSet = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rawSet = raw.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    servedSet should not be empty
    servedSet shouldBe rawSet

    // Pruning pin: a one-doc arrival touches at most bands(=8) band
    // hashes → at most 8 bucket files of the 16 written.
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val allFiles = filesRead(idx.rows)
    allFiles should be >= (nBuckets - 2).toLong // 120 docs fill ~every bucket
    val oneDoc = Dedup.minhashSignatures(
      docs.filter(col("doc_id") === 3L), "doc_id", "text", shingleN = 2, k = 16)
    val oneServe = Dedup.minhashLshAgainst(oneDoc, idx,
      threshold = 0.0, maxBucket = Int.MaxValue)
    oneServe.count() should be > 0L
    // reconstruct the pruned scan the serve ran
    val oneBuckets = oneDoc.select(explode(
        org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(7)),
          b => pmod(xxhash64(xxhash64(concat_ws(",",
            slice(col("sig"), b * 2 + 1, lit(2)), b.cast("string")))),
            lit(nBuckets.toLong)).cast("int"))).as("bb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    filesRead(idx.rows.filter(col("__graft_bb").isin(oneBuckets: _*))) should
      be <= 8L

    // Build-parameter validation: a portable index serves only
    // portable-tagged arrival signatures.
    Dedup.saveLshBandIndex(
      Dedup.minhashSignatures(hist, "doc_id", "text", shingleN = 2,
        k = 16, portable = true),
      s"$scratch/pidx", k = 16, bands = 8, portable = true,
      nHashBuckets = nBuckets)
    val pidx = Dedup.loadLshBandIndex(spark, s"$scratch/pidx")
    intercept[IllegalArgumentException] {
      Dedup.minhashLshAgainst(batchSigs, pidx,
        threshold = 0.25, maxBucket = Int.MaxValue)
    }.getMessage should include ("graft.minhash.portable")

    // the BUILD cross-checks the frame's own family tag — a sidecar
    // recording a family the rows were never hashed with would make
    // every index-derived serve silently empty
    intercept[IllegalArgumentException] {
      Dedup.saveLshBandIndex(histSigs, s"$scratch/wrongfam",
        k = 16, bands = 8, portable = true, nHashBuckets = nBuckets)
    }.getMessage should include ("graft.minhash.portable")

    // shingle width rides the sidecar and is validated at serve:
    // arrival signatures at a different width die with a named
    // parameter instead of silently matching nothing
    idx.shingleN shouldBe Some(2)
    val wideSigs = Dedup.minhashSignatures(batch, "doc_id", "text",
      shingleN = 3, k = 16)
    intercept[IllegalArgumentException] {
      Dedup.minhashLshAgainst(wideSigs, idx,
        threshold = 0.25, maxBucket = Int.MaxValue)
    }.getMessage should include ("shingle_n")
  }

  test("appendLshBandIndex law: append of a batch is row-identical to rebuilding over the union; capped builds fail fast") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = (1 to 40).map(i => s"w$i")
    val docs = docsDf((1L to 90L).map { i =>
      val base = (0 until 12).map(j => vocab(((i % 4) * 10 + j % 10).toInt))
      i -> (base ++ Seq.fill(4)(vocab(rnd.nextInt(vocab.size)))).mkString(" ")
    })
    val half1 = docs.filter(col("doc_id") <= 45L)
    val half2 = docs.filter(col("doc_id") > 45L)
    def sigs(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(d, "doc_id", "text", shingleN = 2, k = 16)
    val scratch = java.nio.file.Files.createTempDirectory("graft-lshapp").toString

    // UNCAPPED build: append-composable — append(half2) over
    // save(half1) is row-identical to save(half1 ∪ half2).
    Dedup.saveLshBandIndex(sigs(half1), s"$scratch/inc",
      k = 16, bands = 8, nHashBuckets = 8)
    Dedup.appendLshBandIndex(sigs(half2), s"$scratch/inc")
    Dedup.saveLshBandIndex(sigs(docs), s"$scratch/full",
      k = 16, bands = 8, nHashBuckets = 8)
    def rowsOf(path: String): Seq[String] =
      Dedup.loadLshBandIndex(spark, path).rows
        .orderBy("id", "band").collect().map(_.toString).toSeq
    rowsOf(s"$scratch/inc") shouldBe rowsOf(s"$scratch/full")
    // ...and the sidecar round-trips the (un)cap.
    Dedup.loadLshBandIndex(spark, s"$scratch/inc")
      .maxBucket shouldBe Some(Int.MaxValue)

    // CAPPED build: bucket membership under the cap is a global
    // aggregate over the whole index — rebuild-only, append refuses.
    Dedup.saveLshBandIndex(sigs(half1), s"$scratch/capped",
      k = 16, bands = 8, maxBucket = 5, nHashBuckets = 8)
    intercept[IllegalArgumentException] {
      Dedup.appendLshBandIndex(sigs(half2), s"$scratch/capped")
    }.getMessage should include("rebuild-maintained")

    // family mismatch still dies with the parameter named
    intercept[IllegalArgumentException] {
      Dedup.appendLshBandIndex(
        Dedup.minhashSignatures(half2, "doc_id", "text",
          shingleN = 2, k = 16, portable = true),
        s"$scratch/inc")
    }.getMessage should include("graft.minhash.portable")

    // Appends are strict on tag PRESENCE (r15 review): a fully
    // untagged hand-built frame is refused on the family tag before
    // anything else — the lenient serve-path skip would let wrong-
    // family signatures append as permanent garbage.
    val untagged = sigs(half2).select(col("id"), col("sig")
      .as("sig", org.apache.spark.sql.types.Metadata.empty))
    intercept[IllegalArgumentException] {
      Dedup.appendLshBandIndex(untagged, s"$scratch/inc")
    }.getMessage should include("graft.minhash.portable")

    // Two-sided shingle guard (r14 ADVICE): a frame carrying the
    // family tag but NO shingle_n, against an index that records the
    // width, is refused instead of silently skipping the width check.
    val familyOnly = sigs(half2).select(col("id"), col("sig").as("sig",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean("graft.minhash.portable", false).build()))
    intercept[IllegalArgumentException] {
      Dedup.appendLshBandIndex(familyOnly, s"$scratch/inc")
    }.getMessage should include("graft.minhash.shingle_n")
  }

  test("SimhashBandIndex: identical pairs to the flat fingerprint serve, probed buckets only") {
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    def vary(j: Int) =
      (1 to 30).map(i => if (i == j) "CHANGED" else s"token$i").mkString(" ")
    val docs = docsDf((1L to 60L).map { i =>
      i -> (if (i % 3 == 0) base
            else if (i % 3 == 1) vary((i % 7).toInt + 1)
            else s"wholly different content number $i about other things")
    })
    val history = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 =!= 0)
    val scratch = java.nio.file.Files.createTempDirectory("graft-simbidx").toString
    val nBuckets = 16
    // portable=true rides the frame's metadata into the stats sidecar
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(history, "doc_id", "text", portable = true),
      s"$scratch/idx", nHashBuckets = nBuckets)
    val idx = Dedup.loadSimhashBandIndex(spark, s"$scratch/idx")
    idx.portable shouldBe true
    idx.hashBuckets shouldBe nBuckets

    val served = Dedup.simhashAgainst(
        arrivals, idx, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val flat = Dedup.simhashAgainst(
        arrivals,
        Dedup.withSimhash(history, "doc_id", "text", portable = true),
        "doc_id", "text", maxHamming = 10, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    served should not be empty
    served shouldBe flat

    // Pruning pin: a one-doc arrival touches at most 4 band chunks →
    // at most 4 bucket files of the 16 written.
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val oneDoc = docs.filter(col("doc_id") === 3L)
    Dedup.simhashAgainst(oneDoc, idx, "doc_id", "text", maxHamming = 10)
      .count() should be > 0L
    // reconstruct the pruned scan the serve ran
    val oneBands = Dedup.withSimhash(oneDoc, "doc_id", "text", portable = true)
      .select(explode(org.apache.spark.sql.functions.transform(
        sequence(lit(0), lit(3)),
        b => pmod(xxhash64(b,
          call_function("shiftrightunsigned", col("simhash"), b * 16)
            .bitwiseAND(lit(0xFFFFL))), lit(nBuckets.toLong)).cast("int")))
        .as("bb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    filesRead(idx.rows.filter(col("__graft_bb").isin(oneBands: _*))) should
      be <= 4L
    filesRead(idx.rows) should be > 4L

    // An untagged frame cannot become an index (the serve must know
    // the index's own hash family).
    val bare = Dedup.loadSimhashBandIndex(spark, s"$scratch/idx") // ok
    bare.rows.count() should be > 0L
    intercept[IllegalArgumentException] {
      Dedup.saveSimhashBandIndex(
        Dedup.withSimhash(history, "doc_id", "text", portable = true)
          .select(col("id"), col("simhash").cast("long").as("simhash")), // cast drops metadata
        s"$scratch/untagged")
    }.getMessage should include ("graft.simhash.portable")
  }

  test("appendSimhashBandIndex: batch-cadence appends serve like one save; family mismatch fails fast") {
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val docs = docsDf((1L to 90L).map { i =>
      i -> (if (i % 2 == 0) base else s"unique content number $i here")
    })
    val parts = Seq(
      docs.filter(col("doc_id") <= 30L),
      docs.filter(col("doc_id") > 30L && col("doc_id") <= 60L),
      docs.filter(col("doc_id") > 60L))
    val scratch = java.nio.file.Files.createTempDirectory("graft-simapp").toString
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(parts.head, "doc_id", "text", portable = true),
      s"$scratch/inc", nHashBuckets = 8)
    parts.tail.foreach { p =>
      Dedup.appendSimhashBandIndex(
        Dedup.withSimhash(p, "doc_id", "text", portable = true),
        s"$scratch/inc")
    }
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(docs, "doc_id", "text", portable = true),
      s"$scratch/one", nHashBuckets = 8)
    def rows(p: String): Seq[String] =
      Dedup.loadSimhashBandIndex(spark, p).rows
        .collect().map(_.toString).sorted.toSeq
    rows(s"$scratch/inc") shouldBe rows(s"$scratch/one")
    // the appended index serves identically to the one-shot one
    val arr = docsDf(Seq(1000L -> base, 1001L -> "novel text entirely"))
    def served(p: String) = Dedup.simhashAgainst(
        arr, Dedup.loadSimhashBandIndex(spark, p),
        "doc_id", "text", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = served(s"$scratch/inc")
    inc should not be empty
    inc shouldBe served(s"$scratch/one")
    // a batch hashed with the wrong family cannot be appended
    intercept[IllegalArgumentException] {
      Dedup.appendSimhashBandIndex(
        Dedup.withSimhash(parts.head, "doc_id", "text", portable = false),
        s"$scratch/inc")
    }.getMessage should include ("graft.simhash.portable")

    // compaction folds per-batch files back to one per bucket
    // directory, rows and serve results untouched
    Dedup.compactSimhashBandIndex(spark, s"$scratch/inc")
    rows(s"$scratch/inc") shouldBe rows(s"$scratch/one")
    served(s"$scratch/inc") shouldBe inc
    val compacted = Dedup.loadSimhashBandIndex(spark, s"$scratch/inc").rows
    compacted.select(input_file_name()).distinct().count() shouldBe
      compacted.select("__graft_bb").distinct().count()
  }

  test("WinnowFpIndex: identical overlaps to the flat serve, stored df honors the serve-time cap") {
    val run = (1 to 40).map(i => s"w$i").mkString(" ")
    val boiler = "the same boilerplate opening sentence appears everywhere"
    val docs = docsDf((1L to 40L).map { i =>
      i -> (if (i % 4 == 0) s"$boiler $run tail$i"
            else if (i % 4 == 2) s"$boiler $run other$i"
            else s"$boiler document $i with its own words entirely ${i * 7}")
    })
    val history = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 =!= 0)
    val scratch = java.nio.file.Files.createTempDirectory("graft-winbidx").toString
    val nBuckets = 16
    Dedup.saveWinnowFpIndex(
      Dedup.winnowFingerprints(history, "doc_id", "text",
        k = 6, w = 8, portable = true),
      s"$scratch/idx", nHashBuckets = nBuckets)
    val idx = Dedup.loadWinnowFpIndex(spark, s"$scratch/idx")
    idx.k shouldBe 6
    idx.w shouldBe 8
    idx.portable shouldBe true
    idx.hashBuckets shouldBe nBuckets

    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // both the capped and uncapped serve must match the flat path
    for (maxDf <- Seq(5, Int.MaxValue)) {
      val served = pairs(Dedup.winnowAgainst(
        arrivals, idx, "doc_id", "text", minShared = 2, maxDf = maxDf))
      val flat = pairs(Dedup.winnowAgainst(
        arrivals,
        Dedup.winnowFingerprints(history, "doc_id", "text",
          k = 6, w = 8, portable = true),
        "doc_id", "text", k = 6, w = 8, minShared = 2, maxDf = maxDf,
        portable = true))
      served shouldBe flat
      if (maxDf == Int.MaxValue) served should not be empty
    }

    // the boilerplate fingerprints (df > 5 across 20 history docs)
    // are exactly what the cap drops — capped strictly smaller
    val uncapped = pairs(Dedup.winnowAgainst(
      arrivals, idx, "doc_id", "text", minShared = 2, maxDf = Int.MaxValue))
    val capped = pairs(Dedup.winnowAgainst(
      arrivals, idx, "doc_id", "text", minShared = 2, maxDf = 5))
    capped.size should be < uncapped.size

    // untagged frames cannot become an index
    intercept[IllegalArgumentException] {
      Dedup.saveWinnowFpIndex(
        idx.rows.select(col("id"), col("fp").cast("long").as("fp")), // cast drops metadata
        s"$scratch/untagged")
    }.getMessage should include ("graft.winnow")
  }

  test("partitioned-layout property: exact/simhash/winnow serves equal their flat twins on random corpora") {
    // Random corpora + random bucket counts: the equivalence must hold
    // whether buckets are sparse (empty directories pruned) or dense
    // (several fingerprints per bucket), with in-batch dups, index
    // hits, and novel content all present.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val vocab = (1 to 25).map(i => s"w${i}t$trial")
      val texts = (1 to 40).map { _ =>
        val n = 8 + rnd.nextInt(12)
        Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // ~1/3 of docs reuse an earlier text verbatim → real dups
      val docs = docsDf((1L to 60L).map { i =>
        i -> (if (rnd.nextInt(3) == 0) texts(rnd.nextInt(texts.size))
              else texts((i % 40).toInt))
      })
      val hist = docs.filter(col("doc_id") % 2 === 0)
      val arr = docs.filter(col("doc_id") % 2 =!= 0)
      val nBuckets = 3 + rnd.nextInt(38)
      val scratch =
        java.nio.file.Files.createTempDirectory(s"graft-prop$trial").toString
      // sorted Seq, NOT Set: the one-row-per-pair contract means a
      // duplicate-emitting regression must fail, not collapse away
      def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.collect().map(_.toString).sorted.toSeq

      Dedup.saveExactIndexPartitioned(
        Dedup.exact(hist, "doc_id", "text"), s"$scratch/ex", nBuckets)
      withClue(s"trial $trial exact (buckets=$nBuckets): ") {
        rows(Dedup.exactAgainst(arr,
          Dedup.loadExactIndexPartitioned(spark, s"$scratch/ex"),
          "doc_id", "text")) shouldBe
          rows(Dedup.exactAgainst(arr,
            Dedup.exact(hist, "doc_id", "text"), "doc_id", "text"))
      }

      Dedup.saveSimhashBandIndex(
        Dedup.withSimhash(hist, "doc_id", "text"), s"$scratch/sh", nBuckets)
      withClue(s"trial $trial simhash (buckets=$nBuckets): ") {
        rows(Dedup.simhashAgainst(arr,
          Dedup.loadSimhashBandIndex(spark, s"$scratch/sh"),
          "doc_id", "text", maxHamming = 12)) shouldBe
          rows(Dedup.simhashAgainst(arr,
            Dedup.withSimhash(hist, "doc_id", "text"),
            "doc_id", "text", maxHamming = 12))
      }

      val maxDf = 2 + rnd.nextInt(8)
      Dedup.saveWinnowFpIndex(
        Dedup.winnowFingerprints(hist, "doc_id", "text", k = 6, w = 10),
        s"$scratch/wn", nBuckets)
      withClue(s"trial $trial winnow (buckets=$nBuckets, maxDf=$maxDf): ") {
        rows(Dedup.winnowAgainst(arr,
          Dedup.loadWinnowFpIndex(spark, s"$scratch/wn"),
          "doc_id", "text", minShared = 2, maxDf = maxDf)) shouldBe
          rows(Dedup.winnowAgainst(arr,
            Dedup.winnowFingerprints(hist, "doc_id", "text", k = 6, w = 10),
            "doc_id", "text", k = 6, w = 10, minShared = 2, maxDf = maxDf))
      }
    }
  }

  /** One bucketed dedup family as the fault-injection specs drive it:
    * its save over a docs frame, its loader, a required sidecar field
    * to NULL (with its SQL type), one to drop, an out-of-range value,
    * and the family whose layout it must refuse to load. */
  private case class Bucketed(
      name: String, writer: String,
      save: (org.apache.spark.sql.DataFrame, String) => Unit,
      load: String => Any, nullField: (String, String), missingField: String,
      outOfRange: (String, Int), foreign: String)

  private def bucketedFamilies: Seq[Bucketed] = Seq(
    Bucketed("exact", "saveExactIndexPartitioned",
      (d, p) => Dedup.saveExactIndexPartitioned(Dedup.exact(d, "doc_id", "text"), p, 8),
      p => Dedup.loadExactIndexPartitioned(spark, p),
      "hash_buckets" -> "int", "hash_buckets", "hash_buckets" -> 0, "winnow"),
    Bucketed("minhash", "saveLshBandIndex",
      (d, p) => Dedup.saveLshBandIndex(
        Dedup.minhashSignatures(d, "doc_id", "text", shingleN = 2), p, nHashBuckets = 8),
      p => Dedup.loadLshBandIndex(spark, p),
      "k" -> "int", "bands", "bands" -> 3, "simhash"),
    Bucketed("simhash", "saveSimhashBandIndex",
      (d, p) => Dedup.saveSimhashBandIndex(Dedup.withSimhash(d, "doc_id", "text"), p, 8),
      p => Dedup.loadSimhashBandIndex(spark, p),
      "portable" -> "boolean", "portable", "hash_buckets" -> -2, "minhash"),
    Bucketed("winnow", "saveWinnowFpIndex",
      (d, p) => Dedup.saveWinnowFpIndex(
        Dedup.winnowFingerprints(d, "doc_id", "text", k = 6, w = 8), p, 8),
      p => Dedup.loadWinnowFpIndex(spark, p),
      "w" -> "int", "k", "w" -> 0, "exact"))

  for (f <- bucketedFamilies)
    test(s"${f.name} bucketed index: an unfinished save or a corrupt, foreign or out-of-range sidecar fails naming ${f.writer}") {
      val docs = docsDf((1L to 40L).map(i =>
        i -> s"document body number ${i % 13} with a few more words"))
      // a save whose write job dies mid-way, as a killed save would (the
      // repartition keeps the planner from folding the error into the
      // local input before the save starts)
      val killed = docs.repartition(2).withColumn("text",
        when(col("doc_id") > 0L, raise_error(lit("killed mid-save")))
          .otherwise(col("text")))
      val d = java.nio.file.Files.createTempDirectory(s"graft-fault-${f.name}").toString
      def refused(path: String, why: String): Unit = {
        val e = intercept[IllegalArgumentException](f.load(path))
        e.getMessage should include (f.writer)
        e.getMessage should include (why)
      }
      def saved(path: String): String = { f.save(docs, path); f.load(path); path }

      // killed before its commit: no sidecar
      intercept[Exception](f.save(killed, s"$d/fresh"))
      refused(s"$d/fresh", "no sidecar")
      // a re-save killed after it deleted the old sidecar
      intercept[Exception](f.save(killed, saved(s"$d/resave")))
      refused(s"$d/resave", "no sidecar")
      // zero-byte and truncated sidecar files
      SidecarFaults.truncate(spark, s"${saved(s"$d/zero")}/stats", 0)
      refused(s"$d/zero", "unreadable sidecar")
      SidecarFaults.truncate(spark, s"${saved(s"$d/cut")}/stats", 16)
      refused(s"$d/cut", "unreadable sidecar")
      // a NULL and a missing field
      SidecarFaults.rewrite(spark, s"${saved(s"$d/null")}/stats")(
        _.withColumn(f.nullField._1, lit(null).cast(f.nullField._2)))
      refused(s"$d/null", s"NULL ${f.nullField._1}")
      SidecarFaults.rewrite(spark, s"${saved(s"$d/missing")}/stats")(
        _.withColumnRenamed(f.missingField, "renamed"))
      refused(s"$d/missing", s"missing field ${f.missingField}")
      // another family's layout
      bucketedFamilies.find(_.name == f.foreign).get.save(docs, s"$d/foreign")
      refused(s"$d/foreign", s"kind '${f.foreign}'")
      // out-of-range parameters
      SidecarFaults.rewrite(spark, s"${saved(s"$d/range")}/stats")(
        _.withColumn(f.outOfRange._1, lit(f.outOfRange._2)))
      refused(s"$d/range", "out of range")
      // a sidecar written before the kind and schema were recorded
      // still loads as the kind its loader asks for
      SidecarFaults.rewrite(spark, s"${saved(s"$d/legacy")}/stats")(_.drop("kind", "schema"))
      f.load(s"$d/legacy")
    }

  test("a dedup_against gate refuses an index directory whose re-save never committed") {
    val docs = docsDf((1L to 20L).map(i => i -> s"gate body $i"))
    val d = java.nio.file.Files.createTempDirectory("graft-fault-gate").toString
    Dedup.saveExactIndexPartitioned(Dedup.exact(docs, "doc_id", "text"), s"$d/idx", 4)
    intercept[Exception](Dedup.saveExactIndexPartitioned(
      Dedup.exact(docs.repartition(2).withColumn("text",
        when(col("doc_id") > 0L, raise_error(lit("killed mid-save")))
          .otherwise(col("text"))), "doc_id", "text"), s"$d/idx", 4))
    val e = intercept[IllegalArgumentException](graft.run.Transforms.apply(docs,
      graft.run.Transforms.parse(s"dedup_against(key=doc_id,col=text,index=$d/idx)").head))
    e.getMessage should include ("no stats/ sidecar")
  }

  test("append onto a foreign kind fails naming the layout's writer and writes nothing") {
    val docs = docsDf((1L to 40L).map(i => i -> s"append body ${i % 9} and tail words"))
    val d = java.nio.file.Files.createTempDirectory("graft-fault-append").toString
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", shingleN = 2)
    val sim = Dedup.withSimhash(docs, "doc_id", "text")
    Dedup.saveLshBandIndex(sigs, s"$d/lsh", nHashBuckets = 8)
    Dedup.saveSimhashBandIndex(sim, s"$d/sim", 8)
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    val (lshRows, simRows) = (rows(s"$d/lsh/bands"), rows(s"$d/sim/bands"))
    val e1 = intercept[IllegalArgumentException](Dedup.appendLshBandIndex(sigs, s"$d/sim"))
    e1.getMessage should include ("saveLshBandIndex")
    e1.getMessage should include ("kind 'simhash'")
    val e2 = intercept[IllegalArgumentException](Dedup.appendSimhashBandIndex(sim, s"$d/lsh"))
    e2.getMessage should include ("saveSimhashBandIndex")
    e2.getMessage should include ("kind 'minhash'")
    rows(s"$d/lsh/bands") shouldBe lshRows
    rows(s"$d/sim/bands") shouldBe simRows
  }

  test("exact and winnow rebuilds: the loaded rows plus a batch rebuild to the one-shot index") {
    val docs = docsDf((1L to 60L).map(i =>
      i -> s"rebuild body ${i % 17} shared run of words ${i % 5} tail"))
    val hist = docs.filter(col("doc_id") <= 40L)
    val batch = docs.filter(col("doc_id") > 40L)
    val d = java.nio.file.Files.createTempDirectory("graft-rebuild").toString
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    // exact: fold the batch's index into the loaded rows (dup_count of
    // repeated hashes updates), written to a fresh path
    Dedup.saveExactIndexPartitioned(Dedup.exact(hist, "doc_id", "text"), s"$d/ex0", 8)
    val ex0 = Dedup.loadExactIndexPartitioned(spark, s"$d/ex0")
    Dedup.saveExactIndexPartitioned(Dedup.mergeExactIndexes(Seq(
      ex0.rows.select("text_hash", "keep_id", "dup_count"),
      Dedup.exact(batch, "doc_id", "text"))), s"$d/ex1", 8)
    Dedup.saveExactIndexPartitioned(Dedup.exact(docs, "doc_id", "text"), s"$d/exAll", 8)
    rows(Dedup.loadExactIndexPartitioned(spark, s"$d/ex1").rows) shouldBe
      rows(Dedup.loadExactIndexPartitioned(spark, s"$d/exAll").rows)

    // winnow: the loaded rows keep their build tags, so their (id, fp)
    // projection plus the batch's fingerprints rebuilds with a fresh
    // stored df
    def fps(df: org.apache.spark.sql.DataFrame) =
      Dedup.winnowFingerprints(df, "doc_id", "text", k = 6, w = 8, portable = true)
    Dedup.saveWinnowFpIndex(fps(hist), s"$d/wn0", 8)
    val wn0 = Dedup.loadWinnowFpIndex(spark, s"$d/wn0")
    Dedup.saveWinnowFpIndex(
      wn0.rows.select("id", "fp").unionByName(fps(batch)), s"$d/wn1", 8)
    Dedup.saveWinnowFpIndex(fps(docs), s"$d/wnAll", 8)
    val (wn1, wnAll) =
      (Dedup.loadWinnowFpIndex(spark, s"$d/wn1"), Dedup.loadWinnowFpIndex(spark, s"$d/wnAll"))
    (wn1.k, wn1.w, wn1.portable) shouldBe ((6, 8, true))
    rows(wn1.rows) shouldBe rows(wnAll.rows)
    wn1.rows.filter(col("df") > 1).count() should be > 0L // the df really re-aggregated
  }

  test("only BucketedIndex and Maintain ask a directory its kind: every other loader names the kind it expects") {
    val main = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val walk = java.nio.file.Files.walk(main)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .filter(f => java.nio.file.Files.readString(f).contains("kindOf("))
        .map(f => main.relativize(f).toString).sorted
      finally walk.close()
    hits shouldBe Seq("graft/ops/BucketedIndex.scala", "graft/tools/Maintain.scala")
  }

  test("index build-parameter tags: mismatched serve parameters fail fast, through parquet round trips") {
    val docs = docsDf(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "iota kappa lambda mu nu xi omicron pi rho sigma"))
    val scratch = java.nio.file.Files.createTempDirectory("graft-ptag").toString

    // SimHash: the portable flag survives a bucketed save and load on
    // the loaded rows, and a family mismatch dies with a named
    // parameter, not empty garbage results.
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(docs, "doc_id", "text", portable = true), s"$scratch/sim", 4)
    val simIdx = Dedup.loadSimhashBandIndex(spark, s"$scratch/sim").rows
      .filter(col("band") === 0).select(col("id"), col("simhash"))
    val simEx = intercept[IllegalArgumentException] {
      Dedup.simhashAgainst(docs, simIdx, "doc_id", "text", portable = false)
    }
    simEx.getMessage should include ("graft.simhash.portable")
    // matching family serves fine (every doc collides with itself)
    Dedup.simhashAgainst(docs, simIdx, "doc_id", "text", portable = true)
      .count() should be >= 2L

    // Winnow: (k, w, portable) all validated.
    Dedup.saveWinnowFpIndex(
      Dedup.winnowFingerprints(docs, "doc_id", "text", k = 8, w = 16),
      s"$scratch/win", 4)
    val winIdx = Dedup.loadWinnowFpIndex(spark, s"$scratch/win").rows
      .select(col("id"), col("fp"))
    val winEx = intercept[IllegalArgumentException] {
      Dedup.winnowAgainst(docs, winIdx, "doc_id", "text", k = 6, w = 16)
    }
    winEx.getMessage should include ("graft.winnow.k")
    intercept[IllegalArgumentException] {
      Dedup.winnowAgainst(docs, winIdx, "doc_id", "text", k = 8, w = 16,
        portable = true)
    }.getMessage should include ("graft.winnow.portable")
    Dedup.winnowAgainst(docs, winIdx, "doc_id", "text", k = 8, w = 16)
      .count() should be >= 2L

    // A tag-free frame (hand-built rows, or an index written by an
    // engine that strips Spark field metadata) passes unvalidated —
    // the documented fallback contract.
    import spark.implicits._
    val bare = Seq((1L, 42L)).toDF("id", "fp")
    Dedup.winnowAgainst(docs, bare, "doc_id", "text", k = 6, w = 4)
      .count() should be >= 0L
  }

  test("ngram jaccard property: random doc pairs match naive oracle") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 30).map(i => s"w$i")
    val docs = (1L to 12L).map { i =>
      i -> Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val got = Dedup.ngramJaccard(docsDf(docs), "doc_id", "text", shingleN = 2, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for { (ia, ta) <- docs; (ib, tb) <- docs if ia < ib } {
      val expected = naiveJaccard(ta, tb, 2)
      if (expected > 0.0) got((ia, ib)) shouldBe expected +- 1e-12
      else got.getOrElse((ia, ib), 0.0) shouldBe 0.0
    }
  }
}
