package graft.ops

import org.scalatest.matchers.should.Matchers

import graft.{SidecarFaults, SparkSpec}

/** BM25 semantics against a hand-computed miniature corpus. */
class RetrievalSpec extends SparkSpec with Matchers {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark spark spark"),       // tf=3, short doc
      (2L, "spark flink beam trino"),  // tf=1, longer doc
      (3L, "flink beam trino duckdb"), // no hit
      (4L, "spark query engine")       // tf=1
    ).toDF("id", "text")
  }

  test("bm25: only matching docs score; higher tf ranks higher at equal length") {
    val out = Retrieval.bm25TopK(corpus, "id", "text", Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.map(_._1).toSet shouldBe Set(1L, 2L, 4L)
    // doc 1 saturates tf AND is shortest → top rank.
    out.head._1 shouldBe 1L
    // Every score positive, every hit count 1 for the single-term query.
    out.foreach { case (_, nTerms, s) => nTerms shouldBe 1L; s should be > 0.0 }
  }

  test("bm25 matches the formula on a 2-doc check") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "a a")).toDF("id", "text")
    val out = Retrieval.bm25TopK(df, "id", "text", Seq("a"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // N=2, df=2, idf = ln(1 + 0.5/2.5); avgdl = 2, dl = 2 → len norm = 1.
    val idf = math.log(1 + 0.5 / 2.5)
    def s(tf: Double) = idf * tf * 2.2 / (tf + 1.2)
    out(1L) shouldBe (math.rint(s(1) * 1e6) / 1e6 +- 1e-9)
    out(2L) shouldBe (math.rint(s(2) * 1e6) / 1e6 +- 1e-9)
  }

  test("bm25: rarer term carries higher idf weight") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare"), (2L, "common x"), (3L, "common y"), (4L, "common z")
    ).toDF("id", "text")
    val out = Retrieval.bm25TopK(df, "id", "text", Seq("common", "rare"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.head._1 shouldBe 1L           // the doc with the rare term wins
    out.head._2 shouldBe 2L           // and hit both terms
  }

  test("bm25TopKBatch matches bm25TopK per query and isolates query term sets") {
    import spark.implicits._
    val queries = Seq(("a", "spark"), ("b", "flink beam")).toDF("qid", "qtext")
    val batch = Retrieval.bm25TopKBatch(
      corpus, "id", "text", queries, "qid", "qtext", k = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // Query "a" reproduces the single-query operator exactly.
    val single = Retrieval.bm25TopK(corpus, "id", "text", Seq("spark"), k = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    single.foreach { case (doc, v) => batch(("a", doc)) shouldBe v }
    // Query "b" never matches docs lacking its terms (doc 1 is spark-only).
    batch.keys.filter(_._1 == "b").map(_._2) should not contain 1L
    batch(("b", 3L))._1 shouldBe 2L // doc 3 hits both of query b's terms
  }

  test("bm25 plans broadcast the term statistics — no sort-merge join anywhere") {
    import spark.implicits._
    val queries = Seq(("a", "spark"), ("b", "flink beam")).toDF("qid", "qtext")
    val df = Retrieval.bm25TopKBatch(corpus, "id", "text", queries, "qid", "qtext", k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    val single = Retrieval.bm25TopK(corpus, "id", "text", Seq("spark"), k = 5)
    single.collect()
    single.queryExecution.executedPlan.toString should include("TakeOrderedAndProject")
  }

  test("rrfFuse: partial membership, hand-computed scores, id tie-break, topK cut") {
    import spark.implicits._
    val run1 = Seq(("q", 1L, 1L), ("q", 2L, 2L), ("q", 3L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val run2 = Seq(("q", 2L, 1L), ("q", 4L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(run1, run2), "query_id", "doc_id", k = 60, topK = 3)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // hand-computed: d2 in both runs wins; d1 (1/61) edges d4 (1/62)
    out.keySet shouldBe Set(1L, 2L, 4L) // topK = 3 cuts d3
    out(2L) shouldBe ((2L, 1L, 0.032522475))
    out(1L) shouldBe ((1L, 2L, 0.016393443))
    out(4L) shouldBe ((1L, 3L, 0.016129032))
  }

  test("rrfFuse: exact ties break by candidate id") {
    import spark.implicits._
    val run1 = Seq(("q", 9L, 1L), ("q", 3L, 2L)).toDF("query_id", "doc_id", "rank")
    val run2 = Seq(("q", 3L, 1L), ("q", 9L, 2L)).toDF("query_id", "doc_id", "rank")
    // both docs score 1/61 + 1/62 exactly — DECIMAL equality, id order
    val ranks = Retrieval.rrfFuse(Seq(run1, run2), "query_id", "doc_id", topK = 2)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    ranks(3L) shouldBe 1L
    ranks(9L) shouldBe 2L
  }

  test("bm25 on an empty corpus returns empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    Retrieval.bm25TopK(empty, "id", "text", Seq("a"), k = 5).count() shouldBe 0L
  }

  test("bm25 index serve: row-identical to the one-shot batch, through a parquet roundtrip; k1/b retune without rebuild") {
    import spark.implicits._
    val docs = (1L to 60L).map { i =>
      i -> (Seq.fill((i % 4).toInt + 1)("spark").mkString(" ") +
        s" filler$i " + (if (i % 3 == 0) "vector merge" else "other words here"))
    }.toDF("doc_id", "text")
    val queries = Seq(
      ("q1", "spark vector"), ("q2", "merge filler7"), ("q3", "")).toDF("qid", "qtext")
    val scratch = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    Retrieval.saveBm25IndexPartitioned(
      Retrieval.buildBm25Index(docs, "doc_id", "text"), s"$scratch/idx", 8)
    val index = Retrieval.loadBm25Index(spark, s"$scratch/idx")
    index.idCol shouldBe "doc_id"
    index.nDocs shouldBe 60L
    val served = Retrieval.bm25ServeBatch(index, queries, "qid", "qtext", k = 10)
    val oneShot = Retrieval.bm25TopKBatch(
      docs, "doc_id", "text", queries, "qid", "qtext", k = 10)
    served.columns.toSeq shouldBe oneShot.columns.toSeq
    served.exceptAll(oneShot).count() shouldBe 0L
    oneShot.exceptAll(served).count() shouldBe 0L
    // saturation knobs stay serve-time: a different k1/b pair scores
    // from the SAME postings and still matches its one-shot twin
    val servedB = Retrieval.bm25ServeBatch(
      index, queries, "qid", "qtext", k = 10, k1 = 0.9, b = 0.4)
    val oneShotB = Retrieval.bm25TopKBatch(
      docs, "doc_id", "text", queries, "qid", "qtext", k = 10, k1 = 0.9, b = 0.4)
    servedB.exceptAll(oneShotB).count() shouldBe 0L
    oneShotB.exceptAll(servedB).count() shouldBe 0L
    // the serve plan reads only the index — never the corpus text
    served.inputFiles should not be empty
    served.inputFiles.foreach(_ should include ("idx"))
  }

  test("bm25 partitioned index: identical serve rows, posting scan pruned to the query vocabulary's buckets") {
    import spark.implicits._
    val docs = (1L to 200L).map { i =>
      i -> s"term$i common spark filler${i % 7}"
    }.toDF("doc_id", "text")
    val queries = Seq(("q1", "spark term3"), ("q2", "term9 filler2"))
      .toDF("qid", "qtext")
    val scratch = java.nio.file.Files.createTempDirectory("graft-bm25p").toString
    val built = Retrieval.buildBm25Index(docs, "doc_id", "text")
    val nBuckets = 32
    Retrieval.saveBm25IndexPartitioned(built, s"$scratch/part", nBuckets)
    // the in-session index scans every posting: the unpruned reference
    val flat = built
    val part = Retrieval.loadBm25Index(spark, s"$scratch/part")
    flat.termBuckets shouldBe None
    part.termBuckets shouldBe Some(nBuckets)
    part.nDocs shouldBe flat.nDocs
    part.avgdl shouldBe flat.avgdl

    // Row-identical serve, pruned or not.
    val servedFlat = Retrieval.bm25ServeBatch(flat, queries, "qid", "qtext", k = 10)
    val servedPart = Retrieval.bm25ServeBatch(part, queries, "qid", "qtext", k = 10)
    servedPart.columns.toSeq shouldBe servedFlat.columns.toSeq
    servedPart.exceptAll(servedFlat).count() shouldBe 0L
    servedFlat.exceptAll(servedPart).count() shouldBe 0L

    // Pruning pin #1: the served plan carries a partition filter on
    // the bucket column (static pruning, not a post-scan Filter).
    val plan = servedPart.queryExecution.executedPlan.toString
    withClue(plan.take(3000)) {
      plan should include regex "PartitionFilters: \\[[^\\]]*__graft_tb"
    }

    // Pruning pin #2 (quantitative): the pruned scan feeds strictly
    // fewer posting FILES than the full partitioned layout holds —
    // the files actually opened, counted from input_file_name().
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(org.apache.spark.sql.functions.input_file_name())
        .distinct().count()
    val allFiles = filesRead(part.postings)
    // 200 distinct `term$i` terms fill every bucket; 5 query terms
    // can hit at most 5.
    allFiles should be >= 30L
    // Reconstruct the serve-side pruned scan: same postings, same
    // vocabulary-derived bucket filter (5 distinct query terms).
    val qTerms = Seq("spark", "term3", "term9", "filler2", "common")
    val bucketIds = qTerms.toDF("term")
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"term"),
        org.apache.spark.sql.functions.lit(nBuckets.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val prunedFiles = filesRead(
      part.postings.filter($"__graft_tb".isin(bucketIds: _*)))
    prunedFiles should be <= qTerms.size.toLong
    prunedFiles should be < allFiles
  }

  test("bm25 index load checks its sidecar: a zero-byte file, a NULL n_docs or a missing term_buckets fail naming saveBm25IndexPartitioned") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val docs = Seq((1L, "spark engine"), (2L, "flink engine")).toDF("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("graft-bm25-fault").toString
    def saved(name: String): String = {
      Retrieval.saveBm25IndexPartitioned(
        Retrieval.buildBm25Index(docs, "doc_id", "text"), s"$d/$name", 4)
      Retrieval.loadBm25Index(spark, s"$d/$name").nDocs shouldBe 2L
      s"$d/$name"
    }
    def refused(path: String, why: String): Unit = {
      val e = intercept[IllegalArgumentException](Retrieval.loadBm25Index(spark, path))
      e.getMessage should include ("saveBm25IndexPartitioned")
      e.getMessage should include (why)
    }
    SidecarFaults.truncate(spark, s"${saved("zero")}/stats", 0)
    refused(s"$d/zero", "unreadable sidecar")
    SidecarFaults.rewrite(spark, s"${saved("null")}/stats")(
      _.withColumn("n_docs", lit(null).cast("long")))
    refused(s"$d/null", "NULL n_docs")
    SidecarFaults.rewrite(spark, s"${saved("missing")}/stats")(_.drop("term_buckets"))
    refused(s"$d/missing", "missing field term_buckets")
  }

  test("bm25 index load reads its postings with the stored schema: one Spark job fewer than a legacy sidecar") {
    import spark.implicits._
    val docs = Seq((1L, "spark engine"), (2L, "flink engine")).toDF("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("graft-bm25-schema").toString
    Retrieval.saveBm25IndexPartitioned(
      Retrieval.buildBm25Index(docs, "doc_id", "text"), d, 4)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (stored, storedJobs, _) = traced(Retrieval.loadBm25Index(spark, d))
    // A sidecar written before the schema was stored infers it.
    SidecarFaults.rewrite(spark, s"$d/stats")(_.drop("schema"))
    val (legacy, legacyJobs, _) = traced(Retrieval.loadBm25Index(spark, d))
    storedJobs.size shouldBe legacyJobs.size - 1
    stored.postings.schema.map(f => f.name -> f.dataType) shouldBe
      legacy.postings.schema.map(f => f.name -> f.dataType)
    rows(stored.postings) shouldBe rows(legacy.postings)
  }
}
