package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}

/** Sparse lexical retrieval over the corpus — the BM25 scoring a
  * training-data pipeline uses for decontamination probes, quality
  * probes ("does this document answer common queries"), and as the
  * lexical arm of hybrid (BM25 + dense) retrieval next to
  * [[Similarity]]'s ANN arm.
  *
  * Scale shape: the query term set is filtered IMMEDIATELY after the
  * token explode — before any shuffle — so the per-term aggregations
  * run over only rows matching the (tiny) query vocabulary, not the
  * corpus vocabulary. Document length rides along with the exploded
  * terms, so no second join against a per-document table is needed.
  * The per-term statistics table is |query|-sized and broadcasts; the
  * single-query top-k compiles to TakeOrderedAndProject and the batch
  * top-k windows partition by query_id (no global sort in either).
  */
object Retrieval {

  /** Tokenized corpus (id, __graft_ws, dl), staged — it feeds the
    * stats aggregate AND the scoring explode. */
  private def tokenizedDocs(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    OpsUtil.widen(df)
      .select(col(idCol),
        TextOps.tokens(TextOps.normalized(col(textCol))).as("__graft_ws"))
      .select(col(idCol), col("__graft_ws"),
        size(col("__graft_ws")).cast("long").as("dl"))
      .localCheckpoint(false)

  /** Corpus statistics (N, avgdl): one 1-row driver aggregate embedded
    * as literals (index metadata — the PIT-bounds / tf-idf-N pattern). */
  private def corpusStats(docs: DataFrame): (Long, Double) = {
    val statsRow = docs.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = statsRow.getLong(0)
    // Empty corpus → no hits anyway; any avgdl avoids the 0/0 NaN.
    (nDocs,
      if (nDocs == 0) 1.0 else statsRow.getLong(1).toDouble / nDocs.toDouble)
  }

  /** Posting rows (id, dl, term, tf) — one per distinct (doc, term)
    * pair surviving `restrictHits`. */
  private def postingsOf(
      docs: DataFrame, idCol: String,
      restrictHits: DataFrame => DataFrame): DataFrame =
    restrictHits(docs
      .select(col(idCol), col("dl"), explode(col("__graft_ws")).as("term")))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 arithmetic over a posting frame: Lucene IDF
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` (never negative) and the
    * k1/b saturation. EVERY scoring path — one-shot, batch, and the
    * persisted-index serve — runs through here, so the formulas
    * cannot drift apart. */
  private def scorePostings(
      postings: DataFrame, nDocs: Long, avgdl: Double,
      k1: Double, b: Double): DataFrame = {
    // Per-term document frequency: |query-vocab|-row table, broadcast.
    val dfTab = postings.groupBy(col("term")).agg(count(lit(1)).as("term_df"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("term_df") + 0.5) / (col("term_df") + 0.5))
    val termScore = idf * (col("tf") * (lit(k1) + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    postings.join(broadcast(dfTab), Seq("term"))
      .withColumn("term_score", termScore)
  }

  /** Shared one-shot BM25 core: tokenize, restrict exploded terms to
    * the query vocabulary via `restrictHits`, score. */
  private def termScores(
      df: DataFrame, idCol: String, textCol: String,
      k1: Double, b: Double,
      restrictHits: DataFrame => DataFrame): DataFrame = {
    val docs = tokenizedDocs(df, idCol, textCol)
    val (nDocs, avgdl) = corpusStats(docs)
    scorePostings(postingsOf(docs, idCol, restrictHits), nDocs, avgdl, k1, b)
  }

  /** Per-doc reduction: hit count + the 6-dp-rounded score (the raw
    * double sum is sensitive to addition order in its last bits, and a
    * rank boundary between near-tied documents must fall identically
    * in every engine). */
  private def docScores(scored: DataFrame, groupCols: Seq[Column]): DataFrame =
    scored.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_hit_terms"),
        round(sum(col("term_score")), 6).as("score"))

  /** Okapi BM25 top-k: score every document containing at least one of
    * `queryTerms` and return the `k` best as (doc id, n_hit_terms,
    * score), ties broken by id. `k1`/`b` are the standard saturation /
    * length-normalization knobs. */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && k > 0)
    val scored = termScores(df, idCol, textCol, k1, b,
      _.filter(col("term").isin(queryTerms: _*)))
    docScores(scored, Seq(col(idCol)))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Batch BM25: score a whole QUERY TABLE (query_id, query_text) in
    * one plan — the serving shape for decontamination probes and eval
    * retrieval, where thousands of queries amortize a single corpus
    * scan. Per-term statistics are computed once (query-independent);
    * each query then reduces over its own term subset. Output:
    * (query_id, doc, n_hit_terms, score, rank ≤ k). Queries whose text
    * is NULL, empty, or whitespace have no terms and return no rows
    * (the empty-string pseudo-token is never a term — it would
    * otherwise "match" empty documents).
    *
    * Scale shape: the query table is tiny by definition — its exploded
    * (query_id, term) set broadcasts twice (scan-side vocabulary
    * prune, per-query reduction); the corpus cost is one tokenize +
    * explode + two map-side-combined aggs regardless of query count.
    * The per-query top-k windows partition by query_id (parallel
    * across queries, never a global sort). */
  def bm25TopKBatch(
      df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0)
    val qTerms = queryTerms(queries, queryIdCol, queryTextCol)
    val vocab = qTerms.select("term").distinct()
    val scored = termScores(df, idCol, textCol, k1, b,
      _.join(broadcast(vocab), Seq("term"))) // scan-side vocabulary prune
    perQueryTopK(scored, qTerms, idCol, k)
  }

  /** (query_id, term) pairs of a query table — the empty-string
    * pseudo-token a blank text splits into is never a term (it would
    * otherwise "match" empty documents). Shared by the one-shot batch
    * and the persisted-index serve so tokenization cannot drift. */
  private def queryTerms(
      queries: DataFrame, queryIdCol: String, queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol).as("query_id"),
      explode(TextOps.tokens(TextOps.normalized(col(queryTextCol)))).as("term"))
      .filter(col("term") =!= "")
      .distinct()

  /** Per-(query, doc) reduction + per-query ranked top-k. */
  private def perQueryTopK(
      scored: DataFrame, qTerms: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), col(idCol))
    docScores(scored.join(broadcast(qTerms), Seq("term")),
        Seq(col("query_id"), col(idCol)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Persistable BM25 inverted index — the fit-once/serve-many face of
    * lexical retrieval (the minhash-signature / exact-hash-index
    * pattern): at 100 TB the corpus is tokenized ONCE into posting
    * rows, and every subsequent query batch joins the (tiny,
    * broadcast) query vocabulary against them — the corpus text is
    * never re-read. `k1`/`b` stay SERVE-time knobs: postings store raw
    * (tf, dl), so retuning saturation costs nothing. `nDocs`/`avgdl`
    * are frozen at build time — exactly the semantics of serving
    * against a snapshot; refresh by rebuilding over the appended
    * corpus at the index-refresh cadence (postings are an agg result,
    * so the rebuild is one job, not a re-design). */
  final case class Bm25Index(
      postings: DataFrame, idCol: String, nDocs: Long, avgdl: Double,
      termBuckets: Option[Int] = None)

  /** Partition column of the term-bucketed posting layout. */
  private[graft] val TermBucket = "__graft_tb"

  /** Term → bucket id under `n` term-hash buckets (the shared
    * [[OpsUtil.hashBucket]] — save and serve sides must stay
    * bit-identical). */
  private def termBucket(term: Column, n: Int): Column =
    OpsUtil.hashBucket(n, term)

  /** Build a [[Bm25Index]]: one tokenize + one map-side-combined
    * hash-agg over the corpus; posting count = Σ per-doc distinct
    * terms (the classic inverted-index size). */
  def buildBm25Index(
      df: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val docs = tokenizedDocs(df, idCol, textCol)
    val (nDocs, avgdl) = corpusStats(docs)
    Bm25Index(postingsOf(docs, idCol, identity), idCol, nDocs, avgdl)
  }

  /** Persist a [[Bm25Index]] — the one persisted BM25 layout,
    * TERM-PARTITIONED: postings land in
    * `nTermBuckets` term-hash partition directories, so
    * [[bm25ServeBatch]] reads only the partitions the query
    * vocabulary hashes into instead of scanning every posting — the
    * at-scale serve layout (the bucketed-exact-index argument applied
    * to retrieval). Size `nTermBuckets` to the CORPUS, not the query:
    * with per-bucket bytes held constant (buckets grow with the
    * index) and more buckets than the typical query vocabulary, serve
    * scan bytes are ~|vocabulary| × bucket size — flat as the corpus
    * grows, which a flat layout can never be. The posting frame is
    * repartitioned on the bucket id before writing so each bucket is
    * one file, not one-per-task (the small-file explosion
    * `partitionBy` alone produces). */
  def saveBm25IndexPartitioned(
      index: Bm25Index, path: String, nTermBuckets: Int): Unit = {
    require(nTermBuckets > 0, "saveBm25IndexPartitioned: nTermBuckets must be > 0")
    val spark = index.postings.sparkSession
    // the sidecar is the commit marker: gone while the postings change
    val stats = new org.apache.hadoop.fs.Path(s"$path/stats")
    stats.getFileSystem(graft.io.HadoopConfs.of(spark)).delete(stats, true)
    val postings = index.postings
      .withColumn(TermBucket, termBucket(col("term"), nTermBuckets))
    postings.repartition(nTermBuckets, col(TermBucket))
      .write.mode("overwrite").partitionBy(TermBucket)
      .parquet(s"$path/postings")
    import spark.implicits._
    Seq((index.idCol, index.nDocs, index.avgdl, nTermBuckets, postings.schema.json))
      .toDF("id_col", "n_docs", "avgdl", "term_buckets", "schema")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Load a [[saveBm25IndexPartitioned]] layout. Its `stats` sidecar
    * is read on the driver with no Spark job and checked by field name
    * ([[BucketedIndex.readSidecar]]); a layout without a positive
    * `term_buckets` fails naming the writer. The postings read with the
    * stored schema, so the load infers nothing; a sidecar written
    * before the schema was stored infers it (the
    * [[BucketedIndex.load]] rule). */
  def loadBm25Index(
      spark: org.apache.spark.sql.SparkSession, path: String): Bm25Index = {
    val st = BucketedIndex.readSidecar(spark, s"$path/stats",
      "saveBm25IndexPartitioned",
      Seq("id_col" -> StringType, "n_docs" -> LongType, "avgdl" -> DoubleType,
        "term_buckets" -> IntegerType, "schema" -> StringType),
      Seq(BucketedIndex.positive("term_buckets"),
        "schema parses as a struct" -> (_.get("schema").forall(s =>
          scala.util.Try(DataType.fromJson(s.toString)).toOption
            .exists(_.isInstanceOf[StructType])))),
      optional = Set("schema"))
    val read = st.get("schema").fold(spark.read)(s =>
      spark.read.schema(DataType.fromJson(s.toString).asInstanceOf[StructType]))
    Bm25Index(read.parquet(s"$path/postings"),
      st("id_col").asInstanceOf[String], st("n_docs").asInstanceOf[Long],
      st("avgdl").asInstanceOf[Double], Some(st("term_buckets").asInstanceOf[Int]))
  }

  /** Batch BM25 against a prebuilt [[Bm25Index]] — output contract
    * IDENTICAL to [[bm25TopKBatch]] on the corpus the index was built
    * from (row-for-row, oracle `bm25_serve` shares bm25_batch's SQL
    * verbatim): same query tokenization ([[queryTerms]]), same
    * scoring ([[scorePostings]]), same reduction/ranking
    * ([[perQueryTopK]]) — only the corpus tokenize is replaced by a
    * vocabulary-pruned posting scan, which is the entire point. */
  def bm25ServeBatch(
      index: Bm25Index, queries: DataFrame,
      queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0)
    val qTerms = queryTerms(queries, queryIdCol, queryTextCol)
    val vocab = qTerms.select("term").distinct()
    val postings = index.termBuckets match {
      case Some(n) =>
        // Partition pruning on the term-bucketed layout: the query
        // vocabulary is tiny by contract (it already broadcasts
        // twice), so its bucket set collects to the driver — one
        // |vocab|-bounded job, the corpusStats pattern — and prunes
        // posting partitions STATICALLY in the plan (`PartitionFilters`
        // on the scan; deterministic, unlike leaving it to the DPP
        // cost heuristic). Only buckets a query term hashes into are
        // ever read; the per-term join below re-checks exact terms, so
        // bucket collisions cost bytes, never correctness.
        val buckets = vocab.select(termBucket(col("term"), n).as("tb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        index.postings
          .filter(col(TermBucket).isin(buckets: _*))
          .drop(TermBucket)
      case None => index.postings
    }
    val scored = scorePostings(
      postings.join(broadcast(vocab), Seq("term")),
      index.nDocs, index.avgdl, k1, b)
    perQueryTopK(scored, qTerms, index.idCol, k)
  }

  /** Reciprocal-rank fusion — the hybrid-retrieval merge (BM25 arm +
    * dense/ANN arm + any other ranker): every run contributes
    * 1/(k + rank) per (query, candidate) and candidates absent from a
    * run contribute nothing, so partial fusion is the normal case (a
    * lexical-only hit has no dense rank). Each run must carry
    * (queryIdCol, idCol, rank) with rank unique per query WITHIN the
    * run. Score arithmetic is the standard RRF of Cormack et al.;
    * contributions round to 9 dp and sum as DECIMAL so the fused score
    * is order-independent and bit-identical across engines and
    * partitionings (a rank boundary between near-tied candidates must
    * fall identically everywhere); the fused rank tie-breaks by
    * candidate id. Output columns, in order: (query, id, n_runs,
    * fused_rank ≤ topK, fused_score).
    *
    * Scale shape: a union of NARROW rank frames (query, id, rank —
    * never text or vectors), one hash agg on (query, id), and a
    * per-query window — no global sort; each run's own cost stays in
    * that run's plan. */
  def rrfFuse(
      runs: Seq[DataFrame], queryIdCol: String, idCol: String,
      k: Int = 60, topK: Int = 10): DataFrame = {
    require(runs.nonEmpty && k >= 0 && topK > 0)
    val unioned = runs
      .map(_.select(col(queryIdCol), col(idCol),
        col("rank").cast("long").as("rank")))
      .reduce(_ unionByName _)
    val contrib =
      round(lit(1.0) / (lit(k) + col("rank")), 9).cast("decimal(20,9)")
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(desc("__graft_s"), col(idCol))
    unioned.withColumn("__graft_c", contrib)
      .groupBy(col(queryIdCol), col(idCol))
      .agg(count(lit(1)).as("n_runs"), sum(col("__graft_c")).as("__graft_s"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= topK)
      .withColumn("fused_score", col("__graft_s").cast("double"))
      .drop("__graft_s")
  }
}
