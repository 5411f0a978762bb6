package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Cdc, Classifier, CorpusOps, Dedup, FeatureStats, Layout, Retrieval, Sampling, Similarity, TextOps}

/** Round-4 dataset-shaping operators as verifiable queries: BM25
  * retrieval, temperature-based domain rebalancing, token-budget greedy
  * selection, CDC changelog merge, hard-negative mining, DSIR
  * importance weights, and z-order layout assignment. Every query has
  * an exact DuckDB value oracle.
  */
object ShapingQueries {
  import QueryDef.table

  private val Norm =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** The portable multiplicative hash of [[Sampling.hashBucket]] with
    * buckets = 1000003, as DuckDB SQL. */
  private def hashSql(key: String): String =
    s"(((($key % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 1000003"

  /** The classifier training loop (2 full-batch GD steps) replayed as
    * a DuckDB CTE chain, ending in `final_scores(doc_id, y, score)` —
    * shared by every oracle that consumes the trained model. */
  private val ClassifierCtes = s"""feats AS (
          SELECT DISTINCT doc_id, CAST(lang = 'en' AS INT) AS y, substr(md5(tk), 1, 2) AS b
          FROM (SELECT doc_id, lang, unnest(string_split($Norm, ' ')) AS tk FROM documents)
          WHERE tk != ''),
        n AS (SELECT count(DISTINCT doc_id) AS n FROM feats),
        w0 AS (SELECT DISTINCT b, CAST(0 AS DECIMAL(28,6)) AS w FROM feats),
        s1 AS (SELECT doc_id, y, sum(w) AS s FROM feats JOIN w0 USING (b) GROUP BY 1, 2),
        r1 AS (SELECT doc_id,
                 CAST(y AS DECIMAL(28,6))
                   - CAST(round(1.0 / (1.0 + exp(-CAST(s AS DOUBLE))), 6) AS DECIMAL(28,6)) AS r
               FROM s1),
        g1 AS (SELECT b, sum(r) AS g FROM feats JOIN r1 USING (doc_id) GROUP BY 1),
        w1 AS (SELECT w0.b,
                 w0.w + CAST(round(0.5 * CAST(g AS DOUBLE) / (SELECT n FROM n), 6)
                   AS DECIMAL(28,6)) AS w
               FROM w0 JOIN g1 ON w0.b = g1.b),
        s2 AS (SELECT doc_id, y, sum(w) AS s FROM feats JOIN w1 USING (b) GROUP BY 1, 2),
        r2 AS (SELECT doc_id,
                 CAST(y AS DECIMAL(28,6))
                   - CAST(round(1.0 / (1.0 + exp(-CAST(s AS DOUBLE))), 6) AS DECIMAL(28,6)) AS r
               FROM s2),
        g2 AS (SELECT b, sum(r) AS g FROM feats JOIN r2 USING (doc_id) GROUP BY 1),
        w2 AS (SELECT w1.b,
                 w1.w + CAST(round(0.5 * CAST(g AS DOUBLE) / (SELECT n FROM n), 6)
                   AS DECIMAL(28,6)) AS w
               FROM w1 JOIN g2 ON w1.b = g2.b),
        final_scores AS (
          SELECT doc_id, y,
                 CAST(CAST(round(1.0 / (1.0 + exp(-CAST(s AS DOUBLE))), 6)
                   AS DECIMAL(28,6)) AS DOUBLE) AS score
          FROM (SELECT doc_id, y, sum(w) AS s FROM feats JOIN w2 USING (b) GROUP BY 1, 2))"""

  /** [[graft.ops.Layout.zValue]] mirrored as SQL: the identical
    * shift/mask fold, generated from the same bit positions. */
  private def zSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(($x & ${1L << i}) * ${1L << i}) | (($y & ${1L << i}) * ${2L << i})"
    }.map(t => s"($t)").mkString(" | ")

  /** The 3-query batch-BM25 oracle, shared VERBATIM by bm25_batch,
    * bm25_serve, and bm25_serve_pruned — the strongest possible pin
    * that the one-shot plan, the persisted-index serve, and the
    * term-partition-pruned serve are semantically one operator. */
  private val Bm25BatchOracle = s"""
        WITH q AS (SELECT * FROM (VALUES
                     ('q1', 'spark vector'),
                     ('q2', 'merge customer table'),
                     ('q3', 'window agg scan')) AS t(query_id, query_text)),
        qt AS (SELECT DISTINCT query_id, term FROM (
                 SELECT query_id,
                        unnest(string_split(trim(regexp_replace(lower(query_text), '\\s+', ' ', 'g')), ' ')) AS term
                 FROM q) WHERE term != ''),
        d AS (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents),
        dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM d),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        hits AS (SELECT doc_id, dl, unnest(ws) AS term FROM dl),
        tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM hits
               WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
        dfx AS (SELECT term, count(*) AS term_df FROM tf GROUP BY 1),
        sc AS (SELECT qt.query_id, tf.doc_id,
                 ln(1.0 + ((SELECT n FROM stats) - term_df + 0.5) / (term_df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats))) AS s
               FROM tf JOIN dfx USING (term) JOIN qt USING (term)),
        agg AS (SELECT query_id, doc_id, count(*) AS n_hit_terms,
                       round(sum(s), 6) AS score
                FROM sc GROUP BY 1, 2)
        SELECT query_id, doc_id, n_hit_terms, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        FROM agg QUALIFY rank <= 20"""

  val all: Seq[QueryDef] = Seq(

    // Okapi BM25 over the documents corpus for a 4-term query.
    QueryDef(
      "bm25_topk",
      (s, dir) => Retrieval.bm25TopK(
        table(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "vector", "merge", "customer"), k = 50),
      Some(s"""
        WITH d AS (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents),
        dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM d),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        hits AS (SELECT doc_id, dl, unnest(ws) AS term FROM dl),
        tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM hits
               WHERE term IN ('spark', 'vector', 'merge', 'customer') GROUP BY 1, 2, 3),
        dfx AS (SELECT term, count(*) AS term_df FROM tf GROUP BY 1),
        sc AS (SELECT doc_id,
                 ln(1.0 + ((SELECT n FROM stats) - term_df + 0.5) / (term_df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats))) AS s
               FROM tf JOIN dfx USING (term))
        SELECT doc_id, count(*) AS n_hit_terms, round(sum(s), 6) AS score
        FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 50""")),

    // Batch BM25: three queries scored against the corpus in one plan.
    QueryDef(
      "bm25_batch",
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          ("q1", "spark vector"),
          ("q2", "merge customer table"),
          ("q3", "window agg scan")).toDF("query_id", "query_text")
        Retrieval.bm25TopKBatch(
          table(s, dir, "documents"), "doc_id", "text",
          queries, "query_id", "query_text", k = 20)
      },
      Some(Bm25BatchOracle)),

    // Persisted-index BM25 serving: the SAME three queries through
    // buildBm25Index → bm25ServeBatch — the fit-once/serve-many face
    // of lexical retrieval. Shares bm25_batch's oracle SQL verbatim
    // (the pit_manyviews_fused pin: identical semantics, the corpus
    // tokenize replaced by a vocabulary-pruned posting scan).
    QueryDef(
      "bm25_serve",
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          ("q1", "spark vector"),
          ("q2", "merge customer table"),
          ("q3", "window agg scan")).toDF("query_id", "query_text")
        Retrieval.bm25ServeBatch(
          Retrieval.buildBm25Index(table(s, dir, "documents"), "doc_id", "text"),
          queries, "query_id", "query_text", k = 20)
      },
      Some(Bm25BatchOracle)),

    // TERM-PARTITION-PRUNED BM25 serving: the same three queries
    // through the at-scale posting layout (saveBm25IndexPartitioned →
    // parquet round trip → bm25ServeBatch, which statically prunes
    // posting partitions to the query vocabulary's term-hash buckets).
    // Shares the bm25_batch oracle VERBATIM: pruning may only change
    // which files are read, never a row.
    QueryDef(
      "bm25_serve_pruned",
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          ("q1", "spark vector"),
          ("q2", "merge customer table"),
          ("q3", "window agg scan")).toDF("query_id", "query_text")
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-bm25-part-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        Retrieval.saveBm25IndexPartitioned(
          Retrieval.buildBm25Index(table(s, dir, "documents"), "doc_id", "text"),
          path, nTermBuckets = 16)
        Retrieval.bm25ServeBatch(
          Retrieval.loadBm25Index(s, path),
          queries, "query_id", "query_text", k = 20)
      },
      Some(Bm25BatchOracle)),

    // Hybrid retrieval via reciprocal-rank fusion: the BM25 arm fused
    // with a bigram-overlap arm (a second, independent ranker over the
    // same corpus — standing in for the dense arm, whose ANN ranks the
    // sim_topk_* queries already oracle separately). Partial fusion is
    // exercised for real: 'spark vector' yields one bigram, the
    // 3-token queries two, and many BM25 hits have no bigram rank at
    // all. The oracle replays BOTH arms end-to-end in SQL and fuses
    // with the same 9-dp DECIMAL contributions, so every fused score
    // and rank boundary is exact.
    QueryDef(
      "retrieval_rrf",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = table(s, dir, "documents")
        val queries = Seq(
          ("q1", "spark vector"),
          ("q2", "merge customer table"),
          ("q3", "window agg scan")).toDF("query_id", "query_text")
        val bm25 = Retrieval.bm25TopKBatch(docs, "doc_id", "text",
          queries, "query_id", "query_text", k = 20)
          .select("query_id", "doc_id", "rank")
        // Token arrays MUST stage as columns before shingling: an
        // inlined tokens(normalized(text)) inside the shingle
        // transform re-evaluates the whole normalize+split per element
        // access (the measured 100x higher-order-function trap).
        val qsh = queries
          .select(col("query_id"),
            TextOps.tokens(TextOps.normalized(col("query_text"))).as("ws"))
          .select(col("query_id"),
            explode(array_distinct(TextOps.shingles(col("ws"), 2))).as("sh"))
          .distinct()
        val dsh = docs
          .select(col("doc_id"),
            TextOps.tokens(TextOps.normalized(col("text"))).as("ws"))
          .select(col("doc_id"),
            explode(array_distinct(TextOps.shingles(col("ws"), 2))).as("sh"))
        val w2 = Window.partitionBy(col("query_id"))
          .orderBy(desc("ov"), col("doc_id"))
        val overlap = dsh.join(broadcast(qsh), Seq("sh"))
          .groupBy("query_id", "doc_id").agg(count(lit(1)).as("ov"))
          .withColumn("rank", row_number().over(w2).cast("long"))
          .filter(col("rank") <= 20)
          .select("query_id", "doc_id", "rank")
        Retrieval.rrfFuse(Seq(bm25, overlap), "query_id", "doc_id",
          k = 60, topK = 10)
      },
      Some(s"""
        WITH q AS (SELECT * FROM (VALUES
                     ('q1', 'spark vector'),
                     ('q2', 'merge customer table'),
                     ('q3', 'window agg scan')) AS t(query_id, query_text)),
        qt AS (SELECT DISTINCT query_id, term FROM (
                 SELECT query_id,
                        unnest(string_split(trim(regexp_replace(lower(query_text), '\\s+', ' ', 'g')), ' ')) AS term
                 FROM q) WHERE term != ''),
        d AS (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents),
        dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM d),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        hits AS (SELECT doc_id, dl, unnest(ws) AS term FROM dl),
        tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM hits
               WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
        dfx AS (SELECT term, count(*) AS term_df FROM tf GROUP BY 1),
        sc AS (SELECT qt.query_id, tf.doc_id,
                 ln(1.0 + ((SELECT n FROM stats) - term_df + 0.5) / (term_df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats))) AS s
               FROM tf JOIN dfx USING (term) JOIN qt USING (term)),
        agg AS (SELECT query_id, doc_id, round(sum(s), 6) AS score
                FROM sc GROUP BY 1, 2),
        r1 AS (SELECT query_id, doc_id,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id) AS BIGINT) AS rank
               FROM agg QUALIFY rank <= 20),
        qws AS (SELECT query_id, string_split(trim(regexp_replace(lower(query_text), '\\s+', ' ', 'g')), ' ') AS ws FROM q),
        qsh AS (SELECT DISTINCT query_id,
                       unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                              i -> ws[i] || ' ' || ws[i+1])) AS sh
                FROM qws),
        dsh AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                              i -> ws[i] || ' ' || ws[i+1])) AS sh
                FROM d),
        ov AS (SELECT qsh.query_id, dsh.doc_id, count(*) AS ov
               FROM dsh JOIN qsh USING (sh) GROUP BY 1, 2),
        r2 AS (SELECT query_id, doc_id,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY ov DESC, doc_id) AS BIGINT) AS rank
               FROM ov QUALIFY rank <= 20),
        u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        f AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_runs,
                     SUM(CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(20,9))) AS s
              FROM u GROUP BY 1, 2)
        SELECT query_id, doc_id, n_runs,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY s DESC, doc_id) AS BIGINT) AS fused_rank,
               CAST(s AS DOUBLE) AS fused_score
        FROM f QUALIFY fused_rank <= 10""")),

    // Exact duplicate-span removal: cut every character covered by a
    // 40-char window shared across >= 2 documents (the synthesized
    // disclaimer from dedup_substring's fixture guarantees cuts).
    QueryDef(
      "dedup_span_removal",
      (s, dir) => CorpusOps.removeDuplicateSpans(
        table(s, dir, "documents")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(col("text"),
                lit(" standard legal disclaimer boilerplate repeated across many documents verbatim")))
              .otherwise(col("text")).as("t")),
        "doc_id", "t", windowChars = 40, stride = 20),
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' standard legal disclaimer boilerplate repeated across many documents verbatim'
                      ELSE text END AS t
          FROM documents),
        wins AS (
          SELECT doc_id, (i - 1) * 20 AS start,
                 md5(substr(t, (i - 1) * 20 + 1, 40)) AS h
          FROM d, unnest(range(1, greatest(CAST(floor((length(t) - 40) / 20) AS INT) + 1, 0) + 1)) AS u(i)
          WHERE length(t) >= 40),
        dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        ds AS (SELECT doc_id, list_sort(list(DISTINCT start)) AS cuts
               FROM wins JOIN dup USING (h) GROUP BY 1),
        cut AS (
          SELECT d.doc_id, d.t, ds.cuts,
                 CASE WHEN ds.cuts IS NULL THEN d.t ELSE
                   coalesce(array_to_string(list_filter(
                     list_transform(range(1, length(d.t) + 1),
                       p -> CASE WHEN len(list_filter(ds.cuts, s -> p > s AND p <= s + 40)) > 0
                                 THEN NULL ELSE substr(d.t, CAST(p AS INT), 1) END),
                     x -> x IS NOT NULL), ''), '')
                 END AS clean_text
          FROM d LEFT JOIN ds USING (doc_id))
        SELECT doc_id, clean_text,
               CAST(length(t) - length(clean_text) AS BIGINT) AS n_removed_chars
        FROM cut""")),

    // Cross-source contamination matrix over 3-gram shingles.
    QueryDef(
      "source_overlap",
      (s, dir) => CorpusOps.crossSourceOverlap(
        table(s, dir, "documents"), "source", "text", shingleN = 3),
      Some(s"""
        WITH w AS (SELECT source AS src, string_split($Norm, ' ') AS ws FROM documents),
        sh AS (SELECT DISTINCT src,
                      md5(unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
               FROM w),
        p AS (SELECT x.src AS source_a, y.src AS source_b
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.src < y.src)
        SELECT source_a, source_b, count(*) AS n_shared
        FROM p GROUP BY 1, 2""")),

    // Temperature-tempered source mixture: alpha=0.5 flattens the
    // skewed per-source counts toward uniform at ~300 rows.
    QueryDef(
      "sample_temperature",
      (s, dir) => Sampling.temperatureSample(
        table(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", alpha = 0.5, targetRows = 300)
        .select("doc_id", "source"),
      Some(s"""
        WITH c AS (SELECT source, count(*) AS n_d FROM documents GROUP BY 1),
        w AS (SELECT source, n_d,
                     CAST(round(pow(CAST(n_d AS DOUBLE), 0.5), 6) AS DECIMAL(38,6)) AS w_d
              FROM c),
        t AS (SELECT sum(w_d) AS w_tot FROM w),
        r AS (SELECT source,
                     least(1.0, CAST(w_d AS DOUBLE) / CAST((SELECT w_tot FROM t) AS DOUBLE)
                                  * 300 / n_d) AS keep_rate
              FROM w)
        SELECT d.doc_id, d.source
        FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.source
        WHERE CAST(${hashSql("d.doc_id")} AS DOUBLE) < keep_rate * 1000003.0""")),

    // Greedy token-budget fill: hash-scrambled priority, n_chars cost.
    QueryDef(
      "budget_select",
      (s, dir) => Sampling.budgetSelect(
        table(s, dir, "documents").select("doc_id", "n_chars")
          .withColumn("score", Sampling.hashBucket(col("doc_id"), 1000003)),
        "doc_id", "score", "n_chars", budget = 60000L)
        .select("doc_id", "n_chars", "cum_cost"),
      Some(s"""
        SELECT doc_id, n_chars, cum_cost FROM (
          SELECT doc_id, n_chars,
                 CAST(sum(n_chars) OVER (ORDER BY score DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost
          FROM (SELECT doc_id, n_chars, ${hashSql("doc_id")} AS score
                FROM documents))
        WHERE cum_cost <= 60000""")),

    // CDC merge: a stale base snapshot + a 3-sequence changelog
    // (upsert, second upsert, delete) derived deterministically from
    // orders; latest-sequence-wins, tombstones drop.
    QueryDef(
      "cdc_merge",
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val base = o.filter(col("o_orderkey") % 3 =!= 0)
        def chg(pred: org.apache.spark.sql.Column, status: org.apache.spark.sql.Column,
            price: org.apache.spark.sql.Column, seq: Long, op: String) =
          o.filter(pred).select(
            col("o_orderkey"), col("o_custkey"),
            status.as("o_orderstatus"), price.as("o_totalprice"),
            lit(seq).as("seq"), lit(op).as("op"))
        val changes =
          chg(col("o_orderkey") % 2 === 0, lit("X1"), col("o_totalprice") + 1000.0, 1L, "U")
            .unionByName(chg(col("o_orderkey") % 10 === 0, lit("X2"), col("o_totalprice") + 2000.0, 2L, "U"))
            .unionByName(chg(col("o_orderkey") % 7 === 0, col("o_orderstatus"), col("o_totalprice"), 3L, "D"))
        Cdc.applyChangelog(base, changes, Seq("o_orderkey"), "seq", "op")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 CAST(-9223372036854775807 AS BIGINT) - 1 AS seq, 'U' AS op
          FROM orders WHERE o_orderkey % 3 != 0),
        c1 AS (SELECT o_orderkey, o_custkey, 'X1' AS o_orderstatus,
                      o_totalprice + 1000.0 AS o_totalprice, CAST(1 AS BIGINT) AS seq, 'U' AS op
               FROM orders WHERE o_orderkey % 2 = 0),
        c2 AS (SELECT o_orderkey, o_custkey, 'X2', o_totalprice + 2000.0, 2, 'U'
               FROM orders WHERE o_orderkey % 10 = 0),
        c3 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 3, 'D'
               FROM orders WHERE o_orderkey % 7 = 0),
        allr AS (SELECT * FROM base UNION ALL SELECT * FROM c1
                 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3),
        latest AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                     ORDER BY seq DESC) AS rn FROM allr)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM latest WHERE rn = 1 AND op != 'D'""")),

    // SCD2 history from the same changelog: every upsert opens a
    // version, the key's next change closes it, deletes leave no open
    // row — the audit-table complement of cdc_merge's latest-value
    // snapshot, exact-mirrored by a LEAD window in the oracle.
    QueryDef(
      "cdc_scd2",
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        def chg(pred: org.apache.spark.sql.Column, status: org.apache.spark.sql.Column,
            price: org.apache.spark.sql.Column, seq: Long, op: String) =
          o.filter(pred).select(
            col("o_orderkey"), col("o_custkey"),
            status.as("o_orderstatus"), price.as("o_totalprice"),
            lit(seq).as("seq"), lit(op).as("op"))
        val changes =
          chg(lit(true), col("o_orderstatus"), col("o_totalprice"), 0L, "U")
            .unionByName(chg(col("o_orderkey") % 2 === 0, lit("X1"), col("o_totalprice") + 1000.0, 1L, "U"))
            .unionByName(chg(col("o_orderkey") % 10 === 0, lit("X2"), col("o_totalprice") + 2000.0, 2L, "U"))
            .unionByName(chg(col("o_orderkey") % 7 === 0, col("o_orderstatus"), col("o_totalprice"), 3L, "D"))
        Cdc.scd2History(changes, Seq("o_orderkey"), "seq", "op")
      },
      Some("""
        WITH c0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                           CAST(0 AS BIGINT) AS seq, 'U' AS op FROM orders),
        c1 AS (SELECT o_orderkey, o_custkey, 'X1' AS o_orderstatus,
                      o_totalprice + 1000.0 AS o_totalprice, CAST(1 AS BIGINT) AS seq, 'U' AS op
               FROM orders WHERE o_orderkey % 2 = 0),
        c2 AS (SELECT o_orderkey, o_custkey, 'X2', o_totalprice + 2000.0, 2, 'U'
               FROM orders WHERE o_orderkey % 10 = 0),
        c3 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 3, 'D'
               FROM orders WHERE o_orderkey % 7 = 0),
        allr AS (SELECT * FROM c0 UNION ALL SELECT * FROM c1
                 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3),
        v AS (SELECT *, LEAD(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS valid_to_seq
              FROM allr)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               seq AS valid_from_seq, valid_to_seq,
               valid_to_seq IS NULL AS is_current
        FROM v WHERE op != 'D'""")),

    // Hard negatives: top-5 most-similar different-label vectors.
    QueryDef(
      "sim_hard_negatives",
      (s, dir) => Similarity.hardNegatives(
        table(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 5),
      Some("""
        WITH p AS (
          SELECT a.vec_id AS query_id, a.label AS query_label, b.vec_id AS neighbor_id,
                 list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) AS cos
          FROM embeddings a JOIN embeddings b ON a.label != b.label)
        SELECT query_id, query_label, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM p QUALIFY rank <= 5""")),

    // Scale path for hard-negative mining: multi-table sign-LSH
    // candidate generation (never all-pairs) + different-label filter.
    // The bucketing is approximate, so the oracle checks the INVARIANT
    // (sim_topk_ivf_recall pattern): every emitted pair must genuinely
    // cross labels (valid_ok — checked Spark-side by joining labels
    // back) and recall vs the exact all-pairs top-5 must clear 0.7;
    // DuckDB states both as literals beside the exact query count.
    QueryDef(
      "sim_hard_negatives_lsh",
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        // Dial note: the synthetic embeddings are near-uniform (no
        // cluster structure), so hyperplane buckets must be COARSE to
        // catch true cosine neighbors — 3 planes × 8 tables measures
        // 0.86 recall here. A real embedding corpus clusters and takes
        // many more planes at the same recall (smaller buckets); the
        // op exposes exactly that dial. Queries restrict to the
        // portable 10% sample (candidate corpus stays full), the
        // sim_topk_ivf_recall verification pattern.
        val qp = Some(graft.ops.Sampling.hashBucket(col("vec_id")) < 10)
        // Checkpointed: the recall AND validity branches both read it,
        // and the 8-table candidate join ran once per consumer
        // (profiled as the query's two dominant stages at sf0.1); the
        // ranked output is k rows per query — cheap to hold.
        val lsh = Similarity.hardNegativesLsh(
          emb, "vec_id", "embedding", "label", k = 5,
          dim = 64, nPlanes = 3, tables = 8, queryPred = qp)
          .localCheckpoint(false)
        val exact = Similarity.hardNegatives(
          emb, "vec_id", "embedding", "label", k = 5, queryPred = qp)
        val marked = exact.join(
          lsh.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        val recall = marked.agg(
          count_distinct(col("query_id")).cast("long").as("n_queries"),
          (coalesce(sum(col("hit")), lit(0)).cast("double") /
            count(lit(1)).cast("double") >= 0.7).as("recall_ok"))
        val lbl = emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("nl"))
        val valid = lsh.join(lbl, Seq("neighbor_id"))
          .agg((coalesce(sum(when(col("nl") <=> col("query_label"), 1)
            .otherwise(0)), lit(0)) === 0).as("valid_ok"))
        recall.crossJoin(valid)
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               true AS recall_ok, true AS valid_ok
        FROM embeddings a
        WHERE ((((vec_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 < 10
          AND EXISTS (SELECT 1 FROM embeddings b WHERE b.label != a.label)""")),

    // The IVF-bucketed sibling: k-means candidate buckets (nProbe of
    // nCentroids probed per query) + the same different-label filter
    // and invariant oracle.
    QueryDef(
      "sim_hard_negatives_ivf",
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val qp = Some(graft.ops.Sampling.hashBucket(col("vec_id")) < 10)
        val ivf = Similarity.hardNegativesIvf(
          emb, "vec_id", "embedding", "label", k = 5,
          nCentroids = 64, nProbe = 24, queryPred = qp)
          .localCheckpoint(false) // read by BOTH the recall and validity branches
        val exact = Similarity.hardNegatives(
          emb, "vec_id", "embedding", "label", k = 5, queryPred = qp)
        val marked = exact.join(
          ivf.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        val recall = marked.agg(
          count_distinct(col("query_id")).cast("long").as("n_queries"),
          (coalesce(sum(col("hit")), lit(0)).cast("double") /
            count(lit(1)).cast("double") >= 0.7).as("recall_ok"))
        val lbl = emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("nl"))
        val valid = ivf.join(lbl, Seq("neighbor_id"))
          .agg((coalesce(sum(when(col("nl") <=> col("query_label"), 1)
            .otherwise(0)), lit(0)) === 0).as("valid_ok"))
        recall.crossJoin(valid)
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               true AS recall_ok, true AS valid_ok
        FROM embeddings a
        WHERE ((((vec_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 < 10
          AND EXISTS (SELECT 1 FROM embeddings b WHERE b.label != a.label)""")),

    // DSIR importance weights toward the English slice of the corpus.
    QueryDef(
      "dsir_weights",
      (s, dir) => CorpusOps.dsirLogWeights(
        table(s, dir, "documents"), "doc_id", "text",
        targetPred = col("lang") === "en", hexChars = 2),
      Some(s"""
        WITH toks AS (SELECT * FROM (
                        SELECT doc_id, lang = 'en' AS tgt,
                               unnest(string_split($Norm, ' ')) AS tk
                        FROM documents) WHERE tk != ''),
        bk AS (SELECT doc_id, tgt, substr(md5(tk), 1, 2) AS b FROM toks),
        raw AS (SELECT b, count(*) AS c_r FROM bk GROUP BY 1),
        rtot AS (SELECT sum(c_r) AS n_r FROM raw),
        tgt AS (SELECT b, count(*) AS c_t FROM bk WHERE tgt GROUP BY 1),
        ttot AS (SELECT sum(c_t) AS n_t FROM tgt),
        lr AS (SELECT raw.b, CAST(round(
                 ln((coalesce(c_t, 0) + 1.0) / CAST((SELECT n_t FROM ttot) + 256 AS DOUBLE))
                 - ln((c_r + 1.0) / CAST((SELECT n_r FROM rtot) + 256 AS DOUBLE)), 6)
                 AS DECIMAL(28,6)) AS log_ratio
               FROM raw LEFT JOIN tgt ON raw.b = tgt.b)
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(log_ratio) AS DOUBLE) AS dsir_weight
        FROM bk JOIN lr USING (b) GROUP BY 1""")),

    // Proper scoring rules over the trained classifier's probabilities.
    QueryDef(
      "classifier_loss",
      (s, dir) => FeatureStats.probLoss(
        Classifier.trainScoreLogistic(
          table(s, dir, "documents"), "doc_id", "text",
          labelCol = (col("lang") === "en"), hexChars = 2, iters = 2, lr = 0.5),
        "score", col("label") === 1),
      Some(s"""
        WITH $ClassifierCtes,
        r AS (SELECT y, CAST(score AS DECIMAL(28,6)) AS p,
                     greatest(0.000001, least(0.999999,
                       CAST(CAST(score AS DECIMAL(28,6)) AS DOUBLE))) AS pc
              FROM final_scores)
        SELECT count(*) AS n,
               CAST(sum(CAST(round(-(y * ln(pc) + (1 - y) * ln(1.0 - pc)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS log_loss,
               CAST(sum(CAST(p - y AS DECIMAL(12,6)) * CAST(p - y AS DECIMAL(12,6)))
                 AS DOUBLE) / count(*) AS brier
        FROM r""")),

    // Threshold confusion matrix + P/R/F1 over the trained classifier.
    QueryDef(
      "classifier_confusion",
      (s, dir) => FeatureStats.confusionAtThreshold(
        Classifier.trainScoreLogistic(
          table(s, dir, "documents"), "doc_id", "text",
          labelCol = (col("lang") === "en"), hexChars = 2, iters = 2, lr = 0.5),
        "score", col("label") === 1, threshold = 0.52),
      Some(s"""
        WITH $ClassifierCtes,
        c AS (SELECT
                CAST(sum(CASE WHEN score >= 0.52 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN score >= 0.52 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN score < 0.52 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                CAST(sum(CASE WHEN score < 0.52 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM final_scores)
        SELECT tp, fp, tn, fn,
               CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
               CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
               CASE WHEN (CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END) IS NOT NULL
                     AND (CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END) IS NOT NULL
                     AND CAST(tp AS DOUBLE) / (tp + fp) + CAST(tp AS DOUBLE) / (tp + fn) > 0
                    THEN 2.0 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / (tp + fn))
                         / (CAST(tp AS DOUBLE) / (tp + fp) + CAST(tp AS DOUBLE) / (tp + fn))
               END AS f1
        FROM c""")),

    // Per-slice AUC: the same length-predicts-English probe, sliced by
    // language — the slice-eval table that catches majority-only skill.
    QueryDef(
      "eval_auc_by_lang",
      (s, dir) => FeatureStats.rocAucBy(
        table(s, dir, "documents"), "n_chars", col("source") <= "src9",
        groupCols = Seq("lang")),
      Some("""
        WITH r AS (SELECT lang, n_chars AS s, CAST(source <= 'src9' AS INT) AS y
                   FROM documents
                   WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        g AS (SELECT lang, s, count(*) AS n, sum(y) AS n_pos FROM r GROUP BY 1, 2),
        o AS (SELECT lang, s, n, n_pos,
                     2 * coalesce(sum(n) OVER (PARTITION BY lang ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + n + 1 AS dmr
              FROM g)
        SELECT lang,
               CASE WHEN sum(n_pos) > 0 AND sum(n - n_pos) > 0 THEN
                 (CAST(sum(CAST(n_pos AS DECIMAL(38,0)) * dmr) AS DOUBLE)
                    - CAST(sum(n_pos) AS DOUBLE) * (sum(n_pos) + 1.0))
                 / (2.0 * CAST(sum(n_pos) AS DOUBLE) * CAST(sum(n - n_pos) AS DOUBLE))
               END AS auc,
               CAST(sum(n_pos) AS BIGINT) AS n_pos,
               CAST(sum(n - n_pos) AS BIGINT) AS n_neg
        FROM o GROUP BY 1""")),

    // Feature-freshness observability for the engine's core operator:
    // staleness (event time − matched feature time) distribution after
    // a point-in-time join — the "how old are the features we serve"
    // dashboard number. Percentiles ignore unmatched (NULL) rows,
    // counted separately.
    QueryDef(
      "pit_staleness",
      (s, dir) => {
        import graft.join.{PointInTimeJoin, ResolvedView}
        val entity = table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val view = ResolvedView(
          name = "order_features",
          source = table(s, dir, "orders"),
          joinKeys = Seq("user_id" -> "o_custkey"),
          tsCol = "o_orderdate",
          features = Seq("o_orderdate"))
        val stale = (unix_micros(col("ts")) - unix_micros(col("o_orderdate")))
          .cast("double") / 86400000000.0
        PointInTimeJoin.join(entity, "ts", Seq(view))
          .withColumn("stale_days", stale)
          .agg(
            count(lit(1)).as("n_events"),
            count(col("o_orderdate")).as("n_matched"),
            expr("percentile(stale_days, 0.5)").as("p50_days"),
            expr("percentile(stale_days, 0.9)").as("p90_days"),
            max(col("stale_days")).as("max_days"))
      },
      Some("""
        WITH c AS (
          SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, o.o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC) AS rn
          FROM events e
          LEFT JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)),
        p AS (SELECT ts, o_orderdate,
                     (epoch_us(ts) - epoch_us(o_orderdate)) / 86400000000.0 AS stale_days
              FROM c WHERE rn = 1)
        SELECT count(*) AS n_events,
               count(o_orderdate) AS n_matched,
               quantile_cont(stale_days, 0.5) AS p50_days,
               quantile_cont(stale_days, 0.9) AS p90_days,
               max(stale_days) AS max_days
        FROM p""")),

    // In-engine logistic-regression classifier: 2 full-batch GD steps
    // learning "is this document English" from hashed token buckets,
    // then calibrated scores for every document. The oracle replays
    // the ENTIRE training loop as SQL — every intermediate is pinned
    // to 6-dp DECIMAL, so both engines walk the same weight sequence.
    QueryDef(
      "classifier_score",
      (s, dir) => Classifier.trainScoreLogistic(
        table(s, dir, "documents"), "doc_id", "text",
        labelCol = (col("lang") === "en"), hexChars = 2, iters = 2, lr = 0.5),
      Some(s"""
        WITH $ClassifierCtes
        SELECT doc_id, y AS label, score FROM final_scores""")),

    // Fit-once/serve-many through PERSISTENCE: train the weight table,
    // round-trip it through parquet, and score with the frozen weights
    // on the inference-only path (no labels touched). The oracle is
    // the SAME replayed training chain as classifier_score — value
    // equality proves the split train/save/load/score path reproduces
    // the end-to-end op exactly.
    QueryDef(
      "classifier_serve",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val w = Classifier.trainLogistic(docs, "doc_id", "text",
          labelCol = (col("lang") === "en"), hexChars = 2, iters = 2, lr = 0.5)
        // Keyed by (dataset, THIS Spark app): a dataset-only path let
        // two concurrent harness runs on one host race saveWeights'
        // mode("overwrite") directory delete against the other run's
        // loadWeights read. Within one app the path is stable, so the
        // bench's two timed passes still overwrite in place.
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-clf-weights-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        Classifier.saveWeights(w, path)
        Classifier.scoreLogistic(docs, "doc_id", "text",
          Classifier.loadWeights(s, path), hexChars = 2)
      },
      Some(s"""
        WITH $ClassifierCtes
        SELECT doc_id, score FROM final_scores""")),

    // Calibration bins over the trained classifier's probabilities —
    // "does a 0.8 mean 80% positives" — reusing the SAME replayed
    // training chain in the oracle.
    QueryDef(
      "classifier_calibration",
      (s, dir) => FeatureStats.calibrationBins(
        Classifier.trainScoreLogistic(
          table(s, dir, "documents"), "doc_id", "text",
          labelCol = (col("lang") === "en"), hexChars = 2, iters = 2, lr = 0.5),
        "score", col("label") === 1, bins = 100),
      Some(s"""
        WITH $ClassifierCtes
        SELECT greatest(0, least(99, CAST(floor(score * 100) AS INT))) AS bin,
               count(*) AS n,
               CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_score,
               CAST(sum(y) AS DOUBLE) / count(*) AS pos_rate
        FROM final_scores GROUP BY 1""")),

    // Exact tie-aware ROC-AUC: does document length predict English?
    // (An arbitrary but deterministic score/label pairing — the op
    // under test is the midrank machinery, exercised with heavy ties.)
    QueryDef(
      "eval_roc_auc",
      (s, dir) => FeatureStats.rocAuc(
        table(s, dir, "documents"), "n_chars", col("lang") === "en"),
      Some("""
        WITH r AS (SELECT n_chars AS s, CAST(lang = 'en' AS INT) AS y
                   FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        g AS (SELECT s, count(*) AS n, sum(y) AS n_pos FROM r GROUP BY 1),
        o AS (SELECT s, n, n_pos,
                     2 * coalesce(sum(n) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + n + 1 AS dmr
              FROM g)
        SELECT (CAST(sum(CAST(n_pos AS DECIMAL(38,0)) * dmr) AS DOUBLE)
                  - CAST(sum(n_pos) AS DOUBLE) * (sum(n_pos) + 1.0))
               / (2.0 * CAST(sum(n_pos) AS DOUBLE) * CAST(sum(n - n_pos) AS DOUBLE)) AS auc,
               CAST(sum(n_pos) AS BIGINT) AS n_pos,
               CAST(sum(n - n_pos) AS BIGINT) AS n_neg
        FROM o""")),

    // Weighted sample without replacement (A-ES), n_chars as weight.
    QueryDef(
      "sample_weighted",
      (s, dir) => Sampling.weightedSample(
        table(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", n = 100),
      Some(s"""
        SELECT doc_id, n_chars FROM (
          SELECT doc_id, n_chars,
                 round(ln((CAST(${hashSql("doc_id")} AS DOUBLE) + 1.0) / 1000004.0), 12)
                   / CAST(n_chars AS DOUBLE) AS pri
          FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        ORDER BY pri DESC, doc_id LIMIT 100""")),

    // Exactly-N deterministic global sample (TakeOrderedAndProject).
    QueryDef(
      "sample_exact_n",
      (s, dir) => Sampling.exactNSample(
        table(s, dir, "documents").select("doc_id", "source"), "doc_id", n = 100),
      Some(s"""
        SELECT doc_id, source FROM documents
        ORDER BY ${hashSql("doc_id")}, doc_id LIMIT 100""")),

    // Leakage-safe 80/20 split: near-dup clusters are split-atomic.
    // Composes the ngram-Jaccard pair generator and connected
    // components with the hash split; the oracle replays the whole
    // chain (recursive-CTE components included).
    QueryDef(
      "split_leakage_safe",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val clusters = Dedup.clusters(
          Dedup.ngramJaccard(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.08, maxDf = 100))
        Sampling.leakageSafeSplit(
          docs.select("doc_id", "source"), "doc_id", clusters, trainPct = 80)
          .select("doc_id", "source", "group_key", "split")
      },
      Some(s"""
        WITH RECURSIVE w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM w),
        shdf AS (SELECT sh, COUNT(*) AS dfc FROM sh0 GROUP BY sh),
        sh AS (SELECT s.id, s.sh FROM sh0 s JOIN shdf d ON d.sh = s.sh WHERE d.dfc <= 100),
        sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
        inter AS (
          SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b FROM inter i
          JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
          WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.08),
        edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        clusters AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a)
        SELECT d.doc_id, d.source,
               coalesce(c.cluster, d.doc_id) AS group_key,
               CASE WHEN ${hashSql("coalesce(c.cluster, d.doc_id)")} % 100 < 80
                    THEN 'train' ELSE 'eval' END AS split
        FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id""")),

    // TFT exact quantile bucketize: NTILE semantics from a distributed
    // two-phase rank (the oracle uses real NTILE; the Spark plan never
    // runs a global single-partition window).
    QueryDef(
      "transform_bucketize",
      (s, dir) => FeatureStats.bucketize(
        table(s, dir, "events").select("event_id", "value"),
        "value", "event_id", k = 10),
      Some("""
        SELECT event_id, value,
               CAST(NTILE(10) OVER (ORDER BY value, event_id) AS INT) AS bucket
        FROM events""")),

    // Hot-key skew diagnostic over the events stream.
    QueryDef(
      "key_skew",
      (s, dir) => FeatureStats.keySkew(
        table(s, dir, "events"), Seq("user_id", "event_type"), topN = 25),
      Some("""
        WITH c AS (SELECT user_id, event_type, count(*) AS cnt
                   FROM events GROUP BY 1, 2),
        t AS (SELECT sum(cnt) AS total FROM c)
        SELECT user_id, event_type, cnt,
               round(cnt / (SELECT total FROM t), 6) AS share
        FROM c ORDER BY cnt DESC, user_id, event_type LIMIT 25""")),

    // Z-order (Morton) layout assignment over (user, event) dimensions.
    QueryDef(
      "zorder_layout",
      (s, dir) => Layout.zorderAssign(
        table(s, dir, "events")
          .select(col("event_id"),
            pmod(col("user_id"), lit(256)).as("x"),
            pmod(col("event_id"), lit(256)).as("y")),
        "x", "y", bits = 8, files = 16)
        .select("event_id", "z", "file_id"),
      Some(s"""
        WITH zt AS (
          SELECT event_id, ${zSql("x", "y", 8)} AS z
          FROM (SELECT event_id,
                       ((user_id % 256) + 256) % 256 AS x,
                       ((event_id % 256) + 256) % 256 AS y
                FROM events)),
        b AS (SELECT min(z) AS lo, max(z) AS hi FROM zt)
        SELECT event_id, z,
               CAST(floor((z - (SELECT lo FROM b)) * 16
                 / CAST(greatest((SELECT hi FROM b) - (SELECT lo FROM b) + 1, 1) AS DOUBLE))
                 AS INT) AS file_id
        FROM zt"""))
  )
}
