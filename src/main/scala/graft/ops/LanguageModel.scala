package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the CCNet/Gopher
  * "perplexity filter" stage of a pre-training pipeline: train a
  * smoothed bigram model on the corpus itself (or a clean reference
  * corpus), score every document's per-token cross-entropy under it,
  * and drop the tail. A real system trains a 5-gram KenLM offline; the
  * statistical machinery (counts, add-k smoothing, per-doc average
  * log-loss) is identical and everything here is expressible as Spark
  * relational ops, so the 100 TB shape falls out of Catalyst:
  *
  *   - bigram/prefix counts: one hash-aggregate shuffle each over the
  *     ONCE-materialized exploded bigram table, both with map-side
  *     partial aggregation (the wire carries one row per DISTINCT
  *     n-gram, not per occurrence);
  *   - vocabulary size: a 1-row aggregate that broadcasts;
  *   - scoring: the exploded (doc, bigram) table joins the count tables
  *     on narrow string keys — shuffle joins that AQE converts to
  *     broadcasts when a count table fits — then one final aggregate on
  *     doc id.
  *
  * Nothing is ever keyed on document text; no driver-side model object
  * exists (the "model" stays a distributed table, which is what makes
  * this trainable on the full corpus rather than a sample).
  */
object LanguageModel {

  /** Per-document cross-entropy under an add-k-smoothed bigram model
    * trained on `train` (pass the same frame to self-score a corpus):
    *
    *   P(w2 | w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V)
    *   cross_entropy(doc) = -mean over bigrams of ln P(w2 | w1)
    *
    * Bigrams unseen in training score through the smoothing mass
    * (c counts coalesce to 0), so out-of-domain documents land where a
    * perplexity filter needs them: at the high-loss tail.
    *
    * Output: (doc_id, n_bigrams, cross_entropy). Documents with fewer
    * than 2 tokens have no bigrams and are absent (nothing to score).
    * The per-term log-losses sum through DECIMAL (order-free) so the
    * result is deterministic under any partitioning.
    */
  def bigramCrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      k: Double = 1.0): DataFrame = {
    require(k > 0, "add-k smoothing needs k > 0")
    // The exploded bigram table feeds the c12 aggregate, the c1
    // aggregate, and (when self-scoring) the scoring side — three
    // consumers that would each re-tokenize the corpus. Materialize it
    // once; self-scoring (score eq train) reuses the same frame.
    val trainBg = ngrams(train, idCol, textCol, 2, "bg").localCheckpoint(false)
    val scoreBg =
      if (score eq train) trainBg else ngrams(score, idCol, textCol, 2, "bg")
    // c(w1 w2) and c(w1 ·) — two aggregates over the same exploded
    // frame; prefix counts aggregate the bigram string's first token so
    // both group-bys read the one exploded column.
    val c12 = trainBg.groupBy("bg").agg(count(lit(1)).as("c12"))
    val c1 = trainBg
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("c1"))
    // V = distinct token count of the training corpus (1 row, broadcast).
    val vocab = vocabCount(train, textCol)
    // LEFT joins + coalesce(count, 0): a bigram the model never saw is
    // the highest-loss (most informative) event for a quality filter —
    // it must score via smoothing (k / (c1 + kV), or 1/V for an unseen
    // prefix), not silently drop out of the average.
    val term = -log(
      (coalesce(col("c12"), lit(0L)) + lit(k)) /
        (coalesce(col("c1"), lit(0L)) + lit(k) * col("v")))
    scoreBg
      .join(c12, Seq("bg"), "left")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        // Exact decimal sum (order-free), ONE double division at the
        // end — both engines perform the identical IEEE operation.
        (sum(term.cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double")).as("cross_entropy"))
      .withColumnRenamed("id", idCol)
  }

  /** Per-document cross-entropy under an INTERPOLATED KNESER-NEY
    * bigram model trained on `train` — the smoothing family real
    * perplexity filters use (KenLM/CCNet train modified-KN 5-grams;
    * the statistical machinery is identical at order 2). Add-k
    * ([[bigramCrossEntropy]]) steals probability mass proportional to
    * RAW unigram frequency, so "francisco" (frequent, but only ever
    * after "san") soaks up smoothing mass it can never use; KN's
    * continuation probability counts DISTINCT LEFT CONTEXTS instead:
    *
    *   P_cont(w2)   = N1+(· w2) / N1+(· ·)
    *   P(w2 | w1)   = max(c(w1 w2) − D, 0) / c(w1 ·)
    *                  + D · N1+(w1 ·) / c(w1 ·) · P_cont(w2)   [seen w1]
    *                = P_cont(w2)                               [unseen w1]
    *   P'(w2 | w1)  = (1 − ε) · P(w2|w1) + ε / (V + 1)
    *
    * where N1+ are distinct-extension counts and the final ε-floor
    * (default 1e-6) covers tokens never seen in training at all
    * (KenLM's <unk> mass) — without it an OOV token would score
    * −ln 0. The discount interpolation is mass-preserving: what the
    * max(c−D, 0) subtraction removes from seen bigrams comes back
    * through exactly D·N1+(w1·)/c(w1·) of continuation mass.
    *
    * Same 100 TB shape as [[bigramCrossEntropy]]: every statistic is
    * one hash-aggregate over the ONCE-materialized exploded bigram
    * table (N1+(w1·) and c(w1·) even share a single group-by), the
    * model stays a distributed table, scoring is key joins that AQE
    * broadcasts while small, and the per-term log-losses round to 9 dp
    * and sum through DECIMAL so the result is deterministic under any
    * partitioning (and engine-portable — the oracle runs the same
    * arithmetic verbatim).
    *
    * Output: (doc_id, n_bigrams, kn_cross_entropy); documents with
    * fewer than 2 tokens have no bigrams and are absent.
    */
  def kneserNeyCrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame = {
    val trainBg = ngrams(train, idCol, textCol, 2, "bg").localCheckpoint(false)
    val scoreBg =
      if (score eq train) trainBg else ngrams(score, idCol, textCol, 2, "bg")
    knScoreJoin(scoreBg, fitKnFromBigrams(trainBg, train, textCol),
      discount, floorEps, idCol)
  }

  /** Per-document cross-entropy under MODIFIED Kneser-Ney — the
    * KenLM DEFAULT: instead of one fixed discount, three discounts
    * D1/D2/D3+ (for counts 1, 2, ≥3) ESTIMATED from the training
    * count-of-counts by the Chen-Goodman closed form
    *
    *   Y  = n1 / (n1 + 2·n2)
    *   D1 = 1 − 2·Y·n2/n1,  D2 = 2 − 3·Y·n3/n2,  D3+ = 3 − 4·Y·n4/n3
    *
    * (n_j = number of bigram types occurring exactly j times), with
    * the mass-preserving back-off weight
    *
    *   γ(w1) = D1·N1(w1·) + D2·N2(w1·) + D3+·N3+(w1·)
    *   P(w2|w1) = (c − D(c))/c(w1·) + γ(w1)/c(w1·) · P_cont(w2)
    *
    * where N_j(w1·) counts w1's continuations BY COUNT CLASS — one
    * extra conditional sum in the same prefix group-by. The
    * count-of-counts are a 1-row aggregate collected to the driver
    * (metadata, the IVF-centroid precedent) and the discounts embed
    * as plan literals; everything else is [[kneserNeyCrossEntropy]]'s
    * shape. Fails fast when any n_j = 0 (a corpus too small/degenerate
    * to estimate from — pass an explicit discount to the plain KN
    * instead) or when an estimated discount leaves (0, count-class)
    * bounds (c − D(c) must stay ≥ 0).
    *
    * Output: (doc_id, n_bigrams, mkn_cross_entropy). */
  def modifiedKneserNeyCrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      floorEps: Double = 1e-6): DataFrame = {
    require(floorEps > 0 && floorEps < 1,
      s"floor epsilon must be in (0, 1) (got $floorEps)")
    val trainBg = ngrams(train, idCol, textCol, 2, "bg").localCheckpoint(false)
    val scoreBg =
      if (score eq train) trainBg else ngrams(score, idCol, textCol, 2, "bg")
    // One fit serves both smoothings: c1 always carries the
    // count-class sums MKN's back-off weight reads.
    val model = fitKnFromBigrams(trainBg, train, textCol)
    // Count-of-counts: 1 row of metadata → driver → plan literals.
    // coalesce: an all-short corpus yields ZERO bigrams, the sums over
    // zero rows come back NULL, and getLong would NPE before the
    // documented fail-fast fired (review finding, session 3).
    val ccCols = (1 to 4).map(j => coalesce(
      sum(when(col("c12") === j, 1L).otherwise(0L)), lit(0L)))
    val ccRow = model.c12.agg(ccCols.head, ccCols.tail: _*).head()
    val (cc1, cc2, cc3, cc4) =
      (ccRow.getLong(0), ccRow.getLong(1), ccRow.getLong(2), ccRow.getLong(3))
    require(cc1 > 0 && cc2 > 0 && cc3 > 0 && cc4 > 0,
      s"modified KN: count-of-counts ($cc1, $cc2, $cc3, $cc4) must all " +
        "be positive to estimate discounts — corpus too small or " +
        "degenerate; use kneserNeyCrossEntropy with an explicit discount")
    // EXACT arithmetic order the oracle repeats (left-to-right).
    val y = cc1 / (cc1 + 2.0 * cc2)
    val d1 = 1.0 - 2.0 * y * cc2 / cc1
    val d2 = 2.0 - 3.0 * y * cc3 / cc2
    val d3 = 3.0 - 4.0 * y * cc4 / cc3
    require(d1 > 0 && d1 <= 1 && d2 > 0 && d2 <= 2 && d3 > 0 && d3 <= 3,
      f"modified KN: estimated discounts out of bounds (D1=$d1%.4f, " +
        f"D2=$d2%.4f, D3+=$d3%.4f) — count-of-counts too irregular")
    val dOf = when(col("c12").isNull, lit(0.0))
      .when(col("c12") === 1, lit(d1))
      .when(col("c12") === 2, lit(d2))
      .otherwise(lit(d3))
    val gamma = lit(d1) * col("nn1").cast("double") +
      lit(d2) * col("nn2").cast("double") +
      lit(d3) * col("nn3").cast("double")
    val pkn = when(col("c1").isNull, knPc).otherwise(
      (coalesce(col("c12"), lit(0L)).cast("double") - dOf) /
        col("c1").cast("double") +
        gamma / col("c1").cast("double") * knPc)
    perDocCe(
      knJoin(scoreBg, model).withColumn("__graft_term",
        knTermOf(pkn, floorEps)),
      idCol, "mkn_cross_entropy")
  }

  /** A fitted Kneser-Ney bigram model as distributed tables — the
    * fit-once/serve-many form of [[kneserNeyCrossEntropy]] (CCNet
    * trains its KenLM on a clean reference corpus ONCE and serves it
    * against every crawl snapshot): `c12` (bg, c12), `c1`
    * (w1, c1, n1w1, nn1, nn2, nn3 — the count-class sums modified KN
    * reads; free columns for plain-KN consumers), `n1c` (w2, n1c),
    * and a 1-row `stats` (n1pp, v). Discount and ε-floor are
    * SERVE-time knobs (the
    * BM25 k1/b pattern) — the persisted statistics are raw counts, so
    * one saved model serves any smoothing setting. */
  case class KnModel(
      c12: DataFrame, c1: DataFrame, n1c: DataFrame, stats: DataFrame)

  /** Fit the count statistics over `textCol` of `train`. (The id
    * column of the exploded bigram frame is irrelevant to fitting —
    * the text column stands in for it.) */
  def fitKn(train: DataFrame, textCol: String): KnModel =
    fitKnFromBigrams(
      ngrams(train, textCol, textCol, 2, "bg"), train, textCol)

  /** Score documents against an already-fitted (possibly loaded)
    * model — zero training passes; the serve face of the family.
    * Shares the scoring join with [[kneserNeyCrossEntropy]] verbatim,
    * so serve results are the in-engine results by construction. */
  def kneserNeyAgainst(
      score: DataFrame, idCol: String, textCol: String, model: KnModel,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame =
    knScoreJoin(ngrams(score, idCol, textCol, 2, "bg"), model,
      discount, floorEps, idCol)

  /** Witten-Bell interpolated scoring over the SAME fitted model —
    * the third smoothing one [[KnModel]] serves (with
    * [[kneserNeyAgainst]] and the modified-KN estimator), which is
    * the point of keeping raw counts as the persisted artifact:
    * smoothing is plan arithmetic, so switching families costs a
    * serve-time flag, never a refit. Classic interpolated WB with the
    * novel-continuation weight λ(w1) = N1+(w1·) / (c(w1·) + N1+(w1·))
    * — prefixes that kept producing NEW continuations in training
    * lean harder on the lower order:
    *
    *   P(w2|w1) = c(w1w2)/(c(w1·) + N1+(w1·))
    *              + N1+(w1·)/(c(w1·) + N1+(w1·)) · P_cont(w2)  [seen w1]
    *            = P_cont(w2)                                   [else]
    *
    * (continuation base and ε-floor as in the KN family; no discount
    * parameter at all — WB's smoothing mass is the type count).
    * Output: (doc_id, n_bigrams, wb_cross_entropy). */
  def wittenBellAgainst(
      score: DataFrame, idCol: String, textCol: String, model: KnModel,
      floorEps: Double = 1e-6): DataFrame = {
    // EXACT arithmetic order the oracle repeats (left-to-right):
    //   c12 / (c1 + n1w1)  +  n1w1 / (c1 + n1w1) * pc
    val denom = (col("c1") + col("n1w1")).cast("double")
    val pwb = when(col("c1").isNull, knPc).otherwise(
      coalesce(col("c12"), lit(0L)).cast("double") / denom +
        col("n1w1").cast("double") / denom * knPc)
    perDocCe(
      knJoin(ngrams(score, idCol, textCol, 2, "bg"), model)
        .withColumn("__graft_term", knTermOf(pwb, floorEps)),
      idCol, "wb_cross_entropy")
  }

  /** Persist a fitted model as four parquet tables (the saveIndex /
    * saveModel pattern). `c12` is the big one (one row per distinct
    * training bigram) and is written at its natural partitioning;
    * the rest are vocabulary-bounded or 1-row. */
  def saveKnModel(model: KnModel, path: String): Unit =
    // Four independent writes as CONCURRENT jobs (guide §2.6) — the
    // save's wall is the slowest table, not the sum of four
    // job+commit latencies. (c12 feeds c1/n1c/stats through its lazy
    // checkpoint; concurrent first use materializes each block once —
    // the block manager serializes per-partition computation.)
    OpsUtil.runConcurrently(Seq(
      () => model.c12.write.mode("overwrite").parquet(s"$path/c12"),
      () => model.c1.write.mode("overwrite").parquet(s"$path/c1"),
      () => model.n1c.write.mode("overwrite").parquet(s"$path/n1c"),
      () => model.stats.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/stats")))

  /** Load a persisted model (inverse of [[saveKnModel]]). */
  def loadKnModel(
      spark: org.apache.spark.sql.SparkSession, path: String): KnModel =
    KnModel(
      spark.read.parquet(s"$path/c12"),
      spark.read.parquet(s"$path/c1"),
      spark.read.parquet(s"$path/n1c"),
      spark.read.parquet(s"$path/stats"))

  /** Per-document NOVELTY rate against a fitted model: the fraction
    * of a document's bigrams absent from the model's count table —
    * the freshness/contamination dial of a snapshot-over-snapshot
    * pipeline (near-zero novelty against last month's model flags a
    * re-crawl or leaked duplicate; near-one flags out-of-domain or
    * garbage). One left join against `c12` on the bigram key, one
    * per-doc aggregate; at 100 TB the model stays the distributed
    * table it already is. Output: (doc_id, n_bigrams, n_unseen,
    * novelty_rate); documents with fewer than 2 tokens are absent. */
  def noveltyRate(
      score: DataFrame, idCol: String, textCol: String,
      model: KnModel): DataFrame =
    ngrams(score, idCol, textCol, 2, "bg")
      .join(model.c12, Seq("bg"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_unseen"),
        (sum(when(col("c12").isNull, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("novelty_rate"))
      .withColumnRenamed("id", idCol)

  /** Exploded (id, n-gram) table of normalized `textCol` — the one
    * tokenize+shingle shape every LM in this file scores over (review
    * finding r12: three verbatim copies drifted one edit from
    * divergence). */
  private def ngrams(
      d: DataFrame, idCol: String, textCol: String, n: Int,
      out: String): DataFrame =
    OpsUtil.widen(d)
      .select(col(idCol).as("id"),
        TextOps.tokens(TextOps.normalized(col(textCol))).as("ws"))
      .select(col("id"), explode(TextOps.shingles(col("ws"), n)).as(out))

  /** V = distinct token count of the training corpus (1 row,
    * broadcast) — the ε-floor / add-k denominator. */
  private def vocabCount(train: DataFrame, textCol: String): DataFrame =
    OpsUtil.widen(train)
      .select(explode(TextOps.tokens(TextOps.normalized(col(textCol)))).as("w"))
      .agg(countDistinct(col("w")).as("v"))

  /** One interpolated-KN level, in the EXACT arithmetic order the
    * oracle SQL repeats (left-to-right, all doubles):
    *   greatest(num − D, 0)/den + D·types/den·lower    [den present]
    *   lower                                           [else]
    * Shared by the bigram top level and both trigram levels so the
    * recursion stays provably identical level-to-level. */
  private def knLevel(
      num: Column, den: Column, types: Column, lower: Column,
      discount: Double): Column =
    when(den.isNull, lower).otherwise(
      greatest(coalesce(num, lit(0L)).cast("double") - lit(discount),
        lit(0.0)) / den.cast("double") +
        lit(discount) * types.cast("double") / den.cast("double")
        * lower)

  /** One aggregate per statistic, all over the distinct-bigram table:
    * c12 feeds everything downstream, so the wire never carries more
    * than one row per DISTINCT bigram after the first shuffle. */
  private def fitKnFromBigrams(
      trainBg: DataFrame, train: DataFrame, textCol: String): KnModel = {
    val c12 = trainBg.groupBy("bg").agg(count(lit(1)).as("c12"))
      .localCheckpoint(false)
    // c(w1 ·), N1+(w1 ·), and the count-class type sums (nn1/nn2/nn3,
    // what modified KN's back-off weight reads) from ONE group-by —
    // the extra conditional sums are free for plain-KN consumers and
    // keep both smoothings on a single fitted artifact.
    val c1 = c12
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1w1"),
        sum(when(col("c12") === 1, 1L).otherwise(0L)).as("nn1"),
        sum(when(col("c12") === 2, 1L).otherwise(0L)).as("nn2"),
        sum(when(col("c12") >= 3, 1L).otherwise(0L)).as("nn3"))
    // N1+(· w2): distinct left contexts of each continuation.
    val n1c = c12
      .groupBy(substring_index(col("bg"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("n1c"))
    // N1+(· ·): distinct bigram types, and V for the ε-floor
    // denominator — one broadcastable row.
    val stats = c12.agg(count(lit(1)).as("n1pp"))
      .crossJoin(vocabCount(train, textCol))
    KnModel(c12, c1, n1c, stats)
  }

  /** The continuation probability P_cont = n1c / n1pp, over the
    * joined columns [[knJoin]] provides. */
  private def knPc: Column =
    coalesce(col("n1c"), lit(0L)).cast("double") /
      col("n1pp").cast("double")

  /** −ln of the ε-floored probability, 9 dp + DECIMAL (the
    * engine-portable term every LM sums; libm/JDK ln agree far below
    * 1e-9). */
  private def knTermOf(pkn: Column, floorEps: Double): Column = {
    require(floorEps > 0 && floorEps < 1,
      s"floor epsilon must be in (0, 1) (got $floorEps)")
    val p = (lit(1.0) - lit(floorEps)) * pkn +
      lit(floorEps) / (col("v").cast("double") + lit(1.0))
    round(-log(p), 9).cast("decimal(24,9)")
  }

  /** The DISCOUNT-INDEPENDENT scoring cascade: join the score bigrams
    * to every model table once; smoothing expressions evaluate over
    * the joined columns afterwards (which is what lets the tuner
    * price a whole grid on one join pass). */
  private def knJoin(scoreBg: DataFrame, model: KnModel): DataFrame =
    scoreBg
      .join(model.c12, Seq("bg"), "left")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(model.c1, Seq("w1"), "left")
      .join(model.n1c, Seq("w2"), "left")
      .crossJoin(broadcast(model.stats))

  /** Per-doc aggregate over a frame carrying `__graft_term`. */
  private def perDocCe(
      terms: DataFrame, idCol: String, ceName: String,
      nName: String = "n_bigrams"): DataFrame =
    terms
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as(nName),
        (sum(col("__graft_term")).cast("double") /
          count(lit(1)).cast("double")).as(ceName))
      .withColumnRenamed("id", idCol)

  /** The scoring join, shared verbatim by the in-engine and serve
    * paths. The probability, in the EXACT arithmetic order the oracle
    * SQL repeats (all doubles; left-to-right association):
    *   pc  = n1c / n1pp
    *   pkn = greatest(c12 - D, 0) / c1  +  D * n1w1 / c1 * pc
    *   p   = (1 - eps) * pkn + eps / (v + 1)
    */
  private def knScoreJoin(
      scoreBg: DataFrame, model: KnModel,
      discount: Double, floorEps: Double, idCol: String): DataFrame =
    perDocCe(knTerms(scoreBg, model, discount, floorEps),
      idCol, "kn_cross_entropy")

  /** The per-bigram joined loss terms (id, bg stats, __graft_term). */
  private def knTerms(
      scoreBg: DataFrame, model: KnModel,
      discount: Double, floorEps: Double): DataFrame = {
    require(discount > 0 && discount < 1,
      s"Kneser-Ney discount must be in (0, 1) (got $discount)")
    knJoin(scoreBg, model).withColumn("__graft_term",
      knTermOf(knLevel(col("c12"), col("c1"), col("n1w1"), knPc, discount),
        floorEps))
  }

  /** Held-out discount selection — the reason discount is a
    * SERVE-time knob: ONE fitted model answers every candidate with
    * ZERO refits (KenLM-style pipelines re-estimate; here the count
    * tables are the model and smoothing is plan arithmetic) — and,
    * because [[knJoin]] is discount-independent, ONE join pass: the
    * grid becomes |grid| term columns over the same joined frame,
    * aggregated together (review finding, session 3 — the per-
    * candidate form re-ran the three-table join cascade |grid|
    * times). Returns one row per candidate: (discount, n_bigrams,
    * corpus_ce), corpus_ce the DECIMAL-summed per-bigram loss over
    * the WHOLE held-out set divided by the bigram count —
    * deliberately not a mean of per-doc means, so the number is the
    * corpus perplexity's log and the cross-candidate comparison is
    * exact under any partitioning. Pick the argmin (ties: smaller
    * discount). */
  def tuneKnDiscount(
      heldout: DataFrame, idCol: String, textCol: String, model: KnModel,
      grid: Seq[Double], floorEps: Double = 1e-6): DataFrame = {
    require(grid.nonEmpty, "tuneKnDiscount: empty candidate grid")
    grid.foreach(d => require(d > 0 && d < 1,
      s"Kneser-Ney discount must be in (0, 1) (got $d)"))
    val joined = knJoin(ngrams(heldout, idCol, textCol, 2, "bg"), model)
    val termCols = grid.zipWithIndex.map { case (d, i) =>
      sum(knTermOf(
        knLevel(col("c12"), col("c1"), col("n1w1"), knPc, d), floorEps))
        .as(s"__graft_t$i")
    }
    val agged = joined.agg(count(lit(1)).as("__graft_n"), termCols: _*)
    val rows = grid.zipWithIndex.map { case (d, i) =>
      struct(lit(d).as("discount"),
        col("__graft_n").as("n_bigrams"),
        (col(s"__graft_t$i").cast("double") /
          col("__graft_n").cast("double")).as("corpus_ce"))
    }
    agged.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Per-document cross-entropy under an order-3 INTERPOLATED
    * KNESER-NEY model — the recursive Chen-Goodman form
    * [[kneserNeyCrossEntropy]] is the base case of (KenLM runs this
    * recursion to order 5; order 3 exercises every structural piece —
    * the raw-count top level, a continuation-count MIDDLE level, and
    * the unigram continuation base):
    *
    *   P(w3|w1w2) = max(c(w1w2w3) − D, 0) / c(w1w2·)
    *                + D · N1+(w1w2·) / c(w1w2·) · P_mid(w3|w2)   [seen w1w2]
    *              = P_mid(w3|w2)                                 [else]
    *   P_mid(w3|w2) = max(N1+(·w2w3) − D, 0) / N1+(·w2·)
    *                + D · N1+cont(w2·) / N1+(·w2·) · P_cont(w3)  [seen ·w2·]
    *              = P_cont(w3)                                   [else]
    *   P_cont(w3) = N1+(··w3) / N1+(···)        (over (w2,w3) TYPES)
    *   P'         = (1 − ε) · P + ε / (V + 1)
    *
    * The defining KN property holds at every level: the middle model
    * is built from TYPE counts of the order above (how many distinct
    * left contexts), not raw occurrences — "francisco" stays cheap
    * in every backoff.
    *
    * Scale shape: one hash-aggregate builds the distinct-trigram
    * table; EVERY other statistic (prefix totals, continuation-type
    * tables, the unigram base) derives from it with follow-up
    * aggregates over progressively smaller keys — after the first
    * shuffle the wire carries one row per distinct n-gram type, never
    * per occurrence. Scoring is the same left-join cascade as the
    * bigram model, one key per level.
    *
    * Output: (doc_id, n_trigrams, kn3_cross_entropy); documents with
    * fewer than 3 tokens are absent. */
  def kneserNeyTrigramCrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame = {
    val trainTg = ngrams(train, idCol, textCol, 3, "tg").localCheckpoint(false)
    val scoreTg =
      if (score eq train) trainTg else ngrams(score, idCol, textCol, 3, "tg")
    kn3ScoreJoin(scoreTg, fitKn3FromTrigrams(trainTg, train, textCol),
      discount, floorEps, idCol)
  }

  /** The order-3 sibling of [[KnModel]]: `c3` (tg, c3), `p12`
    * (p12, c2, n3), `t23` (s23, t23), `mid` (w2m, tmid, nmid), `n1c3`
    * (w3c, n1c), 1-row `stats` (n1pp, v). Raw counts only — discount
    * and ε stay serve-time knobs. */
  case class Kn3Model(
      c3: DataFrame, p12: DataFrame, t23: DataFrame, mid: DataFrame,
      n1c3: DataFrame, stats: DataFrame)

  /** Fit the order-3 count statistics over `textCol` of `train`. */
  def fitKn3(train: DataFrame, textCol: String): Kn3Model =
    fitKn3FromTrigrams(
      ngrams(train, textCol, textCol, 3, "tg"), train, textCol)

  /** Score documents against an already-fitted (possibly loaded)
    * order-3 model — the serve face; shares the scoring join with
    * [[kneserNeyTrigramCrossEntropy]] verbatim. */
  def kneserNeyTrigramAgainst(
      score: DataFrame, idCol: String, textCol: String, model: Kn3Model,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame =
    kn3ScoreJoin(ngrams(score, idCol, textCol, 3, "tg"), model,
      discount, floorEps, idCol)

  /** Persist an order-3 model as six parquet tables (the
    * [[saveKnModel]] pattern; `c3` and `t23` are the big ones). */
  def saveKn3Model(model: Kn3Model, path: String): Unit =
    // Six independent writes as CONCURRENT jobs (the [[saveKnModel]]
    // argument at order 3).
    OpsUtil.runConcurrently(Seq(
      () => model.c3.write.mode("overwrite").parquet(s"$path/c3"),
      () => model.p12.write.mode("overwrite").parquet(s"$path/p12"),
      () => model.t23.write.mode("overwrite").parquet(s"$path/t23"),
      () => model.mid.write.mode("overwrite").parquet(s"$path/mid"),
      () => model.n1c3.write.mode("overwrite").parquet(s"$path/n1c3"),
      () => model.stats.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/stats")))

  /** Load a persisted order-3 model (inverse of [[saveKn3Model]]). */
  def loadKn3Model(
      spark: org.apache.spark.sql.SparkSession, path: String): Kn3Model =
    Kn3Model(
      spark.read.parquet(s"$path/c3"),
      spark.read.parquet(s"$path/p12"),
      spark.read.parquet(s"$path/t23"),
      spark.read.parquet(s"$path/mid"),
      spark.read.parquet(s"$path/n1c3"),
      spark.read.parquet(s"$path/stats"))

  /** Distinct-trigram table + every derived statistic — one
    * hash-aggregate then progressively smaller keys. */
  private def fitKn3FromTrigrams(
      trainTg: DataFrame, train: DataFrame, textCol: String): Kn3Model = {
    // Distinct-trigram table: feeds the prefix rollup, the
    // continuation-type table, and the scoring join.
    val c3 = trainTg.groupBy("tg").agg(count(lit(1)).as("c3"))
      .localCheckpoint(false)
    // c(w1w2·) and N1+(w1w2·) from ONE group-by on the prefix bigram.
    val p12 = c3
      .groupBy(substring_index(col("tg"), " ", 2).as("p12"))
      .agg(sum(col("c3")).as("c2"), count(lit(1)).as("n3"))
    // N1+(·w2w3): distinct left contexts per suffix bigram — the
    // TYPE-count table every lower level derives from.
    val t23 = c3
      .groupBy(substring_index(col("tg"), " ", -2).as("s23"))
      .agg(count(lit(1)).as("t23"))
      .localCheckpoint(false)
    // N1+(·w2·) and N1+cont(w2·) from ONE group-by of the type table.
    val mid = t23
      .groupBy(substring_index(col("s23"), " ", 1).as("w2m"))
      .agg(sum(col("t23")).as("tmid"), count(lit(1)).as("nmid"))
    // Unigram base: continuation types of w3 over (w2,w3) TYPES.
    val n1c3 = t23
      .groupBy(substring_index(col("s23"), " ", -1).as("w3c"))
      .agg(count(lit(1)).as("n1c"))
    val stats = t23.agg(count(lit(1)).as("n1pp"))
      .crossJoin(vocabCount(train, textCol))
    Kn3Model(c3, p12, t23, mid, n1c3, stats)
  }

  /** The order-3 scoring join, shared verbatim by the in-engine and
    * serve paths — identical [[knLevel]] arithmetic at each level
    * (the oracle repeats it verbatim; left-to-right, all doubles). */
  private def kn3ScoreJoin(
      scoreTg: DataFrame, model: Kn3Model,
      discount: Double, floorEps: Double, idCol: String): DataFrame = {
    require(discount > 0 && discount < 1,
      s"Kneser-Ney discount must be in (0, 1) (got $discount)")
    require(floorEps > 0 && floorEps < 1,
      s"floor epsilon must be in (0, 1) (got $floorEps)")
    val pc = coalesce(col("n1c"), lit(0L)).cast("double") /
      col("n1pp").cast("double")
    // Per-level projected columns, not one nested expression — the
    // kn5 huge-method argument at order 3 (each level references its
    // lower level in both CaseWhen branches; see kn5ScoreJoinKeyed).
    val pmid = knLevel(col("t23"), col("tmid"), col("nmid"),
      col("__graft_pl1"), discount)
    val p3 = knLevel(col("c3"), col("c2"), col("n3"),
      col("__graft_pl2"), discount)
    val p = (lit(1.0) - lit(floorEps)) * col("__graft_pl3") +
      lit(floorEps) / (col("v").cast("double") + lit(1.0))
    val term = round(-log(p), 9).cast("decimal(24,9)")
    scoreTg
      .join(model.c3, Seq("tg"), "left")
      .withColumn("p12", substring_index(col("tg"), " ", 2))
      .withColumn("s23", substring_index(col("tg"), " ", -2))
      .withColumn("w2m", substring_index(col("s23"), " ", 1))
      .withColumn("w3c", substring_index(col("s23"), " ", -1))
      .join(model.p12, Seq("p12"), "left")
      .join(model.t23, Seq("s23"), "left")
      .join(model.mid, Seq("w2m"), "left")
      .join(model.n1c3, Seq("w3c"), "left")
      .crossJoin(broadcast(model.stats))
      .withColumn("__graft_pl1", pc)
      .withColumn("__graft_pl2", pmid)
      .withColumn("__graft_pl3", p3)
      .withColumn("__graft_term", term)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_trigrams"),
        (sum(col("__graft_term")).cast("double") /
          count(lit(1)).cast("double")).as("kn3_cross_entropy"))
      .withColumnRenamed("id", idCol)
  }

  /** The order-5 model — KenLM's production default order, with the
    * statistics MODIFIED Kneser-Ney needs at every level: numerator
    * tables (raw counts at the top, continuation TYPE counts below —
    * each level's "counts" are the distinct single-token left
    * extensions at the level above, the Chen-Goodman recursion) and
    * denominator tables whose group-bys also carry the COUNT-CLASS
    * type sums (`k1`/`k2`/`k3`) the per-level back-off weight
    * γ(prefix) = D1·N1 + D2·N2 + D3+·N3+ reads. Raw counts only —
    * the per-level discounts derive from the tables' own
    * count-of-counts (four 1-row aggregates), so one saved model
    * serves any corpus snapshot without refitting, the [[KnModel]]
    * contract at order 5.
    *
    * `disc` holds the discounts when the model came from a layout that
    * persisted them (the `disc/` or `meta/` sidecar): they derive
    * deterministically from integer counts and doubles round-trip
    * parquet exactly, so a sidecar read IS the re-estimation, minus one
    * full scan of the four numerator tables per serve. None = estimate
    * on first use.
    *
    * `keyBuckets` is set ONLY by [[loadKn5Model]] on a
    * [[saveKn5ModelPartitioned]] directory (the
    * [[graft.ops.Retrieval.Bm25Index]] `termBuckets` precedent): the nine
    * keyed tables then read from key-hash partition directories and
    * still carry their `__graft_kb` column, and every broadcast-semi
    * serve prunes them to the arrival batch's probed buckets first. */
  case class Kn5Model(
      c5: DataFrame, p4: DataFrame, t4: DataFrame, d4: DataFrame,
      t3: DataFrame, d3: DataFrame, t2: DataFrame, d2: DataFrame,
      t1: DataFrame, stats: DataFrame,
      disc: Option[Map[String, (Double, Double, Double)]] = None,
      private[graft] val keyBuckets: Option[Int] = None) {

    /** The nine keyed count tables by name, in [[Kn5Keyed]] order. */
    private[graft] def keyedTables: Seq[(String, DataFrame)] = Seq(
      "c5" -> c5, "p4" -> p4, "t4" -> t4, "d4" -> d4, "t3" -> t3,
      "d3" -> d3, "t2" -> t2, "d2" -> d2, "t1" -> t1)

    /** This model with every keyed table replaced by `f(name, table)`. */
    private[graft] def mapKeyed(f: (String, DataFrame) => DataFrame): Kn5Model =
      copy(c5 = f("c5", c5), p4 = f("p4", p4), t4 = f("t4", t4),
        d4 = f("d4", d4), t3 = f("t3", t3), d3 = f("d3", d3),
        t2 = f("t2", t2), d2 = f("d2", d2), t1 = f("t1", t1))
  }

  /** Fit the order-5 count statistics over `textCol` of `train`. */
  def fitKn5(train: DataFrame, textCol: String): Kn5Model =
    fitKn5FromFivegrams(
      ngrams(train, textCol, textCol, 5, "fg"), train, textCol)

  /** Per-document cross-entropy under an order-5 MODIFIED Kneser-Ney
    * model — KenLM's default configuration. Structure: the
    * [[kneserNeyTrigramCrossEntropy]] recursion extended two levels
    * (raw counts → three continuation-type middles → the unigram
    * continuation base), with [[modifiedKneserNeyCrossEntropy]]'s
    * three-discount scheme AT EVERY LEVEL: each of the four
    * discounted levels gets its own D1/D2/D3+ from ITS numerator
    * table's count-of-counts (KenLM estimates discounts per order),
    * and its mass-preserving γ from the count-class sums its
    * denominator group-by already carries.
    *
    * Scale shape: ONE hash-aggregate builds the distinct-5-gram
    * table; every other statistic derives from it with follow-up
    * aggregates over progressively smaller keys — after the first
    * shuffle the wire carries one row per distinct n-gram TYPE,
    * never per occurrence. The four count-of-counts are 1-row
    * aggregates collected as plan literals (driver metadata, the
    * IVF-centroid precedent). Scoring is a left-join cascade, one
    * key per level, that AQE broadcasts while the tables fit.
    *
    * Fails fast (the [[modifiedKneserNeyCrossEntropy]] contract) when
    * any level's count-of-counts has a zero class or an estimated
    * discount leaves its (0, count-class] bounds — corpora without
    * count-class decay at every order cannot support order-5 MKN;
    * use the fixed-discount order-3 form instead.
    *
    * Output: (doc_id, n_fivegrams, kn5_cross_entropy); documents with
    * fewer than 5 tokens are absent. */
  def modifiedKn5CrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      floorEps: Double = 1e-6): DataFrame = {
    val trainFg = ngrams(train, idCol, textCol, 5, "fg").localCheckpoint(false)
    val scoreFg =
      if (score eq train) trainFg else ngrams(score, idCol, textCol, 5, "fg")
    kn5Cascade(scoreFg,
      fitKn5FromFivegrams(trainFg, train, textCol), floorEps, idCol)
  }

  /** Score documents against an already-fitted (possibly loaded)
    * order-5 model — the serve face; shares the scoring join with
    * [[modifiedKn5CrossEntropy]] verbatim. Discounts come from
    * `model.disc` (the save-time sidecar) or are re-estimated from the
    * tables' own count-of-counts (raw counts are the artifact; the
    * discounts are derived statistics, so save/load cannot change
    * them — integer counts round-trip parquet exactly).
    *
    * The PLAN follows the model and `broadcastScore`, never the
    * algebra (rows are identical on every plan, plan-spec-pinned):
    *   - a flat model with `broadcastScore = false` (default) runs the
    *     bulk left-join cascade that shuffles the model tables — right
    *     when the score side IS the corpus (self-scoring, index-scale
    *     batches);
    *   - `broadcastScore = true` runs the broadcast-semi plan the
    *     streaming serve uses — every model lookup becomes a left-semi
    *     against the broadcast batch keys followed by a small
    *     broadcast left join, so the ten count tables stream map-side
    *     and NO hash exchange touches a model table. Right for the
    *     daily-ingest batch gate, where re-shuffling millions of count
    *     rows to score a small arrival batch is the whole cost;
    *   - a key-bucketed model ([[loadKn5Model]] of a
    *     [[saveKn5ModelPartitioned]] directory) always runs that
    *     broadcast-semi plan, after pruning every table to the
    *     partitions the batch's keys hash into: serve cost ≈
    *     |batch keys| × bucket size instead of the whole model.
    *
    * The broadcast-semi plan requires the batch's 5-gram projection to
    * be broadcast-sized (the driver holds ~10 × |batch 5-grams|
    * survivor frames at once). ENFORCED when asked for (review finding
    * r14): `broadcastScore = true` first counts the batch's distinct
    * 5-gram keys (one count-agg pass over the batch — cheap next to
    * the serve it guards) and REFUSES batches above
    * `broadcastMaxKeys` rather than letting the driver OOM holding
    * ten corpus-sized survivor frames; the error says to drop the
    * flag. The bound is a distinct-key count, not bytes, because the
    * driver cost is ~10 broadcast frames of ≤ that many short-string
    * rows each (~1 GiB driver at the default — size it to the
    * driver's headroom). The guard pass is deliberately SEPARATE from
    * the serve's own checkpoint (an admitted batch re-runs its ngram
    * plan once more, bounded small by the guard itself): folding the
    * count into the checkpoint would make a REFUSED corpus-sized
    * batch pay a full block-storage materialization just to be told
    * no. [[kn5ServeAuto]] makes that choice from the batch's measured
    * key count. */
  def modifiedKn5Against(
      score: DataFrame, idCol: String, textCol: String, model: Kn5Model,
      floorEps: Double = 1e-6, broadcastScore: Boolean = false,
      broadcastMaxKeys: Long = Kn5BroadcastMaxKeys): DataFrame = {
    val fg = ngrams(score, idCol, textCol, 5, "fg")
    if (broadcastScore) {
      val n = fg.select(countDistinct(col("fg"))).head().getLong(0)
      require(n <= broadcastMaxKeys,
        s"modifiedKn5Against: broadcastScore=true with $n distinct " +
          s"batch 5-grams (bound $broadcastMaxKeys) — the broadcast-semi " +
          "plan holds ~10 × that many survivor rows on the driver; a " +
          "corpus-sized batch belongs on the default cascade (drop " +
          "broadcastScore, or raise broadcastMaxKeys if the driver " +
          "truly has the headroom)")
    }
    if (broadcastScore || model.keyBuckets.isDefined)
      kn5Broadcast(fg, model, floorEps, idCol)
    else kn5Cascade(fg, model, floorEps, idCol)
  }

  /** Default ceiling on the batch's DISTINCT 5-gram keys admitted to
    * the [[modifiedKn5Against]] broadcast-score plan (the driver
    * holds ~10 survivor frames of up to this many rows). */
  val Kn5BroadcastMaxKeys: Long = 1000000L

  /** Persist an order-5 model as ten parquet tables (the
    * [[saveKn3Model]] pattern; `c5` and `t4` are the big ones) plus a
    * `disc` discount sidecar. The sidecar estimation runs FIRST (one
    * union-agg job): it is the fail-fast gate a degenerate corpus hits
    * at serve time anyway (the [[saveKn5ModelPartitioned]] contract,
    * shared by both layouts), and its job materializes the
    * c5/t4/t3/t2 lazy checkpoints the concurrent writes then share —
    * so no write stalls mid-flight on a sibling's checkpoint blocks.
    * A serve against the loaded model then never re-scans the four
    * numerator tables for count-of-counts. A model loaded key-bucketed
    * is written flat (its `__graft_kb` column is dropped). */
  def saveKn5Model(model: Kn5Model, path: String): Unit = {
    val disc = kn5Discounts(model)
    val spark = model.stats.sparkSession
    import spark.implicits._
    // Eleven independent writes as CONCURRENT jobs (the [[saveKnModel]]
    // argument at order 5 — formerly ten serial job+commit latencies).
    OpsUtil.runConcurrently(
      unbucketed(model).keyedTables.map { case (n, df) =>
        () => df.write.mode("overwrite").parquet(s"$path/$n")
      } ++ Seq(
        () => model.stats.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/stats"),
        () => Kn5DiscLevels.map { lvl =>
          val (d1, d2, d3) = disc(lvl); (lvl, d1, d2, d3)
        }.toDF("level", "d1", "d2", "d3")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/disc")))
  }

  /** The four discounted levels, in estimation order (sidecar rows). */
  private val Kn5DiscLevels =
    Seq("order 5", "level 4", "level 3", "level 2")

  /** The bounds a modified-KN discount triple lives in (Chen-Goodman:
    * each discount is positive and at most its count class). */
  private def mknInBounds(d1: Double, d2: Double, d3: Double): Boolean =
    d1 > 0 && d1 <= 1 && d2 > 0 && d2 <= 2 && d3 > 0 && d3 <= 3

  /** Load a persisted order-5 model — the inverse of BOTH writers, and
    * the one place that reads which layout a directory holds:
    *   - `meta/` ([[saveKn5ModelPartitioned]]): key-bucketed. The nine
    *     keyed tables keep their `__graft_kb` partition column,
    *     `keyBuckets` and `disc` come from the `meta` sidecar, and one
    *     file listing per table happens HERE (building each frame's
    *     file index) — serves prune partitions through the cached
    *     index with no re-listing.
    *   - `c5/` ([[saveKn5Model]]): flat. `disc` comes from the `disc/`
    *     sidecar when present; layouts saved before the sidecar
    *     existed load with `disc = None` and estimate on first use.
    *   - neither: fails here, naming both writers, instead of at the
    *     first table read with a raw path error.
    * A sidecar is checked before any serve trusts it: the four levels
    * appear once each, no value is NULL, every triple lies inside the
    * bounds the estimation enforces (0 < D1 ≤ 1, 0 < D2 ≤ 2,
    * 0 < D3+ ≤ 3), and `meta` holds one positive `key_buckets`. A bad
    * sidecar fails naming its path and that contract, not at serve
    * time as a missing key, a NULL read as 0, or a division by zero. */
  def loadKn5Model(
      spark: org.apache.spark.sql.SparkSession, path: String): Kn5Model = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(sub: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(root, sub))
    val bucketed = has("meta")
    require(bucketed || has("c5"),
      s"loadKn5Model: $path is neither a saveKn5ModelPartitioned " +
        "layout (meta/) nor a saveKn5Model layout (c5/) — fit and save " +
        "one (e.g. `Fit kn5 <corpus> <id> <text> <dir> [keyBuckets]`)")
    val sidecar =
      if (bucketed) Some(readKn5Sidecar(spark, s"$path/meta", bucketed))
      else if (has("disc")) Some(readKn5Sidecar(spark, s"$path/disc", bucketed))
      else None
    def table(name: String): DataFrame = spark.read.parquet(s"$path/$name")
    Kn5Model(table("c5"), table("p4"), table("t4"), table("d4"),
      table("t3"), table("d3"), table("t2"), table("d2"), table("t1"),
      table("stats"), sidecar.map(_._1), sidecar.flatMap(_._2))
  }

  /** The discounts (and, for `meta`, the key-bucket count) of a kn5
    * sidecar, checked against the contract both writers keep. Fields
    * are read by NAME, not ordinal (review finding r14). */
  private def readKn5Sidecar(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bucketed: Boolean): (Map[String, (Double, Double, Double)], Option[Int]) = {
    import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}
    val writer = if (bucketed) "saveKn5ModelPartitioned" else "saveKn5Model"
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"loadKn5Model: $dir breaks the kn5 discount sidecar contract " +
        s"(one row per level ${Kn5DiscLevels.mkString("'", "', '", "'")}; " +
        "non-NULL d1, d2, d3 with 0 < d1 <= 1, 0 < d2 <= 2, 0 < d3 <= 3" +
        (if (bucketed) "; one positive key_buckets" else "") +
        s"): $why — re-save the model with $writer")
    val fields = Seq[(String, DataType)]("level" -> StringType,
      "d1" -> DoubleType, "d2" -> DoubleType, "d3" -> DoubleType) ++
      (if (bucketed) Seq("key_buckets" -> IntegerType) else Nil)
    val df = spark.read.parquet(dir)
    val bad = fields.filterNot { case (n, t) =>
      df.schema.fieldNames.contains(n) && df.schema(n).dataType == t
    }
    if (bad.nonEmpty) fail("missing or mistyped column(s) " +
      bad.map { case (n, t) => s"$n ${t.simpleString}" }.mkString(", "))
    val rows = df.select(fields.map(f => col(f._1)): _*).collect()
    rows.foreach { r =>
      fields.indices.find(r.isNullAt).foreach { i =>
        fail(s"NULL ${fields(i)._1}" +
          (if (r.isNullAt(0)) "" else s" at level '${r.getString(0)}'"))
      }
    }
    val levels = rows.map(_.getString(0)).toSeq
    if (levels.sorted != Kn5DiscLevels.sorted)
      fail(s"levels ${levels.mkString("[", ", ", "]")}")
    val disc = rows.map { r =>
      val (d1, d2, d3) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      if (!mknInBounds(d1, d2, d3))
        fail(s"discounts out of bounds at level '${r.getString(0)}' " +
          s"(D1=$d1, D2=$d2, D3+=$d3)")
      r.getString(0) -> (d1, d2, d3)
    }.toMap
    val keyBuckets =
      if (!bucketed) None
      else rows.map(_.getInt(4)).distinct.toSeq match {
        case Seq(b) if b > 0 => Some(b)
        case bs => fail(s"key_buckets ${bs.mkString("[", ", ", "]")}")
      }
    (disc, keyBuckets)
  }

  /** Partition column of the key-bucketed order-5 serve layout. */
  private[graft] val Kn5KeyBucket = "__graft_kb"

  /** (table name, lookup-key column) of the nine keyed order-5
    * tables, in the scoring join's order. */
  private[graft] val Kn5Keyed: Seq[(String, String)] = Seq(
    "c5" -> "fg", "p4" -> "p1234", "t4" -> "s2345", "d4" -> "p234",
    "t3" -> "s345", "d3" -> "p34", "t2" -> "s45", "d2" -> "w4d",
    "t1" -> "w5c")

  /** Persist an order-5 model KEY-BUCKETED — the partitioned serve
    * layout of the LM face (the [[graft.ops.Dedup.ExactHashIndex]] /
    * bm25 argument applied to language-model serving): each of the
    * nine keyed count tables lands in `nKeyBuckets` key-hash partition
    * directories, so a serve reads only the partitions the ARRIVAL
    * batch's n-gram keys fall into — at real model scale (billions of
    * n-gram types over a reference corpus) the flat layout's
    * every-serve scan of all ten tables is exactly the cost partition
    * pruning kills on every other serve face. The four per-level
    * discount triples are estimated ONCE here and ride the `meta`
    * sidecar with the bucket count (save-time and load-time
    * estimation are the same bits), so a serve never scans the
    * numerator tables for count-of-counts, which would defeat the
    * pruning. [[loadKn5Model]] reads the layout back.
    *
    * Size `nKeyBuckets` to the model (constant per-bucket bytes):
    * serve scan ≈ |batch n-gram keys| × bucket size per table, flat
    * as the reference corpus grows. Fails fast (at FIT time, not
    * first serve) when the corpus cannot support order-5 MKN — the
    * discount estimation runs here anyway. A model loaded key-bucketed
    * is re-bucketed from its tables without their old `__graft_kb`. */
  def saveKn5ModelPartitioned(
      model: Kn5Model, path: String, nKeyBuckets: Int = 64): Unit = {
    require(nKeyBuckets > 0,
      "saveKn5ModelPartitioned: nKeyBuckets must be > 0")
    val disc = kn5Discounts(model)
    val frames = unbucketed(model).keyedTables.toMap
    // Eleven independent writes as CONCURRENT jobs (guide §2.6 — the
    // write phase of the partitioned save is job/commit latency and
    // partition-directory metadata, measured flat in data size at
    // sf0.1..0.2; overlapping collapses it toward the slowest table).
    // The discount estimation above stays FIRST: it is the fail-fast
    // gate, and its union-agg job materializes the c5/t4/t3/t2
    // checkpoints the writes then share.
    val spark = model.stats.sparkSession
    import spark.implicits._
    val levels = Kn5DiscLevels
    OpsUtil.runConcurrently(
      Kn5Keyed.map { case (name, key) =>
        () => frames(name)
          .withColumn(Kn5KeyBucket, OpsUtil.hashBucket(nKeyBuckets, col(key)))
          .repartition(nKeyBuckets, col(Kn5KeyBucket))
          .write.mode("overwrite").partitionBy(Kn5KeyBucket)
          .parquet(s"$path/$name")
      } ++ Seq(
        () => model.stats.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/stats"),
        () => levels.map { lvl =>
          val (d1, d2, d3) = disc(lvl)
          (lvl, nKeyBuckets, d1, d2, d3)
        }.toDF("level", "key_buckets", "d1", "d2", "d3")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")))
  }

  /** `model` with its keyed tables as plain frames: a key-bucketed
    * model's tables drop their `__graft_kb` partition column (bucket
    * directories only change which files a full scan lists, never a
    * row); a flat model is returned as it is. */
  private def unbucketed(model: Kn5Model): Kn5Model =
    if (model.keyBuckets.isEmpty) model
    else model.mapKeyed((_, df) => df.drop(Kn5KeyBucket))
      .copy(keyBuckets = None)

  /** The prune step of the broadcast-semi serve: against a key-bucketed
    * model, the staged batch's nine key projections collect to ONE
    * distinct (table, bucket) set (≤ 9 × keyBuckets ints, one job over
    * the staged batch) and each count table is cut to the probed
    * partitions BEFORE the broadcast-semi join. A flat model is
    * returned as it is. */
  private def prunedTo(keyed: DataFrame, model: Kn5Model): Kn5Model =
    model.keyBuckets.fold(model) { nb =>
      val probes = keyed.select(explode(array(Kn5Keyed.map { case (name, key) =>
          struct(lit(name).as("t"),
            OpsUtil.hashBucket(nb, col(key)).as("b"))
        }: _*)).as("x"))
        .select(col("x.t"), col("x.b")).distinct()
        .collect().groupBy(_.getString(0))
        .map { case (t, rows) => t -> rows.map(_.getInt(1)).toSeq }
      model.mapKeyed { (name, df) =>
        val buckets = probes.getOrElse(name, Seq.empty)
        (if (buckets.isEmpty) df.limit(0)
         else df.filter(col(Kn5KeyBucket).isin(buckets: _*)))
          .drop(Kn5KeyBucket)
      }.copy(keyBuckets = None)
    }

  /** Serve-plan FRONT DOOR for persisted order-5 models (r15 verdict
    * #4): the engine has three serve plans whose crossover is
    * batch-geometry-dependent, and this makes the decision for the
    * caller — the reference's serve contract (one arrival batch
    * against a large offline store, `executor.py:87`) is exactly this
    * choice pre-made. The model comes from [[loadKn5Model]] (either
    * layout; a directory that is neither fails there with both writers
    * named), and the route from the batch's MEASURED distinct 5-gram
    * key count — one count-agg pass over the batch's n-gram plan,
    * deliberately separate from the serve's own staging (the
    * [[modifiedKn5Against]] guard argument: bounded-small next to any
    * serve it routes).
    *
    * Routing: distinct keys ≤ `broadcastMaxKeys` (the driver-side
    * bound — every broadcast-shaped plan holds ~10 × |batch keys|
    * survivor frames on the driver) takes the broadcast-semi serve:
    * partition-PRUNED against a key-bucketed model (serve scan ≈
    * |batch keys| × bucket size — measured FLAT at 100× model growth,
    * SCALE.md Round 15), over whole tables against a flat one.
    * Above the bound — corpus-scale self-scoring — only the shuffle
    * CASCADE is admissible, over the unioned buckets of a key-bucketed
    * model, with the sidecar discounts whenever the layout has them
    * (no count-of-counts re-scan). Bucket geometry never flips an
    * admissible batch away from the pruned plan: even at adversarial
    * geometry (4,200 keys probing 65% of a 64-bucket-per-scale layout,
    * the k=100 canary) the pruned serve measured 4.8× faster absolute
    * than the cascade, because pruning degrades to at-worst a full
    * scan while the broadcast-semi shape still keeps the model out of
    * every hash exchange.
    *
    * Output is identical on every route (shared scoring join,
    * spec-pinned row parity). */
  def kn5ServeAuto(
      score: DataFrame, idCol: String, textCol: String, modelDir: String,
      floorEps: Double = 1e-6,
      broadcastMaxKeys: Long = Kn5BroadcastMaxKeys): DataFrame =
    kn5ServeAutoRouted(
      score, idCol, textCol, modelDir, floorEps, broadcastMaxKeys)._1

  /** [[kn5ServeAuto]] plus the route it took (`"pruned"` /
    * `"broadcast"` / `"cascade"`) — the spec pins each branch by tag
    * and row parity against the hand-picked serve. */
  private[graft] def kn5ServeAutoRouted(
      score: DataFrame, idCol: String, textCol: String, modelDir: String,
      floorEps: Double, broadcastMaxKeys: Long): (DataFrame, String) = {
    val model = loadKn5Model(score.sparkSession, modelDir)
    val fg = ngrams(score, idCol, textCol, 5, "fg")
    val n = fg.select(countDistinct(col("fg"))).head().getLong(0)
    if (n > broadcastMaxKeys) (kn5Cascade(fg, model, floorEps, idCol), "cascade")
    else (kn5Broadcast(fg, model, floorEps, idCol),
      if (model.keyBuckets.isDefined) "pruned" else "broadcast")
  }

  /** Distinct-5-gram table + every derived statistic. Each
    * denominator group-by carries its level's count-class sums
    * (k1/k2/k3 — what the MKN γ reads); each numerator below the top
    * is the TYPE count of the level above. */
  private def fitKn5FromFivegrams(
      trainFg: DataFrame, train: DataFrame, textCol: String): Kn5Model = {
    def classSums(c: Column): Seq[Column] = Seq(
      sum(when(c === 1, 1L).otherwise(0L)).as("k1"),
      sum(when(c === 2, 1L).otherwise(0L)).as("k2"),
      sum(when(c >= 3, 1L).otherwise(0L)).as("k3"))
    val c5 = trainFg.groupBy("fg").agg(count(lit(1)).as("c5"))
      .localCheckpoint(false)
    // c(w1..w4·), N1+(w1..w4·), class sums — ONE group-by.
    val p4 = c5.groupBy(substring_index(col("fg"), " ", 4).as("p1234"))
      .agg(sum(col("c5")).as("c4"),
        (count(lit(1)).as("n5") +: classSums(col("c5"))): _*)
    // N1+(·w2w3w4w5): the level-4 numerator (type counts).
    val t4 = c5.groupBy(substring_index(col("fg"), " ", -4).as("s2345"))
      .agg(count(lit(1)).as("t4"))
      .localCheckpoint(false)
    val d4 = t4.groupBy(substring_index(col("s2345"), " ", 3).as("p234"))
      .agg(sum(col("t4")).as("tsum4"),
        (count(lit(1)).as("nt4") +: classSums(col("t4"))): _*)
    val t3 = t4.groupBy(substring_index(col("s2345"), " ", -3).as("s345"))
      .agg(count(lit(1)).as("t3"))
      .localCheckpoint(false)
    val d3 = t3.groupBy(substring_index(col("s345"), " ", 2).as("p34"))
      .agg(sum(col("t3")).as("tsum3"),
        (count(lit(1)).as("nt3") +: classSums(col("t3"))): _*)
    val t2 = t3.groupBy(substring_index(col("s345"), " ", -2).as("s45"))
      .agg(count(lit(1)).as("t2"))
      .localCheckpoint(false)
    val d2 = t2.groupBy(substring_index(col("s45"), " ", 1).as("w4d"))
      .agg(sum(col("t2")).as("tsum2"),
        (count(lit(1)).as("nt2") +: classSums(col("t2"))): _*)
    // Unigram base: continuation types of w5 over s45 TYPES.
    val t1 = t2.groupBy(substring_index(col("s45"), " ", -1).as("w5c"))
      .agg(count(lit(1)).as("n1c"))
    val stats = t2.agg(count(lit(1)).as("n1pp"))
      .crossJoin(vocabCount(train, textCol))
    Kn5Model(c5, p4, t4, d4, t3, d3, t2, d2, t1, stats)
  }

  /** Chen-Goodman closed-form discounts for ALL FOUR discounted
    * levels in ONE Spark job: the four numerator tables' count-of-
    * counts union into one (level, count) frame and aggregate
    * together — 4 rows of driver metadata instead of four separate
    * 1-row collects (each a full job; at order 5 the serve's fixed
    * cost is job count, not data). Same fail-fast contract as the
    * bigram [[modifiedKneserNeyCrossEntropy]], per level; EXACT
    * arithmetic order the oracle repeats. */
  private def mknDiscountsAll(model: Kn5Model)
      : Map[String, (Double, Double, Double)] = {
    val levels = Seq(
      ("order 5", model.c5, "c5"), ("level 4", model.t4, "t4"),
      ("level 3", model.t3, "t3"), ("level 2", model.t2, "t2"))
    // coalesce the 4-table union to slot count before the 4-group
    // aggregate: the union multiplies map tasks ×4 and every map task
    // of the exchange writes one block per reducer (guide §2.2) for a
    // 16-row result; slot-count partitions keep the scan fully
    // parallel at any model size.
    val slots = model.stats.sparkSession.sparkContext.defaultParallelism
    val unioned = levels.map { case (lvl, df, c) =>
      df.select(lit(lvl).as("__graft_lvl"), col(c).as("__graft_cnt"))
    }.reduce(_ unionByName _).coalesce(slots)
    val ccCols = (1 to 4).map(j => coalesce(
      sum(when(col("__graft_cnt") === j, 1L).otherwise(0L)), lit(0L))
      .as(s"cc$j"))
    val rows = unioned.groupBy("__graft_lvl")
      .agg(ccCols.head, ccCols.tail: _*)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    levels.map { case (level, _, _) =>
      val (cc1, cc2, cc3, cc4) =
        rows.getOrElse(level, (0L, 0L, 0L, 0L))
      require(cc1 > 0 && cc2 > 0 && cc3 > 0 && cc4 > 0,
        s"modified KN ($level): count-of-counts ($cc1, $cc2, $cc3, $cc4) " +
          "must all be positive to estimate discounts — corpus has no " +
          "count-class decay at this order")
      val y = cc1 / (cc1 + 2.0 * cc2)
      val d1 = 1.0 - 2.0 * y * cc2 / cc1
      val d2 = 2.0 - 3.0 * y * cc3 / cc2
      val d3 = 3.0 - 4.0 * y * cc4 / cc3
      require(mknInBounds(d1, d2, d3),
        f"modified KN ($level): estimated discounts out of bounds " +
          f"(D1=$d1%.4f, D2=$d2%.4f, D3+=$d3%.4f)")
      level -> (d1, d2, d3)
    }.toMap
  }

  /** One MODIFIED-KN level over joined columns — the [[knLevel]]
    * shape with the three-discount scheme, in the EXACT arithmetic
    * order the oracle SQL repeats (left-to-right, all doubles):
    *   greatest(num − D(num), 0)/den + (d1·k1 + d2·k2 + d3·k3)/den · lower
    * with D(num) the count-class discount and the k's the prefix's
    * count-class type sums. */
  private def mknLevel(
      num: Column, den: Column, k1: Column, k2: Column, k3: Column,
      lower: Column, d: (Double, Double, Double)): Column = {
    val dOf = when(num.isNull, lit(0.0))
      .when(num === 1, lit(d._1))
      .when(num === 2, lit(d._2))
      .otherwise(lit(d._3))
    val gamma = lit(d._1) * k1.cast("double") +
      lit(d._2) * k2.cast("double") + lit(d._3) * k3.cast("double")
    when(den.isNull, lower).otherwise(
      greatest(coalesce(num, lit(0L)).cast("double") - dOf, lit(0.0)) /
        den.cast("double") + gamma / den.cast("double") * lower)
  }

  /** The per-level discounts a serve uses: the model's sidecar ones,
    * or a fresh estimation from its own tables (one union-aggregate
    * job). */
  private def kn5Discounts(
      model: Kn5Model): Map[String, (Double, Double, Double)] =
    model.disc.getOrElse(mknDiscountsAll(model))

  /** The nine-key arrival projection of the broadcast-semi serve —
    * exposed so a STREAMING caller can own its materialization and
    * release it after the sink (the [[graft.ops.Dedup
    * .stageExactArrivals]] / `withStaged` pattern: the internal
    * localCheckpoint of the batch path would leave one lingering
    * block per micro-batch, the r9 monitor-leak class — the soak
    * caught exactly that on this face). Pair with [[kn5ServeStaged]]. */
  private[graft] def stageKn5Arrivals(
      score: DataFrame, idCol: String, textCol: String): DataFrame =
    kn5Keyed(ngrams(score, idCol, textCol, 5, "fg"))

  /** The broadcast-semi serve of `model`, built once: discounts are
    * resolved HERE (sidecar, or one estimation job), so a stream that
    * builds it at query start pays no estimation job per trigger. The
    * returned function takes an already-STAGED keyed projection (a
    * [[stageKn5Arrivals]] output the caller has made stable — it feeds
    * the bucket collect, the nine broadcast-semi probes AND the
    * accumulator), prunes a key-bucketed model to the probed buckets
    * ([[prunedTo]]; a no-op on a flat model) and runs the
    * broadcast-semi join. No materialization happens inside; block
    * ownership stays with the caller. It is the per-micro-batch body
    * of [[graft.streaming.StreamingOps.lm5ScoreStream]] and the
    * broadcast-semi plan of [[modifiedKn5Against]]. The driver holds
    * ~10 broadcast survivor frames of ≤ |batch 5-grams| rows each, so
    * a stream must bound its trigger size (maxFilesPerTrigger /
    * maxOffsetsPerTrigger). */
  private[graft] def kn5ServeStaged(
      model: Kn5Model, floorEps: Double, idCol: String): DataFrame => DataFrame = {
    val disc = kn5Discounts(model)
    keyed => kn5ScoreJoinKeyed(keyed, prunedTo(keyed, model), disc,
      floorEps, idCol, broadcastScore = true)
  }

  /** The one-shot BATCH broadcast-semi serve. The keyed projection is
    * localCheckpointed: it feeds the bucket collect, the nine
    * broadcast-semi probes AND the accumulator, and without it each
    * broadcast subtree would re-run the batch's ngram-explode plan
    * (~10 recomputations per serve, r13 ADVICE). Its blocks release at
    * GC — a per-micro-batch caller stages through [[stageKn5Arrivals]]
    * instead and releases after its sink. */
  private def kn5Broadcast(
      scoreFg: DataFrame, model: Kn5Model,
      floorEps: Double, idCol: String): DataFrame =
    kn5ServeStaged(model, floorEps, idCol)(
      kn5Keyed(scoreFg).localCheckpoint(false))

  /** The shuffle cascade, shared verbatim by the in-engine score and
    * the bulk serve; a key-bucketed model serves from its unioned
    * buckets. */
  private def kn5Cascade(
      scoreFg: DataFrame, model: Kn5Model,
      floorEps: Double, idCol: String): DataFrame =
    kn5ScoreJoinKeyed(kn5Keyed(scoreFg), unbucketed(model),
      kn5Discounts(model), floorEps, idCol, broadcastScore = false)

  /** All nine lookup keys derive from the batch's fg column alone, so
    * they are computed BEFORE any join — which is what makes the
    * broadcast-score mode linear (see [[kn5ScoreJoinKeyed]]). */
  private def kn5Keyed(scoreFg: DataFrame): DataFrame =
    scoreFg
      .withColumn("p1234", substring_index(col("fg"), " ", 4))
      .withColumn("s2345", substring_index(col("fg"), " ", -4))
      .withColumn("p234", substring_index(col("s2345"), " ", 3))
      .withColumn("s345", substring_index(col("s2345"), " ", -3))
      .withColumn("p34", substring_index(col("s345"), " ", 2))
      .withColumn("s45", substring_index(col("s345"), " ", -2))
      .withColumn("w4d", substring_index(col("s45"), " ", 1))
      .withColumn("w5c", substring_index(col("s45"), " ", -1))

  private def kn5ScoreJoinKeyed(
      keyed: DataFrame, model: Kn5Model,
      disc: Map[String, (Double, Double, Double)],
      floorEps: Double, idCol: String,
      broadcastScore: Boolean): DataFrame = {
    require(floorEps > 0 && floorEps < 1,
      s"floor epsilon must be in (0, 1) (got $floorEps)")
    val d5 = disc("order 5")
    val dl4 = disc("level 4")
    val dl3 = disc("level 3")
    val dl2 = disc("level 2")
    val p1 = coalesce(col("n1c"), lit(0L)).cast("double") /
      col("n1pp").cast("double")
    // Each level lands in its OWN projected column instead of one
    // nested expression: `lower` sits in both branches of every
    // level's CaseWhen, so inlining doubles the tree per level (2^4
    // copies of the continuation base at order 5) and the scoring
    // stage's generated method blows past the JIT's huge-method
    // bytecode limit — HotSpot then never compiles it and the stage
    // runs in the bytecode interpreter (measured 295 task-CPU-seconds
    // / ~310 µs per joined row at sf0.1). Catalyst cannot undo the
    // split: CollapseProject keeps an alias its consumer references
    // more than once unless the alias is cheap, and a CaseWhen is
    // not. Same doubles in the same order with the same NULL
    // behavior — each level is just computed once into a column.
    val p2 = mknLevel(col("t2"), col("tsum2"),
      col("k1_2"), col("k2_2"), col("k3_2"), col("__graft_pl1"), dl2)
    val p3 = mknLevel(col("t3"), col("tsum3"),
      col("k1_3"), col("k2_3"), col("k3_3"), col("__graft_pl2"), dl3)
    val p4 = mknLevel(col("t4"), col("tsum4"),
      col("k1_4"), col("k2_4"), col("k3_4"), col("__graft_pl3"), dl4)
    val p5 = mknLevel(col("c5"), col("c4"),
      col("k1_5"), col("k2_5"), col("k3_5"), col("__graft_pl4"), d5)
    val term = knTermOf(col("__graft_pl5"), floorEps)
    def tagged(df: DataFrame, suffix: String): DataFrame =
      Seq("k1", "k2", "k3").foldLeft(df)((d, k) =>
        d.withColumnRenamed(k, s"${k}_$suffix"))
    // The left joins as written shuffle the MODEL tables (an outer
    // join can only broadcast its non-preserved/build side, and here
    // the preserved side is the small one — Spark cannot broadcast
    // it) — correct for the bulk self-score, hostile to a
    // per-micro-batch serve where the score side is tiny: every
    // trigger would re-shuffle millions of count rows.
    // broadcastScore rewrites each lookup as the broadcast-semi
    // pattern instead: (1) LEFT SEMI the model table against the
    // broadcast BATCH projection's keys — semi joins DO build their
    // right side, so the cached model streams map-side and at most
    // |batch| rows survive; (2) left-join the accumulator against the
    // broadcast survivors — small vs small, NULL-preserving.
    // CRITICAL: the semi probes reference `keyed` (the pre-join batch
    // projection), NEVER the accumulating join chain — a probe on the
    // accumulator would nest the growing plan inside every broadcast
    // subtree and re-execute it 2^levels times (measured: ~300 s
    // micro-batches at order 5 before this was caught by the soak).
    // Row-identical algebra (the parity spec pins it against the
    // shuffle plan); zero hash exchanges touch a model table.
    def lj(acc: DataFrame, tbl: DataFrame, keys: Seq[String]): DataFrame =
      if (broadcastScore) {
        val matched = tbl.join(
          broadcast(keyed.select(keys.map(col): _*)), keys, "left_semi")
        acc.join(broadcast(matched), keys, "left")
      } else acc.join(tbl, keys, "left")
    // The shuffle cascade probes DISTINCT 5-grams, never occurrences
    // (guide §2.3 shuffle-fewer-bytes / §3.3): every lookup key and
    // therefore the whole per-term loss derives from `fg` alone, so
    // the nine model joins and the five smoothing-level projections
    // need one row per 5-gram TYPE; occurrences re-attach by one
    // fg-key join before the per-doc aggregate. At bench geometry the
    // enriched corpus is nearly all types (ratio ≈ 0.9 — a wash); at
    // real corpus Zipf ratios the probe side shrinks by orders of
    // magnitude. Bit-identical per doc: the
    // per-type terms are the same doubles, and the per-doc sum is
    // DECIMAL (order-free). The broadcast-score plan keeps probing
    // the staged batch projection directly — its keys are already
    // batch-bounded and checkpointed, and the semi-join pattern never
    // shuffles the accumulator at all.
    val probe = if (broadcastScore) keyed
      else kn5Keyed(keyed.select("fg").distinct())
    val scoredProbe = Seq[(DataFrame, Seq[String])](
      (model.c5, Seq("fg")),
      (tagged(model.p4, "5"), Seq("p1234")),
      (model.t4, Seq("s2345")),
      (tagged(model.d4, "4"), Seq("p234")),
      (model.t3, Seq("s345")),
      (tagged(model.d3, "3"), Seq("p34")),
      (model.t2, Seq("s45")),
      (tagged(model.d2, "2"), Seq("w4d")),
      (model.t1, Seq("w5c")))
      .foldLeft(probe) { case (acc, (tbl, keys)) => lj(acc, tbl, keys) }
      .crossJoin(broadcast(model.stats))
      .withColumn("__graft_pl1", p1)
      .withColumn("__graft_pl2", p2)
      .withColumn("__graft_pl3", p3)
      .withColumn("__graft_pl4", p4)
      .withColumn("__graft_pl5", p5)
      .withColumn("__graft_term", term)
    val terms = if (broadcastScore) scoredProbe
      else keyed.select(col("id"), col("fg"))
        .join(scoredProbe.select(col("fg"), col("__graft_term")), Seq("fg"))
    terms
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_fivegrams"),
        (sum(col("__graft_term")).cast("double") /
          count(lit(1)).cast("double")).as("kn5_cross_entropy"))
      .withColumnRenamed("id", idCol)
  }

  /** CCNet-style perplexity bucketing: split scored documents into
    * `nBuckets` quality tiers (head / middle / tail for 3) by their
    * cross-entropy quantiles. Returns the scored frame plus a
    * `ppl_bucket` column in [1, nBuckets], 1 = lowest loss (head).
    *
    * Thresholds come from ONE 1-row aggregate that broadcasts; bucket
    * assignment is then a map-side comparison — no global sort, no
    * single-partition window (an ntile() over the corpus would funnel
    * every row through one task). Both threshold and score round to
    * 9 dp before comparing so the cut is engine-portable.
    *
    * `exactThresholds = true` uses the exact percentile aggregate —
    * cross-engine deterministic (the oracle path), but its state
    * holds the distinct score values on one reducer, so at 100 TB
    * corpus scale pass `false` (default) for the approx-percentile
    * sketch (accuracy 1e-4 of rank; run-stable thresholds but not
    * bit-pinned across engines — the honest trade at scale, same as
    * every KLL consumer in this repo). */
  def perplexityBuckets(
      scored: DataFrame, idCol: String, ceCol: String, nBuckets: Int = 3,
      exactThresholds: Boolean = false): DataFrame = {
    require(nBuckets >= 2, s"need >= 2 buckets (got $nBuckets)")
    // Internal threshold column under the __graft_ prefix + explicit
    // clash guard (the cmsEstimate contract): a plain "ts" alias broke
    // any scored frame that carried its own timestamp column —
    // ambiguous reference on read, user column silently dropped on
    // the way out (review finding r12).
    val thrCol = "__graft_ppl_thresholds"
    val clash = scored.columns.filter(Set(thrCol, "ppl_bucket"))
    require(clash.isEmpty,
      s"perplexityBuckets: rename columns ${clash.mkString(", ")} — " +
        "they collide with the bucketing output")
    val ps = (1 until nBuckets).map(_.toDouble / nBuckets)
    val pcts = array(ps.map(lit): _*)
    val thr = scored.agg(
      (if (exactThresholds) percentile(col(ceCol), pcts)
       else percentile_approx(col(ceCol), pcts, lit(10000))).as(thrCol))
    val ceR = round(col(ceCol), 9)
    val bucket = ps.indices
      .map(i => when(ceR > round(element_at(col(thrCol), i + 1), 9), 1)
        .otherwise(0))
      .reduce(_ + _) + lit(1)
    scored.crossJoin(broadcast(thr))
      .withColumn("ppl_bucket", bucket)
      .drop(thrCol)
  }

  /** Char-n-gram Naive Bayes language identification, trained
    * IN-ENGINE from labeled rows — the real replacement for a
    * stopword-marker heuristic ([[TextOps.langId]]): markers need a
    * hand-curated word list per language and return "und" the moment
    * a document avoids those exact words, while char n-grams are the
    * classic textcat/CLD signal that any language's orthography leaks
    * into every substring. Multinomial NB with add-k smoothing over
    * the training trigram vocabulary:
    *
    *   score(doc, L) = ln P(L) + Σ_g count_doc(g) · ln P(g | L)
    *   P(g | L)      = (c_L(g) + k) / (N_L + k·V)
    *
    * and `lang_pred = argmax_L score` (ties broken by language code,
    * ascending — deterministic). Documents shorter than `n` chars have
    * no grams and predict NULL (nothing to score — the caller decides
    * a fallback; silently guessing the prior would hide data bugs).
    *
    * Engine-portable exactness: each ln term is computed in double,
    * rounded to 9 dp, fixed to DECIMAL and summed exactly — the argmax
    * compares identical decimals in any engine under any partitioning
    * (the repo-wide recipe; libm `ln` agrees far below 1e-9).
    *
    * Scale shape: the model IS a distributed table — (lang, gram)
    * counts from one hash aggregate over the exploded training grams,
    * per-language totals and priors from tiny follow-up aggregates
    * that broadcast. Scoring joins per-doc gram counts against the
    * count table on the gram key (AQE broadcasts it while small — V
    * is bounded by |charset|ⁿ, not corpus size), after a ×L fan-out
    * over the language list (L is single digits). One final hash
    * aggregate per (doc, lang), one per-doc window for the argmax.
    * Nothing collects to the driver; no UDF. */
  def charNgramLangId(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      langCol: String, n: Int = 3, k: Double = 1.0): DataFrame = {
    require(n > 0, s"charNgramLangId: non-positive gram size $n")
    require(k > 0, "add-k smoothing needs k > 0")
    // The normalized text MUST stage as a column before the gram
    // transform (the retrieval_rrf / shingles lesson): `norm` appears
    // in the guard, the sequence bound, AND the per-element substr
    // lambda, and a Column expression is copied structurally into
    // every use — inlined, the whole lower+regexp+trim normalization
    // re-ran per GRAM (measured: the two gram stages at sf0.1 spent
    // 65 task-CPU-seconds, ~50 µs per gram, on what is a substr).
    // Staged as an attribute it computes once per row.
    def grams(norm: Column): Column =
      // Guard: Spark's sequence(1, m) DESCENDS when m < 1 — short docs
      // must yield an empty gram list, not [1, 0]-indexed garbage.
      when(length(norm) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), length(norm) - lit(n - 1)),
          i => norm.substr(i, lit(n))))
    def gramRows(df: DataFrame, key: Column, keyName: String): DataFrame =
      df.select(key.as(keyName),
        TextOps.normalized(col(textCol)).as("__graft_norm"))
        .select(col(keyName), explode(grams(col("__graft_norm"))).as("g"))
    // Model: occurrence counts per (lang, gram) — one shuffle with
    // map-side partial aggregation over the exploded train grams.
    val cL = gramRows(OpsUtil.widen(train), col(langCol), "lang")
      .groupBy("lang", "g").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val nL = cL.groupBy("lang").agg(sum(col("c")).as("n_l"))
    val vocab = cL.agg(countDistinct(col("g")).as("v"))
    // Doc priors: ln(docs_L / docs_total), same rounded-decimal fix.
    val docsL = train.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("docs_l"))
    val docsTotal = train.agg(count(lit(1)).as("docs_total"))
    val priors = docsL.crossJoin(broadcast(docsTotal))
      .select(col("lang"),
        round(log(col("docs_l").cast("double") / col("docs_total").cast("double")), 9)
          .cast("decimal(12,9)").as("lp_prior"))
    // Per-doc gram counts × the language list, LEFT-joined to the
    // model so unseen grams score through the smoothing mass
    // k / (N_L + kV) instead of silently dropping out.
    val docG = gramRows(OpsUtil.widen(score), col(idCol), "id")
      .groupBy("id", "g").agg(count(lit(1)).as("cnt"))
    val langs = cL.select("lang").distinct()
    val term = round(log(
      (coalesce(col("c"), lit(0L)).cast("double") + lit(k)) /
        (col("n_l").cast("double") + lit(k) * col("v").cast("double"))), 9)
      .cast("decimal(12,9)") * col("cnt").cast("decimal(10,0)")
    val loglik = docG
      .crossJoin(broadcast(langs))
      .join(cL, Seq("lang", "g"), "left")
      .join(broadcast(nL), Seq("lang"))
      .crossJoin(broadcast(vocab))
      .groupBy("id", "lang")
      .agg(sum(term).as("ll_grams"))
      .join(broadcast(priors), Seq("lang"))
      .select(col("id"), col("lang"),
        (col("ll_grams") + col("lp_prior")).as("ll"))
    val best = loglik
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("ll").desc, col("lang").asc)))
      .filter(col("rk") === 1)
      .select(col("id"), col("lang").as("lang_pred"))
    // Every scored row comes back — gram-less docs with a NULL pred.
    score.select(col(idCol).as("id")).distinct()
      .join(best, Seq("id"), "left")
      .withColumnRenamed("id", idCol)
  }
}
