package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}

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

  // ---- Kneser-Ney family: one order-N model, fit and scoring cascade ----

  /** A fitted Kneser-Ney model of `order` N as distributed tables — the
    * fit-once/serve-many artifact every KN entry point scores against
    * (CCNet trains its KenLM on a clean reference corpus ONCE and serves
    * it against every crawl snapshot). Level k (N down to 2) has two
    * tables:
    *   - a NUMERATOR over the k-token suffixes of the N-grams: raw
    *     occurrence counts at the top (`c<N>`), distinct one-token left
    *     extensions below (`t<k>`, the Chen-Goodman continuation counts
    *     — the defining KN property: "francisco" stays cheap in every
    *     backoff);
    *   - a DENOMINATOR grouping that numerator by its first k−1 tokens
    *     (`p<N−1>` at the top, `d<k>` below): the sum, the type count,
    *     and the count-class type sums `k1/k2/k3` the modified-KN
    *     back-off weight γ = D1·N1 + D2·N2 + D3+·N3+ reads.
    * Then the unigram continuation base `t1` and a 1-row `stats`
    * (n1pp, v). `tables` holds them in the scoring cascade's order:
    * order 2 is (c2, p1, t1), order 3 (c3, p2, t2, d2, t1), order 5
    * (c5, p4, t4, d4, t3, d3, t2, d2, t1). Key columns name their token
    * span: `s2345` is tokens 2..5 of a 5-gram, `p234` its prefix.
    *
    * Raw counts only: the discount, the ε-floor and the smoothing
    * family (fixed-D KN, modified KN, Witten-Bell) are SERVE-time
    * choices, so one saved model serves any of them. `disc` holds the
    * per-level modified-KN discounts (level → (D1, D2, D3+)) when the
    * model came from a layout that stored them (an order-5 save); they
    * derive deterministically from integer counts and doubles
    * round-trip parquet exactly, so the stored ones ARE the
    * re-estimation minus a scan. None = estimate on first use.
    * `keyBuckets` is set only by [[loadKnModel]] on a
    * [[saveKn5ModelPartitioned]] directory: the keyed tables then read
    * from key-hash partition directories and carry their `__graft_kb`
    * column, and every broadcast-semi serve prunes them to the arrival
    * batch's probed buckets first. */
  case class KnModel(
      order: Int, tables: Seq[DataFrame], stats: DataFrame,
      disc: Option[Map[Int, (Double, Double, Double)]] = None,
      private[graft] val keyBuckets: Option[Int] = None) {

    /** The keyed count tables by name, in the scoring cascade's order. */
    private[graft] def keyedTables: Seq[(String, DataFrame)] =
      tableNames(order).zip(tables)

    /** One keyed count table by name (`c5`, `p4`, …, `t1`). */
    def table(name: String): DataFrame = keyedTables.toMap.apply(name)

    /** This model with every keyed table replaced by `f(name, table)`. */
    private[graft] def mapKeyed(f: (String, DataFrame) => DataFrame): KnModel =
      copy(tables = keyedTables.map(f.tupled))
  }

  /** Level k of an order-N model: its key, table and column names. */
  private final case class Level(order: Int, k: Int) {
    private val span = (order - k + 1 to order).mkString
    val key: String = s"s$span"
    val prefix: String = s"p${span.init}"
    val lowerKey: String = s"s${span.tail}"
    val count: String = if (k == order) s"c$k" else s"t$k"
    val den: String = if (k == order) s"p${k - 1}" else s"d$k"
    val sum: String = s"sum$k"
    val types: String = s"n$k"
    val classes: Seq[String] = (1 to 3).map(j => s"k${j}_$k")
  }

  private def levels(order: Int): Seq[Level] = (order to 2 by -1).map(Level(order, _))

  private def tableNames(order: Int): Seq[String] =
    levels(order).flatMap(l => Seq(l.count, l.den)) :+ "t1"

  /** The lookup key of each table in [[tableNames]]. */
  private def tableKeys(order: Int): Seq[String] =
    levels(order).flatMap(l => Seq(l.key, l.prefix)) :+ levels(order).last.lowerKey

  /** The order whose serve is modified KN — its saves store discounts. */
  private val MknOrder = 5

  /** The per-doc n-gram count column of each fitted order. */
  private val nName = Map(2 -> "n_bigrams", 3 -> "n_trigrams", 5 -> "n_fivegrams")

  /** Fit the bigram count statistics over `textCol` of `train`. (The id
    * column of the exploded n-gram frame is irrelevant to fitting — the
    * text column stands in for it.) */
  def fitKn(train: DataFrame, textCol: String): KnModel = fit(train, textCol, 2)

  /** Fit the order-3 count statistics over `textCol` of `train`. */
  def fitKn3(train: DataFrame, textCol: String): KnModel = fit(train, textCol, 3)

  /** Fit the order-5 count statistics over `textCol` of `train`. */
  def fitKn5(train: DataFrame, textCol: String): KnModel = fit(train, textCol, 5)

  private def fit(train: DataFrame, textCol: String, order: Int): KnModel =
    fitFrom(ngrams(train, textCol, textCol, order, Level(order, order).key),
      train, textCol, order)

  /** ONE hash-aggregate builds the distinct top-n-gram table; every
    * other statistic derives from it with follow-up aggregates over
    * progressively smaller keys, so after the first shuffle the wire
    * carries one row per distinct n-gram TYPE, never per occurrence.
    * The numerators of levels ≥ 2 feed three consumers (their
    * denominator, the level below, the scoring join) and are
    * checkpointed. */
  private def fitFrom(
      grams: DataFrame, train: DataFrame, textCol: String, order: Int): KnModel = {
    val ls = levels(order)
    val top = grams.groupBy(ls.head.key).agg(count(lit(1)).as(ls.head.count))
      .localCheckpoint(false)
    // Numerators of levels N … 2, then the unigram base: each lower
    // numerator counts the distinct left extensions of the one above.
    val nums = ls.scanLeft(top) { (num, l) =>
      val lower = num
        .groupBy(substring_index(col(l.key), " ", 1 - l.k).as(l.lowerKey))
        .agg(count(lit(1)).as(s"t${l.k - 1}"))
      if (l.k > 2) lower.localCheckpoint(false) else lower
    }
    val dens = ls.zip(nums).map { case (l, num) =>
      val c = col(l.count)
      num.groupBy(substring_index(col(l.key), " ", l.k - 1).as(l.prefix))
        .agg(sum(c).as(l.sum), count(lit(1)).as(l.types),
          sum(when(c === 1, 1L).otherwise(0L)).as(l.classes(0)),
          sum(when(c === 2, 1L).otherwise(0L)).as(l.classes(1)),
          sum(when(c >= 3, 1L).otherwise(0L)).as(l.classes(2)))
    }
    // N1+(· ·) over the level-2 types, and V for the ε-floor — one
    // broadcastable row.
    val stats = nums(order - 2).agg(count(lit(1)).as("n1pp"))
      .crossJoin(vocabCount(train, textCol))
    KnModel(order, ls.indices.flatMap(i => Seq(nums(i), dens(i))) :+ nums.last, stats)
  }

  /** Fit on `train` and score `score` with `serve` — the in-engine face.
    * The exploded training n-grams are materialized once; self-scoring
    * (`score eq train`) reuses the same frame. */
  private def inEngine(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      order: Int)(serve: (DataFrame, KnModel) => DataFrame): DataFrame = {
    val key = Level(order, order).key
    val trainG = ngrams(train, idCol, textCol, order, key).localCheckpoint(false)
    val scoreG =
      if (score eq train) trainG else ngrams(score, idCol, textCol, order, key)
    serve(scoreG, fitFrom(trainG, train, textCol, order))
  }

  private[graft] def ordered(model: KnModel, order: Int, who: String): KnModel = {
    require(model.order == order,
      s"$who serves an order-$order model; this one is order ${model.order}")
    model
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
    * Every statistic is one hash-aggregate over the once-materialized
    * exploded bigram table, the model stays a distributed table,
    * scoring is key joins that AQE broadcasts while small, and the
    * per-term log-losses round to 9 dp and sum through DECIMAL, so the
    * result is deterministic under any partitioning (and
    * engine-portable — the oracle runs the same arithmetic verbatim).
    *
    * Output: (doc_id, n_bigrams, kn_cross_entropy); documents with
    * fewer than 2 tokens have no bigrams and are absent.
    */
  def kneserNeyCrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame =
    inEngine(score, train, idCol, textCol, 2)((grams, model) =>
      scored(grams, model, Fixed(discount), floorEps, Occurrences, idCol,
        "kn_cross_entropy"))

  /** Per-document cross-entropy under MODIFIED Kneser-Ney — the
    * KenLM DEFAULT: instead of one fixed discount, three discounts
    * D1/D2/D3+ (for counts 1, 2, ≥3) ESTIMATED from the training
    * count-of-counts by the Chen-Goodman closed form
    * ([[mknDiscounts]]), with the mass-preserving back-off weight
    *
    *   γ(w1) = D1·N1(w1·) + D2·N2(w1·) + D3+·N3+(w1·)
    *   P(w2|w1) = (c − D(c))/c(w1·) + γ(w1)/c(w1·) · P_cont(w2)
    *
    * where N_j(w1·) counts w1's continuations BY COUNT CLASS — the
    * class sums the prefix group-by already carries. Fails fast when
    * any n_j = 0 (a corpus too small/degenerate to estimate from —
    * pass an explicit discount to the plain KN instead) or when an
    * estimated discount leaves its (0, count-class] bounds.
    *
    * Output: (doc_id, n_bigrams, mkn_cross_entropy). */
  def modifiedKneserNeyCrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      floorEps: Double = 1e-6): DataFrame = {
    checkEps(floorEps)
    inEngine(score, train, idCol, textCol, 2)((grams, model) =>
      scored(grams, model, Modified(mknDiscounts(model)), floorEps,
        Occurrences, idCol, "mkn_cross_entropy"))
  }

  /** Score documents against an already-fitted (possibly loaded)
    * bigram model — zero training passes; the serve face of the
    * family. Shares the scoring cascade with [[kneserNeyCrossEntropy]],
    * so serve results are the in-engine results by construction. */
  def kneserNeyAgainst(
      score: DataFrame, idCol: String, textCol: String, model: KnModel,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame =
    scored(ngrams(score, idCol, textCol, 2, Level(2, 2).key),
      ordered(model, 2, "kneserNeyAgainst"), Fixed(discount), floorEps,
      Occurrences, idCol, "kn_cross_entropy")

  /** Witten-Bell interpolated scoring over the SAME fitted bigram model
    * — the point of keeping raw counts as the persisted artifact:
    * smoothing is plan arithmetic, so switching families costs a
    * serve-time flag, never a refit. Classic interpolated WB with the
    * novel-continuation weight λ(w1) = N1+(w1·) / (c(w1·) + N1+(w1·)):
    *
    *   P(w2|w1) = c(w1w2)/(c(w1·) + N1+(w1·))
    *              + N1+(w1·)/(c(w1·) + N1+(w1·)) · P_cont(w2)  [seen w1]
    *            = P_cont(w2)                                   [else]
    *
    * (continuation base and ε-floor as in the KN family; no discount
    * parameter at all). Output: (doc_id, n_bigrams, wb_cross_entropy). */
  def wittenBellAgainst(
      score: DataFrame, idCol: String, textCol: String, model: KnModel,
      floorEps: Double = 1e-6): DataFrame =
    scored(ngrams(score, idCol, textCol, 2, Level(2, 2).key),
      ordered(model, 2, "wittenBellAgainst"), WittenBell, floorEps,
      Occurrences, idCol, "wb_cross_entropy")

  /** Per-document NOVELTY rate against a fitted model: the fraction of
    * a document's n-grams (at the model's order) absent from its top
    * count table — the freshness/contamination dial of a
    * snapshot-over-snapshot pipeline (near-zero novelty against last
    * month's model flags a re-crawl or leaked duplicate; near-one flags
    * out-of-domain or garbage). One left join on the n-gram key, one
    * per-doc aggregate. Output: (doc_id, n_bigrams, n_unseen,
    * novelty_rate) for a bigram model; documents too short for one
    * n-gram are absent. */
  def noveltyRate(
      score: DataFrame, idCol: String, textCol: String,
      model: KnModel): DataFrame = {
    val top = Level(model.order, model.order)
    val unseen = sum(when(col(top.count).isNull, 1L).otherwise(0L))
    ngrams(score, idCol, textCol, model.order, top.key)
      .join(model.tables.head, Seq(top.key), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as(nName(model.order)),
        unseen.as("n_unseen"),
        (unseen.cast("double") / count(lit(1)).cast("double")).as("novelty_rate"))
      .withColumnRenamed("id", idCol)
  }

  /** Held-out discount selection — the reason discount is a SERVE-time
    * knob: ONE fitted model answers every candidate with ZERO refits,
    * and because the cascade join is discount-independent, ONE join
    * pass: the grid becomes |grid| level-column chains over the same
    * joined frame, aggregated together. Returns one row per candidate:
    * (discount, n_bigrams, corpus_ce), corpus_ce the DECIMAL-summed
    * per-n-gram loss over the WHOLE held-out set divided by the n-gram
    * count — deliberately not a mean of per-doc means, so the number is
    * the corpus perplexity's log and the cross-candidate comparison is
    * exact under any partitioning. Pick the argmin (ties: smaller
    * discount). */
  def tuneKnDiscount(
      heldout: DataFrame, idCol: String, textCol: String, model: KnModel,
      grid: Seq[Double], floorEps: Double = 1e-6): DataFrame = {
    require(grid.nonEmpty, "tuneKnDiscount: empty candidate grid")
    val policies = grid.map(Fixed(_))
    val n = model.order
    val joined = policies.zipWithIndex.foldLeft(
      cascade(ngrams(heldout, idCol, textCol, n, Level(n, n).key), model,
        Occurrences)) { case (df, (s, i)) => withLevels(df, n, s, s"_$i") }
    val termCols = grid.indices.map(i =>
      sum(knTermOf(col(s"__graft_pl${n}_$i"), floorEps)).as(s"__graft_t$i"))
    val agged = joined.agg(count(lit(1)).as("__graft_n"), termCols: _*)
    val rows = grid.zipWithIndex.map { case (d, i) =>
      struct(lit(d).as("discount"),
        col("__graft_n").as(nName(n)),
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
    * Output: (doc_id, n_trigrams, kn3_cross_entropy); documents with
    * fewer than 3 tokens are absent. */
  def kneserNeyTrigramCrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame =
    inEngine(score, train, idCol, textCol, 3)((grams, model) =>
      scored(grams, model, Fixed(discount), floorEps, Occurrences, idCol,
        "kn3_cross_entropy"))

  /** Score documents against an already-fitted (possibly loaded)
    * order-3 model — the serve face of
    * [[kneserNeyTrigramCrossEntropy]], through the same cascade. */
  def kneserNeyTrigramAgainst(
      score: DataFrame, idCol: String, textCol: String, model: KnModel,
      discount: Double = 0.75, floorEps: Double = 1e-6): DataFrame =
    scored(ngrams(score, idCol, textCol, 3, Level(3, 3).key),
      ordered(model, 3, "kneserNeyTrigramAgainst"), Fixed(discount),
      floorEps, Occurrences, idCol, "kn3_cross_entropy")

  /** Per-document cross-entropy under an order-5 MODIFIED Kneser-Ney
    * model — KenLM's default configuration: the
    * [[kneserNeyTrigramCrossEntropy]] recursion extended two levels,
    * with [[modifiedKneserNeyCrossEntropy]]'s three-discount scheme AT
    * EVERY LEVEL: each of the four discounted levels gets its own
    * D1/D2/D3+ from ITS numerator table's count-of-counts (KenLM
    * estimates discounts per order), and its mass-preserving γ from the
    * count-class sums its denominator carries. Fails fast (the
    * [[modifiedKneserNeyCrossEntropy]] contract) when any level's
    * count-of-counts has a zero class or an estimated discount leaves
    * its bounds — corpora without count-class decay at every order
    * cannot support order-5 MKN; use the fixed-discount order-3 form.
    *
    * Output: (doc_id, n_fivegrams, kn5_cross_entropy); documents with
    * fewer than 5 tokens are absent. */
  def modifiedKn5CrossEntropy(
      score: DataFrame, train: DataFrame, idCol: String, textCol: String,
      floorEps: Double = 1e-6): DataFrame =
    inEngine(score, train, idCol, textCol, 5)((grams, model) =>
      kn5Cascade(grams, model, floorEps, idCol))

  /** Score documents against an already-fitted (possibly loaded)
    * order-5 model — the serve face; shares the scoring cascade with
    * [[modifiedKn5CrossEntropy]]. Discounts come from `model.disc` (the
    * save-time sidecar) or are re-estimated from the tables' own
    * count-of-counts.
    *
    * The PLAN follows the model and `broadcastScore`, never the
    * algebra (rows are identical on every plan, spec-pinned):
    *   - a flat model with `broadcastScore = false` (default) runs the
    *     bulk left-join cascade over DISTINCT 5-grams, which shuffles
    *     the model tables — right when the score side IS the corpus;
    *   - `broadcastScore = true` runs the broadcast-semi plan the
    *     streaming serve uses: every model lookup becomes a left-semi
    *     against the broadcast batch keys followed by a small broadcast
    *     left join, so the count tables stream map-side and NO hash
    *     exchange touches a model table — right for a small arrival
    *     batch against a big model;
    *   - a key-bucketed model always runs that broadcast-semi plan,
    *     after pruning every table to the partitions the batch's keys
    *     hash into: serve cost ≈ |batch keys| × bucket size.
    *
    * `broadcastScore = true` first counts the batch's distinct 5-gram
    * keys (one count-agg pass) and REFUSES batches above
    * `broadcastMaxKeys` rather than letting the driver OOM holding ~10
    * corpus-sized broadcast survivor frames; the error says to drop the
    * flag. The guard pass stays separate from the serve's own staging,
    * so a refused batch never pays a block-storage materialization.
    * [[kn5ServeAuto]] makes that choice from the batch's measured key
    * count. */
  def modifiedKn5Against(
      score: DataFrame, idCol: String, textCol: String, model: KnModel,
      floorEps: Double = 1e-6, broadcastScore: Boolean = false,
      broadcastMaxKeys: Long = Kn5BroadcastMaxKeys): DataFrame = {
    ordered(model, 5, "modifiedKn5Against")
    val fg = kn5Grams(score, idCol, textCol)
    if (broadcastScore) {
      val n = distinctKeys(fg)
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
    * the [[modifiedKn5Against]] broadcast-score plan (the driver holds
    * ~10 survivor frames of up to this many rows). */
  val Kn5BroadcastMaxKeys: Long = 1000000L

  /** Serve-plan FRONT DOOR for persisted order-5 models: the model
    * comes from [[loadKn5Model]] (either layout; a directory that holds
    * no model fails there with both writers named), and the route from
    * the batch's MEASURED distinct 5-gram key count — one count-agg
    * pass over the batch's n-gram plan, separate from the serve's own
    * staging. Distinct keys ≤ `broadcastMaxKeys` (the driver-side
    * bound) take the broadcast-semi serve: partition-PRUNED against a
    * key-bucketed model (measured flat at 100× model growth, SCALE.md
    * Round 15), over whole tables against a flat one. Above the bound —
    * corpus-scale self-scoring — only the shuffle CASCADE is
    * admissible, over the unioned buckets of a key-bucketed model, with
    * the stored discounts. Output is identical on every route. */
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
    val fg = kn5Grams(score, idCol, textCol)
    if (distinctKeys(fg) > broadcastMaxKeys)
      (kn5Cascade(fg, model, floorEps, idCol), "cascade")
    else (kn5Broadcast(fg, model, floorEps, idCol),
      if (model.keyBuckets.isDefined) "pruned" else "broadcast")
  }

  private def kn5Grams(score: DataFrame, idCol: String, textCol: String): DataFrame =
    ngrams(score, idCol, textCol, 5, Level(5, 5).key)

  private def distinctKeys(grams: DataFrame): Long =
    grams.select(countDistinct(col(Level(5, 5).key))).head().getLong(0)

  /** The all-keys arrival projection of the broadcast-semi serve —
    * exposed so a STREAMING caller can own its materialization and
    * release it after the sink (the `withStaged` pattern: the batch
    * path's internal localCheckpoint would leave one lingering block
    * per micro-batch; the soak caught exactly that on this face). Pair
    * with [[kn5ServeStaged]]. */
  private[graft] def stageKn5Arrivals(
      score: DataFrame, idCol: String, textCol: String): DataFrame =
    keyed(kn5Grams(score, idCol, textCol), 5)

  /** The broadcast-semi serve of an order-5 `model`, built once:
    * discounts are resolved HERE (stored, or one estimation job), so a
    * stream that builds it at query start pays no estimation job per
    * trigger. The returned function takes an already-STAGED
    * [[stageKn5Arrivals]] output (it feeds the bucket collect, the
    * broadcast-semi probes AND the accumulator), prunes a key-bucketed
    * model to the probed buckets and runs the broadcast-semi cascade;
    * block ownership stays with the caller. The driver holds ~10
    * broadcast survivor frames of ≤ |batch 5-grams| rows each, so a
    * stream must bound its trigger size. */
  private[graft] def kn5ServeStaged(
      model: KnModel, floorEps: Double, idCol: String): DataFrame => DataFrame = {
    val disc = Modified(discounts(ordered(model, 5, "kn5ServeStaged")))
    staged => scored(staged, prunedTo(staged, model), disc, floorEps,
      BroadcastSemi, idCol, "kn5_cross_entropy")
  }

  /** The one-shot BATCH broadcast-semi serve. The keyed projection is
    * localCheckpointed: it feeds the bucket collect, the broadcast-semi
    * probes AND the accumulator, and without it each broadcast subtree
    * would re-run the batch's ngram-explode plan. */
  private def kn5Broadcast(
      fg: DataFrame, model: KnModel, floorEps: Double, idCol: String): DataFrame =
    kn5ServeStaged(model, floorEps, idCol)(keyed(fg, 5).localCheckpoint(false))

  /** The shuffle cascade over distinct 5-grams, shared by the in-engine
    * score and the bulk serve; a key-bucketed model serves from its
    * unioned buckets. */
  private def kn5Cascade(
      fg: DataFrame, model: KnModel, floorEps: Double, idCol: String): DataFrame =
    scored(fg, unbucketed(model), Modified(discounts(model)), floorEps, Types,
      idCol, "kn5_cross_entropy")

  // ---- smoothing: one level function, three discount policies ----

  private sealed trait Smoothing
  /** Interpolated KN with one discount D at every level. */
  private final case class Fixed(d: Double) extends Smoothing {
    require(d > 0 && d < 1, s"Kneser-Ney discount must be in (0, 1) (got $d)")
  }
  /** Modified KN: per-level (D1, D2, D3+) by count class. */
  private final case class Modified(disc: Map[Int, (Double, Double, Double)])
      extends Smoothing
  /** Witten-Bell: the type count is the smoothing mass. */
  private case object WittenBell extends Smoothing

  /** One interpolated level over the joined columns of level `l`, in
    * the EXACT arithmetic order the oracle SQL repeats (left-to-right,
    * all doubles):
    *   fixed D:    greatest(num − D, 0)/den + D·types/den·lower
    *   modified:   greatest(num − D(num), 0)/den
    *                 + (D1·k1 + D2·k2 + D3+·k3)/den·lower
    *   WB:         num/(den + types) + types/(den + types)·lower
    * and `lower` alone where the prefix was never seen (den NULL).
    * Modified KN's greatest(·, 0) never binds (0 < D(c) ≤ c), so the
    * bigram oracle's plain subtraction is the same double. */
  private def level(l: Level, s: Smoothing, lower: Column): Column = {
    val num = col(l.count)
    val den = col(l.sum)
    val types = col(l.types)
    val c = coalesce(num, lit(0L)).cast("double")
    when(den.isNull, lower).otherwise(s match {
      case Fixed(d) =>
        greatest(c - lit(d), lit(0.0)) / den.cast("double") +
          lit(d) * types.cast("double") / den.cast("double") * lower
      case Modified(disc) =>
        val (d1, d2, d3) = disc(l.k)
        val dOf = when(num.isNull, lit(0.0))
          .when(num === 1, lit(d1))
          .when(num === 2, lit(d2))
          .otherwise(lit(d3))
        val gamma = lit(d1) * col(l.classes(0)).cast("double") +
          lit(d2) * col(l.classes(1)).cast("double") +
          lit(d3) * col(l.classes(2)).cast("double")
        greatest(c - dOf, lit(0.0)) / den.cast("double") +
          gamma / den.cast("double") * lower
      case WittenBell =>
        val total = (den + types).cast("double")
        c / total + types.cast("double") / total * lower
    })
  }

  /** The levels as chained projected columns `__graft_pl<k><tag>`, base
    * (`__graft_pl1`, the continuation probability n1c/n1pp, already on
    * `df`) upward. Each level lands in its OWN column instead of one
    * nested expression: `lower` sits in both branches of every level's
    * CaseWhen, so inlining doubles the tree per level (2^4 copies of
    * the base at order 5) and the scoring stage's generated method
    * blows past the JIT's huge-method limit — measured at ~310 µs per
    * joined row interpreted at sf0.1. Catalyst keeps the split:
    * CollapseProject does not inline a non-cheap alias referenced more
    * than once. */
  private def withLevels(df: DataFrame, order: Int, s: Smoothing, tag: String): DataFrame =
    levels(order).reverse.foldLeft(df) { (acc, l) =>
      val lower = if (l.k == 2) "__graft_pl1" else s"__graft_pl${l.k - 1}$tag"
      acc.withColumn(s"__graft_pl${l.k}$tag", level(l, s, col(lower)))
    }

  private def checkEps(floorEps: Double): Unit =
    require(floorEps > 0 && floorEps < 1,
      s"floor epsilon must be in (0, 1) (got $floorEps)")

  /** −ln of the ε-floored probability, 9 dp + DECIMAL (the
    * engine-portable term every LM sums; libm/JDK ln agree far below
    * 1e-9). */
  private def knTermOf(pkn: Column, floorEps: Double): Column = {
    checkEps(floorEps)
    val p = (lit(1.0) - lit(floorEps)) * pkn +
      lit(floorEps) / (col("v").cast("double") + lit(1.0))
    round(-log(p), 9).cast("decimal(24,9)")
  }

  // ---- the scoring cascade ----

  /** How the scored n-grams reach the model tables. */
  private sealed trait Probe
  /** Every occurrence left-joins the top table, then the keys below it
    * and the other tables — the order-2/3 plans, the tuner's and WB's. */
  private case object Occurrences extends Probe
  /** DISTINCT top n-grams probe the cascade and occurrences re-attach
    * by one key join before the per-doc aggregate: every lookup key and
    * so the whole per-term loss derives from the n-gram alone, so the
    * joins need one row per TYPE (at real corpus Zipf ratios the probe
    * side shrinks by orders of magnitude). The order-5 bulk plan. */
  private case object Types extends Probe
  /** A staged all-keys batch ([[keyed]]) probes every table as a LEFT
    * SEMI of the table against the broadcast batch keys — semi joins
    * build their right side, so the model streams map-side and at most
    * |batch| rows survive — then left-joins the broadcast survivors:
    * zero hash exchanges touch a model table. The semi probes reference
    * the staged batch, NEVER the accumulating join chain, which would
    * nest the growing plan in every broadcast subtree (measured ~300 s
    * micro-batches at order 5). The order-5 arrival-batch plan. */
  private case object BroadcastSemi extends Probe

  /** Every lookup key derives from the top n-gram alone: each level's
    * prefix and the next level's suffix, outermost first. */
  private def keyed(grams: DataFrame, order: Int): DataFrame =
    levels(order).foldLeft(grams)((df, l) =>
      df.withColumn(l.prefix, substring_index(col(l.key), " ", l.k - 1))
        .withColumn(l.lowerKey, substring_index(col(l.key), " ", 1 - l.k)))

  /** The discount-independent join of the scored n-grams to every
    * model table, plus the broadcast `stats` row — the smoothing
    * evaluates over its columns afterwards, which is what lets the
    * tuner price a whole grid on one join pass. */
  private def cascade(grams: DataFrame, model: KnModel, probe: Probe): DataFrame = {
    val lookups = model.tables.zip(tableKeys(model.order))
    def left(acc: DataFrame, t: (DataFrame, String)): DataFrame =
      acc.join(t._1, Seq(t._2), "left")
    (probe match {
      case Occurrences =>
        lookups.tail.foldLeft(keyed(left(grams, lookups.head), model.order))(left)
      case Types =>
        lookups.foldLeft(keyed(grams.select(tableKeys(model.order).head).distinct(),
          model.order))(left)
      case BroadcastSemi =>
        lookups.foldLeft(grams) { case (acc, (tbl, key)) =>
          val matched = tbl.join(broadcast(grams.select(key)), Seq(key), "left_semi")
          acc.join(broadcast(matched), Seq(key), "left")
        }
    }).crossJoin(broadcast(model.stats))
      .withColumn("__graft_pl1",
        coalesce(col("t1"), lit(0L)).cast("double") / col("n1pp").cast("double"))
  }

  /** Score `grams` (id, top n-gram) against `model` under smoothing `s`:
    * the cascade, the level columns, the ε-floored term, and the per-doc
    * aggregate — (id, n_<grams>, `ceName`). */
  private def scored(
      grams: DataFrame, model: KnModel, s: Smoothing, floorEps: Double,
      probe: Probe, idCol: String, ceName: String): DataFrame = {
    val key = tableKeys(model.order).head
    val perGram = withLevels(cascade(grams, model, probe), model.order, s, "")
      .withColumn("__graft_term",
        knTermOf(col(s"__graft_pl${model.order}"), floorEps))
    val terms =
      if (probe == Types) grams.select(col("id"), col(key))
        .join(perGram.select(col(key), col("__graft_term")), Seq(key))
      else perGram
    terms
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as(nName(model.order)),
        (sum(col("__graft_term")).cast("double") /
          count(lit(1)).cast("double")).as(ceName))
      .withColumnRenamed("id", idCol)
  }

  // ---- discount estimation ----

  /** The bounds a modified-KN discount triple lives in (Chen-Goodman:
    * each discount is positive and at most its count class). */
  private def mknInBounds(d1: Double, d2: Double, d3: Double): Boolean =
    d1 > 0 && d1 <= 1 && d2 > 0 && d2 <= 2 && d3 > 0 && d3 <= 3

  /** Chen-Goodman closed-form discounts for every discounted level of
    * `model` in ONE Spark job: the numerator tables' count-of-counts
    * union into one (level, count) frame and aggregate together, per
    * level
    *
    *   Y  = n1 / (n1 + 2·n2)
    *   D1 = 1 − 2·Y·n2/n1,  D2 = 2 − 3·Y·n3/n2,  D3+ = 3 − 4·Y·n4/n3
    *
    * (n_j = types occurring exactly j times) in the EXACT arithmetic
    * order the oracle repeats. Fails fast when an n_j is zero or a
    * discount leaves its bounds. */
  private def mknDiscounts(model: KnModel): Map[Int, (Double, Double, Double)] = {
    val ls = levels(model.order)
    // coalesce the union to slot count before the per-level aggregate:
    // the union multiplies map tasks and every map task of the exchange
    // writes one block per reducer for a 4×levels-row result.
    val slots = model.stats.sparkSession.sparkContext.defaultParallelism
    val unioned = ls.map(l => model.table(l.count)
      .select(lit(l.k).as("__graft_lvl"), col(l.count).as("__graft_cnt")))
      .reduce(_ unionByName _).coalesce(slots)
    val ccCols = (1 to 4).map(j => coalesce(
      sum(when(col("__graft_cnt") === j, 1L).otherwise(0L)), lit(0L))
      .as(s"cc$j"))
    val rows = unioned.groupBy("__graft_lvl")
      .agg(ccCols.head, ccCols.tail: _*)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    ls.map { l =>
      val (cc1, cc2, cc3, cc4) = rows.getOrElse(l.k, (0L, 0L, 0L, 0L))
      val where = s"modified KN (level ${l.k} of order ${model.order})"
      require(cc1 > 0 && cc2 > 0 && cc3 > 0 && cc4 > 0,
        s"$where: count-of-counts ($cc1, $cc2, $cc3, $cc4) must all be " +
          "positive to estimate discounts — corpus too small or degenerate " +
          "(no count-class decay at this order); use a fixed discount instead")
      val y = cc1 / (cc1 + 2.0 * cc2)
      val d1 = 1.0 - 2.0 * y * cc2 / cc1
      val d2 = 2.0 - 3.0 * y * cc3 / cc2
      val d3 = 3.0 - 4.0 * y * cc4 / cc3
      require(mknInBounds(d1, d2, d3),
        f"$where: estimated discounts out of bounds " +
          f"(D1=$d1%.4f, D2=$d2%.4f, D3+=$d3%.4f) — count-of-counts too irregular")
      l.k -> (d1, d2, d3)
    }.toMap
  }

  /** The per-level discounts a serve uses: the stored ones, or a fresh
    * estimation from the model's own tables (one union-aggregate job). */
  private def discounts(model: KnModel): Map[Int, (Double, Double, Double)] =
    model.disc.getOrElse(mknDiscounts(model))

  // ---- persistence: one checked save/load per layout ----

  /** Partition column of the key-bucketed serve layout. */
  private[graft] val Kn5KeyBucket = "__graft_kb"

  private val Writers = "saveKnModel (flat) / saveKn5ModelPartitioned (key-bucketed)"

  /** The name of level `k`'s row in an order-5 discount sidecar. */
  private def discLevel(k: Int): String =
    if (k == MknOrder) s"order $k" else s"level $k"

  /** Persist a fitted model of any order FLAT: one parquet directory per
    * table at its natural partitioning and, for an order-5 model, the
    * `disc` sidecar (one row per discounted level: level, d1, d2, d3),
    * written as concurrent jobs; then the one-row `model` sidecar LAST
    * — the commit marker: it stores the order and every table's schema,
    * so a load infers nothing. The order-5 discounts are estimated
    * FIRST: that is the fail-fast gate a corpus without count-class
    * decay hits at serve time anyway, and its job materializes the
    * numerator checkpoints the concurrent writes then share. A model
    * loaded key-bucketed is written flat. */
  def saveKnModel(model: KnModel, path: String): Unit = save(model, path, None)

  /** [[saveKnModel]] of an order-3 model. */
  def saveKn3Model(model: KnModel, path: String): Unit =
    saveKnModel(ordered(model, 3, "saveKn3Model"), path)

  /** [[saveKnModel]] of an order-5 model. */
  def saveKn5Model(model: KnModel, path: String): Unit =
    saveKnModel(ordered(model, 5, "saveKn5Model"), path)

  /** Persist an order-5 model KEY-BUCKETED — the partitioned serve
    * layout: each keyed count table lands in `nKeyBuckets` key-hash
    * partition directories, so a serve reads only the partitions the
    * ARRIVAL batch's n-gram keys fall into. At real model scale
    * (billions of n-gram types) the flat layout's every-serve scan of
    * all ten tables is exactly the cost partition pruning kills. The
    * discounts ride the `meta` sidecar (one row per level: level,
    * key_buckets, d1, d2, d3), so a serve never scans the numerator
    * tables for count-of-counts; the `model` sidecar comes last as in
    * [[saveKnModel]]. Size `nKeyBuckets` to the model (constant
    * per-bucket bytes). A model loaded key-bucketed is re-bucketed
    * from its unbucketed tables. */
  def saveKn5ModelPartitioned(
      model: KnModel, path: String, nKeyBuckets: Int = 64): Unit = {
    require(nKeyBuckets > 0,
      "saveKn5ModelPartitioned: nKeyBuckets must be > 0")
    save(ordered(model, 5, "saveKn5ModelPartitioned"), path, Some(nKeyBuckets))
  }

  private def save(model: KnModel, path: String, keyBuckets: Option[Int]): Unit = {
    val disc = if (model.order == MknOrder) Some(discounts(model)) else None
    val spark = model.stats.sparkSession
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(graft.io.HadoopConfs.of(spark))
    Seq("model", "disc", "meta").foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s), true))
    val frames = unbucketed(model).keyedTables.zip(tableKeys(model.order)).map {
      case ((name, df), key) => name -> keyBuckets.fold(df)(nb => df
        .withColumn(Kn5KeyBucket, OpsUtil.hashBucket(nb, col(key)))
        .repartition(nb, col(Kn5KeyBucket)))
    } :+ ("stats" -> model.stats.coalesce(1))
    val sidecar = disc.map { d =>
      val rows = levels(MknOrder).map { l =>
        val (d1, d2, d3) = d(l.k); (discLevel(l.k), d1, d2, d3)
      }.toDF("level", "d1", "d2", "d3")
      keyBuckets.fold("disc" -> rows)(nb => "meta" -> rows.select(col("level"),
        lit(nb).as("key_buckets"), col("d1"), col("d2"), col("d3")))
    }
    OpsUtil.runConcurrently((frames ++ sidecar).map { case (name, df) => () =>
      val w = df.write.mode("overwrite")
      (if (keyBuckets.isDefined && tableNames(model.order).contains(name))
        w.partitionBy(Kn5KeyBucket) else w).parquet(s"$path/$name")
    })
    Seq((model.order, StructType(frames.map { case (n, df) => StructField(n, df.schema) }).json))
      .toDF("order", "schema").coalesce(1).write.mode("overwrite").parquet(s"$path/model")
  }

  /** Column renames of an order-5 layout written before the `model`
    * sidecar, table → (old → new): those saves named each table's
    * columns on their own (`fg`, `c4`, `tsum4`, `nt4`, `k1`, …). */
  private val LegacyKn5Columns: Map[String, Map[String, String]] = {
    def den(k: Int, named: (String, String)*) =
      (named ++ (1 to 3).map(j => s"k$j" -> s"k${j}_$k")).toMap
    Map("c5" -> Map("fg" -> "s12345"), "p4" -> den(5, "c4" -> "sum5"),
      "d4" -> den(4, "tsum4" -> "sum4", "nt4" -> "n4"),
      "d3" -> den(3, "tsum3" -> "sum3", "nt3" -> "n3"),
      "d2" -> den(2, "w4d" -> "p4", "tsum2" -> "sum2", "nt2" -> "n2"),
      "t1" -> Map("w5c" -> "s5", "n1c" -> "t1"))
  }

  /** Load a persisted model — the inverse of BOTH writers. Every
    * sidecar is read on the driver ([[BucketedIndex.readSidecar]], no
    * Spark job) and every table with its stored schema (a key-bucketed
    * one by its bucket directories), so a load of either layout runs no
    * Spark job at all. Checked before any serve trusts it:
    *   - `model/`: one row; the order (2, 3 or 5); a schema naming the
    *     order's tables. Each table directory exists, and its first
    *     data file's footer holds the stored columns and types.
    *   - the layout: key-bucketed exactly when `meta/` exists, and then
    *     every keyed table's stored schema carries `__graft_kb`;
    *   - order 5: the discounts from `meta/` (key-bucketed) or `disc/`
    *     (flat): one row per level, non-NULL d1, d2, d3 inside
    *     0 < D1 ≤ 1, 0 < D2 ≤ 2, 0 < D3+ ≤ 3, and for `meta/` one
    *     positive `key_buckets`. A flat order-5 layout without `disc/`
    *     loads with `disc = None` and estimates on first use.
    * An order-5 directory saved before the `model` sidecar existed (a
    * `c5/` or `meta/` layout without `model/`) still loads: its tables'
    * schemas are inferred and its columns renamed to today's. Any
    * other directory without `model/` holds no committed model and
    * fails naming both writers. A failure names the path and the
    * contract, not a serve-time missing key, NULL read as 0, or
    * division by zero. */
  def loadKnModel(spark: SparkSession, path: String): KnModel = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(graft.io.HadoopConfs.of(spark))
    def has(sub: String): Boolean = fs.exists(new Path(path, sub))
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"loadKnModel: $path breaks the $Writers layout contract (a model/ " +
        "sidecar written last stores the order and each table's schema; " +
        s"each table is a parquet directory with that schema): $why")
    val committed = has("model")
    val bucketed = has("meta")
    if (!committed && !bucketed && !has("c5")) fail("it is neither layout: " +
      "there is no model/ sidecar, so it holds no committed model — nothing " +
      "was saved there or the save did not finish — and it is no order-5 " +
      "layout written before that sidecar either (a saveKn5Model layout " +
      "(c5/) or a saveKn5ModelPartitioned layout (meta/)); fit and save one (e.g. " +
      "`Fit kn|kn3|kn5 <corpus> <id> <text> <dir> [keyBuckets]`)")
    val stored = Option.when(committed) {
      val orderRange: BucketedIndex.Range =
        "order is 2, 3 or 5" -> (p => nName.contains(p("order").asInstanceOf[Int]))
      def schemaOf(p: BucketedIndex.Params): Option[StructType] =
        scala.util.Try(DataType.fromJson(p("schema").toString)).toOption.collect {
          case s: StructType if s.fieldNames.toSeq ==
              tableNames(p("order").asInstanceOf[Int]) :+ "stats" &&
            s.fields.forall(_.dataType.isInstanceOf[StructType]) => s
        }
      val p = BucketedIndex.readSidecar(spark, s"$path/model", Writers,
        Seq("order" -> IntegerType, "schema" -> StringType),
        Seq(orderRange, "schema names the order's tables" -> (schemaOf(_).nonEmpty)))
      p("order").asInstanceOf[Int] -> schemaOf(p).get
    }
    val order = stored.fold(MknOrder)(_._1)
    val names = tableNames(order) :+ "stats"
    def schema(name: String): Option[StructType] =
      stored.map(_._2(name).dataType.asInstanceOf[StructType])
    if (stored.nonEmpty && tableNames(order).exists(n =>
        schema(n).get.fieldNames.contains(Kn5KeyBucket)) != bucketed)
      fail(if (bucketed) "it holds a meta/ sidecar, but its tables are not key-bucketed"
        else s"its tables carry $Kn5KeyBucket, but it holds no meta/ sidecar")
    val sub = if (bucketed) "meta" else "disc"
    val rows = Option.when(order == MknOrder && has(sub)) {
      val dl = levels(MknOrder).map(l => discLevel(l.k))
      BucketedIndex.readSidecarRows(spark, s"$path/$sub",
        if (bucketed) "saveKn5ModelPartitioned" else "saveKn5Model",
        Seq("level" -> StringType, "d1" -> DoubleType, "d2" -> DoubleType,
          "d3" -> DoubleType) ++
          (if (bucketed) Seq("key_buckets" -> IntegerType) else Nil),
        Seq("0 < d1 <= 1, 0 < d2 <= 2, 0 < d3 <= 3" -> ((p: BucketedIndex.Params) =>
          mknInBounds(p("d1").asInstanceOf[Double], p("d2").asInstanceOf[Double],
            p("d3").asInstanceOf[Double]))) ++
          (if (bucketed) Seq(BucketedIndex.positive("key_buckets")) else Nil),
        dl, shared = if (bucketed) Seq("key_buckets") else Nil)
    }
    val keyBuckets = rows.filter(_ => bucketed)
      .map(_.values.head("key_buckets").asInstanceOf[Int])
    val frames = names.map { name =>
      val table = s"$path/$name"
      if (!has(name)) fail(s"missing table directory $name/")
      schema(name).foreach { s =>
        val found =
          try BucketedIndex.footerSchema(spark, table)
          catch { case scala.util.control.NonFatal(e) =>
            fail(s"unreadable table $name/ (${e.getMessage})") }
        def cols(t: StructType) = t.fields.toSeq.filterNot(_.name == Kn5KeyBucket)
          .map(c => s"${c.name} ${c.dataType.simpleString}")
        found.filter(h => cols(h) != cols(s)).foreach(h =>
          fail(s"table $name/ holds (${cols(h).mkString(", ")}), " +
            s"the sidecar stores (${cols(s).mkString(", ")})"))
      }
      val read = spark.read
      val df = (schema(name), keyBuckets.filter(_ => tableNames(order).contains(name))) match {
        // A keyed table is read by its bucket directories, named from the
        // sidecar's key_buckets, at most the parallel-listing threshold of
        // paths per read: Spark lists a root over more bucket directories,
        // or a longer path list, with a Spark job.
        case (Some(s), Some(nb)) =>
          val present = fs.listStatus(new Path(table)).map(_.getPath.getName).toSet
          val dirs = (0 until nb).map(b => s"$Kn5KeyBucket=$b").filter(present)
            .map(d => s"$table/$d")
          val perRead = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
          dirs.grouped(perRead.toInt max 1)
            .map(g => read.option("basePath", table).schema(s).parquet(g: _*))
            .reduceOption(_ union _)
            .getOrElse(spark.createDataFrame(java.util.List.of[Row](), s))
        case (s, _) => s.fold(read)(read.schema).parquet(table)
      }
      if (stored.nonEmpty) df else LegacyKn5Columns.get(name).fold(df)(df.withColumnsRenamed)
    }
    val disc = rows.map(r => levels(MknOrder).map { l =>
      def d(f: String) = r(discLevel(l.k))(f).asInstanceOf[Double]
      l.k -> (d("d1"), d("d2"), d("d3"))
    }.toMap)
    KnModel(order, frames.init, frames.last, disc, keyBuckets)
  }

  /** [[loadKnModel]] of a directory that must hold an order-3 model. */
  def loadKn3Model(spark: SparkSession, path: String): KnModel =
    ordered(loadKnModel(spark, path), 3, "loadKn3Model")

  /** [[loadKnModel]] of a directory that must hold an order-5 model. */
  def loadKn5Model(spark: SparkSession, path: String): KnModel =
    ordered(loadKnModel(spark, path), 5, "loadKn5Model")

  /** `model` with its keyed tables as plain frames: a key-bucketed
    * model's tables drop their `__graft_kb` partition column (bucket
    * directories only change which files a full scan lists, never a
    * row); a flat model is returned as it is. */
  private def unbucketed(model: KnModel): KnModel =
    if (model.keyBuckets.isEmpty) model
    else model.mapKeyed((_, df) => df.drop(Kn5KeyBucket)).copy(keyBuckets = None)

  /** The prune step of the broadcast-semi serve: against a key-bucketed
    * model, the staged batch's key projections collect to ONE distinct
    * (table, bucket) set (one job over the staged batch) and each count
    * table is cut to the probed partitions BEFORE the broadcast-semi
    * join. A flat model is returned as it is. */
  private def prunedTo(staged: DataFrame, model: KnModel): KnModel =
    model.keyBuckets.fold(model) { nb =>
      val probes = staged.select(explode(array(
          tableNames(model.order).zip(tableKeys(model.order)).map { case (name, key) =>
            struct(lit(name).as("t"), OpsUtil.hashBucket(nb, col(key)).as("b"))
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
