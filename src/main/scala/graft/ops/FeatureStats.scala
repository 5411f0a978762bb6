package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-feature statistics and train/eval skew validation — the
  * StatisticsGen/ExampleValidator stages that consume an example-gen
  * component's output in a TFX pipeline (the reference's downstream
  * contract): count, missing count, distinct count, mean/min/max per
  * feature, and a drift comparison between two splits.
  *
  * Scale shape: ONE aggregation pass produces every feature's row —
  * no per-column jobs, no driver-side iteration over columns. The
  * exact distinct counts plan through Spark's Expand (one duplicate of
  * the input per distinct aggregate), so the pass is O(features × rows)
  * — the price of exact TFDV-style uniques; swap `countDistinct` for
  * `approx_count_distinct` when 2% error is acceptable at 100 TB.
  * Means sum through DECIMAL (order-free, deterministic under any
  * partitioning).
  */
object FeatureStats {

  /** One row per feature in long format:
    * (feature, n, n_null, n_distinct, mean, min_val, max_val);
    * the numeric moments are NULL for string features. */
  def summarize(
      df: DataFrame, numericCols: Seq[String], stringCols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    require(numericCols.nonEmpty || stringCols.nonEmpty)
    // The 100 TB dial: HLL++ uniques avoid the Expand duplication
    // entirely (one pass, mergeable sketches) at ~2% standard error.
    def nd(c: String): Column =
      if (exactDistinct) countDistinct(col(c)) else approx_count_distinct(col(c))
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++
        numericCols.flatMap { c =>
          Seq(
            count(col(c)).as(s"__${c}_cnt"),
            nd(c).as(s"__${c}_nd"),
            sum(col(c).cast("decimal(28,6)")).as(s"__${c}_sum"),
            min(col(c).cast("double")).as(s"__${c}_min"),
            max(col(c).cast("double")).as(s"__${c}_max"))
        } ++
        stringCols.flatMap { c =>
          Seq(
            count(col(c)).as(s"__${c}_cnt"),
            nd(c).as(s"__${c}_nd"))
        }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows: Seq[Column] =
      numericCols.map { c =>
        struct(
          lit(c).as("feature"),
          col("__n").as("n"),
          (col("__n") - col(s"__${c}_cnt")).as("n_null"),
          col(s"__${c}_nd").as("n_distinct"),
          (col(s"__${c}_sum").cast("double") /
            col(s"__${c}_cnt").cast("double")).as("mean"),
          col(s"__${c}_min").as("min_val"),
          col(s"__${c}_max").as("max_val"))
      } ++
        stringCols.map { c =>
          struct(
            lit(c).as("feature"),
            col("__n").as("n"),
            (col("__n") - col(s"__${c}_cnt")).as("n_null"),
            col(s"__${c}_nd").as("n_distinct"),
            lit(null).cast("double").as("mean"),
            lit(null).cast("double").as("min_val"),
            lit(null).cast("double").as("max_val"))
        }
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** Top-k most frequent values of one feature (TFDV's top-k uniques):
    * hash-agg with map-side partial counts, then a
    * TakeOrderedAndProject — no global sort ever materializes. Ties
    * break on the value itself, so the result is deterministic. */
  def topValues(df: DataFrame, c: String, k: Int): DataFrame = {
    require(k > 0)
    df.filter(col(c).isNotNull)
      .groupBy(col(c).as("value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("value"))
      .limit(k)
  }

  /** Train/eval skew check (the ExampleValidator shape): per-feature
    * missing-rate and mean drift between two frames of the same schema.
    * `drift` flags |mean_a − mean_b| > tol·max(|mean_a|, |mean_b|) or a
    * missing-rate gap above `missTol` — the cheap L∞-style gate that
    * catches unit changes, dropped columns, and skewed joins before
    * training does. Two aggregation passes (one per split) joined on
    * the feature name — 7-column frames of #features rows. */
  def skewCheck(
      a: DataFrame, b: DataFrame,
      numericCols: Seq[String], stringCols: Seq[String],
      tol: Double = 0.1, missTol: Double = 0.01): DataFrame = {
    // Approx-distinct mode: the drift gates never read n_distinct, so
    // don't pay the Expand-duplicated exact-uniques pass on either
    // split (identical output, fraction of the cost at 100 TB).
    def side(d: DataFrame, tag: String) =
      summarize(d, numericCols, stringCols, exactDistinct = false).select(
        col("feature"),
        col("mean").as(s"mean_$tag"),
        (cast0(col("n_null")) / cast0(col("n"))).as(s"miss_$tag"))
    side(a, "a").join(side(b, "b"), Seq("feature"))
      .withColumn("mean_drift",
        when(col("mean_a").isNotNull && col("mean_b").isNotNull,
          abs(col("mean_a") - col("mean_b")) >
            lit(tol) * greatest(abs(col("mean_a")), abs(col("mean_b"))))
          .otherwise(lit(false)))
      .withColumn("miss_drift",
        abs(col("miss_a") - col("miss_b")) > lit(missTol))
  }

  /** Exact-moment Pearson correlation between two numeric features —
    * the cross-feature drift signal (a unit change or broken join
    * shifts correlations even when the marginals look fine). Built
    * from DECIMAL co-moment sums rather than `corr()` so the result is
    * bit-reproducible under any partitioning (Spark's corr streams
    * doubles); one aggregation pass, five exact sums, the closed-form
    * combination happens once in doubles at the end. */
  def pearson(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def d6(c: Column): Column = exactD6(c, "pearson")
    val both = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    both.agg(
      count(lit(1)).as("n"),
      sum(d6(col(xCol))).as("sx"),
      sum(d6(col(yCol))).as("sy"),
      sum(d6(col(xCol)) * d6(col(yCol))).as("sxy"),
      sum(d6(col(xCol)) * d6(col(xCol))).as("sxx"),
      sum(d6(col(yCol)) * d6(col(yCol))).as("syy"))
      .select(col("n"),
        ((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))))
          .as("corr_xy"))
  }

  /** Equi-width histogram of one numeric feature — TFDV's standard
    * histogram shape: `(bucket, lo, hi, n)`, non-empty buckets only.
    *
    * Two aggregation passes: a 1-row min/max (comparison-only, exact on
    * any float input) broadcast-joined back onto the scan, then a
    * hash-agg on the bucket index with map-side partial counts — no
    * sort, no driver round-trip, mergeable at any parallelism. Bucket
    * edges derive from (min, max, nBins) with one double division, so
    * the same row lands in the same bucket on every engine; the max
    * value closes into the last bucket (TFDV/`width_bucket` overflow
    * convention folded in). */
  def histogram(df: DataFrame, c: String, nBins: Int): DataFrame = {
    require(nBins > 0, "histogram needs at least one bucket")
    val x = col(c).cast("double")
    val bounds = df.filter(x.isNotNull)
      .agg(min(x).as("__mn"), max(x).as("__mx"))
    val w = (col("__mx") - col("__mn")) / lit(nBins.toDouble)
    val bucket = when(col("__mx") === col("__mn"), lit(0L))
      .otherwise(least(floor((x - col("__mn")) / w), lit(nBins - 1L)))
    df.filter(x.isNotNull)
      .crossJoin(broadcast(bounds))
      .select(bucket.cast("long").as("bucket"), col("__mn"), col("__mx"))
      .groupBy("bucket", "__mn", "__mx")
      .agg(count(lit(1)).as("n"))
      .select(
        col("bucket"),
        (col("__mn") + col("bucket").cast("double") *
          ((col("__mx") - col("__mn")) / lit(nBins.toDouble))).as("lo"),
        (col("__mn") + (col("bucket") + 1L).cast("double") *
          ((col("__mx") - col("__mn")) / lit(nBins.toDouble))).as("hi"),
        col("n"))
  }

  /** TFT `scale_to_z_score`: per-row standardization against the frame's
    * own population mean/stddev. The moments come from exact DECIMAL
    * sums (order-free under any partitioning — `stddev_pop` streams
    * doubles and is not bit-reproducible), combined once in doubles and
    * broadcast back onto the scan: one stats pass + one map-side
    * projection, no shuffle of the data itself. Rows where the feature
    * is NULL keep a NULL z-score; a zero-variance frame yields NULL
    * (not ±Inf). */
  def zscore(df: DataFrame, keyCol: String, c: String): DataFrame = {
    def d6(v: Column): Column = exactD6(v, "zscore")
    val x = col(c)
    val stats = df.filter(x.isNotNull)
      .agg(count(lit(1)).as("__zn"),
        sum(d6(x)).as("__zsx"),
        sum(d6(x) * d6(x)).as("__zsxx"))
    val nD = col("__zn").cast("double")
    val mean = col("__zsx").cast("double") / nD
    val variance =
      (col("__zsxx").cast("double") - col("__zsx").cast("double") *
        col("__zsx").cast("double") / nD) / nD
    df.crossJoin(broadcast(stats))
      .select(col(keyCol), x.as(c),
        when(x.isNotNull && variance > 0d,
          (x.cast("double") - mean) / sqrt(variance)).as("z"))
  }

  /** Hot-key diagnostic for join/agg planning at scale: the top-N
    * heaviest keys with their row counts and share of the table — the
    * numbers that decide between a plain shuffle join, salting, and a
    * broadcast (a key with share ≫ 1/shuffle.partitions is a straggler
    * task in waiting). One map-side-combined count + a 1-row total +
    * TakeOrderedAndProject; no global sort. */
  def keySkew(df: DataFrame, keyCols: Seq[String], topN: Int): DataFrame = {
    require(keyCols.nonEmpty && topN > 0)
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", round(col("cnt") / col("total"), 6))
      .drop("total")
      .orderBy(desc("cnt") +: keyCols.map(asc): _*)
      .limit(topN)
  }

  /** TFT-style exact quantile bucketing (`tft.bucketize`): assign every
    * row to one of `k` equal-frequency buckets of `valCol` — EXACT
    * NTILE semantics (the first `N mod k` buckets take one extra row;
    * note `1 + (rank−1)·k div N` is NOT ntile — it spreads the extras
    * evenly instead of front-loading them), without NTILE's
    * single-partition global window. `valCol` must be non-null (null
    * sort order differs across engines).
    *
    * Scale shape: the same two-phase distributed rank as
    * [[Sampling.budgetSelect]] — value-range buckets from one 2-value
    * bounds aggregate, per-range counts windowed into rank offsets
    * (a `rangeBuckets`-row frame), per-range row_number + broadcast
    * offset = global rank. The only single-partition window runs over
    * range summaries, never data. */
  def bucketize(
      df: DataFrame, valCol: String, keyCol: String, k: Int,
      rangeBuckets: Int = 256): DataFrame = {
    require(k > 0 && rangeBuckets > 0)
    val n = df.count()
    if (n == 0) return df.withColumn("bucket", lit(0)).limit(0)
    val Some((rows, offsets)) = OpsUtil.rangeBucketOffsets(
      df, col(valCol), lit(1L), rangeBuckets)
    val w = Window.partitionBy(col("__graft_rb"))
      .orderBy(col(valCol), col(keyCol))
    // NTILE's split: q = N div k rows per bucket, the first rem = N mod
    // k buckets take one extra. Long DIV keeps it exact at any N; qSafe
    // only guards the never-taken branch when N < k (DIV 0 would still
    // evaluate under ANSI).
    val q = n / k; val rem = n % k; val cut = rem * (q + 1)
    val qSafe = math.max(q, 1L)
    rows.join(broadcast(offsets), Seq("__graft_rb"))
      .withColumn("__graft_rnk", col("rb_off") + row_number().over(w))
      .withColumn("bucket", expr(
        s"""CAST(CASE WHEN __graft_rnk - 1 < ${cut}L
           |  THEN (__graft_rnk - 1) DIV ${q + 1}L
           |  ELSE ${rem}L + (__graft_rnk - 1 - ${cut}L) DIV ${qSafe}L
           |END AS INT) + 1""".stripMargin))
      .drop("__graft_rb", "rb_off", "__graft_rnk")
  }

  /** Exact tie-aware ROC-AUC for a binary scorer (the eval companion
    * of [[graft.ops.Classifier]]): the Mann-Whitney form
    * `AUC = (S⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻)` where S⁺ sums the AVERAGE
    * ranks of positives (tied scores share the midrank, so the result
    * equals P(s⁺ > s⁻) + ½P(s⁺ = s⁻) exactly). One output row
    * (auc, n_pos, n_neg).
    *
    * Scale shape: ranks come from per-DISTINCT-SCORE counts, never
    * per-row — one hash-agg to (score → n, n_pos), materialized once
    * (it feeds the bucketing bounds AND the midrank plan), then the
    * shared two-phase prefix sum ([[OpsUtil.rangeBucketOffsets]]) over
    * that aggregated frame — the only single-partition window runs
    * over ≤ `rangeBuckets` bucket summaries. DOUBLED midranks
    * (integers) keep every step in exact integer/decimal(38,0)
    * arithmetic, so the reduction is order-independent; the single
    * final division happens in double. NULL scores/labels are
    * excluded; empty input yields ZERO rows; a single-class input
    * (no positives or no negatives) yields auc = NULL, not NaN. */
  def rocAuc(
      df: DataFrame, scoreCol: String, labelCol: Column,
      rangeBuckets: Int = 256): DataFrame = {
    require(rangeBuckets > 0)
    val rows = df
      .filter(col(scoreCol).isNotNull && labelCol.isNotNull)
      .select(col(scoreCol).as("s"), labelCol.cast("int").as("y"))
    val byScore = rows.groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"))
      .localCheckpoint(false)
    OpsUtil.rangeBucketOffsets(byScore, col("s"), col("n"), rangeBuckets) match {
      case None =>
        rows.groupBy().agg(lit(null).cast("double").as("auc"),
          lit(0L).as("n_pos"), lit(0L).as("n_neg")).limit(0)
      case Some((scored, offsets)) =>
        val w = Window.partitionBy(col("__graft_rb")).orderBy(col("s"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // DOUBLED midrank of a tied block after `before` rows of
        // length n is the integer 2·before + n + 1 — everything stays
        // in exact integer/decimal arithmetic
        // (AUC = (S2 − n⁺(n⁺+1)) / (2 n⁺ n⁻) with
        // S2 = Σ n_pos·doubled_midrank) until one final double
        // division, identical in every engine.
        val doubledMidrank =
          (col("rb_off") + coalesce(sum(col("n")).over(w), lit(0L))) * 2 +
            col("n") + 1
        scored.join(broadcast(offsets), Seq("__graft_rb"))
          .withColumn("dmr", doubledMidrank)
          .agg(
            sum(col("n_pos").cast("decimal(38,0)") * col("dmr")).as("s2"),
            sum(col("n_pos")).as("np"), sum(col("n") - col("n_pos")).as("nn"))
          .select(
            when(col("np") > 0 && col("nn") > 0,
              (col("s2").cast("double") -
                col("np").cast("double") * (col("np") + 1.0))
                / (lit(2.0) * col("np").cast("double") * col("nn").cast("double")))
              .as("auc"),
            col("np").cast("long").as("n_pos"), col("nn").cast("long").as("n_neg"))
    }
  }

  /** Per-slice ROC-AUC ([[rocAuc]] grouped by `groupCols`) — the
    * slice-evaluation table ("AUC by language / source / time bucket")
    * that catches a model scoring well on the majority slice and at
    * chance on a minority one. One row per group:
    * (groupCols…, auc, n_pos, n_neg); single-class groups get
    * auc = NULL.
    *
    * Scale shape: the distinct-score frame is per (group, score);
    * range buckets come from the GLOBAL score bounds (bucketing stays
    * monotone within every group, which is all correctness needs —
    * per-group bounds would buy nothing but another pass); the offsets
    * window partitions by group over ≤ groups × rangeBuckets summary
    * rows, and midrank windows partition by (group, bucket). */
  def rocAucBy(
      df: DataFrame, scoreCol: String, labelCol: Column,
      groupCols: Seq[String], rangeBuckets: Int = 256): DataFrame = {
    require(groupCols.nonEmpty && rangeBuckets > 0)
    val gs = groupCols.map(col)
    val rows = df
      .filter(col(scoreCol).isNotNull && labelCol.isNotNull)
      .select(gs :+ col(scoreCol).as("s") :+ labelCol.cast("int").as("y"): _*)
    val byScore = rows.groupBy(gs :+ col("s"): _*)
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"))
      .localCheckpoint(false)
    val bucketed = OpsUtil.rangeBucketOffsets(
      byScore, col("s"), col("n"), rangeBuckets, partitionCols = groupCols)
    if (bucketed.isEmpty)
      return byScore.select(gs: _*)
        .withColumn("auc", lit(null).cast("double"))
        .withColumn("n_pos", lit(0L)).withColumn("n_neg", lit(0L)).limit(0)
    val (scored, offsets) = bucketed.get
    val w = Window.partitionBy(gs :+ col("__graft_rb"): _*).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val doubledMidrank =
      (col("rb_off") + coalesce(sum(col("n")).over(w), lit(0L))) * 2 +
        col("n") + 1
    // NULL-SAFE join back on the group keys: "unknown" (NULL) slices
    // are legitimate groups — groupBy and the offsets window both kept
    // them, and a plain equi-join would silently drop exactly the
    // minority slice this table exists to surface. No broadcast hint:
    // the offsets frame scales with group cardinality (groups ×
    // rangeBuckets rows) — AQE broadcasts it when it measures small.
    val o = offsets.withColumnsRenamed(
      (groupCols :+ "__graft_rb").map(c => c -> s"__graft_o_$c").toMap)
    val cond = (groupCols :+ "__graft_rb")
      .map(c => col(c) <=> col(s"__graft_o_$c")).reduce(_ && _)
    scored.join(o, cond)
      .withColumn("dmr", doubledMidrank)
      .groupBy(gs: _*)
      .agg(
        sum(col("n_pos").cast("decimal(38,0)") * col("dmr")).as("s2"),
        sum(col("n_pos")).as("np"), sum(col("n") - col("n_pos")).as("nn"))
      .select(gs ++ Seq(
        when(col("np") > 0 && col("nn") > 0,
          (col("s2").cast("double") -
            col("np").cast("double") * (col("np") + 1.0))
            / (lit(2.0) * col("np").cast("double") * col("nn").cast("double")))
          .as("auc"),
        col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg")): _*)
  }

  /** Calibration / reliability bins for a probability scorer: fixed
    * equal-width bins over [0, 1], per-bin count, mean predicted
    * score, and observed positive rate — "does 0.8 mean 80%". Scores
    * outside [0, 1] clamp into the edge bins on BOTH sides (a caller
    * passing logits gets them pooled at bins 0 / bins−1, never
    * negative bin ids). Pure value-range bucketing (no rank), one
    * hash-agg; means are DECIMAL-summed then divided in double. */
  def calibrationBins(
      df: DataFrame, scoreCol: String, labelCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 0)
    val bin = greatest(lit(0), least(lit(bins - 1),
      floor(col(scoreCol).cast("double") * bins).cast("int")))
    df.filter(col(scoreCol).isNotNull && labelCol.isNotNull)
      .select(bin.as("bin"), col(scoreCol).cast("decimal(28,6)").as("s"),
        labelCol.cast("int").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(col("s")).cast("double") / count(lit(1))).as("mean_score"),
        (sum(col("y")).cast("double") / count(lit(1))).as("pos_rate"))
  }

  /** Threshold confusion counts + derived rates for a binary scorer:
    * one row (tp, fp, tn, fn, precision, recall, f1) at `threshold`
    * (score ≥ threshold predicts positive). Counts are exact longs
    * from one aggregation pass; the three rates divide once in double,
    * NULL when undefined (no predicted / no actual positives). */
  def confusionAtThreshold(
      df: DataFrame, scoreCol: String, labelCol: Column,
      threshold: Double): DataFrame = {
    val pred = col(scoreCol).cast("double") >= threshold
    val y = labelCol.cast("int")
    val agg = df.filter(col(scoreCol).isNotNull && labelCol.isNotNull)
      .agg(
        sum(when(pred && y === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && y === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && y === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(!pred && y === 1, 1L).otherwise(0L)).as("fn"))
    val precision = when(col("tp") + col("fp") > 0,
      col("tp").cast("double") / (col("tp") + col("fp")))
    val recall = when(col("tp") + col("fn") > 0,
      col("tp").cast("double") / (col("tp") + col("fn")))
    agg.select(col("tp"), col("fp"), col("tn"), col("fn"),
      precision.as("precision"), recall.as("recall"),
      when(precision.isNotNull && recall.isNotNull && precision + recall > 0,
        lit(2.0) * precision * recall / (precision + recall)).as("f1"))
  }

  /** Proper-scoring-rule evaluation for a probability scorer: one row
    * (n, log_loss, brier). Brier is computed ENTIRELY in DECIMAL (the
    * 6-dp score makes (p−y)² exact at 12 dp) — order-independent by
    * construction; log-loss clamps p into [eps, 1−eps] (a calibrated
    * 6-dp scorer can emit exact 0/1), pins each row's −ln term to a
    * 9-dp DECIMAL, sums exactly, and divides once in double. */
  def probLoss(
      df: DataFrame, scoreCol: String, labelCol: Column,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 0.5)
    // Non-finite scores fail FAST with a diagnosable message: under
    // ANSI the decimal cast would crash with a generic cast error, and
    // with ANSI off greatest/least's null-skip would silently clamp
    // NaN rows to 1−eps while the Brier sum dropped them — both
    // metrics quietly deflated.
    val d = col(scoreCol).cast("double")
    val pDec = when(!isnan(d) && abs(d) =!= lit(Double.PositiveInfinity),
      d.cast("decimal(28,6)"))
      .otherwise(raise_error(concat(
        lit("probLoss: non-finite score (got "), d.cast("string"), lit(")"))))
    val rows = df.filter(col(scoreCol).isNotNull && labelCol.isNotNull)
      .select(pDec.as("p"), labelCol.cast("int").as("y"))
    val pc = greatest(lit(eps), least(lit(1.0 - eps), col("p").cast("double")))
    val rowLoss = round(
      -(col("y") * log(pc) + (lit(1) - col("y")) * log(lit(1.0) - pc)), 9)
      .cast("decimal(28,9)")
    // |p − y| ≤ 1: narrow to DECIMAL(12,6) before squaring so the
    // product precision stays within 38 digits in EVERY engine
    // (DuckDB errors, Spark silently rounds, past the cap).
    val diff = (col("p") - col("y")).cast("decimal(12,6)")
    val sqErr = diff * diff
    rows
      .agg(count(lit(1)).as("n"),
        sum(rowLoss).as("ll_sum"), sum(sqErr).as("se_sum"))
      .select(col("n"),
        (col("ll_sum").cast("double") / col("n")).as("log_loss"),
        (col("se_sum").cast("double") / col("n")).as("brier"))
  }

  /** Per-key time-series training features: for every row, the
    * previous `lags` values and a trailing ROWS-window sum/count over
    * the `rollRows` preceding rows — the lag/rolling feature block a
    * feature store materializes ahead of a PIT join (each output row
    * uses strictly PAST rows of its key, so the features are leakage-
    * free by construction). Rolling sums run in DECIMAL(18,6): a
    * ROWS-frame double sum is engine- and implementation-order
    * dependent (sliding add/remove vs recompute), DECIMAL is exact and
    * order-free. Ordering is total via (ts, tieBreak).
    *
    * One shuffle and ONE sort (the per-key window): every added column
    * shares the same partition/order spec, so Spark chains the
    * per-frame Window operators over a single exchange + sort —
    * plan-asserted in the spec. */
  def timeSeriesFeatures(
      df: DataFrame, keyCol: String, tsCol: String, tieBreakCol: String,
      valueCol: String, lags: Seq[Int] = Seq(1), rollRows: Int = 3): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1) && rollRows >= 1)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreakCol))
    val vDec = col(valueCol).cast("decimal(18,6)")
    val rollW = w.rowsBetween(-rollRows, -1)
    val withLags = lags.foldLeft(df) { (acc, l) =>
      acc.withColumn(s"${valueCol}_lag_$l", lag(col(valueCol), l).over(w))
    }
    withLags
      .withColumn(s"${valueCol}_roll_sum",
        sum(vDec).over(rollW).cast("double"))
      .withColumn(s"${valueCol}_roll_cnt",
        count(vDec).over(rollW))
  }

  /** Mergeable numeric PROFILE — the incremental-profiling pattern: a
    * 100 TB corpus is profiled shard-by-shard (per day, per source,
    * per ingest batch) and the shard profiles combine ASSOCIATIVELY
    * without rescanning anything. Components per feature — row count,
    * null count, Σx and Σx·x as exact DECIMALs (the [[exactD6]]
    * domain, |x| < 1e12 fail-fast), min, max — all merge by plain
    * sum/min/max ([[mergeProfiles]]) and finalize to
    * mean/var_pop/min/max in one double pass ([[finalizeProfile]])
    * with the same moment arithmetic as [[zscore]], so
    * profile-then-merge is BIT-IDENTICAL to profiling the union in
    * one pass under any sharding. Distinct counts are deliberately
    * absent: they do not merge from scalars (use [[summarize]] for
    * single-pass profiling, or carry an HLL sketch column for
    * mergeable uniques). Long format: (feature, n, n_null, sum_x,
    * sum_xx, min_val, max_val); one map-side-combined aggregate per
    * shard, no shuffle of the data itself. */
  def profile(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    require(numericCols.nonEmpty)
    def d6(v: Column): Column = exactD6(v, "profile")
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++
      numericCols.flatMap { c =>
        val x = col(c)
        Seq(count(x).as(s"__${c}_cnt"),
          sum(d6(x)).as(s"__${c}_sx"),
          sum(d6(x) * d6(x)).as(s"__${c}_sxx"),
          min(x.cast("double")).as(s"__${c}_min"),
          max(x.cast("double")).as(s"__${c}_max"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = numericCols.map { c =>
      struct(lit(c).as("feature"),
        col("__n").as("n"),
        (col("__n") - col(s"__${c}_cnt")).as("n_null"),
        col(s"__${c}_sx").as("sum_x"),
        col(s"__${c}_sxx").as("sum_xx"),
        col(s"__${c}_min").as("min_val"),
        col(s"__${c}_max").as("max_val"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Merge any number of [[profile]] frames over the same feature set:
    * counts and exact DECIMAL moments add, extrema min/max — every
    * component is associative and commutative, so merge order and
    * sharding are irrelevant. */
  def mergeProfiles(profiles: Seq[DataFrame]): DataFrame = {
    require(profiles.nonEmpty)
    profiles.reduce(_ unionByName _)
      .groupBy("feature")
      .agg(sum(col("n")).as("n"), sum(col("n_null")).as("n_null"),
        sum(col("sum_x")).as("sum_x"), sum(col("sum_xx")).as("sum_xx"),
        min(col("min_val")).as("min_val"), max(col("max_val")).as("max_val"))
  }

  /** Reduce a (possibly merged) profile to presentation stats:
    * mean and population variance from the exact components, double
    * arithmetic ordered identically to [[zscore]]'s combination so
    * every engine and sharding lands the same bits; all-NULL features
    * yield NULL mean/variance (0/0 is absence, not zero). */
  def finalizeProfile(profile: DataFrame): DataFrame = {
    val cnt = (col("n") - col("n_null")).cast("double")
    val mean = col("sum_x").cast("double") / cnt
    val variance = (col("sum_xx").cast("double") -
      col("sum_x").cast("double") * col("sum_x").cast("double") / cnt) / cnt
    profile.select(col("feature"), col("n"), col("n_null"),
      when(cnt > 0, mean).as("mean"),
      when(cnt > 0, variance).as("var_pop"),
      col("min_val"), col("max_val"))
  }

  /** Mergeable DISTINCT-count profile — the companion [[profile]]
    * deliberately omits (scalar distinct counts cannot merge):
    * per-shard Datasketches HLL sketches (`hll_sketch_agg`, binary,
    * persistable), merged register-wise with `hll_union_agg`,
    * estimated at read time. Union over a partition of the data
    * reproduces the one-pass sketch state, so shard-then-merge
    * estimates EQUAL the one-pass estimate (spec-asserted equality,
    * not tolerance); accuracy vs exact is the sketch's documented
    * ~1.04/√2^lgK. Long format: (feature, nd_sketch). */
  def profileDistinct(
      df: DataFrame, cols: Seq[String], lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.map(c => hll_sketch_agg(col(c), lit(lgK)).as(s"__${c}_nd"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c =>
      struct(lit(c).as("feature"), col(s"__${c}_nd").as("nd_sketch")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Merge [[profileDistinct]] frames (same lgK per column family). */
  def mergeDistinctProfiles(profiles: Seq[DataFrame]): DataFrame = {
    require(profiles.nonEmpty)
    profiles.reduce(_ unionByName _)
      .groupBy("feature")
      .agg(hll_union_agg(col("nd_sketch"), lit(false)).as("nd_sketch"))
  }

  /** Read a distinct profile: (feature, n_distinct_est). */
  def estimateDistinct(profile: DataFrame): DataFrame =
    profile.select(col("feature"),
      hll_sketch_estimate(col("nd_sketch")).as("n_distinct_est"))

  /** Mergeable COUNT-MIN frequency profile — the heavy-hitter
    * companion of the sketch family ([[profile]]: moments,
    * [[profileDistinct]]: HLL uniques, [[profileQuantiles]]: KLL
    * quantiles; this: frequency estimates). The sketch is kept in its
    * RELATIONAL form — one row per non-empty cell, (width, depth, d,
    * b, cnt) — which buys three properties at once: merging is plain
    * `GROUP BY cell / SUM` (cell-wise addition is the CMS merge law,
    * EXACT, so shard-then-merge estimates EQUAL one-pass estimates —
    * spec equality, not tolerance), persistence is ordinary parquet,
    * and the whole sketch is value-checkable in any SQL engine (the
    * oracle rebuilds every cell). Width/depth ride along on every row
    * (the build-parameter-mismatch advisory class: an estimate can
    * then never silently hash with the wrong geometry).
    *
    * Hash family: the repo-wide portable md5 pair —
    * bucket_d(v) = ((h1 + d·h2) mod p) mod width with h1/h2 the two
    * 60-bit md5 prefixes reduced mod p = 2^31−1.
    *
    * Scale shape: one hash-aggregate reduces occurrences to distinct
    * values, the ×depth fan-out runs on DISTINCT values only, and the
    * cell aggregate is bounded by depth × width rows forever. */
  def cmsProfile(
      df: DataFrame, valueCol: String, width: Int = 1024,
      depth: Int = 3): DataFrame = {
    require(width > 0 && depth > 0, s"need width, depth > 0 ($width, $depth)")
    val counts = OpsUtil.widen(df)
      .filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("string").as("v"))
      .agg(count(lit(1)).as("c"))
    cmsCells(counts, width, depth)
  }

  /** [[cmsProfile]] over PRE-AGGREGATED (value, count) rows — the
    * sketch a caller builds when it already holds per-value occurrence
    * counts (one corpus aggregate feeding several sketches, the
    * cms_heavy_hitters shape: cell_d,b = Σ counts of values hashing
    * there, identical to re-counting raw occurrences by construction —
    * spec-pinned against [[cmsProfile]]). Duplicate value rows are
    * summed, NULL values ignored, exactly as the raw-row form. */
  private[graft] def cmsProfileOfCounts(
      counts: DataFrame, valueCol: String, countCol: String,
      width: Int = 1024, depth: Int = 3): DataFrame = {
    require(width > 0 && depth > 0, s"need width, depth > 0 ($width, $depth)")
    cmsCells(
      counts
        .filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).cast("string").as("v"))
        .agg(sum(col(countCol)).as("c")),
      width, depth)
  }

  /** The shared cell aggregate of both profile builders: (v, c) →
    * one row per non-empty cell, (width, depth, d, b, cnt). */
  private def cmsCells(counts: DataFrame, width: Int, depth: Int): DataFrame =
    counts
      .select(cmsHashes(col("v")) ++ Seq(col("c")): _*)
      .select(col("*"), explode(sequence(lit(0L), lit(depth - 1L))).as("d"))
      .groupBy(lit(width).as("width"), lit(depth).as("depth"), col("d"),
        cmsBucket(col("d"), width).as("b"))
      .agg(sum(col("c")).as("cnt"))

  /** Merge [[cmsProfile]] frames (cell-wise sum — exact). All inputs
    * must share one geometry; a mixed merge is caught at estimate
    * time by [[cmsEstimate]]'s geometry probe. */
  def mergeCmsProfiles(profiles: Seq[DataFrame]): DataFrame = {
    require(profiles.nonEmpty)
    profiles.reduce(_ unionByName _)
      .groupBy("width", "depth", "d", "b")
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Point-query the sketch: for each row of `values`, the CMS
    * estimate of its `valueCol` frequency — min over depths of the
    * addressed cell. Never underestimates a value the profile
    * counted; overestimates only by that row's collisions. Geometry
    * comes FROM the profile (1-row probe, fails fast on a
    * mixed-geometry merge). Missing cells read as 0 (value never
    * seen). Output: `values` + `cms_est`. */
  def cmsEstimate(
      profile: DataFrame, values: DataFrame, valueCol: String): DataFrame = {
    val geom = profile.select("width", "depth").distinct().limit(2).collect()
    require(geom.nonEmpty,
      "cmsEstimate: profile is empty — build it with cmsProfile first " +
        "(an empty frame carries no sketch geometry to query against)")
    require(geom.length == 1,
      s"cmsEstimate: profile has ${geom.length} distinct (width, depth) " +
        "geometries — merged sketches must share one")
    val width = geom(0).getInt(0); val depth = geom(0).getInt(1)
    val reserved = Set("d", "b", "cnt", "cms_est", "__h1", "__h2", "__cms_rid")
    val clash = values.columns.filter(reserved)
    require(clash.isEmpty,
      s"cmsEstimate: rename value columns ${clash.mkString(", ")} — " +
        "they collide with the sketch's internal names")
    // Row identity rides a synthetic id through the ×depth fan-out so
    // DUPLICATE input rows come back as duplicate outputs ("for each
    // row of values" — grouping on the value columns alone collapsed
    // them, review finding r12). The id orders nothing and leaks
    // nowhere; it only partitions the min-over-depths aggregate.
    values
      .withColumn("__cms_rid", monotonically_increasing_id())
      .select(Seq(col("__cms_rid")) ++ values.columns.map(col) ++
        cmsHashes(col(valueCol).cast("string")): _*)
      .select(col("*"), explode(sequence(lit(0L), lit(depth - 1L))).as("d"))
      .withColumn("b", cmsBucket(col("d"), width))
      .join(profile.select("d", "b", "cnt"), Seq("d", "b"), "left")
      .groupBy(Seq(col("__cms_rid")) ++ values.columns.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
      .drop("__cms_rid")
  }

  /** Semantic compaction of an append-maintained CMS delta directory
    * (the [[graft.streaming.StreamingOps.cmsProfileStream]] sink
    * target): cell-wise sum of every appended delta — EXACTLY the
    * merge law, so estimates are unchanged by construction — with the
    * crash-safe rename-aside swap shared with the dedup/ANN index
    * compactions. Run from the maintenance job that owns the
    * directory, never concurrently with an append. */
  def compactCmsDeltas(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    OpsUtil.compactDirWith(spark, dir)(df => mergeCmsProfiles(Seq(df)))

  private val CmsP = 2147483647L // 2^31 − 1, the portable-hash modulus

  /** The two md5-derived seeds, reduced mod p (the minhash family's
    * exact SQL formulation: conv(substring(md5(v), 1|16, 15), 16, 10)
    * % p). */
  private def cmsHashes(v: Column): Seq[Column] = Seq(
    (conv(substring(md5(v), 1, 15), 16, 10).cast("long") % CmsP).as("__h1"),
    (conv(substring(md5(v), 16, 15), 16, 10).cast("long") % CmsP).as("__h2"))

  private def cmsBucket(d: Column, width: Int): Column =
    ((col("__h1") + d * col("__h2")) % CmsP) % width

  /** TFDV SchemaGen: infer a schema TABLE from a reference batch — the
    * stage between statistics and validation in the TFX triad this
    * engine's stats family mirrors (stats → schema → validate). One
    * row per column: declared Spark type, row/null/distinct counts,
    * numeric range, and the observed categorical DOMAIN (sorted
    * distinct values, `|`-joined with `\`-escaping so values that
    * themselves contain `|` or `\` round-trip — see [[splitDomain]])
    * when the column has at most `maxDomain` distinct values.
    *
    * Scale shape: two aggregation passes. (1) a wide single-row agg
    * for counts/ranges (map-side combined, same as [[summarize]]);
    * (2) the domain pass explodes to (feature, value) pairs and
    * hash-aggs them (map-side combine collapses repeats before the
    * wire) — and, the part that must not melt at 100 TB, domains are
    * collected ONLY for features the distinct count already proved
    * small: a broadcast semi-join against the ≤ #cols qualifying
    * features gates collect_list to at most maxDomain rows per
    * feature, so an ID column's billions of distinct values are never
    * sorted, windowed, or collected anywhere; it just gets a NULL
    * domain. Distinct counts come from the same pair frame (exact, no
    * extra scan). */
  def inferSchema(
      df: DataFrame, cols: Seq[String], maxDomain: Int = 32): DataFrame = {
    require(cols.nonEmpty && maxDomain > 0)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(types.contains(c), s"inferSchema: no column '$c'"))
    def isNum(c: String): Boolean =
      types(c).isInstanceOf[org.apache.spark.sql.types.NumericType]
    // Pass 1: one wide row — totals, per-column null counts, numeric ranges.
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"__${c}_cnt")) ++
        (if (isNum(c)) Seq(min(col(c).cast("double")).as(s"__${c}_min"),
          max(col(c).cast("double")).as(s"__${c}_max")) else Nil)
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val wideRows = cols.map { c =>
      struct(lit(c).as("feature"),
        lit(types(c).simpleString).as("data_type"),
        col("__n").as("n"),
        (col("__n") - col(s"__${c}_cnt")).as("n_null"),
        (if (isNum(c)) col(s"__${c}_min") else lit(null).cast("double")).as("min_val"),
        (if (isNum(c)) col(s"__${c}_max") else lit(null).cast("double")).as("max_val"))
    }
    val base = wide.select(explode(array(wideRows: _*)).as("s")).select("s.*")
    // Pass 2: distinct values per feature. The distinct count is a
    // skew-free hash-agg (partial aggregation collapses repeats of a
    // hot value map-side). Domains are computed ONLY for features the
    // count already proved small (semi-join against the ≤ #cols
    // qualifying-feature list, broadcast by construction) — so
    // collect_list sees at most maxDomain rows per feature and an ID
    // column's distinct set is never sorted, windowed, or collected
    // anywhere. (A per-feature row_number window would funnel every
    // distinct value of one feature through one task — the bomb this
    // shape exists to avoid.)
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("feature"), col(c).cast("string").as("value"))): _*)).as("fv"))
      .select("fv.*")
      .filter(col("value").isNotNull)
      .groupBy("feature", "value").agg(count(lit(1)).as("__vn"))
      .localCheckpoint(false) // feeds the distinct count AND the domain
    val nd = pairs.groupBy("feature").agg(count(lit(1)).as("n_distinct"))
    // Values are delimiter-escaped ('\' → '\\', '|' → '\|') so a
    // legitimate category containing '|' round-trips through
    // [[splitDomain]] instead of splitting into two tokens; the sort
    // key stays the RAW value (struct sort) so domain ordering is
    // independent of the escaping.
    val escaped = replace(replace(col("value"), lit("\\"), lit("\\\\")),
      lit("|"), lit("\\|"))
    val dom = pairs
      .join(broadcast(nd.filter(col("n_distinct") <= maxDomain)
        .select("feature")), Seq("feature"), "left_semi")
      .groupBy("feature")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("value").as("v"), escaped.as("e")))),
          x => x.getField("e")),
        "|").as("domain"))
    base.join(nd, Seq("feature"), "left")
      .join(dom, Seq("feature"), "left")
      .select(col("feature"), col("data_type"), col("n"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_val"), col("max_val"), col("domain"))
  }

  /** One column's expectations, collected off an [[inferSchema]] table
    * — column-count-sized driver metadata (the [[DriftModel]] shape),
    * serializable, so streaming monitors collect the schema ONCE and
    * validate every micro-batch against it without re-running the
    * schema plan per trigger. */
  final case class ColumnSpec(
      feature: String, nNull: Long, minVal: Option[Double],
      maxVal: Option[Double], domain: Option[String])

  /** Collect an [[inferSchema]] table into [[ColumnSpec]] metadata. */
  def collectSchema(schema: DataFrame): Seq[ColumnSpec] =
    schema
      .select("feature", "n_null", "min_val", "max_val", "domain")
      .collect() // bounded by schema WIDTH — metadata, not data
      .map(r => ColumnSpec(r.getAs[String]("feature"), r.getAs[Long]("n_null"),
        Option(r.getAs[java.lang.Double]("min_val")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("max_val")).map(_.doubleValue),
        Option(r.getAs[String]("domain"))))
      .sortBy(_.feature).toSeq

  /** [[validate]] against an [[inferSchema]] table. */
  def validateSchema(df: DataFrame, schema: DataFrame): DataFrame =
    validate(df, collectSchema(schema))

  /** TFDV ExampleValidator: anomalies of a serving/eval batch against
    * pre-collected [[ColumnSpec]]s (the fit-once/serve-many and
    * streaming form). Per spec'd feature:
    *   - `unexpected_null` — NULLs where the reference batch had none;
    *   - `out_of_range` — numeric values outside the reference
    *     [min_val, max_val] (features with a numeric range only);
    *   - `new_category` — values outside the reference domain
    *     (features with a closed domain only).
    * Every applicable (feature, anomaly) row is emitted with its bad
    * count (0 = clean), plus the lexicographically smallest offending
    * value as the debugging example — deterministic, not "first seen".
    *
    * `slice` groups the same checks by a slice column (TFDV sliced
    * validation: a gate that passes globally can still hide a slice
    * whose rows are ALL bad) and prefixes a `slice` column. Slices come
    * from the batch itself (validation covers what arrived;
    * slice-absence alarms are the drift monitors' job); NULL slice
    * values are excluded, like the sliced drift fits.
    *
    * Scale shape: ONE conditional-aggregation pass — a keyless
    * `groupBy()` unsliced, a map-side-combined hash-agg on the slice
    * key sliced, so per-slice validation costs what global validation
    * costs. Domain membership is an `isin` over ≤ maxDomain literals
    * inside codegen. */
  def validate(
      df: DataFrame, specs: Seq[ColumnSpec],
      slice: Option[String] = None): DataFrame = {
    val checks = anomalyChecks(df, specs)
    val aggs = checks.zipWithIndex.flatMap { case ((_, _, cnt, ex), i) =>
      Seq(cnt.as(s"__c$i"), ex.as(s"__e$i"))
    }
    val grouped = slice.fold(df.groupBy())(s =>
      df.filter(col(s).isNotNull).groupBy(col(s).cast("string").as("slice")))
    // sum() over a ZERO-ROW batch returns NULL — and streaming
    // monitors see empty micro-batches. A NULL n_bad would make any
    // sink gate (n_bad == 0, n_bad > 0) evaluate to NULL and silently
    // never fire, so empty batches must report n_bad = 0 explicitly
    // (the keyless groupBy still emits its one row).
    val rows = checks.zipWithIndex.map { case ((f, kind, _, _), i) =>
      struct(lit(f).as("feature"), lit(kind).as("anomaly"),
        coalesce(col(s"__c$i"), lit(0L)).as("n_bad"), col(s"__e$i").as("example"))
    }
    val keys = slice.map(_ => col("slice")).toSeq
    grouped.agg(aggs.head, aggs.tail: _*)
      .select(keys :+ explode(array(rows: _*)).as("a"): _*)
      .select(keys :+ col("a.*"): _*)
  }

  /** The anomaly checks behind [[validate]]: per spec'd feature, the
    * (feature, kind, count-agg, example-agg) quadruple for unexpected
    * NULLs, out-of-range numerics, and new categorical values. */
  private def anomalyChecks(
      df: DataFrame,
      colSpecs: Seq[ColumnSpec]): Seq[(String, String, Column, Column)] = {
    val specs = colSpecs.sortBy(_.feature)
      .map(s => (s.feature, s.nNull, s.minVal, s.maxVal, s.domain))
    require(specs.nonEmpty, "validateSchema: empty schema table")
    val present = df.columns.toSet
    def minStr(pred: Column, v: Column): Column =
      min(when(pred, v.cast("string")))
    specs.flatMap {
      case (f, nNull, mn, mx, dom) =>
        require(present.contains(f), s"validateSchema: batch lacks column '$f'")
        val c = col(f)
        val nullCheck =
          if (nNull == 0L)
            (f, "unexpected_null",
              sum(when(c.isNull, 1L).otherwise(0L)),
              lit(null).cast("string"))
          else (f, "unexpected_null", sum(lit(0L)), lit(null).cast("string"))
        val rangeCheck = for (lo <- mn; hi <- mx) yield {
          val bad = c.isNotNull &&
            (c.cast("double") < lit(lo) || c.cast("double") > lit(hi))
          (f, "out_of_range", sum(when(bad, 1L).otherwise(0L)), minStr(bad, c))
        }
        val domCheck = dom.map { d =>
          val allowed = splitDomain(d)
          val bad = c.isNotNull && !c.cast("string").isin(allowed: _*)
          (f, "new_category", sum(when(bad, 1L).otherwise(0L)), minStr(bad, c))
        }
        Seq(nullCheck) ++ rangeCheck ++ domCheck
    }
  }

  /** Inverse of the domain escaping in [[inferSchema]]: split a
    * '|'-joined domain on UNESCAPED delimiters and unescape tokens
    * ('\\' → '\', '\|' → '|'). A manual scan — `String.split` would
    * both honor escaped pipes wrongly and drop trailing empty
    * tokens. */
  private[graft] def splitDomain(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length => sb.append(s.charAt(i + 1)); i += 2
        case '|' => out += sb.result(); sb.clear(); i += 1
        case ch => sb.append(ch); i += 1
      }
    }
    out += sb.result()
    out.result()
  }

  /** TFDV-style schema EVOLUTION diff: compare two [[inferSchema]]
    * tables (a committed reference schema vs a freshly inferred
    * candidate) and emit one row per change — the review surface for
    * "the data changed shape" before anyone updates the serving
    * contract. Change kinds, in the order a reviewer triages them:
    *   - `added` / `removed` — feature present on one side only
    *     (detail: its declared type);
    *   - `type_changed` — declared type differs (detail: `old -> new`;
    *     suppresses the remaining comparisons for that feature —
    *     range/domain across types are meaningless);
    *   - `null_introduced` — reference had zero NULLs, candidate has
    *     some (detail: the candidate NULL count);
    *   - `range_widened` — candidate numeric min/max exceeds the
    *     reference envelope (detail: `min`, `max`, or `min,max`);
    *   - `domain_new_values` — candidate's closed domain holds values
    *     the reference domain lacks (detail: the new values, sorted,
    *     '|'-joined; compared as VALUE SETS via [[splitDomain]], so
    *     delimiter escaping never fabricates a diff).
    * Unchanged features emit nothing. Schema tables are column-count
    * metadata, so the diff itself is driver-side (the collectSchema
    * pattern); the returned frame is sorted for stable review. */
  def diffSchemas(ref: DataFrame, cand: DataFrame): DataFrame = {
    val spark = ref.sparkSession
    def rows(df: DataFrame) = df
      .select("feature", "data_type", "n_null", "n_distinct",
        "min_val", "max_val", "domain")
      .collect() // bounded by schema WIDTH — metadata, not data
      .map(r => r.getString(0) -> r).toMap
    val a = rows(ref)
    val b = rows(cand)
    val out = Seq.newBuilder[(String, String, String)]
    for ((f, rb) <- b if !a.contains(f)) out += ((f, "added", rb.getString(1)))
    for ((f, ra) <- a if !b.contains(f)) out += ((f, "removed", ra.getString(1)))
    for (f <- a.keySet intersect b.keySet) {
      val (ra, rb) = (a(f), b(f))
      val (ta, tb) = (ra.getString(1), rb.getString(1))
      if (ta != tb) out += ((f, "type_changed", s"$ta -> $tb"))
      else {
        if (ra.getLong(2) == 0L && rb.getLong(2) > 0L)
          out += ((f, "null_introduced", rb.getLong(2).toString))
        if (!ra.isNullAt(4) && !rb.isNullAt(4)) {
          val widenMin = rb.getDouble(4) < ra.getDouble(4)
          val widenMax = rb.getDouble(5) > ra.getDouble(5)
          if (widenMin || widenMax)
            out += ((f, "range_widened",
              Seq("min" -> widenMin, "max" -> widenMax)
                .collect { case (k, true) => k }.mkString(",")))
        }
        if (!ra.isNullAt(6) && !rb.isNullAt(6)) {
          val refDom = splitDomain(ra.getString(6)).toSet
          val newVals = splitDomain(rb.getString(6)).filterNot(refDom)
          if (newVals.nonEmpty)
            out += ((f, "domain_new_values", newVals.sorted.mkString("|")))
        }
      }
    }
    import spark.implicits._
    out.result().sorted.toDF("feature", "change", "detail")
  }

  /** How [[fitDrift]] bins a feature — the TFDV drift comparator's
    * three geometries:
    *   - `EqualWidth` — `nBins` equal-width bins over the baseline's
    *     [min, max] (current values outside clamp into the edge bins);
    *   - `Quantile` — equal-MASS bins from the baseline's interior
    *     quantile edges (i/nBins, i = 1..nBins−1), TFDV's own geometry:
    *     every bin carries comparable baseline mass, so the statistic
    *     is not dominated by sparse range tails the way equal-width
    *     bins are on a skewed feature. `exact = true` computes the edges
    *     with the exact (sort-based) percentile — the oracle-able mode;
    *     `exact = false` reads them from a mergeable KLL sketch
    *     ([[profileQuantiles]]'s aggregate, ~1.65% rank error at
    *     k = 200) — one map-side-combined pass, no sort;
    *   - `Categorical` — one bin per distinct value. `maxValues` bounds
    *     the values of each slice and `maxPairs` the model's total
    *     (slice, value) rows, so a fitted model stays broadcast-sized
    *     even when both axes are individually plausible. */
  sealed trait Binning
  object Binning {
    final case class EqualWidth(nBins: Int = 10) extends Binning
    final case class Quantile(nBins: Int = 10, exact: Boolean = false) extends Binning
    final case class Categorical(
        maxValues: Int = 10000, maxPairs: Int = 100000) extends Binning
  }

  /** A fitted bin geometry: what a [[DriftModel]] maps each value to. */
  sealed trait Bins
  object Bins {
    /** `n` equal-width bins from `min`; a constant baseline has width 1. */
    final case class Width(min: Double, max: Double, n: Int) extends Bins {
      def width: Double = if (max > min) (max - min) / n else 1.0
    }
    /** Bucket = number of edges ≤ x. Edges are 9-dp-rounded so a fit
      * replays identically across engines. */
    final case class Edges(edges: IndexedSeq[Double]) extends Bins {
      require(edges.nonEmpty)
    }
    /** One bin per distinct value (the value cast to string). */
    case object Values extends Bins
  }

  /** A fitted drift baseline: the bin geometry plus the baseline's
    * per-(slice, key) non-NULL counts — driver-held metadata bounded at
    * fit time (the classifier-weights pattern), so serving batches and
    * streaming micro-batches score against it WITHOUT ever
    * re-aggregating the baseline. `key` is the bin index for numeric
    * bins (every bin of every slice present, zeros included) and the
    * value for categorical ones. Sliced models (TFDV sliced statistics)
    * share ONE geometry fit on the full baseline, so PSI is comparable
    * across slices, while each slice drifts against its own counts; an
    * unsliced model is one constant slice, `""`. NULL slice values are
    * excluded (slice membership is a value, not an absence — [[validate]]
    * owns NULL anomalies). Serializable; persist it alongside the model
    * that consumes the feature. */
  final case class DriftModel(
      feature: String, slice: Option[String], bins: Bins,
      baseCounts: Seq[(String, String, Long)]) {
    require(baseCounts.nonEmpty, s"DriftModel: no baseline counts for '$feature'")
    def nBase: Long = baseCounts.map(_._3).sum
  }

  /** Validate a driver-collect LIMIT cap computed in Long: the fit
    * guards multiply user-supplied Ints, and Int arithmetic would wrap
    * (50000 × 50000 → negative) — turning the fail-fast into an opaque
    * `limit()` analysis error or, worse, a silently weakened cap. */
  private def limitCap(cap: Long): Int = {
    require(cap > 0 && cap <= Int.MaxValue,
      s"fitDrift: computed LIMIT cap $cap is outside (0, Int.MaxValue] — " +
        "lower the limit arguments so their product fits in Int")
    cap.toInt
  }

  /** Fit a [[DriftModel]] on a baseline: the geometry probe (a 2-value
    * bounds aggregate, the quantile-edge fit, or nothing for
    * categorical), then ONE map-side-combined hash-agg onto
    * (slice, key), collected as metadata.
    *
    * The collect is LIMIT-capped BEFORE it materializes — at
    * maxSlices×nBins+1 rows for numeric bins and at
    * min(maxSlices × maxValues, maxPairs)+1 for categorical ones, all
    * in Long — so an ID-like slice (or value) column is detected from
    * the cap being hit, never by materializing a corpus-sized frame on
    * the driver (the count-gated domain guard in [[inferSchema]]). The
    * slice count and each slice's value count are then checked on the
    * rows already collected, with no further job. */
  def fitDrift(
      base: DataFrame, c: String, binning: Binning = Binning.EqualWidth(),
      slice: Option[String] = None, maxSlices: Int = 1000): DriftModel = {
    require(maxSlices > 0, s"fitDrift: maxSlices must be positive, got $maxSlices")
    // Each LIMIT cap is checked before its geometry probe runs a job.
    val (cap, bins): (Int, Bins) = binning match {
      case Binning.EqualWidth(n) =>
        nBinsAtLeast2(n, "fitDrift")
        (limitCap(maxSlices.toLong * n + 1), widthBins(base, c, n, "fitDrift"))
      case Binning.Quantile(n, exact) =>
        nBinsAtLeast2(n, "fitDrift")
        (limitCap(maxSlices.toLong * n + 1),
          Bins.Edges(fitQuantileEdges(base, c, n, exact)))
      case Binning.Categorical(maxValues, maxPairs) =>
        require(maxValues > 0 && maxPairs > 0,
          s"fitDrift: maxValues/maxPairs must be positive (got $maxValues/$maxPairs)")
        (limitCap(math.min(maxSlices.toLong * maxValues, maxPairs.toLong) + 1),
          Bins.Values)
    }
    val rows = binCounts(base, c, slice, bins, "n").limit(cap).collect()
    require(rows.nonEmpty, slice.fold(s"fitDrift: baseline has no non-NULL '$c' values")(s =>
      s"fitDrift: baseline has no rows with non-NULL '$c' and '$s'"))
    require(rows.length < cap,
      s"fitDrift: ${slice.fold(s"'$c'")(s => s"'$s' × '$c'")} exceeds ${cap - 1} " +
        "(slice, bin) pairs — slice columns and categorical features must be " +
        "low-cardinality dimensions")
    val bySlice = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    require(bySlice.size <= maxSlices,
      s"fitDrift: '${slice.getOrElse("")}' has ${bySlice.size} slices (max $maxSlices) " +
        "— a slice column must be a low-cardinality dimension")
    def zeroFilled(n: Int) = bySlice.flatMap { case (sl, rs) =>
      val m = rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
      (0 until n).map(b => (sl, b.toString, m.getOrElse(b, 0L)))
    }
    val counts = binning match {
      case Binning.EqualWidth(n) => zeroFilled(n)
      case Binning.Quantile(n, _) => zeroFilled(n)
      case Binning.Categorical(maxValues, _) =>
        bySlice.foreach { case (sl, rs) =>
          require(rs.length <= maxValues,
            s"fitDrift: ${slice.fold("the baseline")(s => s"slice '$sl' of '$s'")} " +
              s"has ${rs.length} '$c' values (max $maxValues) — a categorical " +
              "feature must be a low-cardinality dimension")
        }
        rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    DriftModel(c, slice, bins, counts)
  }

  private def nBinsAtLeast2(n: Int, op: String): Unit =
    require(n >= 2, s"$op: nBins must be >= 2, got $n")

  /** The equal-width geometry: the baseline's [min, max], one 2-value
    * aggregate (the PIT-join min/max-bounds pattern). */
  private def widthBins(base: DataFrame, c: String, n: Int, op: String): Bins.Width = {
    val x = col(c).cast("double")
    val bounds = base.agg(min(x), max(x)).head()
    require(!bounds.isNullAt(0), s"$op: baseline has no non-NULL '$c' values")
    Bins.Width(bounds.getDouble(0), bounds.getDouble(1), n)
  }

  /** The equal-mass edge fit (exact percentile or KLL sketch),
    * 9-dp-rounded — one pass over the FULL baseline, so a sliced
    * model's edges are the unsliced model's. */
  private def fitQuantileEdges(
      base: DataFrame, c: String, nBins: Int,
      exact: Boolean): IndexedSeq[Double] = {
    val probs = (1 until nBins).map(_.toDouble / nBins)
    val x = col(c).cast("double")
    val edgesRow =
      if (exact)
        base.agg(percentile(x, typedLit(probs)).as("qs")).head()
      else
        // All-NULL baseline: the sketch agg emits an EMPTY buffer (not
        // NULL) and the quantile reader throws on it — gate the probes
        // on the non-NULL count so the require below gets its turn
        base.agg(kll_sketch_agg_double(x, lit(200)).as("sk"), count(x).as("n"))
          .select(when(col("n") > 0,
            array(probs.map(p =>
              kll_sketch_get_quantile_double(col("sk"), lit(p))): _*)).as("qs"))
          .head()
    // All-NULL baseline: the exact path returns a NULL array, the
    // sketch path an array OF nulls — reject both with the message.
    val raw = if (edgesRow.isNullAt(0)) null else edgesRow.getSeq[Any](0)
    require(raw != null && raw.forall(_ != null),
      s"fitDrift: baseline has no non-NULL '$c' values")
    // 9-dp rounding: both engines (and both fit modes' consumers)
    // bucket against identical edge literals — interpolation formula
    // ulps can't flip a bucket boundary.
    raw.map(v => BigDecimal(v.asInstanceOf[Double])
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .toIndexedSeq
  }

  /** The bin key of each row under `bins`: the clamped equal-width bin
    * index, the number of quantile edges ≤ x (a ≤nBins-step fold over
    * the edge literals, codegen-friendly, clamping implicit: a constant
    * baseline collapses every edge to one value and both sides land in
    * one bucket together), or the value itself. */
  private def binKey(bins: Bins, x: Column): Column = bins match {
    case w: Bins.Width =>
      least(lit(w.n - 1), greatest(lit(0),
        floor((x.cast("double") - lit(w.min)) / lit(w.width)))).cast("int")
    case Bins.Edges(edges) =>
      aggregate(array(edges.map(lit(_)): _*), lit(0),
        (acc, e) => acc + when(x.cast("double") >= e, 1).otherwise(0))
    case Bins.Values => x.cast("string")
  }

  /** (slice, key, `tag`) counts over the rows with a non-NULL feature
    * (and slice) — the one map-side-combined hash-agg each side of a
    * drift comparison runs. Unsliced, the slice is the constant `""`. */
  private def binCounts(
      df: DataFrame, c: String, slice: Option[String], bins: Bins,
      tag: String): DataFrame = {
    val x = col(c)
    df.filter(slice.fold(x.isNotNull)(s => x.isNotNull && col(s).isNotNull))
      .groupBy(slice.fold(lit(""))(s => col(s).cast("string")).as("slice"),
        binKey(bins, x).as("key"))
      .agg(count(lit(1)).as(tag))
  }

  /** Score a serving/eval batch against a fitted [[DriftModel]]. The
    * baseline rides the plan as a local relation of the model's counts,
    * the batch contributes one hash-agg onto (slice, key), and the
    * shared reduction does the rest: building the frame runs no Spark
    * job and consuming it persists nothing, so it is the per-trigger
    * arithmetic of [[graft.streaming.StreamingOps.driftStream]].
    *
    * One row per BASELINE slice. Slices absent from the batch score
    * against an all-smoothed empty side (n_cur = 0 — an EMPTY batch
    * still emits one row per baseline slice, so absence alarms fire
    * exactly when a slice's traffic stops); batch slices unknown to the
    * baseline are dropped (new-category detection is [[validate]]'s
    * job); batch values unknown within a known categorical slice widen
    * that slice's value union. Columns: numeric (feature, [slice,]
    * n_base, n_cur, [bin_min, bin_max,] psi, js_div) — the range only
    * unsliced, the edge span for quantile bins; categorical (feature,
    * [slice,] n_base, n_cur, n_values, linf, psi, example_value). */
  def scoreDrift(model: DriftModel, cur: DataFrame): DataFrame = {
    val spark = cur.sparkSession
    import spark.implicits._
    val base = model.baseCounts.toDF("slice", "key", "n_b")
    divergence(model.feature, model.slice.isDefined, model.bins,
      if (model.bins == Bins.Values) base
      else base.withColumn("key", col("key").cast("int")),
      binCounts(cur, model.feature, model.slice, model.bins, "n_q"))
  }

  /** Numeric drift between a BASELINE batch and a CURRENT batch: PSI
    * and Jensen–Shannon over equal-width bins from the baseline's range
    * — the rows of `scoreDrift(fitDrift(base, c, EqualWidth(nBins)),
    * cur)`, bit for bit (spec-asserted). Only the 2-value bounds probe
    * runs on the driver: the baseline's counts stay in-plan (plus one
    * zero row per bin, so every bin scores), so both sides aggregate
    * in the one query instead of a fit job before it. */
  def driftCheck(
      base: DataFrame, cur: DataFrame, c: String, nBins: Int = 10): DataFrame = {
    nBinsAtLeast2(nBins, "driftCheck")
    val bins = widthBins(base, c, nBins, "driftCheck")
    val spark = base.sparkSession
    import spark.implicits._
    val everyBin = (0 until nBins).map(b => ("", b, 0L)).toDF("slice", "key", "n_b")
    divergence(c, sliced = false, bins,
      binCounts(base, c, None, bins, "n_b").unionByName(everyBin),
      binCounts(cur, c, None, bins, "n_q"))
  }

  /** Categorical drift between a baseline and a current batch, both
    * sides aggregated in-plan — the value space stays uncapped (a
    * fitted categorical [[DriftModel]] is bounded by its fit limits).
    * Same rows as `scoreDrift(fitDrift(base, c, Categorical(), slice),
    * cur)`.
    *
    * Unsliced, an all-NULL side fails fast with a message (two
    * `limit 1` probes); sliced, the slice-cardinality guard runs FIRST
    * as a LIMIT-capped distinct count on the baseline's slice column
    * alone, so an ID-like slice fails after one cheap hash-agg, before
    * any corpus-sized (slice, value) frame exists. */
  def categoricalDrift(
      base: DataFrame, cur: DataFrame, c: String,
      slice: Option[String] = None, maxSlices: Int = 1000): DataFrame = {
    slice match {
      case Some(s) =>
        require(base.filter(col(s).isNotNull && col(c).isNotNull)
            .select(col(s).cast("string")).distinct()
            .limit(maxSlices + 1).count() <= maxSlices,
          s"categoricalDrift: '$s' exceeds $maxSlices slices " +
            "— a slice column must be a low-cardinality dimension")
      case None =>
        Seq(base, cur).foreach(d => require(!d.filter(col(c).isNotNull).isEmpty,
          s"categoricalDrift: a side has no non-NULL '$c' values"))
    }
    divergence(c, slice.isDefined, Bins.Values,
      binCounts(base, c, slice, Bins.Values, "n_b"),
      binCounts(cur, c, slice, Bins.Values, "n_q"))
  }

  /** The one drift reduction, over a baseline (slice, key, n_b) count
    * frame and a batch (slice, key, n_q) count frame:
    *   - the full outer join of the two on (slice, key), as a union
    *     summed per key after ONE exchange by slice, keeping only slices
    *     with baseline mass (tb > 0). Both sides are aggregated before
    *     the union, so the batch scan stays one codegen'd hash-agg, and
    *     the exchange by slice also serves the per-slice windows and
    *     the final aggregate. For numeric bins the baseline holds every
    *     bin and batch keys are clamped into range, so this is a left
    *     join from the baseline;
    *   - per-slice totals tb, tq and the value-union size n_values as
    *     window aggregates — the frame is consumed once, no checkpoint,
    *     nothing persisted;
    *   - add-half smoothing over n_values, `(nᵢ + 0.5) / (N + n/2)`, so
    *     no bin is empty; PSI `Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ)` (industry drift
    *     gate: <0.1 stable, >0.25 investigate) and Jensen–Shannon
    *     `½Σ pᵢ ln(pᵢ/mᵢ) + ½Σ qᵢ ln(qᵢ/mᵢ)` in nats, each per-bin term
    *     rounded to 9 dp and DECIMAL-summed — order-independent,
    *     bit-identical on any partitioning or engine;
    *   - L∞, the largest unsmoothed frequency gap |pᵥ − qᵥ| (TFDV's
    *     categorical statistic), and the lexicographically-smallest
    *     value attaining it, by (gap desc, value asc).
    * An unsliced frame is one constant slice whose column is dropped. */
  private def divergence(
      feature: String, sliced: Boolean, bins: Bins,
      base: DataFrame, cur: DataFrame): DataFrame = {
    val joined = base.withColumn("n_q", lit(0L))
      .unionByName(cur.withColumn("n_b", lit(0L)))
      .repartition(col("slice"))
      .groupBy("slice", "key")
      .agg(sum(col("n_b")).as("n_b"), sum(col("n_q")).as("n_q"))
    val ws = Window.partitionBy(col("slice"))
    val withT = joined
      .withColumn("tb", sum(col("n_b")).over(ws))
      .withColumn("tq", sum(col("n_q")).over(ws))
      .withColumn("n_values", count(lit(1)).over(ws))
      .filter(col("tb") > 0) // baseline-absent slices: not ours to score
    val p = col("n_b").cast("double") / col("tb").cast("double")
    val q = when(col("tq") > 0,
      col("n_q").cast("double") / col("tq").cast("double")).otherwise(0.0)
    val gap = abs(p - q)
    val half = col("n_values").cast("double") * 0.5
    val ps = (col("n_b").cast("double") + 0.5) / (col("tb").cast("double") + half)
    val qs = (col("n_q").cast("double") + 0.5) / (col("tq").cast("double") + half)
    val m = (ps + qs) / 2.0
    def d9(v: Column): Column = round(v, 9).cast("decimal(28,9)")
    val w = Window.partitionBy(col("slice")).orderBy(gap.desc, col("key").asc)
    val out = withT
      .withColumn("__gap", gap)
      .withColumn("__rn", row_number().over(w))
      .groupBy("slice")
      .agg(
        first(col("tb")).as("n_base"), first(col("tq")).as("n_cur"),
        first(col("n_values")).as("n_values"),
        max(col("__gap")).as("linf"),
        sum(d9((ps - qs) * log(ps / qs))).cast("double").as("psi"),
        sum(d9(ps * log(ps / m) / 2.0 + qs * log(qs / m) / 2.0))
          .cast("double").as("js_div"),
        max(when(col("__rn") === 1, col("key"))).as("example_value"))
    val range = bins match {
      case _ if sliced => Nil
      case w: Bins.Width => Seq(lit(w.min).as("bin_min"), lit(w.max).as("bin_max"))
      case Bins.Edges(e) => Seq(lit(e.head).as("bin_min"), lit(e.last).as("bin_max"))
      case Bins.Values => Nil
    }
    val (stats, tail) =
      if (bins == Bins.Values) (Seq("n_values", "linf"), "example_value")
      else (Nil, "js_div")
    out.select(Seq(lit(feature).as("feature")) ++
      (if (sliced) Seq(col("slice")) else Nil) ++
      Seq(col("n_base"), col("n_cur")) ++ range ++
      (stats :+ "psi" :+ tail).map(col): _*)
  }

  /** Mergeable QUANTILE profile — the third leg of the incremental
    * profiling story ([[profile]]: exact moments; [[profileDistinct]]:
    * HLL uniques; this: KLL quantile sketches). Per-shard DataSketches
    * KLL doubles sketches (binary, persistable) merge losslessly in
    * any order with [[mergeQuantileProfiles]] and answer any quantile
    * at read time with ~1.65% normalized rank error at k = 200 —
    * exact medians over 100 TB need a full sort; this needs one
    * map-side-combined aggregate per shard. Long format:
    * (feature, q_sketch). NULLs are skipped by the aggregate. */
  def profileQuantiles(
      df: DataFrame, cols: Seq[String], k: Int = 200): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.map(c =>
      kll_sketch_agg_double(col(c).cast("double"), lit(k)).as(s"__${c}_q"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c =>
      struct(lit(c).as("feature"), col(s"__${c}_q").as("q_sketch")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Merge [[profileQuantiles]] frames (same k per column family). */
  def mergeQuantileProfiles(profiles: Seq[DataFrame]): DataFrame = {
    require(profiles.nonEmpty)
    profiles.reduce(_ unionByName _)
      .groupBy("feature")
      .agg(kll_merge_agg_double(col("q_sketch")).as("q_sketch"))
  }

  /** Read quantiles out of a (possibly merged) quantile profile: one
    * row per (feature, prob). */
  def estimateQuantiles(profile: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    // One literal probe per prob (the expression requires a foldable
    // rank), exploded into long format.
    val rows = probs.map(p => struct(lit(p).as("prob"),
      kll_sketch_get_quantile_double(col("q_sketch"), lit(p))
        .as("quantile_est")))
    profile
      .select(col("feature"), explode(array(rows: _*)).as("q"))
      .select(col("feature"), col("q.prob"), col("q.quantile_est"))
  }

  /** decimal(18,6) is the WIDEST cast whose product still fits an
    * exact decimal(37,12) — wider casts make Spark round the product
    * (precision cap at 38). That bounds the domain to |x| < 1e12;
    * values beyond it would cast to NULL and silently skew the
    * moments, so they fail fast instead. NULL input stays NULL
    * (absence — aggregate sums skip it): without the explicit branch a
    * NULL would fall into the otherwise and fire raise_error with a
    * NULL-propagated message. [[zscore]]/[[pearson]] pre-filter NULLs,
    * but [[profile]] aggregates over the raw column. */
  private def exactD6(c: Column, op: String): Column =
    when(c.isNull, lit(null).cast("decimal(18,6)"))
      .when(abs(c) < lit(1e12), c.cast("decimal(18,6)"))
      .otherwise(raise_error(concat(
        lit(s"$op: |value| >= 1e12 overflows the exact decimal "),
        lit("co-moments; rescale the feature first (got "),
        c.cast("string"), lit(")"))))

  private def cast0(c: Column): Column = c.cast("double")
}
