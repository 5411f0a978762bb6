package graft.ops

import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class FeatureStatsSpec extends SparkSpec with Matchers
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.Row

  private def statsMap(rows: Array[Row]) =
    rows.map(r => r.getString(0) -> r).toMap

  import FeatureStats.{Binning, Bins, DriftModel}

  private def edgesOf(m: DriftModel): IndexedSeq[Double] = m.bins match {
    case Bins.Edges(e) => e
    case other => fail(s"not a quantile model: $other")
  }

  /** One slice's baseline counts in key order. */
  private def countsOf(m: DriftModel, slice: String = ""): Seq[Long] =
    m.baseCounts.filter(_._1 == slice).map(_._3)

  /** The unsliced model a sliced model's slice scores like: same
    * geometry, that slice's counts. */
  private def sliceModel(m: DriftModel, slice: String): DriftModel =
    m.copy(slice = None,
      baseCounts = m.baseCounts.filter(_._1 == slice).map(t => ("", t._2, t._3)))

  test("summarize: one row per feature with exact counts and moments") {
    import spark.implicits._
    val df = Seq(
      (Option(1.0), Option("a")),
      (Option(3.0), Option("b")),
      (None: Option[Double], Option("a")),
      (Option(2.0), None: Option[String])
    ).toDF("x", "s")
    val out = statsMap(FeatureStats.summarize(df, Seq("x"), Seq("s")).collect())
    out.keySet shouldBe Set("x", "s")
    val x = out("x")
    x.getLong(1) shouldBe 4L // n
    x.getLong(2) shouldBe 1L // n_null
    x.getLong(3) shouldBe 3L // n_distinct
    x.getDouble(4) shouldBe 2.0 +- 1e-12 // mean over non-null
    x.getDouble(5) shouldBe 1.0
    x.getDouble(6) shouldBe 3.0
    val s = out("s")
    s.getLong(2) shouldBe 1L
    s.getLong(3) shouldBe 2L
    s.isNullAt(4) shouldBe true // no mean for strings
  }

  test("approx distinct mode stays within the HLL++ error bound") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i % 977, s"v${i % 211}")).toDF("x", "s")
    val exact = statsMap(FeatureStats.summarize(df, Seq("x"), Seq("s")).collect())
    val approx = statsMap(
      FeatureStats.summarize(df, Seq("x"), Seq("s"), exactDistinct = false).collect())
    for (f <- Seq("x", "s")) {
      val e = exact(f).getLong(3).toDouble
      math.abs(approx(f).getLong(3) - e) should be <= 0.1 * e
    }
    // non-distinct stats are identical between modes
    approx("x").getDouble(4) shouldBe exact("x").getDouble(4) +- 1e-12
  }

  test("topValues: deterministic top-k with value tie-break, nulls excluded") {
    import spark.implicits._
    val df = Seq("b", "a", "a", "c", "b", null, "d").toDF("s")
    val got = FeatureStats.topValues(df, "s", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // a and b tie at 2 → value order; c/d tie at 1 → c wins the cut
    got.toSeq shouldBe Seq(("a", 2L), ("b", 2L), ("c", 1L))
    // plan shape: TakeOrderedAndProject, no global Sort
    val executed = FeatureStats.topValues(df, "s", 3)
    executed.collect()
    collect(executed.queryExecution.executedPlan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    } should not be empty
  }

  test("summarize in approx mode runs on a stream; final state equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[(Double, String)]
    val out = FeatureStats.summarize(
      stream.toDF().toDF("x", "s"), Seq("x"), Seq("s"), exactDistinct = false)
    val q = out.writeStream.format("memory").queryName("fstats")
      .outputMode("complete").start()
    try {
      stream.addData(Seq((1.0, "a"), (2.0, "b")))
      q.processAllAvailable()
      stream.addData(Seq((3.0, "a"), (2.0, "c")))
      q.processAllAvailable()
      val got = spark.table("fstats").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.get(4))).toSet
      val batch = FeatureStats.summarize(
        Seq((1.0, "a"), (2.0, "b"), (3.0, "a"), (2.0, "c")).toDF("x", "s"),
        Seq("x"), Seq("s"), exactDistinct = false).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.get(4))).toSet
      got shouldBe batch
    } finally q.stop()
  }

  test("pearson: exact co-moment correlation matches hand computation and is partition-stable") {
    import spark.implicits._
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val ys = Seq(2.0, 4.1, 5.9, 8.2, 9.8) // near-linear
    val df = xs.zip(ys).toDF("x", "y")
    val got = FeatureStats.pearson(df, "x", "y").collect().head
    got.getLong(0) shouldBe 5L
    val n = xs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val (sxx, syy) = (xs.map(a => a * a).sum, ys.map(b => b * b).sum)
    val expected = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    got.getDouble(1) shouldBe expected +- 1e-9
    // repartitioning must not move the value at all (decimal sums)
    FeatureStats.pearson(df.repartition(7), "x", "y")
      .collect().head.getDouble(1) shouldBe got.getDouble(1)
    // null rows in either column are excluded pairwise
    val withNulls = (xs.zip(ys).map { case (a, b) => (Option(a), Option(b)) } :+
      ((None: Option[Double], Option(1.0)))).toDF("x", "y")
    FeatureStats.pearson(withNulls, "x", "y")
      .collect().head.getLong(0) shouldBe 5L
    // values past the exact-decimal domain fail fast instead of
    // silently casting to NULL and skewing the moments
    val big = Seq((1e13, 2.0), (2.0, 3.0)).toDF("x", "y")
    val ex = intercept[Exception](FeatureStats.pearson(big, "x", "y").collect())
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).mkString) should
      include("rescale")
  }

  test("skewCheck flags mean drift and missing-rate drift") {
    import spark.implicits._
    val a = Seq(
      (Option(10.0), Option("x")), (Option(10.0), Option("x"))
    ).toDF("x", "s")
    val b = Seq(
      (Option(20.0), Option("x")), (Option(20.0), None: Option[String])
    ).toDF("x", "s")
    val out = statsMap(
      FeatureStats.skewCheck(a, b, Seq("x"), Seq("s")).collect())
    val x = out("x")
    x.getBoolean(5) shouldBe true // mean 10 vs 20 drifts at tol 0.1
    x.getBoolean(6) shouldBe false
    val s = out("s")
    s.getBoolean(5) shouldBe false // no numeric mean for strings
    s.getBoolean(6) shouldBe true // missing rate 0 vs 0.5
  }

  test("histogram: equi-width buckets, max closes into the last bucket, nulls dropped") {
    import spark.implicits._
    val df = Seq(Option(0.0), Option(2.5), Option(5.0), Option(9.9),
      Option(10.0), None).toDF("x")
    val out = FeatureStats.histogram(df, "x", nBins = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    // width = 2.5 over [0,10]: 0.0->b0, 2.5->b1, 5.0->b2, 9.9 and 10.0->b3
    out(0L)._3 shouldBe 1
    out(1L)._3 shouldBe 1
    out(2L)._3 shouldBe 1
    out(3L)._3 shouldBe 2
    out(0L)._1 shouldBe 0.0
    out(3L)._2 shouldBe 10.0
    out.keySet shouldBe Set(0L, 1L, 2L, 3L)
  }

  test("histogram: degenerate single-value frame lands in bucket 0") {
    import spark.implicits._
    val out = FeatureStats.histogram(Seq(7.0, 7.0).toDF("x"), "x", 5).collect()
    out.length shouldBe 1
    out.head.getLong(0) shouldBe 0L
    out.head.getLong(3) shouldBe 2L
  }

  test("zscore: standardizes against population moments; nulls and zero variance stay NULL") {
    import spark.implicits._
    val df = Seq((1L, Option(2.0)), (2L, Option(4.0)), (3L, Option(6.0)),
      (4L, None: Option[Double])).toDF("k", "x")
    val out = FeatureStats.zscore(df, "k", "x")
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    // mean 4, population std = sqrt(8/3)
    val std = math.sqrt(8.0 / 3.0)
    out(1L).get shouldBe (-2.0 / std) +- 1e-12
    out(2L).get shouldBe 0.0 +- 1e-12
    out(3L).get shouldBe (2.0 / std) +- 1e-12
    out(4L) shouldBe None
    val const = FeatureStats.zscore(Seq((1L, 5.0), (2L, 5.0)).toDF("k", "x"), "k", "x")
    const.collect().forall(_.isNullAt(2)) shouldBe true
  }

  test("keySkew surfaces the heavy key with its share; ties break on key") {
    import spark.implicits._
    val df = ((1L to 900L).map(_ => "hot") ++ (1L to 100L).map(i => s"k$i"))
      .toDF("k")
    val top = FeatureStats.keySkew(df, Seq("k"), topN = 3).collect()
    top.head.getString(0) shouldBe "hot"
    top.head.getLong(1) shouldBe 900L
    top.head.getDouble(2) shouldBe 0.9 +- 1e-9
    top(1).getString(0) shouldBe "k1" // 1-count ties order by key ascending
  }

  test("rocAuc: perfect separation, tie midranks, and partition invariance") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Perfect ranking → AUC 1.
    val perfect = Seq((1.0, 0), (2.0, 1), (3.0, 1)).toDF("s", "y")
    FeatureStats.rocAuc(perfect, "s", col("y") === 1)
      .head().getDouble(0) shouldBe 1.0 +- 1e-12
    // Tie between a positive and a negative at s=1: hand AUC = 0.75.
    val tied = Seq((1.0, 0), (1.0, 1), (2.0, 1)).toDF("s", "y")
    FeatureStats.rocAuc(tied, "s", col("y") === 1)
      .head().getDouble(0) shouldBe 0.75 +- 1e-12
    // Random labels on many ties → near 0.5; partition-invariant.
    val big = (1L to 2000L).map(i => ((i % 50).toDouble, (i % 2).toInt)).toDF("s", "y")
    val a = FeatureStats.rocAuc(big, "s", col("y") === 1).head().getDouble(0)
    val b = FeatureStats.rocAuc(big.repartition(13), "s", col("y") === 1)
      .head().getDouble(0)
    a shouldBe b
    a shouldBe 0.5 +- 0.05
  }

  test("rocAucBy: per-group AUC equals per-group rocAuc; single-class group is NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = (1L to 600L).map { i =>
      val g = if (i % 3 == 0) "a" else "b"
      // group a: informative score; group b: anti-informative
      val y = (i % 2).toInt
      val s = if (g == "a") y * 10.0 + (i % 5) else -y * 10.0 + (i % 5)
      (g, s, y)
    }.toDF("g", "s", "y")
      .union(Seq(("c", 1.0, 1), ("c", 2.0, 1)).toDF("g", "s", "y")) // all-positive
    val by = FeatureStats.rocAucBy(df, "s", col("y") === 1, Seq("g"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    for (g <- Seq("a", "b")) {
      val solo = FeatureStats.rocAuc(df.filter(col("g") === g), "s", col("y") === 1)
        .head().getDouble(0)
      by(g) shouldBe Some(solo)
    }
    by("a").get should be > 0.9
    by("b").get should be < 0.1
    by("c") shouldBe None // single-class slice → NULL, not NaN
  }

  test("rocAucBy keeps the NULL slice (null-safe offsets join)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = ((1L to 100L).map(i => (Option("a"), i.toDouble, (i % 2).toInt)) ++
      (1L to 100L).map(i => (None: Option[String], (i % 2) * 10.0 + i % 3, (i % 2).toInt)))
      .toDF("g", "s", "y")
    val by = FeatureStats.rocAucBy(df, "s", col("y") === 1, Seq("g"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    by.keySet shouldBe Set(Some("a"), None) // the unknown slice survives
    by(None) should be > 0.9 // and its AUC is computed, not defaulted
  }

  test("confusionAtThreshold: hand-computed counts and rates; degenerate rates are NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((0.9, 1), (0.8, 0), (0.3, 1), (0.1, 0), (0.5, 1)).toDF("p", "y")
    val r = FeatureStats.confusionAtThreshold(df, "p", col("y") === 1, 0.5).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) shouldBe ((2L, 1L, 1L, 1L))
    r.getDouble(4) shouldBe (2.0 / 3.0 +- 1e-12) // precision
    r.getDouble(5) shouldBe (2.0 / 3.0 +- 1e-12) // recall
    r.getDouble(6) shouldBe (2.0 / 3.0 +- 1e-12) // f1 (p == r)
    // nothing predicted positive → precision NULL, recall 0, f1 NULL
    val none = FeatureStats.confusionAtThreshold(df, "p", col("y") === 1, 2.0).head()
    none.isNullAt(4) shouldBe true
    none.getDouble(5) shouldBe 0.0
    none.isNullAt(6) shouldBe true
  }

  test("probLoss: hand-computed log-loss and Brier; perfect scores clamp, not blow up") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((0.9, 1), (0.2, 0), (1.0, 1), (0.0, 1)).toDF("p", "y")
    val r = FeatureStats.probLoss(df, "p", col("y") === 1).head()
    r.getLong(0) shouldBe 4L
    val eps = 1e-6
    val expectedLl = Seq(
      -math.log(0.9), -math.log(0.8),
      -math.log(1 - eps), -math.log(eps) // clamped, finite
    ).map(v => math.rint(v * 1e9) / 1e9).sum / 4
    r.getDouble(1) shouldBe expectedLl +- 1e-9
    val expectedBrier = (0.01 + 0.04 + 0.0 + 1.0) / 4
    r.getDouble(2) shouldBe expectedBrier +- 1e-12
    // partition invariance
    val alt = FeatureStats.probLoss(df.repartition(5), "p", col("y") === 1).head()
    alt.getDouble(1) shouldBe r.getDouble(1)
    alt.getDouble(2) shouldBe r.getDouble(2)
  }

  test("calibrationBins: per-bin counts, mean score, positive rate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (0.05, 0), (0.08, 0),          // bin 0: rate 0
      (0.82, 1), (0.88, 1), (0.85, 0), // bin 8: rate 2/3
      (1.0, 1)                        // 1.0 folds into bin 9
    ).toDF("score", "y")
    val bins = FeatureStats.calibrationBins(df, "score", col("y") === 1, 10)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    bins(0)._1 shouldBe 2L
    bins(0)._3 shouldBe 0.0
    bins(8)._1 shouldBe 3L
    bins(8)._3 shouldBe (2.0 / 3.0 +- 1e-12)
    bins(8)._2 shouldBe ((0.82 + 0.88 + 0.85) / 3 +- 1e-9)
    bins(9)._1 shouldBe 1L
  }

  test("bucketize matches NTILE semantics exactly, without a global window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, ntile}
    val df = (1L to 1007L).map(i => (i, (i * 2654435761L % 9973L).toDouble))
      .toDF("k", "v")
    val got = FeatureStats.bucketize(df, "v", "k", k = 10, rangeBuckets = 16)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val want = df.withColumn("bucket",
        ntile(10).over(Window.orderBy(col("v"), col("k"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    got shouldBe want
    // equal-frequency: first N mod k buckets take the extra row
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    (1 to 7).foreach(b => sizes(b) shouldBe 101)
    (8 to 10).foreach(b => sizes(b) shouldBe 100)
    // partition-invariance
    val alt = FeatureStats.bucketize(df.repartition(13), "v", "k", 10, 16)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    alt shouldBe got
  }

  test("timeSeriesFeatures: lags and trailing rolls use strictly past rows (leakage-free)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      // key A: values 1..5 at increasing ts
      (1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0), (1L, 4L, 4.0), (1L, 5L, 5.0),
      // key B: single row → all features NULL/empty
      (2L, 1L, 9.0))
      .toDF("k", "seq", "v")
      .select(col("k"), col("seq"),
        (to_timestamp(lit("2024-01-01 00:00:00")).cast("long") + col("seq") * 60)
          .cast("timestamp"), col("v"))
      .toDF("k", "seq", "ts", "v")
    val out = FeatureStats.timeSeriesFeatures(
      rows, "k", "ts", "seq", "v", lags = Seq(1, 2), rollRows = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap

    def lagOf(k: Long, s: Long, i: Int): Option[Double] = {
      val r = out((k, s)); if (r.isNullAt(4 + i - 1)) None else Some(r.getDouble(4 + i - 1))
    }
    lagOf(1L, 1L, 1) shouldBe None
    lagOf(1L, 3L, 1) shouldBe Some(2.0)
    lagOf(1L, 3L, 2) shouldBe Some(1.0)
    lagOf(1L, 5L, 2) shouldBe Some(3.0)
    lagOf(2L, 1L, 1) shouldBe None // other keys never leak in
    // trailing roll over ≤3 preceding rows, never the current one
    val r4 = out((1L, 4L))
    r4.getDouble(6) shouldBe 6.0 // 1+2+3
    r4.getLong(7) shouldBe 3L
    val r5 = out((1L, 5L))
    r5.getDouble(6) shouldBe 9.0 // 2+3+4 — row 1 aged out of the frame
    r5.getLong(7) shouldBe 3L
    val r1 = out((1L, 1L))
    r1.isNullAt(6) shouldBe true // empty frame → NULL sum
    r1.getLong(7) shouldBe 0L
  }

  test("timeSeriesFeatures: all lags and rolls share one shuffle and one sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 1000).map(i => ((i % 7).toLong, i.toLong, i * 1.5))
      .toDF("k", "seq", "v")
      .select(col("k"), col("seq"),
        (lit(1704067200L) + col("seq")).cast("timestamp").as("ts"), col("v"))
    val out = FeatureStats.timeSeriesFeatures(
      df, "k", "ts", "seq", "v", lags = Seq(1, 2, 3), rollRows = 5)
    out.collect().length shouldBe 1000
    val plan = out.queryExecution.executedPlan
    // Spark materializes one Window operator per distinct frame, but
    // they all share (partition, order) — the data moves and sorts
    // exactly ONCE regardless of how many lags/rolls are requested.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.length shouldBe 1
    collectWithSubqueries(plan) { case s: SortExec => s }.length shouldBe 1
  }

  test("profile merge is bit-identical to one-pass profiling, under any sharding") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(11)
    val rows = (1L to 300L).map { i =>
      Row(i, if (i % 17 == 0) null else rnd.nextInt(1000) / 4.0,
        rnd.nextInt(50).toDouble)
    }
    val df = spark.createDataFrame(rows.asJava, T.StructType(Seq(
      T.StructField("k", T.LongType, nullable = false),
      T.StructField("x", T.DoubleType, nullable = true),
      T.StructField("y", T.DoubleType, nullable = false))))
    val cols = Seq("x", "y")
    def fin(p: org.apache.spark.sql.DataFrame) =
      FeatureStats.finalizeProfile(p).collect()
        .map(r => r.getString(0) -> r.toSeq.tail).toMap
    val onePass = fin(FeatureStats.profile(df, cols))
    // 2-way and 3-way shardings, merged in different orders
    val s3 = Seq(0, 1, 2).map(m => FeatureStats.profile(df.filter(col("k") % 3 === m), cols))
    fin(FeatureStats.mergeProfiles(s3)) shouldBe onePass
    fin(FeatureStats.mergeProfiles(s3.reverse)) shouldBe onePass
    val s2 = Seq(FeatureStats.profile(df.filter(col("k") <= 100), cols),
      FeatureStats.profile(df.filter(col("k") > 100), cols))
    fin(FeatureStats.mergeProfiles(s2)) shouldBe onePass
    // and the NULLs were actually counted
    onePass("x")(1) shouldBe (300L / 17L) // n_null
  }

  test("profileDistinct: merged shard sketches estimate EQUAL to the one-pass sketch") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val rows = (1L to 5000L).map(i => Row(i, i % 1357, (i % 89).toString))
    val df = spark.createDataFrame(rows.asJava, T.StructType(Seq(
      T.StructField("k", T.LongType, nullable = false),
      T.StructField("x", T.LongType, nullable = false),
      T.StructField("s", T.StringType, nullable = false))))
    val cols = Seq("x", "s")
    def est(p: org.apache.spark.sql.DataFrame) =
      FeatureStats.estimateDistinct(p).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val onePass = est(FeatureStats.profileDistinct(df, cols))
    val merged = est(FeatureStats.mergeDistinctProfiles(
      Seq(0, 1, 2).map(m => FeatureStats.profileDistinct(df.filter(col("k") % 3 === m), cols))))
    merged shouldBe onePass // register-wise union == one-pass state
    // and the estimates sit inside the documented error envelope
    math.abs(onePass("x") - 1357L).toDouble / 1357 should be < 0.05
    onePass("s") shouldBe 89L // small cardinalities are exact in HLL
  }

  test("profile: an all-NULL feature finalizes to NULL mean/variance, not 0/0") {
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, null), Row(2L, null)).asJava,
      T.StructType(Seq(
        T.StructField("k", T.LongType, nullable = false),
        T.StructField("x", T.DoubleType, nullable = true))))
    val r = FeatureStats.finalizeProfile(FeatureStats.profile(df, Seq("x"))).head()
    r.getLong(1) shouldBe 2L  // n
    r.getLong(2) shouldBe 2L  // n_null
    r.isNullAt(3) shouldBe true
    r.isNullAt(4) shouldBe true
  }

  private def schemaFixture = {
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(
        Row(1L, "a", 10.0), Row(2L, "b", 20.0), Row(3L, "a", 30.0),
        Row(4L, "c", 40.0), Row(5L, null, 50.0)).asJava,
      T.StructType(Seq(
        T.StructField("id", T.LongType, nullable = false),
        T.StructField("cat", T.StringType, nullable = true),
        T.StructField("x", T.DoubleType, nullable = true))))
  }

  test("inferSchema: types, counts, ranges, and rank-capped domains") {
    val s = statsMap(FeatureStats.inferSchema(
      schemaFixture, Seq("id", "cat", "x"), maxDomain = 3).collect())
    s.keySet shouldBe Set("id", "cat", "x")
    val cat = s("cat")
    cat.getAs[String]("data_type") shouldBe "string"
    cat.getAs[Long]("n") shouldBe 5L
    cat.getAs[Long]("n_null") shouldBe 1L
    cat.getAs[Long]("n_distinct") shouldBe 3L
    cat.getAs[String]("domain") shouldBe "a|b|c"
    cat.isNullAt(cat.fieldIndex("min_val")) shouldBe true
    val id = s("id")
    id.getAs[String]("data_type") shouldBe "bigint"
    id.getAs[Long]("n_distinct") shouldBe 5L
    // 5 distinct > maxDomain=3: the domain must be NULL — and the
    // count gate means it was never sorted or collected either.
    id.isNullAt(id.fieldIndex("domain")) shouldBe true
    id.getAs[Double]("min_val") shouldBe 1.0
    id.getAs[Double]("max_val") shouldBe 5.0
    val x = s("x")
    x.getAs[String]("data_type") shouldBe "double"
    x.getAs[Double]("max_val") shouldBe 50.0
  }

  test("validateSchema: every anomaly family fires with exact counts and deterministic examples") {
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val schema = FeatureStats.inferSchema(schemaFixture.filter("cat IS NOT NULL"),
      Seq("cat", "x"), maxDomain = 8)
    val serving = spark.createDataFrame(
      Seq(
        Row("a", 25.0),          // clean
        Row("zz", 5.0),          // new category AND below range
        Row("yy", 45.0),         // new category, above range
        Row(null, 100.0),        // unexpected null (baseline cat had none), above range
        Row("b", null)).asJava,  // x null: baseline x had none -> unexpected_null
      T.StructType(Seq(
        T.StructField("cat", T.StringType, nullable = true),
        T.StructField("x", T.DoubleType, nullable = true))))
    val out = FeatureStats.validateSchema(serving, schema).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.getString(3)))).toMap
    out(("cat", "new_category")) shouldBe ((2L, Some("yy"))) // min("zz","yy")
    out(("cat", "unexpected_null")) shouldBe ((1L, None))
    out(("x", "out_of_range")) shouldBe ((3L, Some("100.0")))
    out(("x", "unexpected_null")) shouldBe ((1L, None))
    // cat is non-numeric: no range check row exists for it
    out.keySet should not contain (("cat", "out_of_range"))
  }

  test("validateSchema: a baseline that itself had nulls suppresses unexpected_null") {
    val schema = FeatureStats.inferSchema(schemaFixture, Seq("cat"), maxDomain = 8)
    val out = FeatureStats.validateSchema(
      schemaFixture.filter("cat IS NULL"), schema).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    out(("cat", "unexpected_null")) shouldBe 0L
  }

  test("domain values containing the '|' delimiter round-trip through escape/split") {
    import spark.implicits._
    // 'a|b' is ONE category; 'c\d' exercises the escape char itself.
    val base = Seq("a|b", "a|b", "c\\d", "e").toDF("cat")
    val schema = FeatureStats.inferSchema(base, Seq("cat"), maxDomain = 8)
    val row = schema.head()
    row.getAs[Long]("n_distinct") shouldBe 3L
    row.getAs[String]("domain") shouldBe "a\\|b|c\\\\d|e" // escaped display form
    FeatureStats.splitDomain(row.getAs[String]("domain")) shouldBe
      Seq("a|b", "c\\d", "e")
    // 'a|b' is in-domain (NOT two tokens 'a','b'); bare 'a' is new.
    val out = FeatureStats.validateSchema(
      Seq("a|b", "a", "e").toDF("cat"), schema).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    out(("cat", "new_category")) shouldBe 1L
  }

  test("validateWith on a ZERO-ROW batch reports n_bad = 0, never NULL") {
    import spark.implicits._
    val specs = FeatureStats.collectSchema(FeatureStats.inferSchema(
      schemaFixture.filter("cat IS NOT NULL"), Seq("cat", "x"), maxDomain = 8))
    val empty = spark.emptyDataset[(String, Double)].toDF("cat", "x")
    val out = FeatureStats.validate(empty, specs).collect()
    out should not be empty
    // A streaming gate like n_bad > 0 must see 0, not NULL, on an
    // empty micro-batch — NULL would silently never fire the sink.
    out.foreach { r =>
      r.isNullAt(r.fieldIndex("n_bad")) shouldBe false
      r.getAs[Long]("n_bad") shouldBe 0L
    }
  }

  test("categoricalDrift fails fast with the intended message when both sides are all-NULL") {
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val allNull = spark.createDataFrame(
      Seq(Row(null), Row(null)).asJava,
      T.StructType(Seq(T.StructField("v", T.StringType, nullable = true))))
    val e = intercept[IllegalArgumentException] {
      FeatureStats.categoricalDrift(allNull, allNull, "v").head()
    }
    e.getMessage should include ("no non-NULL 'v' values")
  }

  test("driftCheck: identical frames are driftless; a shift moves PSI past the gate") {
    import spark.implicits._
    val base = (1 to 1000).map(i => (i % 100).toDouble).toDF("v")
    val same = FeatureStats.driftCheck(base, base, "v", nBins = 10).head()
    same.getAs[Double]("psi") shouldBe 0.0 +- 1e-9
    same.getAs[Double]("js_div") shouldBe 0.0 +- 1e-9
    same.getAs[Long]("n_base") shouldBe 1000L
    // Shifted + widened current: mass moves across bins and beyond the
    // baseline range (clamps into the top bin) — PSI must clear the
    // standard 0.25 "investigate" gate.
    val cur = (1 to 1000).map(i => (i % 100).toDouble + 80.0).toDF("v")
    val drift = FeatureStats.driftCheck(base, cur, "v", nBins = 10).head()
    drift.getAs[Double]("psi") should be > 0.25
    drift.getAs[Double]("js_div") should be > 0.05
    // clamping: every current row landed in SOME bin (none dropped)
    drift.getAs[Long]("n_cur") shouldBe 1000L
  }

  test("driftCheck is partition-invariant (DECIMAL-summed contributions)") {
    import spark.implicits._
    val base = (1 to 500).map(i => (i % 37).toDouble).toDF("v")
    val cur = (1 to 500).map(i => ((i * 7) % 53).toDouble).toDF("v")
    val a = FeatureStats.driftCheck(base.repartition(1), cur.repartition(1), "v").head()
    val b = FeatureStats.driftCheck(base.repartition(13), cur.repartition(13), "v").head()
    a.getAs[Double]("psi") shouldBe b.getAs[Double]("psi")
    a.getAs[Double]("js_div") shouldBe b.getAs[Double]("js_div")
  }

  test("scoreDrift(fitDrift) is bit-identical to driftCheck — the serve path cannot diverge") {
    import spark.implicits._
    val base = (1 to 800).map(i => ((i * 31) % 97).toDouble).toDF("v")
    val cur = (1 to 900).map(i => ((i * 13) % 120).toDouble - 5.0).toDF("v")
    val direct = FeatureStats.driftCheck(base, cur, "v", nBins = 12).head()
    val model = FeatureStats.fitDrift(base, "v", Binning.EqualWidth(12))
    model.nBase shouldBe 800L
    model.baseCounts.length shouldBe 12
    val served = FeatureStats.scoreDrift(model, cur).head()
    served shouldBe direct // every column, bitwise
  }

  test("fitDriftQuantile(exact): equal-mass buckets; identical frames are driftless") {
    import spark.implicits._
    val base = (1 to 1000).map(i => ((i * 37) % 1009).toDouble).toDF("v")
    val m = FeatureStats.fitDrift(base, "v", Binning.Quantile(10, exact = true))
    edgesOf(m).length shouldBe 9
    edgesOf(m) shouldBe sorted
    // distinct-ish values: every bucket holds ~n/nBins of the baseline
    m.nBase shouldBe 1000L
    countsOf(m).foreach(_ shouldBe 100L +- 5L)
    val same = FeatureStats.scoreDrift(m, base).head()
    same.getAs[Double]("psi") shouldBe 0.0 +- 1e-9
    same.getAs[Double]("js_div") shouldBe 0.0 +- 1e-9
    // a shifted window moves mass across the equal-mass bins
    val cur = (1 to 1000).map(i => ((i * 37) % 1009).toDouble + 700.0).toDF("v")
    FeatureStats.scoreDrift(m, cur).head()
      .getAs[Double]("psi") should be > 0.25
  }

  test("fitDriftQuantile: KLL-sketch fit agrees with the exact fit within rank tolerance") {
    import spark.implicits._
    val base = (1 to 5000).map(i => ((i * 131) % 9973).toDouble).toDF("v")
    val exact = FeatureStats.fitDrift(base, "v", Binning.Quantile(10, exact = true))
    val sketch = FeatureStats.fitDrift(base, "v", Binning.Quantile(10, exact = false))
    // k=200 KLL: ~1.65% normalized rank error -> bucket masses within
    // a few percent of exact; the statistic must not change materially
    sketch.nBase shouldBe 5000L
    edgesOf(exact).zip(edgesOf(sketch)).foreach { case (e, s) =>
      math.abs(e - s) should be < 9973.0 * 0.05
    }
    val cur = (1 to 5000).map(i => ((i * 131) % 9973).toDouble * 0.5).toDF("v")
    val pe = FeatureStats.scoreDrift(exact, cur).head().getAs[Double]("psi")
    val ps = FeatureStats.scoreDrift(sketch, cur).head().getAs[Double]("psi")
    math.abs(pe - ps) should be < 0.15 * math.max(pe, ps)
  }

  test("fitDriftSlicedQuantile: KLL-sketch fit agrees with the exact fit within rank tolerance") {
    import spark.implicits._
    val base = (1 to 5000).map(i =>
      (if (i % 2 == 0) "a" else "b", ((i * 131) % 9973).toDouble)).toDF("s", "v")
    val exact = FeatureStats.fitDrift(
      base, "v", Binning.Quantile(10, exact = true), slice = Some("s"))
    val sketch = FeatureStats.fitDrift(
      base, "v", Binning.Quantile(10, exact = false), slice = Some("s"))
    // edges are GLOBAL either way (one edge fit on the full baseline)
    // — the sketch's differ from exact only by KLL rank error
    edgesOf(exact).zip(edgesOf(sketch)).foreach { case (e, s) =>
      math.abs(e - s) should be < 9973.0 * 0.05
    }
    // per-slice masses are exact counts against whichever edges were
    // fit, so they always sum to the slice populations
    Seq(exact, sketch).foreach { m =>
      countsOf(m, "a").sum shouldBe 2500L
      countsOf(m, "b").sum shouldBe 2500L
    }
    val cur = (1 to 5000).map(i =>
      (if (i % 2 == 0) "a" else "b", ((i * 131) % 9973).toDouble * 0.5)).toDF("s", "v")
    val pe = FeatureStats.scoreDrift(exact, cur).collect()
      .map(r => r.getString(1) -> r.getAs[Double]("psi")).toMap
    val ps = FeatureStats.scoreDrift(sketch, cur).collect()
      .map(r => r.getString(1) -> r.getAs[Double]("psi")).toMap
    Seq("a", "b").foreach { sl =>
      math.abs(pe(sl) - ps(sl)) should be < 0.15 * math.max(pe(sl), ps(sl))
    }
  }

  test("fitDriftQuantile degenerate cases: constant column and all-NULL baseline") {
    import spark.implicits._
    val const = Seq.fill(100)(7.0).toDF("v")
    val m = FeatureStats.fitDrift(const, "v", Binning.Quantile(4, exact = true))
    edgesOf(m).foreach(_ shouldBe 7.0)
    // all mass collapses into ONE bucket on both sides -> zero drift
    FeatureStats.scoreDrift(m, const).head()
      .getAs[Double]("psi") shouldBe 0.0 +- 1e-9
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val allNull = spark.createDataFrame(
      Seq(Row(null), Row(null)).asJava,
      T.StructType(Seq(T.StructField("v", T.DoubleType, nullable = true))))
    Seq(true, false).foreach { ex =>
      val e = intercept[IllegalArgumentException] {
        FeatureStats.fitDrift(allNull, "v", Binning.Quantile(4, exact = ex))
      }
      e.getMessage should include ("no non-NULL 'v' values")
    }
  }

  test("driftStream: per-batch rows equal scoreDrift on the same batch rows") {
    import spark.implicits._
    val base = (1 to 600).map(i => (i % 50).toDouble).toDF("v")
    val model = FeatureStats.fitDrift(base, "v", Binning.EqualWidth(8))
    streamTwin(model, Seq("v"), Seq(
      (1 to 200).map(i => Tuple1((i % 60).toDouble)),
      (1 to 300).map(i => Tuple1((i % 20).toDouble + 40.0))))
      .map(_.length) shouldBe Seq(1, 1)
  }

  test("diffSchemas: identical schemas diff to empty; every change kind fires once") {
    import spark.implicits._
    val ref = FeatureStats.inferSchema(
      Seq((1L, "a", 10.0, "x"), (2L, "b", 20.0, "y"))
        .toDF("id", "cat", "x", "gone"),
      Seq("id", "cat", "x", "gone"), maxDomain = 8)
    FeatureStats.diffSchemas(ref, ref).count() shouldBe 0L
    val cand = FeatureStats.inferSchema(
      spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("1", "a", 30.0, null, "n"),
          org.apache.spark.sql.Row("2", "c", 5.0, "p", "n")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),      // type change
          org.apache.spark.sql.types.StructField("cat", org.apache.spark.sql.types.StringType),     // new value 'c'
          org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType),       // range widened both ways
          org.apache.spark.sql.types.StructField("nulled", org.apache.spark.sql.types.StringType),  // added + has nulls
          org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.StringType)))),// added
      Seq("id", "cat", "x", "nulled", "extra"), maxDomain = 8)
    val out = FeatureStats.diffSchemas(ref, cand).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    out(("gone", "removed")) shouldBe "string"
    out(("nulled", "added")) shouldBe "string"
    out(("extra", "added")) shouldBe "string"
    out(("id", "type_changed")) shouldBe "bigint -> string"
    out(("cat", "domain_new_values")) shouldBe "c"
    out(("x", "range_widened")) shouldBe "min,max"
    // low-cardinality numerics carry domains too (enum-like ints) —
    // both the range and the domain change report
    out(("x", "domain_new_values")) shouldBe "30.0|5.0"
    // type change SUPPRESSES further comparison for that feature
    out.keySet should not contain (("id", "domain_new_values"))
    out.size shouldBe 7
  }

  test("diffSchemas: domain escaping never fabricates a diff") {
    import spark.implicits._
    // 'a|b' in both schemas: compared as VALUE SETS via splitDomain,
    // a naive string-split would see tokens {a, b} vs {a, b} too —
    // but 'a' alone on the candidate side must diff as a REAL subset
    // change, and 'a|b' must not match a literal 'a' + 'b' pair.
    val ref = FeatureStats.inferSchema(
      Seq("a|b", "e").toDF("cat"), Seq("cat"), maxDomain = 8)
    val sameButSplit = FeatureStats.inferSchema(
      Seq("a", "b", "e").toDF("cat"), Seq("cat"), maxDomain = 8)
    val out = FeatureStats.diffSchemas(ref, sameButSplit).collect()
      .map(r => (r.getString(1), r.getString(2)))
    // 'a' and 'b' are NEW values (the ref category was the single
    // token 'a|b'); the diff must say so, pipes notwithstanding
    out should contain (("domain_new_values", "a|b"))
  }

  test("scoreDriftSliced: per-slice PSI equals scoreDrift on each slice's own rows") {
    import spark.implicits._
    val base = (1 to 900).map { i =>
      (if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", (i % 100).toDouble)
    }.toDF("s", "v")
    // slice 'a' shifts, 'b' stays, 'c' disappears
    val cur = (1 to 600).map { i =>
      (if (i % 2 == 0) "a" else "b",
        if (i % 2 == 0) (i % 100).toDouble + 80.0 else (i % 100).toDouble)
    }.toDF("s", "v")
    val model = FeatureStats.fitDrift(base, "v", Binning.EqualWidth(10), slice = Some("s"))
    model.baseCounts.map(_._1).toSet shouldBe Set("a", "b", "c")
    val out = FeatureStats.scoreDrift(model, cur).collect()
      .map(r => r.getString(1) -> r).toMap
    out.keySet shouldBe Set("a", "b", "c")
    // per-slice equality holds against an unsliced model carrying the
    // global geometry and that slice's counts
    Seq("a", "b", "c").foreach { sl =>
      val single = sliceModel(model, sl)
      val expect = FeatureStats.scoreDrift(single, cur.filter(cur("s") === sl))
        .head()
      val got = out(sl)
      got.getAs[Long]("n_base") shouldBe single.nBase
      got.getAs[Double]("psi") shouldBe expect.getAs[Double]("psi") +- 1e-15
      got.getAs[Double]("js_div") shouldBe expect.getAs[Double]("js_div") +- 1e-15
    }
    // the shifted slice drifts, the stable slice does not; the
    // vanished slice signals through n_cur = 0 (its PSI can be ~0:
    // the all-smoothed empty side mimics uniform, and this slice's
    // baseline IS uniform — absence is a count alarm, not a shape one)
    out("a").getAs[Double]("psi") should be > 0.25
    out("b").getAs[Double]("psi") should be < 0.05
    out("c").getAs[Long]("n_cur") shouldBe 0L
    out("c").getAs[Double]("psi") should be >= 0.0
  }

  test("fitDriftSliced fails fast on a high-cardinality slice column") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toString, i.toDouble)).toDF("s", "v")
    val e = intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(df, "v", Binning.EqualWidth(4), slice = Some("s"),
        maxSlices = 100)
    }
    // "exceeds" is the LIMIT-capped branch's message: the collect was
    // bounded at maxSlices*nBins+1 rows and overflow detected from the
    // cap being hit — the driver never materialized the 500-slice
    // frame (an ID-like slice column over 100 TB would OOM it).
    e.getMessage should include ("exceeds")
    e.getMessage should include ("low-cardinality")
  }

  test("scoreDriftSlicedQuantile: per-slice PSI equals scoreDriftQuantile on each slice's own rows") {
    import spark.implicits._
    val base = (1 to 900).map { i =>
      (if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", (i % 100).toDouble)
    }.toDF("s", "v")
    val cur = (1 to 600).map { i =>
      (if (i % 2 == 0) "a" else "b",
        if (i % 2 == 0) (i % 100).toDouble + 80.0 else (i % 100).toDouble)
    }.toDF("s", "v")
    val model = FeatureStats.fitDrift(
      base, "v", Binning.Quantile(10, exact = true), slice = Some("s"))
    model.baseCounts.map(_._1).toSet shouldBe Set("a", "b", "c")
    // edges are GLOBAL (fit on the full baseline): identical to the
    // unsliced fit's, so sliced PSI is comparable across slices
    edgesOf(model) shouldBe edgesOf(FeatureStats.fitDrift(
      base, "v", Binning.Quantile(10, exact = true)))
    val out = FeatureStats.scoreDrift(model, cur).collect()
      .map(r => r.getString(1) -> r).toMap
    out.keySet shouldBe Set("a", "b", "c")
    Seq("a", "b", "c").foreach { sl =>
      val single = sliceModel(model, sl)
      val expect = FeatureStats.scoreDrift(single, cur.filter(cur("s") === sl))
        .head()
      val got = out(sl)
      got.getAs[Long]("n_base") shouldBe single.nBase
      got.getAs[Double]("psi") shouldBe expect.getAs[Double]("psi") +- 1e-15
      got.getAs[Double]("js_div") shouldBe expect.getAs[Double]("js_div") +- 1e-15
    }
    out("a").getAs[Double]("psi") should be > 0.25
    out("b").getAs[Double]("psi") should be < 0.05
    out("c").getAs[Long]("n_cur") shouldBe 0L
  }

  test("fitDriftSlicedQuantile fails fast on a high-cardinality slice column") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toString, i.toDouble)).toDF("s", "v")
    val e = intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(df, "v", Binning.Quantile(4, exact = true),
        slice = Some("s"), maxSlices = 100)
    }
    e.getMessage should include ("exceeds")
  }

  /** Streams `batches` through `driftStream(model)` and checks each
    * batch's rows against `scoreDrift(model, batch)`; returns the
    * per-batch rows in batch order. */
  private def streamTwin[T <: Product : org.apache.spark.sql.Encoder](
      model: DriftModel, cols: Seq[String], batches: Seq[Seq[T]]): Seq[Array[Row]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Row])]
    val stream = MemoryStream[T]
    val q = graft.streaming.StreamingOps.driftStream(
      stream.toDF().toDF(cols: _*), model) { (rows, id) =>
      got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe batches.size
      val streamed = got.sortBy(_._1).map(_._2).toSeq
      streamed.zip(batches).foreach { case (rows, b) =>
        val twin = FeatureStats.scoreDrift(model, b.toDF(cols: _*)).collect()
        rows.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      streamed
    } finally q.stop()
  }

  test("driftSlicedStream: per-batch slice rows equal scoreDriftSliced; a silent slice keeps alarming") {
    import spark.implicits._
    val base = (1 to 600).map(i =>
      (if (i % 2 == 0) "a" else "b", (i % 50).toDouble)).toDF("s", "v")
    val model = FeatureStats.fitDrift(base, "v", Binning.EqualWidth(8), slice = Some("s"))
    val got = streamTwin(model, Seq("s", "v"), Seq(
      Seq(("a", 10.0), ("b", 20.0), ("a", 30.0)),
      Seq(("a", 5.0), ("a", 45.0)))) // slice 'b' goes silent
    // the silent slice still emits its row, n_cur = 0
    got.last.map(r => r.getString(1) -> r.getAs[Long]("n_cur")).toMap
      .apply("b") shouldBe 0L
  }

  test("driftQuantileStream: per-batch rows equal scoreDriftQuantile on the same batch rows") {
    import spark.implicits._
    val base = (1 to 600).map(i => ((i * 53) % 701).toDouble).toDF("v")
    val model = FeatureStats.fitDrift(base, "v", Binning.Quantile(8, exact = true))
    streamTwin(model, Seq("v"), Seq(
      (1 to 200).map(i => Tuple1(((i * 53) % 701).toDouble)),
      (1 to 300).map(i => Tuple1(((i * 53) % 701).toDouble + 300.0))))
      .map(_.length) shouldBe Seq(1, 1)
  }

  test("driftSlicedQuantileStream: per-batch slice rows equal scoreDriftSlicedQuantile; silent slice keeps alarming") {
    import spark.implicits._
    val base = (1 to 600).map(i =>
      (if (i % 2 == 0) "a" else "b", ((i * 53) % 701).toDouble)).toDF("s", "v")
    val model = FeatureStats.fitDrift(
      base, "v", Binning.Quantile(8, exact = true), slice = Some("s"))
    val got = streamTwin(model, Seq("s", "v"), Seq(
      Seq(("a", 10.0), ("b", 200.0), ("a", 300.0)),
      Seq(("a", 5.0), ("a", 450.0)))) // slice 'b' goes silent
    got.last.map(r => r.getString(1) -> r.getAs[Long]("n_cur")).toMap
      .apply("b") shouldBe 0L
  }

  test("categoricalDrift: hand-computed L-infinity, value-space union, deterministic example") {
    import spark.implicits._
    val base = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(1)("c")).toDF("v")
    val cur = (Seq.fill(2)("a") ++ Seq.fill(6)("b") ++ Seq.fill(2)("d")).toDF("v")
    val r = FeatureStats.categoricalDrift(base, cur, "v").head()
    r.getAs[Long]("n_base") shouldBe 10L
    r.getAs[Long]("n_cur") shouldBe 10L
    r.getAs[Long]("n_values") shouldBe 4L // union {a,b,c,d}
    // gaps: a |0.6-0.2|=0.4, b |0.3-0.6|=0.3, c 0.1, d 0.2 -> linf 0.4 at 'a'
    r.getAs[Double]("linf") shouldBe 0.4 +- 1e-12
    r.getAs[String]("example_value") shouldBe "a"
    // identical sides: zero drift
    val same = FeatureStats.categoricalDrift(base, base, "v").head()
    same.getAs[Double]("linf") shouldBe 0.0 +- 1e-12
    same.getAs[Double]("psi") shouldBe 0.0 +- 1e-9
  }

  /** Slices A and B shift, C vanishes from the batch, D is unknown to
    * the baseline. */
  private def slicedCategorical = {
    import spark.implicits._
    val base = (
      Seq.fill(6)(("A", "a")) ++ Seq.fill(3)(("A", "b")) ++ Seq(("A", "c")) ++
      Seq.fill(2)(("B", "a")) ++ Seq.fill(8)(("B", "b")) ++
      Seq.fill(4)(("C", "d"))
    ).toDF("s", "v")
    val cur = (
      Seq.fill(2)(("A", "a")) ++ Seq.fill(6)(("A", "b")) ++ Seq.fill(2)(("A", "d")) ++
      Seq.fill(5)(("B", "a")) ++ Seq.fill(5)(("B", "b")) ++
      Seq.fill(3)(("D", "z"))
    ).toDF("s", "v")
    (base, cur)
  }

  test("categoricalDriftSliced: per-slice rows equal categoricalDrift; vanished slice alarms, unknown slice dropped") {
    val (base, cur) = slicedCategorical
    val out = FeatureStats.categoricalDrift(base, cur, "v", slice = Some("s"))
      .collect().map(r => r.getString(1) -> r).toMap
    out.keySet shouldBe Set("A", "B", "C") // D dropped, C kept
    Seq("A", "B").foreach { sl =>
      val single = FeatureStats.categoricalDrift(
        base.filter(base("s") === sl), cur.filter(cur("s") === sl), "v").head()
      val got = out(sl)
      got.getAs[Long]("n_base") shouldBe single.getAs[Long]("n_base")
      got.getAs[Long]("n_cur") shouldBe single.getAs[Long]("n_cur")
      got.getAs[Long]("n_values") shouldBe single.getAs[Long]("n_values")
      got.getAs[Double]("linf") shouldBe single.getAs[Double]("linf") +- 1e-12
      got.getAs[Double]("psi") shouldBe single.getAs[Double]("psi") +- 1e-9
      got.getAs[String]("example_value") shouldBe single.getAs[String]("example_value")
    }
    // vanished slice: empty current side -> q = 0 everywhere, L-inf is
    // the largest baseline share (here 'd' at 1.0)
    out("C").getAs[Long]("n_cur") shouldBe 0L
    out("C").getAs[Double]("linf") shouldBe 1.0 +- 1e-12
    out("C").getAs[String]("example_value") shouldBe "d"
  }

  test("categoricalDriftSliced fails fast on a high-cardinality slice column") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toString, "x")).toDF("s", "v")
    val e = intercept[IllegalArgumentException] {
      FeatureStats.categoricalDrift(df, df, "v", slice = Some("s"), maxSlices = 100)
    }
    e.getMessage should include ("exceeds")
  }

  test("categoricalDriftSliced leaves no persisted/checkpointed blocks behind (monitor-safe)") {
    import spark.implicits._
    // Set difference, not a count: the ContextCleaner may reclaim
    // OTHER tests' stale blocks concurrently; only NEW ids are ours.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val base = Seq(("A", "a"), ("A", "b"), ("B", "a")).toDF("s", "v")
    val cur = Seq(("A", "a"), ("B", "b")).toDF("s", "v")
    FeatureStats.categoricalDrift(base, cur, "v", slice = Some("s")).collect()
    // The window-aggregate reduction consumes the joined frame once,
    // unpersisted — a checkpointed frame would leak one block-manager
    // RDD per call until driver GC, fatal inside a foreachBatch
    // monitor (a block per micro-batch).
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("scoring a drift model of every binning, sliced or not, runs no job and leaves no block") {
    import spark.implicits._
    val base = (1 to 300).map(i => (s"s${i % 3}", (i % 40).toDouble)).toDF("s", "v")
    val cur = (1 to 200).map(i => (s"s${i % 4}", (i % 55).toDouble)).toDF("s", "v")
    val binnings = Seq(Binning.EqualWidth(6), Binning.Quantile(6, exact = true),
      Binning.Quantile(6), Binning.Categorical())
    for (b <- binnings; slice <- Seq(None, Some("s"))) withClue(s"$b / $slice: ") {
      val model = FeatureStats.fitDrift(base, "v", b, slice)
      val (scored, jobs, _) = traced(FeatureStats.scoreDrift(model, cur))
      jobs shouldBe empty // lazy: the batch is read only when consumed
      val before = spark.sparkContext.getPersistentRDDs.keySet
      scored.collect().length shouldBe (if (slice.isEmpty) 1 else 3)
      (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    }
  }

  test("fitCategoricalDrift/scoreCategoricalDrift: row-for-row equal to categoricalDriftSliced; no baseline re-agg artifacts") {
    val (base, cur) = slicedCategorical
    val model = FeatureStats.fitDrift(base, "v", Binning.Categorical(), slice = Some("s"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val scored = FeatureStats.scoreDrift(model, cur)
    val twin = FeatureStats.categoricalDrift(base, cur, "v", slice = Some("s"))
    scored.exceptAll(twin).count() shouldBe 0L
    twin.exceptAll(scored).count() shouldBe 0L
    // monitor contract: scoring leaves no persisted/checkpointed blocks
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    // an empty batch emits one q = 0 absence row per baseline slice
    val silent = FeatureStats.scoreDrift(model, cur.limit(0))
      .collect().map(r => r.getString(1) -> r.getAs[Long]("n_cur")).toMap
    silent.keySet shouldBe Set("A", "B", "C")
    silent.values.toSet shouldBe Set(0L)
    // unsliced: the fitted model scores exactly the two-sided form
    val whole = FeatureStats.fitDrift(base, "v", Binning.Categorical())
    FeatureStats.scoreDrift(whole, cur).collect().toSeq shouldBe
      FeatureStats.categoricalDrift(base, cur, "v").collect().toSeq
  }

  test("fitCategoricalDrift fails fast on high-cardinality slice/value columns") {
    import spark.implicits._
    val wide = (1 to 500).map(i => (i.toString, "x")).toDF("s", "v")
    intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(wide, "v", Binning.Categorical(), slice = Some("s"),
        maxSlices = 100)
    }.getMessage should include ("slices")
    val wideVals = (1 to 500).map(i => ("A", i.toString)).toDF("s", "v")
    intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(wideVals, "v", Binning.Categorical(maxValues = 20),
        slice = Some("s"), maxSlices = 10)
    }.getMessage should include ("pairs")
  }

  test("a categorical fit fails naming the slice that holds more than maxValues values") {
    import spark.implicits._
    // 50 values in one slice: under the total cap (10 slices × 20
    // values), but over the per-slice limit of 20
    val df = ((1 to 50).map(i => ("A", s"v$i")) ++ Seq(("B", "v1"))).toDF("s", "v")
    val e = intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(df, "v", Binning.Categorical(maxValues = 20),
        slice = Some("s"), maxSlices = 10)
    }
    e.getMessage should include ("slice 'A' of 's' has 50 'v' values (max 20)")
    // at the limit the fit is admitted
    FeatureStats.fitDrift(df, "v", Binning.Categorical(maxValues = 50),
      slice = Some("s"), maxSlices = 10).baseCounts.length shouldBe 51
  }

  test("every sliced fit names the feature and slice columns when the slice column is all NULL") {
    import org.apache.spark.sql.{types => T}
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      (1 to 20).map(i => Row(null, i.toDouble)).asJava,
      T.StructType(Seq(T.StructField("s", T.StringType, nullable = true),
        T.StructField("v", T.DoubleType, nullable = true))))
    Seq(Binning.EqualWidth(4), Binning.Quantile(4, exact = true),
      Binning.Quantile(4), Binning.Categorical()).foreach { b =>
      withClue(s"$b: ") {
        intercept[IllegalArgumentException] {
          FeatureStats.fitDrift(df, "v", b, slice = Some("s"))
        }.getMessage should include ("no rows with non-NULL 'v' and 's'")
      }
    }
  }

  test("fitCategoricalDrift: maxPairs bounds the TOTAL model; Long cap math never wraps") {
    import spark.implicits._
    // 30 slices × 20 values = 600 pairs: each axis is under its limit,
    // but the total exceeds maxPairs (default per-axis limits would
    // otherwise admit a 10M-row "broadcast" model).
    val grid = for { s <- 1 to 30; v <- 1 to 20 } yield (s"s$s", s"v$v")
    intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(grid.toDF("s", "v"), "v",
        Binning.Categorical(maxValues = 100, maxPairs = 500),
        slice = Some("s"), maxSlices = 100)
    }.getMessage should include ("pairs")
    // under the total cap the same fit succeeds
    FeatureStats.fitDrift(grid.toDF("s", "v"), "v",
      Binning.Categorical(maxValues = 100, maxPairs = 1000),
      slice = Some("s"), maxSlices = 100)
      .baseCounts.length shouldBe 600
    // Int-wrapping arguments (50000×50000 overflows Int to a negative)
    // hit the explicit Long-math guard, not an opaque limit() failure
    val tiny = Seq(("A", "a")).toDF("s", "v")
    intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(tiny, "v",
        Binning.Categorical(maxValues = 50000, maxPairs = Int.MaxValue),
        slice = Some("s"), maxSlices = 50000)
    }.getMessage should (include ("cap") and include ("Int"))
    intercept[IllegalArgumentException] {
      FeatureStats.fitDrift(
        (1 to 5).map(i => ("A", i.toDouble)).toDF("s", "x"),
        "x", Binning.EqualWidth(1000000), slice = Some("s"), maxSlices = 1000000)
    }.getMessage should (include ("cap") and include ("Int"))
  }

  test("categoricalDriftStream: per-batch rows equal scoreCategoricalDrift; a silent slice keeps alarming") {
    import spark.implicits._
    val base = (1 to 200).map(i =>
      (if (i % 2 == 0) "a" else "b", "v" + (i % 5))).toDF("s", "v")
    val model = FeatureStats.fitDrift(base, "v", Binning.Categorical(), slice = Some("s"))
    val got = streamTwin(model, Seq("s", "v"), Seq(
      Seq(("a", "v1"), ("b", "v2"), ("a", "v3")),
      Seq(("a", "v0"), ("a", "v9")))) // slice 'b' goes silent; v9 is new
    // the silent slice still emits its row, n_cur = 0
    got.last.map(r => r.getString(1) -> r.getAs[Long]("n_cur")).toMap
      .apply("b") shouldBe 0L
  }

  test("validateWithSliced: per-slice rows equal validateWith on each slice's rows; NULL slices excluded") {
    import spark.implicits._
    val baseline = Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("cat", "x")
    val specs = FeatureStats.collectSchema(
      FeatureStats.inferSchema(baseline, Seq("cat", "x"), maxDomain = 8))
    val batch = Seq(
      ("S1", "a", 1.5), ("S1", "z", 9.0),          // z new, 9 out of range
      ("S2", "b", 2.0), ("S2", null, 1.0),          // null cat
      (null, "q", 99.0))                            // NULL slice: excluded
      .toDF("s", "cat", "x")
    val out = FeatureStats.validate(batch, specs, slice = Some("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r).toMap
    out.keys.map(_._1).toSet shouldBe Set("S1", "S2") // NULL slice gone
    Seq("S1", "S2").foreach { sl =>
      val twin = FeatureStats.validate(
        batch.filter(batch("s") === sl).drop("s"), specs)
        .collect().map(r => (sl, r.getString(0), r.getString(1)) -> r).toMap
      twin.foreach { case (k, exp) =>
        out(k).getAs[Long]("n_bad") shouldBe exp.getAs[Long]("n_bad")
        out(k).getAs[String]("example") shouldBe exp.getAs[String]("example")
      }
    }
    out(("S1", "cat", "new_category")).getAs[Long]("n_bad") shouldBe 1L
    out(("S1", "x", "out_of_range")).getAs[Long]("n_bad") shouldBe 1L
    out(("S2", "cat", "unexpected_null")).getAs[Long]("n_bad") shouldBe 1L
  }

  /** Streams `batches` through `validateStream(specs, slice)` and checks
    * each batch's rows against `validate(batch, specs, slice)`. */
  private def validateTwin[T <: Product : org.apache.spark.sql.Encoder](
      specs: Seq[FeatureStats.ColumnSpec], slice: Option[String],
      cols: Seq[String], batches: Seq[Seq[T]]): Seq[Array[Row]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Row])]
    val stream = MemoryStream[T]
    val q = graft.streaming.StreamingOps.validateStream(
      stream.toDF().toDF(cols: _*), specs, slice) { (rows, id) =>
      got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe batches.size
      val streamed = got.sortBy(_._1).map(_._2).toSeq
      streamed.zip(batches).foreach { case (rows, b) =>
        val twin = FeatureStats.validate(b.toDF(cols: _*), specs, slice).collect()
        rows.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      streamed
    } finally q.stop()
  }

  test("validateSlicedStream: per-batch rows equal validateWithSliced; empty batch emits zero rows") {
    import spark.implicits._
    val baseline = Seq(("a", 1.0), ("b", 2.0)).toDF("cat", "x")
    val specs = FeatureStats.collectSchema(
      FeatureStats.inferSchema(baseline, Seq("cat", "x"), maxDomain = 8))
    validateTwin(specs, Some("s"), Seq("s", "cat", "x"), Seq(
      Seq(("S1", "a", 1.5), ("S1", "z", 9.0), ("S2", "b", 2.0)),
      Seq(("S2", "w", 0.5))))
    FeatureStats.validate(Seq.empty[(String, String, Double)].toDF("s", "cat", "x"),
      specs, slice = Some("s")).count() shouldBe 0L
  }

  test("validateStream: per-batch anomaly rows equal validateWith on the same batch rows") {
    import spark.implicits._
    val specs = FeatureStats.collectSchema(FeatureStats.inferSchema(
      schemaFixture.filter("cat IS NOT NULL"), Seq("cat", "x"), maxDomain = 8))
    val got = validateTwin(specs, None, Seq("cat", "x"), Seq(
      Seq(("a", 25.0), ("zz", 5.0)),   // new category + below range
      Seq(("b", 100.0), ("c", 30.0)))) // above range
    // the planted anomalies actually fired
    val all = got.flatten.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    all should contain(("cat", "new_category", 1L))
    all should contain(("x", "out_of_range", 1L))
  }

  test("DriftModel is the only drift model type and driftStream the only drift monitor") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val walk = Files.walk(main)
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    withClue(s"main sources not found at $main: ") { sources should not be empty }
    val modelType = """\b(?:class|trait|object|type)\s+(\w*DriftModel)\b""".r
    val models = sources.flatMap(f =>
      modelType.findAllMatchIn(Files.readString(f)).map(m =>
        s"${main.relativize(f)}:${m.group(1)}"))
    models shouldBe Seq("graft/ops/FeatureStats.scala:DriftModel")
    val ops = Files.readString(main.resolve("graft/streaming/StreamingOps.scala"))
    val monitors = """def\s+(\w+)""".r.findAllMatchIn(ops).map(_.group(1))
      .filter(_.toLowerCase.contains("drift")).toSeq
    monitors shouldBe Seq("driftStream")
    """def\s+(\w+)""".r.findAllMatchIn(ops).map(_.group(1))
      .filter(_.toLowerCase.contains("validat")).toSeq shouldBe Seq("validateStream")
  }

  /** The nine drift/validate queries' rows at sf0.001, as computed by
    * the per-binning implementations the drift core replaced: one
    * "|"-joined string per row, sorted, doubles written as
    * `d<doubleToLongBits>` so every bit is compared (the oracle gate
    * rounds to 6 dp). */
  private val pinnedRows: Map[String, (String, Seq[String])] = Map(
    "stats_validate_schema" -> ("feature,anomaly,n_bad,example", Seq(
      "o_orderpriority|new_category|294|5-LOW",
      "o_orderpriority|unexpected_null|0|null",
      "o_orderstatus|new_category|0|null",
      "o_orderstatus|unexpected_null|137|null",
      "o_totalprice|out_of_range|900|201251.86",
      "o_totalprice|unexpected_null|0|null")),
    "stats_validate_sliced" -> ("slice,feature,anomaly,n_bad,example", Seq(
      "F|o_orderpriority|new_category|100|5-LOW",
      "F|o_orderpriority|unexpected_null|35|null",
      "F|o_totalprice|out_of_range|290|201783.07",
      "F|o_totalprice|unexpected_null|0|null",
      "O|o_orderpriority|new_category|94|5-LOW",
      "O|o_orderpriority|unexpected_null|40|null",
      "O|o_totalprice|out_of_range|306|201251.86",
      "O|o_totalprice|unexpected_null|0|null",
      "P|o_orderpriority|new_category|80|5-LOW",
      "P|o_orderpriority|unexpected_null|41|null",
      "P|o_totalprice|out_of_range|304|201903.9",
      "P|o_totalprice|unexpected_null|0|null")),
    "stats_drift_psi" -> ("feature,n_base,n_cur,bin_min,bin_max,psi,js_div", Seq(
      "l_extendedprice|1766|4234|d4651254715122209260|d4681946805681489183|d4577145583695413888|d4563628791350860701")),
    "stats_drift_serve" -> ("feature,n_base,n_cur,bin_min,bin_max,psi,js_div", Seq(
      "l_extendedprice|1766|4234|d4651254715122209260|d4681946805681489183|d4577145583695413888|d4563628791350860701")),
    "stats_drift_quantile" -> ("feature,n_base,n_cur,bin_min,bin_max,psi,js_div", Seq(
      "l_extendedprice|1766|4234|d4666842788337329111|d4681258563629303726|d4576578482359884863|d4563062669998610592")),
    "stats_drift_sliced" -> ("feature,slice,n_base,n_cur,psi,js_div", Seq(
      "l_extendedprice|A|566|1396|d4581396195451185495|d4567877922755420393",
      "l_extendedprice|N|631|1439|d4581871231969346397|d4568342171963523441",
      "l_extendedprice|R|569|1399|d4581897388011291036|d4568372143310957201")),
    "stats_drift_sliced_quantile" -> ("feature,slice,n_base,n_cur,psi,js_div", Seq(
      "l_extendedprice|A|566|1396|d4582763617137033317|d4569240795877702165",
      "l_extendedprice|N|631|1439|d4582002419160360720|d4568477259776218225",
      "l_extendedprice|R|569|1399|d4582105419438200039|d4568580810574075994")),
    "stats_drift_categorical_sliced" -> ("feature,slice,n_base,n_cur,n_values,linf,psi,example_value", Seq(
      "o_orderpriority|F|139|354|5|d4589143491479005624|d4586991360406530670|2-HIGH",
      "o_orderpriority|O|166|348|5|d4589983171199408606|d4586439425465164372|4-NOT SPECIFIED",
      "o_orderpriority|P|155|338|5|d4590157797845594478|d4587991537249714867|2-HIGH")),
    "stats_drift_categorical" -> ("feature,n_base,n_cur,n_values,linf,psi,example_value", Seq(
      "o_orderpriority|460|1040|5|d4596792509024230892|d4597546117441907757|1-URGENT")))

  test("the nine stats_drift/stats_validate queries reproduce their pinned sf0.001 rows bit for bit") {
    def enc(v: Any): String = v match {
      case null => "null"
      case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
      case x => x.toString
    }
    pinnedRows.toSeq.sortBy(_._1).foreach { case (name, (cols, rows)) =>
      withClue(s"$name: ") {
        val df = graft.SparkEntry.queries(name)(spark, sf("sf0.001"))
        df.columns.mkString(",") shouldBe cols
        df.collect().map(_.toSeq.map(enc).mkString("|")).sorted.toSeq shouldBe rows
      }
    }
  }

  test("quantile profiles: merged shard sketches answer within rank tolerance; sketch survives parquet") {
    import spark.implicits._
    val df = (1 to 4000).map(i => ((i * 2654435761L) % 10007).toDouble).toDF("x")
    val shards = Seq(df.filter($"x" < 5000), df.filter($"x" >= 5000))
      .map(FeatureStats.profileQuantiles(_, Seq("x"), k = 400))
    // Parquet roundtrip: the sketch is persistable binary state.
    val dir = java.nio.file.Files.createTempDirectory("kllprof").toString
    shards.head.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val merged = FeatureStats.mergeQuantileProfiles(Seq(reloaded, shards(1)))
    val probs = Seq(0.1, 0.5, 0.9)
    val est = FeatureStats.estimateQuantiles(merged, probs).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    est.size shouldBe 3
    val xs = df.collect().map(_.getDouble(0)).sorted
    probs.foreach { p =>
      val realizedRank = xs.count(_ <= est(p)).toDouble / xs.length
      realizedRank shouldBe p +- 0.03 // KLL k=400 rank error << 3%
    }
  }

  // ---- count-min frequency sketch ----

  test("cmsEstimate never underestimates; wide sketch is exact") {
    import spark.implicits._
    val vals = (1 to 300).flatMap(i => Seq.fill(i % 7 + 1)(s"tok$i"))
    val df = vals.toDF("v")
    val exact = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val queries = exact.keys.toSeq.toDF("v2")
    // width 1 << collisions: every estimate equals the grand total
    val tiny = FeatureStats.cmsEstimate(
      FeatureStats.cmsProfile(df, "v", width = 1, depth = 2), queries, "v2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    tiny.values.toSet shouldBe Set(vals.size.toLong)
    // generous width: no collisions expected at 300 keys / 2^16 cells
    val wide = FeatureStats.cmsEstimate(
      FeatureStats.cmsProfile(df, "v", width = 1 << 16, depth = 4),
      queries, "v2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    wide.foreach { case (k, est) =>
      est should be >= exact(k)
    }
    wide shouldBe exact
    // unseen value reads 0
    val none = FeatureStats.cmsEstimate(
      FeatureStats.cmsProfile(df, "v", width = 64, depth = 3),
      Seq("never-seen").toDF("v2"), "v2").head().getLong(1)
    none should be >= 0L // min over cells; may collide but never negative
  }

  test("CMS merge law: shard-then-merge estimates EQUAL one-pass estimates") {
    import spark.implicits._
    val vals = (1 to 500).map(i => s"w${i % 61}")
    val df = vals.toDF("v")
    val queries = vals.distinct.toDF("v2")
    val one = FeatureStats.cmsEstimate(
      FeatureStats.cmsProfile(df, "v", width = 37, depth = 3), queries, "v2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val shards = Seq(
      vals.zipWithIndex.filter(_._2 % 2 == 0).map(_._1),
      vals.zipWithIndex.filter(_._2 % 2 == 1).map(_._1))
      .map(s => FeatureStats.cmsProfile(s.toDF("v"), "v", width = 37, depth = 3))
    // parquet round trip: the sketch is a persistable plain table
    val dir = java.nio.file.Files.createTempDirectory("cmsprof").toString
    shards.head.write.mode("overwrite").parquet(dir)
    val merged = FeatureStats.mergeCmsProfiles(
      Seq(spark.read.parquet(dir), shards(1)))
    val two = FeatureStats.cmsEstimate(merged, queries, "v2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    two shouldBe one // EXACT equality at a deliberately colliding width
  }

  test("cmsProfileOfCounts is cell-identical to cmsProfile over raw rows") {
    import spark.implicits._
    val vals = (1 to 400).map(i => s"w${i % 53}")
    val raw = FeatureStats.cmsProfile(
      vals.toDF("v"), "v", width = 37, depth = 3)
      .collect().map(r => (r.getLong(2), r.getLong(3)) -> r.getLong(4)).toMap
    // pre-aggregated counts, split across duplicate value rows (the
    // per-parity shape cms_heavy_hitters feeds) — the cell sums must
    // not care how the per-value count is sharded
    val counts = vals.groupBy(identity).toSeq.flatMap { case (v, occ) =>
      val n = occ.size.toLong
      if (n > 1) Seq((v, 1L), (v, n - 1)) else Seq((v, n))
    }.toDF("v", "c")
    val ofCounts = FeatureStats.cmsProfileOfCounts(
      counts, "v", "c", width = 37, depth = 3)
      .collect().map(r => (r.getLong(2), r.getLong(3)) -> r.getLong(4)).toMap
    ofCounts shouldBe raw
  }

  test("cmsEstimate preserves duplicate query rows (one output per input row)") {
    import spark.implicits._
    val prof = FeatureStats.cmsProfile(
      Seq("a", "a", "b").toDF("v"), "v", width = 64, depth = 3)
    // the same token queried twice must come back twice
    val out = FeatureStats.cmsEstimate(
      prof, Seq("a", "a", "b").toDF("v2"), "v2")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    out shouldBe Seq(("a", 2L), ("a", 2L), ("b", 1L))
  }

  test("compactCmsDeltas folds appended deltas, estimates unchanged, crash guard") {
    import spark.implicits._
    val all = (1 to 300).map(i => s"t${i % 17}")
    val dir = java.nio.file.Files.createTempDirectory("cms-deltas").toString + "/cells"
    // simulate the streaming sink: one appended delta per micro-batch
    all.grouped(100).foreach { b =>
      FeatureStats.cmsProfile(b.toDF("v"), "v", width = 29, depth = 3)
        .write.mode("append").parquet(dir)
    }
    val queries = all.distinct.toDF("v2")
    val before = FeatureStats.cmsEstimate(
      spark.read.parquet(dir).groupBy("width", "depth", "d", "b")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt")),
      queries, "v2").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    FeatureStats.compactCmsDeltas(spark, dir)
    val compacted = spark.read.parquet(dir)
    // one row per cell now (deltas folded), same estimates
    compacted.groupBy("d", "b").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
      .count() shouldBe 0L
    val after = FeatureStats.cmsEstimate(compacted, queries, "v2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    after shouldBe before
    // a leftover rename-aside dir blocks the next compaction loudly
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".__graft_old"))
    val e = intercept[IllegalArgumentException] {
      FeatureStats.compactCmsDeltas(spark, dir)
    }
    e.getMessage should include("died mid-swap")
  }

  test("cmsEstimate fails fast on mixed geometry and reserved names") {
    import spark.implicits._
    val df = Seq("a", "b", "a").toDF("v")
    val mixed = FeatureStats.mergeCmsProfiles(Seq(
      FeatureStats.cmsProfile(df, "v", width = 16, depth = 2),
      FeatureStats.cmsProfile(df, "v", width = 32, depth = 2)))
    val e = intercept[IllegalArgumentException] {
      FeatureStats.cmsEstimate(mixed, Seq("a").toDF("v2"), "v2")
    }
    e.getMessage should include("geometries")
    val prof = FeatureStats.cmsProfile(df, "v", width = 16, depth = 2)
    val e2 = intercept[IllegalArgumentException] {
      FeatureStats.cmsEstimate(prof, Seq(("a", 1L)).toDF("v2", "cnt"), "v2")
    }
    e2.getMessage should include("collide")
  }
}
