package graft.join

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

case class AsOfEntity(eid: Long, key: Long, ets: Timestamp)
case class AsOfFeat(key: Long, fts: Timestamp, v: Double)

class DirectionalAsOfSpec extends SparkSpec with Matchers {

  private def t(s: String) = Timestamp.valueOf(s)

  private def entities = {
    import spark.implicits._
    Seq(
      AsOfEntity(1, 1, t("2024-01-01 10:00:00")),
      AsOfEntity(2, 1, t("2024-01-01 12:00:00")),
      AsOfEntity(3, 2, t("2024-01-01 10:00:00")),
      AsOfEntity(4, 3, t("2024-01-01 10:00:00"))).toDF()
  }

  private def feats = {
    import spark.implicits._
    Seq(
      AsOfFeat(1, t("2024-01-01 10:30:00"), 1.0),
      AsOfFeat(1, t("2024-01-01 11:00:00"), 2.0),
      AsOfFeat(1, t("2024-01-01 09:00:00"), 3.0),
      AsOfFeat(2, t("2024-01-02 10:00:00"), 4.0), // 24h after entity 3
      AsOfFeat(2, t("2023-12-31 10:00:00"), 5.0)) // 24h before entity 3
      .toDF().withColumnRenamed("key", "fkey")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Option[Timestamp], Option[Double])] =
    df.collect().map { r =>
      r.getAs[Long]("eid") ->
        (Option(r.getAs[Timestamp]("fts")), Option(r.get(r.fieldIndex("v"))).map(_.asInstanceOf[Double]))
    }.toMap

  test("forward: earliest at-or-after within horizon; no match -> NULL") {
    val out = DirectionalAsOf.forward(
      entities, "ets", feats, "fts",
      joinKeys = Seq("key" -> "fkey"), features = Seq("v"),
      horizonSeconds = 3600, rowIdCol = "eid", keepViewTs = true)
    out.count() shouldBe 4 // left semantics: every entity survives
    val m = rows(out)
    m(1) shouldBe (Some(t("2024-01-01 10:30:00")), Some(1.0)) // not the 09:00 (past) or 11:00 (later)
    m(2) shouldBe (None, None) // nothing within [12:00, 13:00]
    m(3) shouldBe (None, None) // key 2 features are +/-24h away
    m(4) shouldBe (None, None) // key 3 has no features at all
  }

  test("forward: horizon admits exactly the boundary timestamp") {
    val out = DirectionalAsOf.forward(
      entities.filter(col("eid") === 3), "ets", feats, "fts",
      joinKeys = Seq("key" -> "fkey"), features = Seq("v"),
      horizonSeconds = 24 * 3600, rowIdCol = "eid", keepViewTs = true)
    rows(out)(3) shouldBe (Some(t("2024-01-02 10:00:00")), Some(4.0))
  }

  test("nearest: closest wins; equidistant tie prefers the earlier row") {
    val out = DirectionalAsOf.nearest(
      entities, "ets", feats, "fts",
      joinKeys = Seq("key" -> "fkey"), features = Seq("v"),
      toleranceSeconds = 2 * 3600, rowIdCol = "eid", keepViewTs = true)
    val m = rows(out)
    m(1) shouldBe (Some(t("2024-01-01 10:30:00")), Some(1.0)) // 30m beats 60m both sides
    m(2) shouldBe (Some(t("2024-01-01 11:00:00")), Some(2.0)) // backward match admitted
    m(3) shouldBe (None, None) // both candidates outside 2h tolerance
    // entity 3 with 24h tolerance: both features exactly 24h away -> earlier wins
    val tied = DirectionalAsOf.nearest(
      entities.filter(col("eid") === 3), "ets", feats, "fts",
      joinKeys = Seq("key" -> "fkey"), features = Seq("v"),
      toleranceSeconds = 24 * 3600, rowIdCol = "eid", keepViewTs = true)
    rows(tied)(3) shouldBe (Some(t("2023-12-31 10:00:00")), Some(5.0))
  }

  test("matches a window-function reference implementation on real data") {
    val e = graft.queries.QueryDef.table(spark, sf(), "events")
    val entity = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val view = e.filter(col("event_type") =!= "purchase")
      .select(col("ts"), col("user_id").as("v_user"),
        col("value").as("next_value"))
    val got = DirectionalAsOf.forward(entity, "p_ts", view, "ts",
      Seq("user_id" -> "v_user"), Seq("next_value"),
      horizonSeconds = 48 * 3600, rowIdCol = "event_id", keepViewTs = true)
    // Reference: plain left range join + row_number window.
    val joined = entity.join(view,
      entity("user_id") === view("v_user") && view("ts") >= entity("p_ts") &&
        view("ts") <= entity("p_ts") + expr("INTERVAL 48 HOURS"), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(col("ts").asc_nulls_first, col("next_value").asc_nulls_first)
    val want = joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("event_id", "user_id", "p_ts", "ts", "next_value")
    got.count() shouldBe want.count()
    got.exceptAll(want).count() shouldBe 0
    want.exceptAll(got).count() shouldBe 0
  }

  /** Shared-source multi-view fixture: three label views over ONE
    * events projection (differing by predicate and horizon) plus one
    * view over a second source — the multi-label shape the fused path
    * exists for. Sources go through parquet so scans are countable in
    * the plan. */
  private def multiViewFixture(): (org.apache.spark.sql.DataFrame, Seq[DirectionalView], String) = {
    val scratch = java.nio.file.Files.createTempDirectory("graft-dasof").toString
    val e = graft.queries.QueryDef.table(spark, sf(), "events")
    e.filter(col("event_type") =!= "purchase")
      .select(col("ts"), col("user_id").as("v_user"),
        col("event_type").as("etype"), col("value").as("next_value"))
      .write.mode("overwrite").parquet(s"$scratch/labels.parquet")
    e.select(col("ts").as("e_ts"), col("user_id").as("o_user"),
        col("value").as("any_value"))
      .write.mode("overwrite").parquet(s"$scratch/other.parquet")
    val labels = spark.read.parquet(s"$scratch/labels.parquet")
    val other = spark.read.parquet(s"$scratch/other.parquet")
    val entity = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val views = Seq(
      DirectionalView("next_view", labels, "ts",
        Seq("user_id" -> "v_user"), Seq("next_value"), 48L * 3600,
        outputPrefix = Some("nv"), predicate = Some(col("etype") === "view")),
      DirectionalView("next_error", labels, "ts",
        Seq("user_id" -> "v_user"), Seq("next_value"), 24L * 3600,
        outputPrefix = Some("ne"), predicate = Some(col("etype") === "error")),
      DirectionalView("next_any", labels, "ts",
        Seq("user_id" -> "v_user"), Seq("next_value", "etype"), 12L * 3600,
        outputPrefix = Some("na")),
      DirectionalView("other_src", other, "e_ts",
        Seq("user_id" -> "o_user"), Seq("any_value"), 6L * 3600,
        outputPrefix = Some("os")))
    (entity, views, scratch)
  }

  /** A [[DirectionalView]] as the oracle's [[ResolvedView]] (window =
    * `ttlSeconds`, the kernel's contract). */
  private def asResolved(v: DirectionalView) = ResolvedView(v.name, v.source,
    v.joinKeys, v.tsCol, features = v.features, ttlSeconds = Some(v.windowSeconds),
    outputPrefix = v.outputPrefix, predicate = v.predicate)

  /** Scan nodes of `name` in the final plan only (AQE appends an
    * Initial Plan section that would double-count). */
  private def scansOf(df: org.apache.spark.sql.DataFrame, name: String): Int = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    name.r.findAllMatchIn(plan).size
  }

  test("forwardMultiFused: row-identical to the unfused fold; one scan per source") {
    val (entity, views, _) = multiViewFixture()
    val out = DirectionalAsOf.forwardMulti(entity, "p_ts", views, "event_id")
    out.columns.toSeq shouldBe Seq("event_id", "user_id", "p_ts", "nv__next_value",
      "ne__next_value", "na__next_value", "na__etype", "os__any_value")
    AsOfOracle.check(out, entity, "event_id", "p_ts", views.map(asResolved),
      PointInTimeJoin.Forward)
    // Plan pin: the shared labels source scans ONCE for its three
    // views; the second source scans once.
    scansOf(out, "labels\\.parquet") shouldBe 1
    scansOf(out, "other\\.parquet") shouldBe 1
  }

  test("nearestMultiFused: row-identical to the unfused fold on mixed tolerances") {
    val (entity, views, _) = multiViewFixture()
    val out = DirectionalAsOf.nearestMulti(entity, "p_ts", views, "event_id")
    AsOfOracle.check(out, entity, "event_id", "p_ts", views.map(asResolved),
      PointInTimeJoin.Nearest)
    scansOf(out, "labels\\.parquet") shouldBe 1
  }

  test("multi-view joins reduce a MAP feature through min_by: picks match the oracle") {
    import spark.implicits._
    val entity = Seq((1L, 1L, t("2024-01-01 10:00:00")), (2L, 1L, t("2024-01-01 12:00:00")),
      (3L, 2L, t("2024-01-01 10:00:00"))).toDF("eid", "key", "ets")
    val src = Seq(
      (1L, t("2024-01-01 11:00:00"), Map("a" -> 1.0), 1.0),
      (1L, t("2024-01-01 10:30:00"), Map("a" -> 2.0), 2.0),
      (1L, t("2024-01-01 12:45:00"), Map("a" -> 3.0), 3.0),
      (2L, t("2024-01-01 09:00:00"), Map("a" -> 4.0), 4.0))
      .toDF("fkey", "fts", "m", "x")
    val views = Seq(
      DirectionalView("mapview", src, "fts", Seq("key" -> "fkey"), Seq("m"), 3600L,
        outputPrefix = Some("mv")),
      DirectionalView("scalar", src, "fts", Seq("key" -> "fkey"), Seq("x"), 7200L,
        outputPrefix = Some("sv")))
    val fwd = DirectionalAsOf.forwardMulti(entity, "ets", views, "eid")
    AsOfOracle.check(fwd, entity, "eid", "ets", views.map(asResolved), PointInTimeJoin.Forward)
    fwd.filter(col("eid") === 1).select("mv__m").head().getMap[String, Double](0) shouldBe
      Map("a" -> 2.0)
    val near = DirectionalAsOf.nearestMulti(entity, "ets", views, "eid")
    AsOfOracle.check(near, entity, "eid", "ets", views.map(asResolved), PointInTimeJoin.Nearest)
  }

  test("empty entity frame keeps the directional output columns, typed, with zero rows") {
    val empty = entities.filter(col("eid") < 0)
    def fwd(e: org.apache.spark.sql.DataFrame) = DirectionalAsOf.forward(
      e, "ets", feats, "fts", Seq("key" -> "fkey"), Seq("v"),
      horizonSeconds = 3600, rowIdCol = "eid", keepViewTs = true)
    def near(e: org.apache.spark.sql.DataFrame) = DirectionalAsOf.nearest(
      e, "ets", feats, "fts", Seq("key" -> "fkey"), Seq("v"),
      toleranceSeconds = 3600, rowIdCol = "eid", keepViewTs = true)
    def multi(e: org.apache.spark.sql.DataFrame) = DirectionalAsOf.forwardMulti(
      e, "ets", Seq(DirectionalView("f", feats, "fts", Seq("key" -> "fkey"),
        Seq("v"), 3600L, outputPrefix = Some("p"))), "eid")
    for ((name, run) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "forward" -> fwd, "nearest" -> near, "forwardMulti" -> multi)) {
      val got = run(empty)
      withClue(name) {
        got.schema.map(f => f.name -> f.dataType) shouldBe
          run(entities).schema.map(f => f.name -> f.dataType)
        got.count() shouldBe 0
      }
    }
    fwd(empty).columns.toSeq shouldBe Seq("eid", "key", "ets", "fts", "v")
  }
}
