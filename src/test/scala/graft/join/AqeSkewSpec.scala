package graft.join

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Substantiates SCALE.md's claim that runtime-detected join skew is
  * handled by AQE skew-split (the salting op covers skew known a
  * priori). All knobs are runtime session confs: lowered thresholds
  * make a local-mode dataset register as skewed, and broadcast is
  * disabled because skew-split only applies to sort-merge joins. The
  * as-of join has no join to split: its hot key is pinned by rows. */
class AqeSkewSpec extends SparkSpec with Matchers {

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")

      // 100k rows on one hot key + a sprinkle of others, joined to a
      // small dim side that can't broadcast (threshold disabled)
      val fact = spark.range(0, 100000)
        .select(when($"id" % 100 === 0, $"id" % 17).otherwise(lit(7L)).as("k"),
          $"id".as("v"))
      val dim = spark.range(0, 20).select($"id".as("k"), ($"id" * 10).as("w"))
      val joined = fact.join(dim, "k")
      // execute THIS DataFrame's QueryExecution (count() would build a
      // separate one and leave joined's plan un-finalized)
      val n = joined.collect().length
      n shouldBe 100000 // hot key 7 matches; every row joins exactly once
      val plan = joined.queryExecution.executedPlan.toString
      withClue(plan.take(3000)) {
        plan should include("isFinalPlan=true")
        plan should include("SortMergeJoin(skew=true)")
        plan should include("skewed")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("PIT join with a hot entity key: every spine row keeps its own as-of answer") {
    import spark.implicits._
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // the skew regime of the sort-merge spec above, at 64 shuffle
      // partitions (more than the cores, so the pass's exchange is
      // AQE's) so the 10% hot key dominates its partition
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.shuffle.partitions", "64")

      // entity spine: 50k events, 10% on hot user 7 — the
      // pit_skew_hotkey query's shape, minus the parquet tables; the
      // timestamps spread over two days so the picks differ per row
      val entity = spark.range(0, 50000).select(
        $"id".as("event_id"),
        when($"id" % 10 === 0, lit(7L)).otherwise($"id" % 997).as("user_id"),
        (to_timestamp(lit("2024-01-01 00:00:00")) + ($"id" % 2880) * expr("INTERVAL 1 MINUTE"))
          .as("ts"))
      // feature side: several rows per user so the hot key amplifies
      val feats = spark.range(0, 5000).select(
        ($"id" % 1000).as("f_user"),
        (to_timestamp(lit("2024-01-01 00:00:00")) + ($"id" * 7 % 2880) * expr("INTERVAL 1 MINUTE"))
          .as("f_ts"),
        ($"id" * 2).as("f_val"))
      val view = ResolvedView(
        name = "v", source = feats,
        joinKeys = Seq("user_id" -> "f_user"), tsCol = "f_ts",
        features = Seq("f_val"))
      val out = PointInTimeJoin.join(entity, "ts", Seq(view))
      // the hot key's 5,000 rows share one partition's window pass and
      // still get their features
      out.filter($"user_id" === 7L && $"f_val".isNotNull).count() should be > 0L
      AsOfOracle.check(out, entity, "ts", Seq(view))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
