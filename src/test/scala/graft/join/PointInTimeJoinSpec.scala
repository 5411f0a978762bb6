package graft.join

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{lit, map => mapOf}
import org.apache.spark.sql.types._
import graft.SparkSpec

import PointInTimeJoin.Backward

/** PIT-join edge semantics (SURVEY.md §7.5 item 1): inclusive bounds,
  * TTL expiry, created_ts tie-break, left-join NULLs, duplicate entity
  * rows, multiple views — each checked against hand-computed expectations
  * or the naive in-memory [[AsOfOracle]], for orderable features and for
  * views carrying a MAP feature (which reduce through `max_by`).
  */
class PointInTimeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // entity spine: (id, key, ts)
  private lazy val entity = Seq(
    (1L, 10L, ts("2024-01-10 00:00:00")),
    (2L, 10L, ts("2024-01-01 00:00:00")), // exact-match boundary
    (3L, 20L, ts("2024-01-10 00:00:00")), // no features for key 20 in window
    (4L, 30L, ts("2024-01-10 00:00:00")), // key absent entirely
    (5L, 10L, ts("2024-01-10 00:00:00"))  // duplicate of row 1's (key, ts)
  ).toDF("eid", "key", "event_ts")

  // features: (key, fts, created, val)
  private lazy val feats = Seq(
    (10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), "a"),
    (10L, ts("2024-01-05 00:00:00"), ts("2024-01-05 01:00:00"), "b"),
    (10L, ts("2024-01-05 00:00:00"), ts("2024-01-05 02:00:00"), "b2"), // created tie-break
    (10L, ts("2024-01-11 00:00:00"), ts("2024-01-11 01:00:00"), "future"), // > entity ts
    (20L, ts("2023-10-01 00:00:00"), ts("2023-10-01 01:00:00"), "stale")   // outside 30d ttl
  ).toDF("key", "fts", "created", "val")

  private def view(ttl: Option[Long]) = ResolvedView(
    name = "v", source = feats, joinKeys = Seq("key" -> "key"),
    tsCol = "fts", createdTs = Some("created"), features = Seq("val"),
    ttlSeconds = ttl)

  /** [[view]] plus a MAP feature `m` = {"k" -> val}: not orderable, so
    * the view reduces through `max_by` instead of `max(struct)`. */
  private def mapView(ttl: Option[Long]) = view(ttl).copy(
    source = feats.withColumn("m", mapOf(lit("k"), $"val")),
    features = Seq("val", "m"))

  // The two reductions, under their historical test names: orderable
  // features (max over the packed struct) and a view whose MAP feature
  // selects the max_by reduction from its schema.
  for ((label, withMap) <- Seq("MaxByAgg" -> false, "WindowRowNumber" -> true)) {
    def v(ttl: Option[Long]) = if (withMap) mapView(ttl) else view(ttl)
    def vals(out: org.apache.spark.sql.DataFrame) = {
      if (withMap) out.collect().foreach { r =>
        val m = r.getAs[scala.collection.Map[String, String]]("m")
        assert(m == (if (r.isNullAt(r.fieldIndex("val"))) null else Map("k" -> r.getAs[String]("val"))))
      }
      out.select("eid", "val").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }

    test(s"asof semantics with ttl, $label") {
      val out = PointInTimeJoin.join(
        entity, "event_ts", Seq(v(Some(30L * 86400))), rowIdCol = Some("eid"))
      val got = vals(out)
      assert(got(1L) == "b2")   // latest <= ts, created tie-break picks b2
      assert(got(2L) == "a")    // boundary: fts == entity ts is admitted
      assert(got(3L) == null)   // stale feature outside ttl → NULL
      assert(got(4L) == null)   // key never present → NULL
      assert(got(5L) == "b2")   // duplicate entity row gets its own answer
      assert(out.count() == 5)  // left join keeps every spine row exactly once
    }

    test(s"unbounded ttl admits old rows, $label") {
      val out = PointInTimeJoin.join(
        entity, "event_ts", Seq(v(None)), rowIdCol = Some("eid"))
      assert(vals(out)(3L) == "stale") // no ttl → the old row matches
    }
  }

  test("ttl boundary is inclusive at ts - ttl") {
    val e = Seq((1L, 10L, ts("2024-01-31 00:00:00"))).toDF("eid", "key", "event_ts")
    val f = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"), "edge"),       // exactly ts - 30d
      (10L, ts("2023-12-31 23:59:59"), ts("2023-12-31 23:59:59"), "tooOld"))
      .toDF("key", "fts", "created", "val")
    val v = ResolvedView("v", f, Seq("key" -> "key"), "fts", Some("created"),
      Seq("val"), Some(30L * 86400))
    val got = PointInTimeJoin.join(e, "event_ts", Seq(v), rowIdCol = Some("eid"))
      .select("val").head().getString(0)
    assert(got == "edge")
  }

  test("multiple views stitch independently without fan-out") {
    val v1 = view(Some(30L * 86400))
    val extra = Seq(
      (10L, ts("2024-01-02 00:00:00"), 1.5),
      (10L, ts("2024-01-09 00:00:00"), 2.5),
      (20L, ts("2024-01-09 00:00:00"), 9.9)
    ).toDF("key", "fts2", "score")
    val v2 = ResolvedView("v2", extra, Seq("key" -> "key"), "fts2",
      None, Seq("score"), None, outputPrefix = Some("v2"))
    val out = PointInTimeJoin.join(entity, "event_ts", Seq(v1, v2), rowIdCol = Some("eid"))
    assert(out.count() == 5)
    val r1 = out.filter($"eid" === 1L).head()
    assert(r1.getAs[String]("val") == "b2")
    assert(r1.getAs[Double]("v2__score") == 2.5)
    val r3 = out.filter($"eid" === 3L).head()
    assert(r3.getAs[String]("val") == null)    // v1 stale for key 20
    assert(r3.getAs[Double]("v2__score") == 9.9) // but v2 matches
  }

  test("lineitem multiview plan: views broadcast, TTL pushed to scan, spine scanned once") {
    val df = graft.SparkEntry.queries("pit_lineitem_multiview_ttl")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan.take(4000)) {
      // both pruned views join by broadcast — no shuffle of the spine
      // per view beyond the row-id agg
      assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 2)
      // TTL + as-of bounds reach the orders parquet scan as row-group filters
      assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThanOrEqual(o_orderdate"))
      // the synthetic-id spine is materialized once: consumers read the
      // checkpointed RDD instead of re-running scan+distinct per view
      assert(!plan.contains("lineitem.parquet"))
      assert(plan.contains("ExistingRDD"))
      // row-id exchanges only: stitch base + one per view
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size <= 3)
    }
    assert(df.count() > 0)
  }

  test("many-view stitch stays linear: no cross-view fan-out, bounded exchanges") {
    // The 8-view canary (6 time-varying order views + 2 static
    // customer views): views group by source, so the plan holds one
    // candidate join, one aggregation and one row-id stitch per
    // SOURCE — two of each here, at any view count — and zero
    // nested-loop/cartesian joins anywhere.
    val df = graft.SparkEntry.queries("pit_manyviews")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    val stitchJoins =
      "SortMergeJoin \\[__graft_row_id".r.findAllMatchIn(plan).size +
        "BroadcastHashJoin \\[__graft_row_id".r.findAllMatchIn(plan).size
    withClue(s"hashExchanges=$hashEx stitchJoins=$stitchJoins\n" + plan.take(4000)) {
      // one agg shuffle per source + the spine shuffle, with room for
      // AQE variance; independent of the view count
      assert(hashEx <= 5)
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
      // exactly one stitch join per source
      assert(stitchJoins == 2)
      // per-source candidate generation broadcasts the pruned side
      assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 2)
    }
    val n = df.count()
    assert(n > 0)
    // left-join semantics: spine cardinality preserved exactly
    assert(n ==
      graft.sources.ParquetTables.load(spark, sf() + "/events.parquet").count())
  }

  test("natural-key spine skips the materialization the synthetic-id path needs") {
    // With rowIdCol the spine feeds every consumer as a plain scan; the
    // synthetic-id path must localCheckpoint (ExistingRDD in the plan)
    // so monotonically_increasing_id comes out identical in all
    // consumers. Same output either way — the delta is one spine
    // materialization write + read per job, which at 100 TB is the
    // argument for having a natural unique key (SCALE.md).
    val natural = graft.SparkEntry.queries("pit_manyviews")(spark, sf())
    val synth = graft.SparkEntry.queries("pit_manyviews_synth")(spark, sf())
    val pNat = natural.queryExecution.executedPlan.toString
    val pSyn = synth.queryExecution.executedPlan.toString
    withClue(pNat.take(2000)) {
      // natural path: no checkpointed-RDD scan, events parquet read directly
      assert(!pNat.contains("ExistingRDD"))
      assert(pNat.contains("events.parquet"))
    }
    withClue(pSyn.take(2000)) {
      // synthetic path: every spine consumer reads the checkpointed RDD
      assert(pSyn.contains("ExistingRDD"))
      assert(!pSyn.contains("events.parquet"))
    }
    // both stay linear: one stitch join per source, no fan-out
    Seq(pNat, pSyn).foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    }
    // identical results row-for-row (the twin shares the oracle too)
    assert(natural.exceptAll(synth).isEmpty && synth.exceptAll(natural).isEmpty)
  }

  test("scratch-parquet spine: identical results, spine read from scratch, one write-out") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spine-spec").toString
    val viaCheckpoint = PointInTimeJoin.join(
      entity, "event_ts", Seq(view(Some(30L * 86400))))
    val viaScratch = PointInTimeJoin.join(
      entity, "event_ts", Seq(view(Some(30L * 86400))),
      spineScratchDir = Some(dir))
    // identical rows (synthetic ids are internal either way)
    assert(viaScratch.exceptAll(viaCheckpoint).isEmpty &&
      viaCheckpoint.exceptAll(viaScratch).isEmpty)
    // the spine was written once under the scratch dir and every
    // consumer scans it back as parquet (no checkpointed-RDD scan).
    // It must SURVIVE for the JVM's lifetime (consumers are lazy
    // scans) — cleanup is registered for JVM exit via Hadoop
    // FileSystem.deleteOnExit, which a running spec cannot observe.
    val spines = new java.io.File(dir).listFiles()
    assert(spines != null && spines.count(_.getName.startsWith("graft-spine-")) == 1)
    val p = viaScratch.queryExecution.executedPlan.toString
    withClue(p.take(2000)) {
      assert(p.contains("graft-spine-"))
      assert(!p.contains("ExistingRDD"))
    }
    // ignored when a natural key is present: nothing new written
    PointInTimeJoin.join(entity, "event_ts", Seq(view(None)),
      rowIdCol = Some("eid"), spineScratchDir = Some(dir)).count()
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("graft-spine-")) == 1)
  }

  test("empty entity spine yields empty result with full schema") {
    val out = PointInTimeJoin.join(
      entity.filter($"eid" < 0), "event_ts", Seq(view(None)), rowIdCol = Some("eid"))
    assert(out.columns.contains("val"))
    assert(out.count() == 0)
  }

  test("spine rows without an entity timestamp keep every row with typed NULL features") {
    val noTs = entity.withColumn("event_ts", lit(null).cast(TimestampType))
    val out = PointInTimeJoin.join(
      noTs, "event_ts", Seq(view(None)), rowIdCol = Some("eid"))
    assert(out.columns.toSeq == Seq("eid", "key", "event_ts", "val"))
    assert(out.schema("val").dataType == StringType)
    assert(out.count() == 5 && out.filter($"val".isNotNull).isEmpty)
  }

  /** Random entity spine and feature rows over 8 keys in January 2024:
    * `(eid, key, event_ts)` and `(key, fts, created, val)`. Created
    * timestamps repeat, so (fts, created) ties occur within a key. */
  private def randomData(seed: Int, nEntity: Int, nFeat: Int) = {
    val rng = new scala.util.Random(seed)
    val e = (1 to nEntity).map { i =>
      (i.toLong, rng.nextInt(8).toLong,
        ts(f"2024-01-${1 + rng.nextInt(28)}%02d ${rng.nextInt(24)}%02d:00:00"))
    }
    val f = (1 to nFeat).map { i =>
      (rng.nextInt(8).toLong,
        ts(f"2024-01-${1 + rng.nextInt(28)}%02d ${rng.nextInt(24)}%02d:00:00"),
        ts(f"2024-01-01 00:${i % 60}%02d:00"), i.toLong)
    }
    (e.toDF("eid", "key", "event_ts"), f.toDF("key", "fts", "created", "val"))
  }

  test("property: both strategies agree with a naive oracle on random data") {
    val (eDf, fDf) = randomData(42, 200, 300)
    val v = ResolvedView("v", fDf, Seq("key" -> "key"), "fts", Some("created"),
      Seq("val"), Some(7L * 86400))
    // orderable: (fts, created, val) decides every pick exactly
    AsOfOracle.check(PointInTimeJoin.join(eDf, "event_ts", Seq(v), rowIdCol = Some("eid")),
      eDf, "eid", "event_ts", Seq(v), Backward)
    // with a MAP feature the view reduces through max_by: ties on
    // (fts, created) may pick any tied row, which the oracle admits
    val withMap = v.copy(source = fDf.withColumn("m", mapOf(lit("k"), $"val")),
      features = Seq("val", "m"))
    AsOfOracle.check(PointInTimeJoin.join(eDf, "event_ts", Seq(withMap), rowIdCol = Some("eid")),
      eDf, "eid", "event_ts", Seq(withMap), Backward)
  }

  test("joinFused: handcrafted semantics identical to the unfused reference") {
    val v1 = view(Some(30L * 86400))
    val extra = Seq(
      (10L, ts("2024-01-02 00:00:00"), 1.5),
      (10L, ts("2024-01-09 00:00:00"), 2.5),
      (20L, ts("2024-01-09 00:00:00"), 9.9)
    ).toDF("key", "fts2", "score")
    val v2 = ResolvedView("v2", extra, Seq("key" -> "key"), "fts2",
      None, Seq("score"), None, outputPrefix = Some("v2"))
    val out = PointInTimeJoin.join(
      entity, "event_ts", Seq(v1, v2), rowIdCol = Some("eid"))
    assert(out.columns.toSeq == Seq("eid", "key", "event_ts", "val", "v2__score"))
    // hand-computed: ttl NULL, created tie-break, per-view independence
    val want = Set[(Long, String, Option[Double])](
      (1L, "b2", Some(2.5)), (2L, "a", None), (3L, null, Some(9.9)),
      (4L, null, None), (5L, "b2", Some(2.5)))
    val got = out.collect().map(r => (r.getAs[Long]("eid"), r.getAs[String]("val"),
      Option(r.get(r.fieldIndex("v2__score"))).map(_.asInstanceOf[Double]))).toSet
    assert(got == want)
    assert(out.count() == 5)
    AsOfOracle.check(out, entity, "eid", "event_ts", Seq(v1, v2), Backward)
  }

  test("joinFused: empty spine yields empty result with the full fused schema") {
    val m = mapView(None).copy(name = "vm", outputPrefix = Some("vm"))
    val out = PointInTimeJoin.join(
      entity.filter($"eid" < 0), "event_ts", Seq(view(None), m), rowIdCol = Some("eid"))
    assert(out.schema.map(f => f.name -> f.dataType) == entity.schema.map(f => f.name -> f.dataType) ++
      Seq("val" -> StringType, "vm__val" -> StringType,
        "vm__m" -> m.source.schema("m").dataType))
    assert(out.count() == 0)
  }

  test("joinFused: random-data parity with the unfused reference across mixed views") {
    val (eDf, fDf) = randomData(7, 300, 400)
    // mixed shapes over one source: ttl'd + unbounded + no created-ts +
    // per-view predicates (so candidate joins share a scan) + a
    // pre-filtered source that forms its own group
    val views = Seq(
      ResolvedView("a", fDf, Seq("key" -> "key"), "fts", Some("created"),
        Seq("val"), Some(7L * 86400), outputPrefix = Some("a")),
      ResolvedView("b", fDf, Seq("key" -> "key"), "fts", None,
        Seq("val"), None, outputPrefix = Some("b")),
      ResolvedView("c", fDf.filter($"val" % 2 === 0), Seq("key" -> "key"),
        "fts", Some("created"), Seq("val"), Some(86400L),
        outputPrefix = Some("c")),
      ResolvedView("d", fDf, Seq("key" -> "key"), "fts", Some("created"),
        Seq("val", "created"), Some(3L * 86400), outputPrefix = Some("d"),
        predicate = Some($"val" % 3 === 0)),
      ResolvedView("e", fDf, Seq("key" -> "key"), "fts", None,
        Seq("val"), Some(2L * 86400), outputPrefix = Some("e"),
        predicate = Some($"val" > 200)))
    val out = PointInTimeJoin.join(eDf, "event_ts", views, rowIdCol = Some("eid"))
    assert(out.columns.toSeq == Seq("eid", "key", "event_ts", "a__val", "b__val",
      "c__val", "d__val", "d__created", "e__val"))
    AsOfOracle.check(out, eDf, "eid", "event_ts", views, Backward)
  }

  test("joinFused groups on the CANONICAL source plan: re-loads of one table fuse, different join keys do not") {
    val dir = sf()
    val entity = graft.sources.ParquetTables.load(spark, dir + "/events.parquet")
      .select($"event_id", $"user_id", $"ts")
    def ordersLoad() = graft.sources.ParquetTables.load(spark, dir + "/orders.parquet")
    // v1 and v2: SEPARATE load() calls of the same path, same keys/ts
    // — must share a scan (reference equality would miss this); v3:
    // same table but joined on a different entity column — must not.
    val v1 = ResolvedView("a", ordersLoad(), Seq("user_id" -> "o_custkey"),
      "o_orderdate", features = Seq("o_totalprice"), outputPrefix = Some("a"))
    val v2 = ResolvedView("b", ordersLoad(), Seq("user_id" -> "o_custkey"),
      "o_orderdate", features = Seq("o_orderstatus"), outputPrefix = Some("b"),
      predicate = Some($"o_orderstatus" =!= "X"))
    val v3 = ResolvedView("c", ordersLoad(), Seq("event_id" -> "o_orderkey"),
      "o_orderdate", features = Seq("o_totalprice"), outputPrefix = Some("c"))
    val df = PointInTimeJoin.join(
      entity, "ts", Seq(v1, v2, v3), rowIdCol = Some("event_id"))
    val plan = df.queryExecution.executedPlan.toString
    val ordersScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet"))
    withClue(plan.take(3000)) {
      assert(ordersScans == 2) // {v1,v2} share one scan; v3 separate
    }
    AsOfOracle.check(df, entity, "event_id", "ts", Seq(v1, v2, v3), Backward)
  }

  test("a MAP feature in a shared-source group reduces through max_by beside max(struct) members") {
    val dir = sf()
    val entity = graft.sources.ParquetTables.load(spark, dir + "/events.parquet")
      .select($"event_id", $"user_id", $"ts")
    val orders = graft.sources.ParquetTables.load(spark, dir + "/orders.parquet")
      .withColumn("m", mapOf(lit("price"), $"o_totalprice", lit("key"), $"o_orderkey".cast("double")))
    val views = Seq(
      ResolvedView("a", orders, Seq("user_id" -> "o_custkey"), "o_orderdate",
        features = Seq("o_totalprice"), ttlSeconds = Some(180L * 86400),
        outputPrefix = Some("a")),
      ResolvedView("b", orders, Seq("user_id" -> "o_custkey"), "o_orderdate",
        features = Seq("m", "o_orderkey"), outputPrefix = Some("b"),
        predicate = Some($"o_orderstatus" === "O")))
    val df = PointInTimeJoin.join(entity, "ts", views, rowIdCol = Some("event_id"))
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan.take(3000)) {
      assert(plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("orders.parquet")) == 1)
      assert(plan.contains("max_by"))
    }
    AsOfOracle.check(df, entity, "event_id", "ts", views, Backward)
    // the map and the scalar come from the same picked row
    assert(df.filter($"b__m".isNotNull &&
      $"b__m".getItem("key") =!= $"b__o_orderkey".cast("double")).isEmpty)
    assert(df.filter($"b__m".isNotNull).count() > 0)
  }

  test("joinFused 8-view plan: per-SOURCE candidate joins, aggs, and stitches (2 groups, not 8 views)") {
    val fused = graft.SparkEntry.queries("pit_manyviews_fused")(spark, sf())
    val plan = fused.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    val stitchJoins =
      "SortMergeJoin \\[__graft_row_id".r.findAllMatchIn(plan).size +
        "BroadcastHashJoin \\[__graft_row_id".r.findAllMatchIn(plan).size
    // the 8 views span exactly TWO sources (orders, customer): the
    // plan shape is per-source, independent of view count
    withClue(s"hashExchanges=$hashEx stitchJoins=$stitchJoins\n" + plan.take(4000)) {
      // one candidate join + one agg + one stitch per GROUP
      assert(stitchJoins == 2)
      assert(hashEx <= 5)
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
      // per-group candidate joins still broadcast the pruned side
      assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 2)
      // the orders table is scanned ONCE for all six order views
      assert(plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("orders.parquet")) == 1)
    }
    // left-join semantics: spine cardinality preserved exactly (values
    // are pinned by the query's DuckDB oracle)
    assert(fused.count() ==
      graft.sources.ParquetTables.load(spark, sf() + "/events.parquet").count())
  }
}
