package graft.join

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{lit, map => mapOf}
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

import PointInTimeJoin.Backward

/** PIT-join edge semantics (SURVEY.md §7.5 item 1): inclusive bounds,
  * TTL expiry, created_ts tie-break, left-join NULLs, duplicate entity
  * rows, multiple views — each checked against hand-computed expectations
  * or the naive in-memory [[AsOfOracle]], for orderable features and for
  * views carrying a MAP feature (which reduce through `max_by`).
  */
class PointInTimeJoinSpec extends SparkSpec with Matchers {
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

  // The two reductions: orderable features (max over the packed
  // struct) and a view whose MAP feature selects the max_by reduction
  // from its schema.
  for ((label, withMap) <- Seq("orderable features" -> false, "map feature" -> true)) {
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
        entity, "event_ts", Seq(v(Some(30L * 86400))))
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
        entity, "event_ts", Seq(v(None)))
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
    val got = PointInTimeJoin.join(e, "event_ts", Seq(v))
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
    val out = PointInTimeJoin.join(entity, "event_ts", Seq(v1, v2))
    assert(out.count() == 5)
    val r1 = out.filter($"eid" === 1L).head()
    assert(r1.getAs[String]("val") == "b2")
    assert(r1.getAs[Double]("v2__score") == 2.5)
    val r3 = out.filter($"eid" === 3L).head()
    assert(r3.getAs[String]("val") == null)    // v1 stale for key 20
    assert(r3.getAs[Double]("v2__score") == 9.9) // but v2 matches
  }

  /** Window operators in an (unexecuted) plan: one per pass (one pass
    * per distinct entity key), two per nearest pass. */
  private def windows(plan: String) = "Window \\[".r.findAllMatchIn(plan).size

  test("lineitem multiview plan: one window per source, TTL pushed to scan, spine scanned once") {
    val df = graft.SparkEntry.queries("pit_lineitem_multiview_ttl")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan.take(4000)) {
      // two sources keyed on two entity keys (l_orderkey, l_suppkey):
      // they stay unfused, two window passes, no join
      assert(windows(plan) == 2)
      assert(!plan.contains("Join"))
      // TTL + as-of bounds reach the orders parquet scan as row-group filters
      assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThanOrEqual(o_orderdate"))
      // the spine flows through the passes: scanned once, never materialized
      assert(plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("lineitem.parquet")) == 1)
      assert(!plan.contains("ExistingRDD"))
      // one key exchange per pass, plus the spine's distinct
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size <= 3)
    }
    assert(df.count() > 0)
  }

  test("many-view stitch stays linear: no cross-view fan-out, bounded exchanges") {
    // The 8-view canary (6 time-varying order views + 2 static
    // customer views): views group by source, so the plan holds one
    // scan per SOURCE, and both sources key on user_id, so they share
    // ONE window pass, at any view count, with no join of any kind.
    val df = graft.SparkEntry.queries("pit_manyviews")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    withClue(s"hashExchanges=$hashEx windows=${windows(plan)}\n" + plan.take(4000)) {
      // one key exchange per entity key, independent of the view count
      assert(hashEx == 1)
      assert(windows(plan) == 1)
      assert(!plan.contains("Join"))
      assert(!plan.contains("CartesianProduct"))
    }
    val n = df.count()
    assert(n > 0)
    // left-join semantics: spine cardinality preserved exactly
    assert(n ==
      graft.sources.ParquetTables.load(spark, sf() + "/events.parquet").count())
  }

  test("the as-of join persists and writes nothing: join and forwardMulti") {
    val e = graft.queries.QueryDef.table(spark, sf(), "events")
    val fwd = () => DirectionalAsOf.forwardMulti(
      e.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"ts".as("p_ts")),
      "p_ts",
      Seq(DirectionalView("next", e.select($"ts", $"user_id".as("v_user"), $"value"),
        "ts", Seq("user_id" -> "v_user"), Seq("value"), 48L * 3600)))
    val backward = () => PointInTimeJoin.join(entity, "event_ts", Seq(view(Some(30L * 86400))))
    for ((name, run) <- Seq("join" -> backward, "forwardMulti" -> fwd)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (rows, _, stages) = traced(run().collect())
      withClue(name) {
        assert(rows.nonEmpty)
        (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
        stages.values.flatMap(s => Option(s.taskMetrics))
          .map(_.outputMetrics.bytesWritten).sum shouldBe 0L
      }
    }
  }

  test("src/main names no row id, spine checkpoint or scratch-dir option") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    def hits(dir: java.nio.file.Path, words: Seq[String]): Seq[String] = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if words.exists(line.contains) => s"${main.relativize(f)}:${i + 1}"
        }
      } finally walk.close()
    }
    assert(java.nio.file.Files.isDirectory(main.resolve("graft/join")), main)
    hits(main.resolve("graft/join"),
      Seq("localCheckpoint", "monotonically_increasing_id", "__graft_row_id")) shouldBe empty
    hits(main, Seq("rowIdCol", "spineScratchDir", "entityRowId")) shouldBe empty
  }

  test("empty entity spine yields empty result with full schema") {
    val out = PointInTimeJoin.join(
      entity.filter($"eid" < 0), "event_ts", Seq(view(None)))
    assert(out.columns.contains("val"))
    assert(out.count() == 0)
  }

  test("spine rows without an entity timestamp keep every row with typed NULL features") {
    val noTs = entity.withColumn("event_ts", lit(null).cast(TimestampType))
    val out = PointInTimeJoin.join(
      noTs, "event_ts", Seq(view(None)))
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

  test("property: max(struct) and max_by picks agree with a naive oracle on random data") {
    val (eDf, fDf) = randomData(42, 200, 300)
    val v = ResolvedView("v", fDf, Seq("key" -> "key"), "fts", Some("created"),
      Seq("val"), Some(7L * 86400))
    // orderable: (fts, created, val) decides every pick exactly
    AsOfOracle.check(PointInTimeJoin.join(eDf, "event_ts", Seq(v)),
      eDf, "event_ts", Seq(v), Backward)
    // with a MAP feature the view reduces through max_by: ties on
    // (fts, created) may pick any tied row, which the oracle admits
    val withMap = v.copy(source = fDf.withColumn("m", mapOf(lit("k"), $"val")),
      features = Seq("val", "m"))
    AsOfOracle.check(PointInTimeJoin.join(eDf, "event_ts", Seq(withMap)),
      eDf, "event_ts", Seq(withMap), Backward)
  }

  /** [[randomData]] with the window pass's edge cases on top: NULL
    * join keys on both sides, NULL entity and view timestamps, and
    * every fifth spine row repeated whole (its `eid` included). */
  private def edgeData(seed: Int, nEntity: Int, nFeat: Int) = {
    val rng = new scala.util.Random(seed)
    def key() = if (rng.nextInt(10) == 0) None else Some(rng.nextInt(8).toLong)
    def stamp() = if (rng.nextInt(10) == 0) None
      else Some(ts(f"2024-01-${1 + rng.nextInt(28)}%02d ${rng.nextInt(24)}%02d:00:00"))
    val e = (1 to nEntity).map(i => (i.toLong, key(), stamp()))
    val f = (1 to nFeat).map { i =>
      (key(), stamp(), ts(f"2024-01-01 00:${i % 60}%02d:00"), i.toLong)
    }
    ((e ++ e.filter(_._1 % 5 == 0)).toDF("eid", "key", "event_ts"),
      f.toDF("key", "fts", "created", "val"))
  }

  for (dir <- Seq(Backward, PointInTimeJoin.Forward, PointInTimeJoin.Nearest);
       withMap <- Seq(false, true)) {
    test(s"property: NULL keys and timestamps, duplicate rows, Int against Long keys, $dir, " +
        (if (withMap) "map feature" else "orderable features")) {
      val (eDf, fDf) = edgeData(11, 300, 400)
      // forward and nearest need a window; backward also runs unbounded
      val windows = if (dir == Backward) Seq(Some(3L * 86400), None) else Seq(Some(3L * 86400))
      for (ttl <- windows) {
        val base = ResolvedView("v", fDf, Seq("key" -> "key"), "fts",
          if (dir == Backward) Some("created") else None, Seq("val"), ttl)
        val v = if (withMap) base.copy(
          source = fDf.withColumn("m", mapOf(lit("k"), $"val")), features = Seq("val", "m"))
          else base
        withClue(s"ttl=$ttl: ") {
          AsOfOracle.check(PointInTimeJoin.asOf(eDf, "event_ts", Seq(v), dir),
            eDf, "event_ts", Seq(v), dir)
        }
      }
      // An Int spine key meets a Long view key: both widen to Long, as
      // under `===`. Each view row gets a twin 2^32 above its key, which
      // a cast to Int would wrap onto the same entity key.
      val eInt = eDf.withColumn("key", $"key".cast("int"))
      val wide = fDf.unionByName(fDf.select(($"key" + (1L << 32)).as("key"),
        $"fts", $"created", ($"val" + 100000L).as("val")))
      val v = ResolvedView("v", wide, Seq("key" -> "key"), "fts",
        features = Seq("val"), ttlSeconds = Some(3L * 86400))
      val out = PointInTimeJoin.asOf(eInt, "event_ts", Seq(v), dir)
      out.schema("key").dataType shouldBe IntegerType
      AsOfOracle.check(out, eInt, "event_ts", Seq(v), dir)
      out.filter($"val" >= 100000L).count() shouldBe 0L
    }
  }

  test("a repeated natural id is just another spine row: each keeps its own features") {
    // three spine rows share eid 1; before, a caller-supplied row id
    // that repeated crossed their features
    val e = Seq(
      (1L, 10L, ts("2024-01-10 00:00:00")),
      (1L, 20L, ts("2024-01-10 00:00:00")),
      (1L, 10L, ts("2024-01-01 00:00:00")),
      (2L, 10L, ts("2024-01-10 00:00:00"))).toDF("eid", "key", "event_ts")
    val out = PointInTimeJoin.join(e, "event_ts", Seq(view(None)))
    out.collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .toSeq.sortBy(r => (r._1, r._2, r._3.getTime)) shouldBe Seq(
        (1L, 10L, ts("2024-01-01 00:00:00"), "a"),
        (1L, 10L, ts("2024-01-10 00:00:00"), "b2"),
        (1L, 20L, ts("2024-01-10 00:00:00"), "stale"),
        (2L, 10L, ts("2024-01-10 00:00:00"), "b2"))
  }

  for (dir <- Seq(Backward, PointInTimeJoin.Forward, PointInTimeJoin.Nearest)) {
    test(s"output schema: the spine's own fields, then nullable features, on an empty and a non-empty spine, $dir") {
      val m = mapView(Some(30L * 86400)).copy(name = "vm", outputPrefix = Some("vm"))
      val want = StructType(entity.schema.fields ++ Seq(
        StructField("fts", TimestampType, nullable = true),
        StructField("val", StringType, nullable = true),
        StructField("vm__val", StringType, nullable = true),
        StructField("vm__m", m.source.schema("m").dataType, nullable = true)))
      // eid and key are non-nullable Longs: the union must not loosen them
      assert(!entity.schema("eid").nullable && !entity.schema("key").nullable)
      for (spine <- Seq(entity, entity.filter($"eid" < 0))) {
        val out = PointInTimeJoin.asOf(spine, "event_ts",
          Seq(view(Some(30L * 86400)), m), dir, keepViewTs = Some("fts"))
        out.schema shouldBe want
        out.count() shouldBe spine.count()
      }
    }
  }

  test("two views over two sources: hand-computed rows, and the naive oracle agrees") {
    val v1 = view(Some(30L * 86400))
    val extra = Seq(
      (10L, ts("2024-01-02 00:00:00"), 1.5),
      (10L, ts("2024-01-09 00:00:00"), 2.5),
      (20L, ts("2024-01-09 00:00:00"), 9.9)
    ).toDF("key", "fts2", "score")
    val v2 = ResolvedView("v2", extra, Seq("key" -> "key"), "fts2",
      None, Seq("score"), None, outputPrefix = Some("v2"))
    val out = PointInTimeJoin.join(
      entity, "event_ts", Seq(v1, v2))
    assert(out.columns.toSeq == Seq("eid", "key", "event_ts", "val", "v2__score"))
    // hand-computed: ttl NULL, created tie-break, per-view independence
    val want = Set[(Long, String, Option[Double])](
      (1L, "b2", Some(2.5)), (2L, "a", None), (3L, null, Some(9.9)),
      (4L, null, None), (5L, "b2", Some(2.5)))
    val got = out.collect().map(r => (r.getAs[Long]("eid"), r.getAs[String]("val"),
      Option(r.get(r.fieldIndex("v2__score"))).map(_.asInstanceOf[Double]))).toSet
    assert(got == want)
    assert(out.count() == 5)
    AsOfOracle.check(out, entity, "event_ts", Seq(v1, v2), Backward)
  }

  test("empty spine yields an empty result with the full output schema") {
    val m = mapView(None).copy(name = "vm", outputPrefix = Some("vm"))
    val out = PointInTimeJoin.join(
      entity.filter($"eid" < 0), "event_ts", Seq(view(None), m))
    assert(out.schema.map(f => f.name -> f.dataType) == entity.schema.map(f => f.name -> f.dataType) ++
      Seq("val" -> StringType, "vm__val" -> StringType,
        "vm__m" -> m.source.schema("m").dataType))
    assert(out.count() == 0)
  }

  test("mixed views over one source: random-data parity with the naive oracle") {
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
    val out = PointInTimeJoin.join(eDf, "event_ts", views)
    assert(out.columns.toSeq == Seq("eid", "key", "event_ts", "a__val", "b__val",
      "c__val", "d__val", "d__created", "e__val"))
    AsOfOracle.check(out, eDf, "event_ts", views, Backward)
  }

  test("views group on the CANONICAL source plan: re-loads of one table share a scan, other join keys do not") {
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
      entity, "ts", Seq(v1, v2, v3))
    val plan = df.queryExecution.executedPlan.toString
    val ordersScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet"))
    withClue(plan.take(3000)) {
      assert(ordersScans == 2) // {v1,v2} share one scan; v3 separate
    }
    AsOfOracle.check(df, entity, "ts", Seq(v1, v2, v3), Backward)
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
    val df = PointInTimeJoin.join(entity, "ts", views)
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan.take(3000)) {
      assert(plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("orders.parquet")) == 1)
      assert(plan.contains("max_by"))
    }
    AsOfOracle.check(df, entity, "ts", views, Backward)
    // the map and the scalar come from the same picked row
    assert(df.filter($"b__m".isNotNull &&
      $"b__m".getItem("key") =!= $"b__o_orderkey".cast("double")).isEmpty)
    assert(df.filter($"b__m".isNotNull).count() > 0)
  }

  test("8-view plan: one scan per SOURCE, one window pass per entity key (2 groups, 1 pass)") {
    val fused = graft.SparkEntry.queries("pit_manyviews_fused")(spark, sf())
    val plan = fused.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    // the 8 views span exactly TWO sources (orders, customer), both
    // keyed on user_id: two scans, one pass, independent of view count
    withClue(s"hashExchanges=$hashEx windows=${windows(plan)}\n" + plan.take(4000)) {
      assert(windows(plan) == 1)
      assert(hashEx == 1)
      assert(!plan.contains("Join"))
      // the orders table is scanned ONCE for all six order views, its
      // TTL range pushed into the scan
      val ordersScans = plan.linesIterator.filter(l =>
        l.contains("FileScan parquet") && l.contains("orders.parquet")).toSeq
      assert(ordersScans.size == 1)
      assert(ordersScans.head.contains("LessThanOrEqual(o_orderdate"))
    }
    // left-join semantics: spine cardinality preserved exactly (values
    // are pinned by the query's DuckDB oracle)
    assert(fused.count() ==
      graft.sources.ParquetTables.load(spark, sf() + "/events.parquet").count())
  }
  /** Two sources on one entity key, named twice in the spine (`key` and
    * its alias `key2`), over [[edgeData]] (NULL keys and timestamps,
    * duplicate spine rows): `fDf` (Long `val`, `created`) and `b`, its
    * rows re-keyed under another ts column with a String `val` and a
    * MAP `m`. */
  private def fusedData(seed: Int) = {
    val (eDf, fDf) = edgeData(seed, 300, 400)
    val b = fDf.select($"key".as("k2"), $"fts".as("ts2"),
      ($"val" * 7 % 50).cast("string").as("val")).withColumn("m", mapOf(lit("k"), $"val"))
    (eDf.select($"eid", $"key", $"key".as("key2"), $"event_ts"), fDf, b)
  }

  for (dir <- Seq(Backward, PointInTimeJoin.Forward, PointInTimeJoin.Nearest)) {
    test(s"property: two sources on one entity key share one pass: one feature name of two " +
        s"types, created ts and a predicate view in one group, a MAP in the other, $dir") {
      val (eDf, fDf, bDf) = fusedData(23)
      val created = if (dir == Backward) Some("created") else None
      val views = Seq(
        ResolvedView("a", fDf, Seq("key" -> "key"), "fts", created, Seq("val"), Some(3L * 86400)),
        ResolvedView("b", bDf, Seq("key2" -> "k2"), "ts2", None, Seq("val", "m"),
          Some(2L * 86400), outputPrefix = Some("b")),
        ResolvedView("p", fDf, Seq("key" -> "key"), "fts", created, Seq("val"),
          Some(86400L), outputPrefix = Some("p"), predicate = Some($"val" % 3 === 0)))
      // backward through join, the others through their multi-view entry points
      lazy val directional = views.map(v => DirectionalView(v.name, v.source, v.tsCol,
        v.joinKeys, v.features, v.ttlSeconds.get, v.outputPrefix, v.predicate))
      val out = dir match {
        case Backward => PointInTimeJoin.join(eDf, "event_ts", views)
        case PointInTimeJoin.Forward => DirectionalAsOf.forwardMulti(eDf, "event_ts", directional)
        case _ => DirectionalAsOf.nearestMulti(eDf, "event_ts", directional)
      }
      val plan = out.queryExecution.executedPlan.toString
      withClue(plan.take(3000)) {
        windows(plan) shouldBe (if (dir == PointInTimeJoin.Nearest) 2 else 1)
        "Exchange hashpartitioning".r.findAllMatchIn(plan).size shouldBe 1
      }
      out.schema("val").dataType shouldBe LongType
      out.schema("b__val").dataType shouldBe StringType
      AsOfOracle.check(out, eDf, "event_ts", views, dir)
    }
  }

  test("groups on one entity key whose view ts is DATE in one and TIMESTAMP in the other run as 2 passes") {
    val (eDf, fDf, bDf) = fusedData(5)
    val views = Seq(
      ResolvedView("a", fDf, Seq("key" -> "key"), "fts", Some("created"), Seq("val"),
        Some(3L * 86400)),
      ResolvedView("b", bDf.withColumn("ts2", $"ts2".cast(DateType)), Seq("key2" -> "k2"),
        "ts2", None, Seq("val"), Some(3L * 86400), outputPrefix = Some("b")))
    val out = PointInTimeJoin.join(eDf, "event_ts", views)
    val plan = out.queryExecution.executedPlan.toString
    withClue(plan.take(3000)) { windows(plan) shouldBe 2 }
    AsOfOracle.check(out, eDf, "event_ts", views, Backward)
  }

  test("plan receipt: every multi-view pit_* query runs one window pass per entity key") {
    // Window operators of each declared pit_* query with more than one
    // view (one pick per view): the number of distinct entity keys
    val want = Map("pit_multiview" -> 1, "pit_manyviews" -> 1, "pit_manyviews_synth" -> 1,
      "pit_manyviews_fused" -> 1, "pit_forward_multi" -> 1, "pit_forward_multi_fused" -> 1,
      "pit_lineitem_multiview_ttl" -> 2)
    val got = graft.SparkEntry.queries.keys.filter(_.startsWith("pit_")).toSeq.flatMap { q =>
      val plan = graft.SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan.toString
      val views = "__graft_[bf](\\d+)#".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      Option.when(views > 1)(q -> windows(plan))
    }.toMap
    got shouldBe want
  }
}
