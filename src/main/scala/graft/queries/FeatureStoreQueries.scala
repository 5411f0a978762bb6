package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.encode.{TfExample, TfExampleEncoder}
import graft.join.{PointInTimeJoin, ResolvedView}
import graft.registry.YamlRegistry
import graft.run.{JobConfig, Runner}

/** The reference's core capability re-expressed Spark-first: the
  * point-in-time (as-of) join (SURVEY.md §2.3 J1), latest-value dedup
  * (§2.4 A1), and the row→tf.Example→row round trip (§2.11 U1,
  * oracle-checked by projecting decoded payloads back to columns).
  */
object FeatureStoreQueries {
  import QueryDef.table

  /** The CLI fixture registry, inlined so the full registry-driven job
    * path (YAML → resolve → retrieve → encode) is bench- and
    * oracle-tracked at every scale factor, not just the sf0.001 CLI
    * smoke run. */
  private val E2eRegistryYaml =
    """project: graft-bench
      |views:
      |  - name: order_features
      |    source: orders.parquet
      |    entities: [o_custkey]
      |    timestamp: o_orderdate
      |    createdTimestamp: o_orderdate
      |    features: [o_totalprice, o_orderstatus]
      |services:
      |  - name: training_service
      |    features: ["order_features:o_totalprice", "order_features:o_orderstatus"]
      |""".stripMargin

  // Many-view canary input: 8 views on one spine — six time-varying
  // order-derived views (distinct predicates, mixed TTLs) plus two
  // static customer dimension views, all with outputPrefix so the
  // Feast-style `p__feature` naming is oracle-pinned. Shared by the
  // natural-key and synthetic-id variants below.
  private def manyViewsInput(s: SparkSession, dir: String): (DataFrame, Seq[ResolvedView]) = {
    val entity = table(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = table(s, dir, "orders")
    // predicate passed SEPARATELY from the source (same semantics as
    // source.filter(pred)) so the join can recognize the six order
    // views as one source and scan it once — see ResolvedView.predicate.
    def ov(nm: String, pfx: String, pred: Column, ttlDays: Option[Long],
           feats: Seq[String]) = ResolvedView(
      name = nm,
      source = orders,
      joinKeys = Seq("user_id" -> "o_custkey"),
      tsCol = "o_orderdate",
      features = feats,
      ttlSeconds = ttlDays.map(_ * 86400),
      outputPrefix = Some(pfx),
      predicate = Some(pred))
    val customer = table(s, dir, "customer")
      .withColumn("static_ts", lit("1970-01-01 00:00:00").cast("timestamp"))
    def cv(nm: String, pfx: String, feats: Seq[String]) = ResolvedView(
      name = nm, source = customer,
      joinKeys = Seq("user_id" -> "c_custkey"),
      tsCol = "static_ts", features = feats, outputPrefix = Some(pfx))
    val views = Seq(
      ov("ord_all", "a", lit(true), None, Seq("o_totalprice")),
      ov("ord_urgent", "u", col("o_orderpriority") === "1-URGENT",
        Some(180L), Seq("o_totalprice")),
      ov("ord_open", "o", col("o_orderstatus") === "O",
        Some(90L), Seq("o_totalprice", "o_orderpriority")),
      ov("ord_big", "b", col("o_totalprice") > 100000.0,
        Some(365L), Seq("o_totalprice")),
      ov("ord_done", "f", col("o_orderstatus") === "F",
        None, Seq("o_orderpriority")),
      ov("ord_low", "lo", col("o_orderpriority") === "5-LOW",
        Some(120L), Seq("o_totalprice")),
      cv("cust_bal", "c", Seq("c_acctbal")),
      cv("cust_seg", "c2", Seq("c_mktsegment", "c_nationkey")))
    (entity, views)
  }

  private val ManyViewsSql = """
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      va AS (
        SELECT e.event_id, o.o_totalprice AS a__o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_totalprice DESC) AS rn
        FROM e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts),
      vu AS (
        SELECT e.event_id, o.o_totalprice AS u__o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_totalprice DESC) AS rn
        FROM e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderpriority = '1-URGENT'
         AND o.o_orderdate <= e.ts
         AND o.o_orderdate >= e.ts - INTERVAL 180 DAY),
      vo AS (
        SELECT e.event_id, o.o_totalprice AS o__o_totalprice,
               o.o_orderpriority AS o__o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_totalprice DESC,
                          o.o_orderpriority DESC) AS rn
        FROM e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderstatus = 'O'
         AND o.o_orderdate <= e.ts
         AND o.o_orderdate >= e.ts - INTERVAL 90 DAY),
      vb AS (
        SELECT e.event_id, o.o_totalprice AS b__o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_totalprice DESC) AS rn
        FROM e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_totalprice > 100000.0
         AND o.o_orderdate <= e.ts
         AND o.o_orderdate >= e.ts - INTERVAL 365 DAY),
      vf AS (
        SELECT e.event_id, o.o_orderpriority AS f__o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_orderpriority DESC) AS rn
        FROM e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderstatus = 'F'
         AND o.o_orderdate <= e.ts),
      vlo AS (
        SELECT e.event_id, o.o_totalprice AS lo__o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_totalprice DESC) AS rn
        FROM e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderpriority = '5-LOW'
         AND o.o_orderdate <= e.ts
         AND o.o_orderdate >= e.ts - INTERVAL 120 DAY)
      SELECT e.event_id, e.user_id, e.ts,
             va.a__o_totalprice, vu.u__o_totalprice,
             vo.o__o_totalprice, vo.o__o_orderpriority,
             vb.b__o_totalprice, vf.f__o_orderpriority,
             vlo.lo__o_totalprice,
             c.c_acctbal AS c__c_acctbal,
             c2.c_mktsegment AS c2__c_mktsegment,
             c2.c_nationkey AS c2__c_nationkey
      FROM e
      LEFT JOIN (SELECT * FROM va WHERE rn = 1) va ON va.event_id = e.event_id
      LEFT JOIN (SELECT * FROM vu WHERE rn = 1) vu ON vu.event_id = e.event_id
      LEFT JOIN (SELECT * FROM vo WHERE rn = 1) vo ON vo.event_id = e.event_id
      LEFT JOIN (SELECT * FROM vb WHERE rn = 1) vb ON vb.event_id = e.event_id
      LEFT JOIN (SELECT * FROM vf WHERE rn = 1) vf ON vf.event_id = e.event_id
      LEFT JOIN (SELECT * FROM vlo WHERE rn = 1) vlo ON vlo.event_id = e.event_id
      LEFT JOIN customer c ON c.c_custkey = e.user_id
      LEFT JOIN customer c2 ON c2.c_custkey = e.user_id"""

  val all: Seq[QueryDef] = Seq(
    // Entities = events(user_id, ts); features = latest order per customer
    // as of the event time, unbounded TTL. Tie-break mirrors the join's
    // max(struct) order: (o_orderdate, o_totalprice, o_orderstatus).
    QueryDef(
      "pit_events_orders",
      (s, dir) => {
        val entity = table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val view = ResolvedView(
          name = "order_features",
          source = table(s, dir, "orders"),
          joinKeys = Seq("user_id" -> "o_custkey"),
          tsCol = "o_orderdate",
          features = Seq("o_totalprice", "o_orderstatus"))
        PointInTimeJoin.join(entity, "ts", Seq(view))
      },
      Some("""
        WITH c AS (
          SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
                 o.o_totalprice, o.o_orderstatus,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_totalprice DESC, o.o_orderstatus DESC) AS rn
          FROM events e
          LEFT JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
        )
        SELECT event_id, user_id, ts, o_totalprice, o_orderstatus FROM c WHERE rn = 1""")),

    // Adversarial-skew PIT: one synthetic hot entity key carries ~10%
    // of the spine (every 10th event remaps to user 1), concentrating
    // the as-of join's key partitioning on one partition, where the
    // window pass sorts it (AqeSkewSpec pins the rows on a 10%-hot
    // spine; skew known a priori would use SaltedJoin). Values stay
    // exactly oracle-checkable: the remap is deterministic arithmetic
    // both engines compute identically, so this doubles as a
    // bench-weighted canary that the PIT plan survives a hot key
    // without a wrong answer.
    QueryDef(
      "pit_skew_hotkey",
      (s, dir) => {
        val entity = table(s, dir, "events")
          .select(col("event_id"),
            when(pmod(col("event_id"), lit(10)) === 0, lit(1L))
              .otherwise(col("user_id")).as("user_id"),
            col("ts"))
        val view = ResolvedView(
          name = "order_features",
          source = table(s, dir, "orders"),
          joinKeys = Seq("user_id" -> "o_custkey"),
          tsCol = "o_orderdate",
          features = Seq("o_totalprice", "o_orderstatus"))
        PointInTimeJoin.join(entity, "ts", Seq(view))
      },
      Some("""
        WITH e2 AS (
          SELECT event_id,
                 CASE WHEN event_id % 10 = 0 THEN 1 ELSE user_id END AS user_id,
                 CAST(ts AS TIMESTAMP) AS ts
          FROM events),
        c AS (
          SELECT e.event_id, e.user_id, e.ts,
                 o.o_totalprice, o.o_orderstatus,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_totalprice DESC, o.o_orderstatus DESC) AS rn
          FROM e2 e
          LEFT JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        )
        SELECT event_id, user_id, ts, o_totalprice, o_orderstatus FROM c WHERE rn = 1""")),

    // TTL-bounded as-of join: lineitems look up their order's features,
    // admitted only within 60 days before shipment — exercises NULL-out
    // on TTL expiry (P4) at real data scale.
    QueryDef(
      "pit_lineitem_orders_ttl",
      (s, dir) => {
        val entity = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
          .distinct()
        val view = ResolvedView(
          name = "order_features",
          source = table(s, dir, "orders"),
          joinKeys = Seq("l_orderkey" -> "o_orderkey"),
          tsCol = "o_orderdate",
          features = Seq("o_totalprice", "o_orderpriority"),
          ttlSeconds = Some(60L * 86400))
        PointInTimeJoin.join(entity, "l_shipdate", Seq(view))
      },
      Some("""
        WITH e AS (SELECT DISTINCT l_orderkey, l_linenumber, l_shipdate FROM lineitem),
        c AS (
          SELECT e.l_orderkey, e.l_linenumber, e.l_shipdate,
                 o.o_totalprice, o.o_orderpriority,
                 ROW_NUMBER() OVER (PARTITION BY e.l_orderkey, e.l_linenumber, e.l_shipdate
                   ORDER BY o.o_orderdate DESC, o.o_totalprice DESC, o.o_orderpriority DESC) AS rn
          FROM e
          LEFT JOIN orders o
            ON o.o_orderkey = e.l_orderkey
           AND o.o_orderdate <= e.l_shipdate
           AND o.o_orderdate >= e.l_shipdate - INTERVAL 60 DAY
        )
        SELECT l_orderkey, l_linenumber, l_shipdate, o_totalprice, o_orderpriority
        FROM c WHERE rn = 1""")),

    // Two views stitched on the same spine: time-varying order features
    // plus a static customer dimension view (synthesized epoch timestamp).
    QueryDef(
      "pit_multiview",
      (s, dir) => {
        val entity = table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val orders = ResolvedView(
          name = "order_features",
          source = table(s, dir, "orders"),
          joinKeys = Seq("user_id" -> "o_custkey"),
          tsCol = "o_orderdate",
          features = Seq("o_totalprice"))
        val customer = ResolvedView(
          name = "customer_features",
          source = table(s, dir, "customer")
            .withColumn("static_ts", lit("1970-01-01 00:00:00").cast("timestamp")),
          joinKeys = Seq("user_id" -> "c_custkey"),
          tsCol = "static_ts",
          features = Seq("c_acctbal", "c_mktsegment"))
        PointInTimeJoin.join(entity, "ts", Seq(orders, customer))
      },
      Some("""
        WITH o1 AS (
          SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, o.o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_totalprice DESC) AS rn
          FROM events e
          LEFT JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
        )
        SELECT o1.event_id, o1.user_id, o1.ts, o1.o_totalprice,
               c.c_acctbal, c.c_mktsegment
        FROM o1 LEFT JOIN customer c ON c.c_custkey = o1.user_id
        WHERE o1.rn = 1""")),

    // Bench-weight engine-core query: multi-view TTL PIT join on a
    // lineitem-scale spine (the largest table as entities) — a
    // time-varying TTL-bounded view plus a static dimension view.
    // PointInTimeJoinSpec asserts the plan shape (one window pass per
    // entity key, two here, the TTL range pushed into the orders scan).
    QueryDef(
      "pit_lineitem_multiview_ttl",
      (s, dir) => {
        val entity = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
            col("l_shipdate"))
          .distinct()
        val orders = ResolvedView(
          name = "order_features",
          source = table(s, dir, "orders"),
          joinKeys = Seq("l_orderkey" -> "o_orderkey"),
          tsCol = "o_orderdate",
          features = Seq("o_totalprice", "o_orderpriority"),
          ttlSeconds = Some(90L * 86400))
        val supp = ResolvedView(
          name = "supplier_features",
          source = table(s, dir, "supplier")
            .withColumn("static_ts", lit("1970-01-01 00:00:00").cast("timestamp")),
          joinKeys = Seq("l_suppkey" -> "s_suppkey"),
          tsCol = "static_ts",
          features = Seq("s_acctbal", "s_name"))
        PointInTimeJoin.join(entity, "l_shipdate", Seq(orders, supp))
      },
      Some("""
        WITH e AS (
          SELECT DISTINCT l_orderkey, l_linenumber, l_suppkey, l_shipdate FROM lineitem),
        c AS (
          SELECT e.l_orderkey, e.l_linenumber, e.l_suppkey, e.l_shipdate,
                 o.o_totalprice, o.o_orderpriority,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.l_orderkey, e.l_linenumber, e.l_suppkey, e.l_shipdate
                   ORDER BY o.o_orderdate DESC, o.o_totalprice DESC, o.o_orderpriority DESC) AS rn
          FROM e
          LEFT JOIN orders o
            ON o.o_orderkey = e.l_orderkey
           AND o.o_orderdate <= e.l_shipdate
           AND o.o_orderdate >= e.l_shipdate - INTERVAL 90 DAY)
        SELECT c.l_orderkey, c.l_linenumber, c.l_suppkey, c.l_shipdate,
               c.o_totalprice, c.o_orderpriority, s.s_acctbal, s.s_name
        FROM c
        LEFT JOIN supplier s ON s.s_suppkey = c.l_suppkey
        WHERE c.rn = 1""")),



    // Eight views over two sources: the join groups them by source —
    // one scan per source and, both keyed on user_id, one window pass,
    // however many views, and no cross-view fan-out (PointInTimeJoinSpec
    // asserts the plan).
    QueryDef(
      "pit_manyviews",
      (s, dir) => {
        val (entity, views) = manyViewsInput(s, dir)
        PointInTimeJoin.join(entity, "ts", views)
      },
      Some(ManyViewsSql)),

    // Twin of pit_manyviews, kept under its declared name: it used to
    // take a synthetic row id where pit_manyviews took event_id; the
    // join needs no row id now, so this is the same call, and it shares
    // the oracle verbatim.
    QueryDef(
      "pit_manyviews_synth",
      (s, dir) => {
        val (entity, views) = manyViewsInput(s, dir)
        PointInTimeJoin.join(entity, "ts", views)
      },
      Some(ManyViewsSql)),

    // Twin of pit_manyviews, kept under its declared name: the join
    // has one plan, so this is the same call, and it shares the
    // oracle verbatim.
    QueryDef(
      "pit_manyviews_fused",
      (s, dir) => {
        val (entity, views) = manyViewsInput(s, dir)
        PointInTimeJoin.join(entity, "ts", views)
      },
      Some(ManyViewsSql)),

    // Latest-value dedup standalone (A1): one row per order = the last
    // shipped lineitem, argmax on (l_shipdate, l_linenumber).
    QueryDef(
      "latest_dedup",
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        li.groupBy(col("l_orderkey"))
          .agg(max(struct(col("l_shipdate"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"))).as("b"))
          .select(col("l_orderkey"), col("b.l_shipdate").as("last_shipdate"),
            col("b.l_linenumber").as("last_linenumber"),
            col("b.l_quantity").as("last_quantity"),
            col("b.l_returnflag").as("last_returnflag"))
      },
      Some("""
        SELECT l_orderkey,
               l_shipdate AS last_shipdate,
               l_linenumber AS last_linenumber,
               l_quantity AS last_quantity,
               l_returnflag AS last_returnflag
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_shipdate DESC, l_linenumber DESC, l_quantity DESC, l_returnflag DESC) AS rn
          FROM lineitem) WHERE rn = 1""")),

    // Row → tf.Example bytes → decoded row (U1/P1): the oracle is a plain
    // Registry-driven job path end-to-end AT BENCH WEIGHT: YAML
    // registry → service resolution → entity SQL → PIT join → per-row
    // tf.Example ENCODE → wire-format DECODE → aggregate over the
    // decoded features. Everything the CLI run does except the
    // TFRecord file write (I/O, covered by the sf0.001 smoke +
    // tools/check_tfrecords.py), so the full retrieval+codec latency
    // is tracked per round. min/max survive float32 quantization
    // exactly (casting is monotonic), so the oracle is value-exact.
    QueryDef(
      "runner_e2e",
      (s, dir) => {
        val job = JobConfig(
          registry = YamlRegistry.load(E2eRegistryYaml),
          dataDir = dir,
          features = Right("training_service"),
          entityQuery =
            "SELECT user_id AS o_custkey, ts AS event_timestamp FROM events")
        val joined = Runner.retrieve(s, job, job.entityQuery)
        val payloads = Runner.encode(joined)
        val out = StructType(Seq(
          StructField("status", StringType),
          StructField("price_f32", FloatType)))
        val decoded = payloads.mapPartitions { bs =>
          bs.map { b =>
            val d = TfExample.decode(b)
            val st = d.get("o_orderstatus") match {
              case Some(TfExample.Bytes(Seq(v))) => new String(v, "UTF-8")
              case _ => null
            }
            val pr: java.lang.Float = d.get("o_totalprice") match {
              case Some(TfExample.Floats(Seq(v))) => v
              case _ => null
            }
            org.apache.spark.sql.Row(st, pr)
          }
        }(org.apache.spark.sql.Encoders.row(out))
        decoded.groupBy("status")
          .agg(count(lit(1)).as("n"),
            min(col("price_f32")).as("min_price"),
            max(col("price_f32")).as("max_price"))
      },
      Some("""
        WITH c AS (
          SELECT e.event_id, o.o_totalprice, o.o_orderstatus,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_totalprice DESC, o.o_orderstatus DESC) AS rn
          FROM events e
          LEFT JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP))
        SELECT o_orderstatus AS status, COUNT(*) AS n,
               MIN(CAST(o_totalprice AS FLOAT)) AS min_price,
               MAX(CAST(o_totalprice AS FLOAT)) AS max_price
        FROM c WHERE rn = 1 GROUP BY 1""")),

    // SELECT, so a hash match proves the encoder's type mapping
    // (int64/float32/bytes/timestamp-ISO) end to end.
    QueryDef(
      "tfexample_roundtrip",
      (s, dir) => {
        val src = table(s, dir, "orders").filter(col("o_orderkey") <= 500)
          .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
        val schema = src.schema
        val out = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("price_f32", FloatType),
          StructField("status", StringType),
          StructField("odate_iso", StringType)))
        val enc = org.apache.spark.sql.Encoders.row(out)
        src.mapPartitions { rows =>
          val write = TfExampleEncoder.compile(schema)
          rows.map { r =>
            val decoded = TfExample.decode(write(r))
            val TfExample.Int64s(Seq(k)) = decoded("o_orderkey")
            val TfExample.Floats(Seq(p)) = decoded("o_totalprice")
            val TfExample.Bytes(Seq(st)) = decoded("o_orderstatus")
            val TfExample.Bytes(Seq(dt)) = decoded("o_orderdate")
            org.apache.spark.sql.Row(k, p, new String(st, "UTF-8"), new String(dt, "UTF-8"))
          }
        }(enc)
      },
      Some("""
        SELECT o_orderkey,
               CAST(o_totalprice AS FLOAT) AS price_f32,
               o_orderstatus AS status,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%fZ') AS odate_iso
        FROM orders WHERE o_orderkey <= 500""")),

    // Nested-feature extension (§7.6): STRUCT columns flatten into
    // dotted-name leaf features at encode time (Runner.flattenStructs)
    // — depth 2, a NULL inner struct (leaves become present-but-empty
    // features), and an array<struct> flattened to the tf.Example
    // parallel-list convention. The hash match proves both the
    // flattening projection and the encoder agree with a DuckDB mirror
    // that extracts the same struct paths.
    QueryDef(
      "tfexample_nested",
      (s, dir) => {
        val src = table(s, dir, "orders").filter(col("o_orderkey") <= 500)
          .select(
            col("o_orderkey"),
            struct(
              col("o_totalprice").as("price"),
              struct(col("o_orderstatus").as("status")).as("meta")).as("ord"),
            when(col("o_orderkey") % 7 === 0,
              lit(null).cast("struct<cust:bigint>"))
              .otherwise(struct(col("o_custkey").as("cust"))).as("opt"),
            array(
              struct(col("o_totalprice").cast("double").as("v")),
              struct((col("o_totalprice") * 2).cast("double").as("v")))
              .as("amts"))
        val out = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("price_f32", FloatType),
          StructField("status", StringType),
          StructField("cust", LongType, nullable = true),
          StructField("amt0", FloatType),
          StructField("amt1", FloatType)))
        val enc = org.apache.spark.sql.Encoders.row(out)
        graft.run.Runner.encode(src).mapPartitions { it =>
          it.map { bytes =>
            val m = TfExample.decode(bytes)
            val TfExample.Int64s(Seq(k)) = m("o_orderkey")
            val TfExample.Floats(Seq(p)) = m("ord.price")
            val TfExample.Bytes(Seq(st)) = m("ord.meta.status")
            val cust: java.lang.Long = m("opt.cust") match {
              case TfExample.Int64s(Seq(c)) => c
              case _ => null // NULL inner struct -> Empty feature
            }
            val TfExample.Floats(Seq(a0, a1)) = m("amts.v")
            org.apache.spark.sql.Row(k, p, new String(st, "UTF-8"), cust, a0, a1)
          }
        }(enc)
      },
      Some("""
        SELECT o_orderkey,
               CAST(o_totalprice AS FLOAT) AS price_f32,
               o_orderstatus AS status,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS cust,
               CAST(o_totalprice AS FLOAT) AS amt0,
               CAST(o_totalprice * 2 AS FLOAT) AS amt1
        FROM orders WHERE o_orderkey <= 500""")),

    // Map-feature extension (§7.6): map<string, primitive> columns
    // flatten into dotted-name leaf features at encode time
    // (Runner.flattenMaps — key discovery is one capped distinct scan,
    // since map keys are DATA, not schema). Exercises: a two-key
    // double map, a NULL map (leaves become present-but-empty
    // features), and per-row PARTIAL key coverage (each row carries
    // exactly one of 'even'/'odd'; the other leaf is empty). The hash
    // match proves discovery + projection + encoder against a DuckDB
    // mirror that builds and extracts the same maps with ITS map
    // functions (extraction yields a list; [1] takes the scalar, empty
    // list -> NULL).
    QueryDef(
      "tfexample_map",
      (s, dir) => {
        val src = table(s, dir, "orders").filter(col("o_orderkey") <= 500)
          .select(
            col("o_orderkey"),
            map(lit("price"), col("o_totalprice").cast("double"),
              lit("x2"), (col("o_totalprice") * 2).cast("double")).as("m"),
            when(col("o_orderkey") % 7 === 0,
              lit(null).cast("map<string,bigint>"))
              .otherwise(map(lit("cust"), col("o_custkey"))).as("opt"),
            when(col("o_orderkey") % 2 === 0,
              map(lit("even"), col("o_orderkey")))
              .otherwise(map(lit("odd"), col("o_orderkey"))).as("po"))
        val out = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("price_f32", FloatType),
          StructField("x2_f32", FloatType),
          StructField("cust", LongType, nullable = true),
          StructField("even", LongType, nullable = true),
          StructField("odd", LongType, nullable = true)))
        val enc = org.apache.spark.sql.Encoders.row(out)
        graft.run.Runner.encode(src).mapPartitions { it =>
          it.map { bytes =>
            val m = TfExample.decode(bytes)
            val TfExample.Int64s(Seq(k)) = m("o_orderkey")
            val TfExample.Floats(Seq(p)) = m("m.price")
            val TfExample.Floats(Seq(x2)) = m("m.x2")
            def optL(name: String): java.lang.Long = m(name) match {
              case TfExample.Int64s(Seq(v)) => v
              case _ => null // NULL map / absent key -> Empty feature
            }
            org.apache.spark.sql.Row(
              k, p, x2, optL("opt.cust"), optL("po.even"), optL("po.odd"))
          }
        }(enc)
      },
      Some("""
        WITH src AS (
          SELECT o_orderkey,
                 MAP(['price','x2'], [CAST(o_totalprice AS DOUBLE),
                                      CAST(o_totalprice * 2 AS DOUBLE)]) AS m,
                 CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE MAP(['cust'], [o_custkey]) END AS opt,
                 CASE WHEN o_orderkey % 2 = 0 THEN MAP(['even'], [o_orderkey])
                      ELSE MAP(['odd'], [o_orderkey]) END AS po
          FROM orders WHERE o_orderkey <= 500)
        SELECT o_orderkey,
               CAST(m['price'][1] AS FLOAT) AS price_f32,
               CAST(m['x2'][1] AS FLOAT) AS x2_f32,
               opt['cust'][1] AS cust,
               po['even'][1] AS even,
               po['odd'][1] AS odd
        FROM src""")),

    // Forward as-of join (label construction): for each purchase event,
    // the FIRST event by the same user strictly within the next 48 h.
    // The backward PIT join answers "what was known at t"; this answers
    // "what happened next" — the label side of a training pair.
    QueryDef(
      "pit_forward_label",
      (s, dir) => {
        val e = table(s, dir, "events")
        graft.join.DirectionalAsOf.forward(
          e.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts").as("p_ts")),
          entityTs = "p_ts",
          view = e.filter(col("event_type") =!= "purchase")
            .select(col("ts"), col("user_id").as("v_user"),
              col("event_type").as("next_type"), col("value").as("next_value")),
          viewTs = "ts",
          joinKeys = Seq("user_id" -> "v_user"),
          features = Seq("next_type", "next_value"),
          horizonSeconds = 48L * 3600,
          keepViewTs = true)
      },
      Some("""
        WITH p AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT p.event_id, p.user_id, p.p_ts,
                 CAST(e.ts AS TIMESTAMP) AS ts,
                 e.event_type AS next_type, e.value AS next_value,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                   ORDER BY e.ts ASC NULLS FIRST, e.event_type ASC NULLS FIRST,
                            e.value ASC NULLS FIRST) AS rn
          FROM p
          LEFT JOIN events e
            ON e.user_id = p.user_id AND e.event_type <> 'purchase'
           AND CAST(e.ts AS TIMESTAMP) >= p.p_ts
           AND CAST(e.ts AS TIMESTAMP) <= p.p_ts + INTERVAL 48 HOUR)
        SELECT event_id, user_id, p_ts, ts, next_type, next_value
        FROM c WHERE rn = 1""")),

    // Nearest as-of join (log/sensor alignment): the error event closest
    // in time to each signup event, within +/- 24 h; equidistant ties
    // prefer the earlier event. |Δt| compares in exact integer
    // microseconds on both engines.
    QueryDef(
      "pit_nearest",
      (s, dir) => {
        val e = table(s, dir, "events")
        graft.join.DirectionalAsOf.nearest(
          e.filter(col("event_type") === "signup")
            .select(col("event_id"), col("user_id"), col("ts").as("s_ts")),
          entityTs = "s_ts",
          view = e.filter(col("event_type") === "error")
            .select(col("ts"), col("user_id").as("v_user"),
              col("value").as("err_value")),
          viewTs = "ts",
          joinKeys = Seq("user_id" -> "v_user"),
          features = Seq("err_value"),
          toleranceSeconds = 24L * 3600,
          keepViewTs = true)
      },
      Some("""
        WITH sg AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS s_ts
          FROM events WHERE event_type = 'signup'),
        c AS (
          SELECT sg.event_id, sg.user_id, sg.s_ts,
                 CAST(e.ts AS TIMESTAMP) AS ts, e.value AS err_value,
                 ROW_NUMBER() OVER (PARTITION BY sg.event_id
                   ORDER BY abs(epoch_us(CAST(e.ts AS TIMESTAMP) - sg.s_ts)) ASC NULLS FIRST,
                            e.ts ASC NULLS FIRST, e.value ASC NULLS FIRST) AS rn
          FROM sg
          LEFT JOIN events e
            ON e.user_id = sg.user_id AND e.event_type = 'error'
           AND CAST(e.ts AS TIMESTAMP) >= sg.s_ts - INTERVAL 24 HOUR
           AND CAST(e.ts AS TIMESTAMP) <= sg.s_ts + INTERVAL 24 HOUR)
        SELECT event_id, user_id, s_ts, ts, err_value
        FROM c WHERE rn = 1""")),

    // Multi-view forward join (multi-label construction): three label
    // views over ONE events projection — "next view event within 48 h",
    // "next error within 24 h", "next non-purchase within 12 h" —
    // differing only by predicate, horizon, and feature list.
    QueryDef(
      "pit_forward_multi",
      (s, dir) => {
        val e = table(s, dir, "events")
        graft.join.DirectionalAsOf.forwardMulti(
          forwardMultiEntity(e), "p_ts", forwardMultiViews(e))
      },
      Some(ForwardMultiSql)),

    // Twin of pit_forward_multi, kept under its declared name: the
    // same call (one window pass over ONE scan of the shared source,
    // per-view horizons/predicates gated inside min(when(...))
    // picks), sharing pit_forward_multi's oracle SQL VERBATIM.
    QueryDef(
      "pit_forward_multi_fused",
      (s, dir) => {
        val e = table(s, dir, "events")
        graft.join.DirectionalAsOf.forwardMulti(
          forwardMultiEntity(e), "p_ts", forwardMultiViews(e))
      },
      Some(ForwardMultiSql))
  )

  private def forwardMultiEntity(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))

  private def forwardMultiViews(e: org.apache.spark.sql.DataFrame) = {
    import graft.join.DirectionalView
    val src = e.select(col("ts"), col("user_id").as("v_user"),
      col("event_type").as("etype"), col("value").as("next_value"))
    Seq(
      DirectionalView("next_view", src, "ts", Seq("user_id" -> "v_user"),
        Seq("next_value"), 48L * 3600,
        outputPrefix = Some("nv"), predicate = Some(col("etype") === "view")),
      DirectionalView("next_error", src, "ts", Seq("user_id" -> "v_user"),
        Seq("next_value"), 24L * 3600,
        outputPrefix = Some("ne"), predicate = Some(col("etype") === "error")),
      DirectionalView("next_nonpurchase", src, "ts", Seq("user_id" -> "v_user"),
        Seq("next_value", "etype"), 12L * 3600,
        outputPrefix = Some("na"), predicate = Some(col("etype") =!= "purchase")))
  }

  /** Shared verbatim by pit_forward_multi and pit_forward_multi_fused:
    * per-view earliest-within-horizon picks (ties on (ts, features…)
    * ASC NULLS FIRST — the min(struct) order), stitched LEFT onto the
    * purchase spine. (lazy: referenced from `all` above, which
    * initializes first — a plain val here would be null there.) */
  private lazy val ForwardMultiSql = """
        WITH p AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
          FROM events WHERE event_type = 'purchase'),
        nv AS (
          SELECT p.event_id, e.value AS nv__next_value,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                   ORDER BY e.ts ASC NULLS FIRST, e.value ASC NULLS FIRST) AS rn
          FROM p JOIN events e
            ON e.user_id = p.user_id AND e.event_type = 'view'
           AND CAST(e.ts AS TIMESTAMP) >= p.p_ts
           AND CAST(e.ts AS TIMESTAMP) <= p.p_ts + INTERVAL 48 HOUR),
        ne AS (
          SELECT p.event_id, e.value AS ne__next_value,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                   ORDER BY e.ts ASC NULLS FIRST, e.value ASC NULLS FIRST) AS rn
          FROM p JOIN events e
            ON e.user_id = p.user_id AND e.event_type = 'error'
           AND CAST(e.ts AS TIMESTAMP) >= p.p_ts
           AND CAST(e.ts AS TIMESTAMP) <= p.p_ts + INTERVAL 24 HOUR),
        na AS (
          SELECT p.event_id, e.value AS na__next_value,
                 e.event_type AS na__etype,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                   ORDER BY e.ts ASC NULLS FIRST, e.value ASC NULLS FIRST,
                            e.event_type ASC NULLS FIRST) AS rn
          FROM p JOIN events e
            ON e.user_id = p.user_id AND e.event_type <> 'purchase'
           AND CAST(e.ts AS TIMESTAMP) >= p.p_ts
           AND CAST(e.ts AS TIMESTAMP) <= p.p_ts + INTERVAL 12 HOUR)
        SELECT p.event_id, p.user_id, p.p_ts,
               nv.nv__next_value, ne.ne__next_value,
               na.na__next_value, na.na__etype
        FROM p
        LEFT JOIN (SELECT * FROM nv WHERE rn = 1) nv USING (event_id)
        LEFT JOIN (SELECT * FROM ne WHERE rn = 1) ne USING (event_id)
        LEFT JOIN (SELECT * FROM na WHERE rn = 1) na USING (event_id)"""
}
