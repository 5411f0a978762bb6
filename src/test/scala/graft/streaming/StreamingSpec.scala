package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)
case class IdEv(event_id: Long, user_id: Long, ts: Timestamp)
case class Feat(key: Long, fts: Timestamp, score: Double)
case class Doc(doc_id: Long, text: String)
case class PackDoc(doc_id: Long, n_tokens: Long)

/** Streaming operators checked for batch/stream result parity: the same
  * DataFrame transform fed through a MemoryStream must produce the same
  * final answer the batch engine gives on the same rows. */
class StreamingSpec extends SparkSpec with Matchers {

  private def t(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(1L, t("2024-01-01 10:05:00"), "click", 1.0),
    Ev(1L, t("2024-01-01 10:20:00"), "click", 2.0),
    Ev(2L, t("2024-01-01 10:40:00"), "view", 3.0),
    Ev(1L, t("2024-01-01 11:10:00"), "click", 4.0),
    Ev(2L, t("2024-01-01 11:30:00"), "view", 5.0),
    Ev(3L, t("2024-01-01 11:55:00"), "click", 6.0))

  test("windowedAgg: streaming result equals batch result on same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = StreamingOps.windowedAgg(
      stream.toDF(), "ts", "value", "event_type", "1 hour", "10 minutes")
    val q = out.writeStream.format("memory").queryName("wagg")
      .outputMode("complete").start()
    try {
      stream.addData(events.take(3))
      q.processAllAvailable()
      stream.addData(events.drop(3))
      q.processAllAvailable()
      val got = spark.table("wagg")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

      val batch = StreamingOps.windowedAgg(
        events.toDF(), "ts", "value", "event_type", "1 hour", "10 minutes")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      got shouldBe batch
      got.map(x => (x._1.toString, x._2, x._3, x._4)) shouldBe Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:00:00.0", "view", 1L, 3.0),
        ("2024-01-01 11:00:00.0", "click", 2L, 10.0),
        ("2024-01-01 11:00:00.0", "view", 1L, 5.0))
    } finally q.stop()
  }

  test("sessionWindowAgg: streaming append result equals batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = StreamingOps.sessionWindowAgg(
      stream.toDF(), "ts", "user_id", "30 minutes", "10 minutes")
    // session windows emit in APPEND mode once the watermark passes
    // their end; a far-future flush event on a sacrificial key pushes
    // the watermark past every real session
    val flush = Ev(99L, t("2024-01-02 12:00:00"), "flush", 0.0)
    val q = out.writeStream.format("memory").queryName("swagg")
      .outputMode("append").start()
    try {
      stream.addData(events.take(3))
      q.processAllAvailable()
      stream.addData(events.drop(3))
      q.processAllAvailable()
      stream.addData(Seq(flush))
      q.processAllAvailable()
      val got = spark.table("swagg").filter($"user_id" =!= 99L)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet

      val batch = StreamingOps.sessionWindowAgg(
        events.toDF(), "ts", "user_id", "30 minutes", "10 minutes")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      got shouldBe batch
      // user 1: 10:05+10:20 merge (15 min apart), 11:10 separate
      batch.count(_._1 == 1L) shouldBe 2
      val first = batch.find(x => x._1 == 1L && x._2 == t("2024-01-01 10:05:00")).get
      first._3 shouldBe t("2024-01-01 10:50:00") // last event 10:20 + 30 min
      first._4 shouldBe 2L
    } finally q.stop()
  }

  test("session_window boundary: an exact-gap event merges into the session") {
    import spark.implicits._
    // verified Spark semantics (and mirrored with > in the DuckDB
    // oracle): 10:00 and 10:30 with a 30-minute gap form ONE session
    val two = Seq(
      Ev(1L, t("2024-01-01 10:00:00"), "click", 1.0),
      Ev(1L, t("2024-01-01 10:30:00"), "click", 1.0)).toDF()
    val rows = StreamingOps.sessionWindowAgg(two, "ts", "user_id", "30 minutes", "0 seconds")
      .collect()
    rows.length shouldBe 1
    rows.head.getTimestamp(1) shouldBe t("2024-01-01 10:00:00")
    rows.head.getTimestamp(2) shouldBe t("2024-01-01 11:00:00")
    rows.head.getLong(3) shouldBe 2L
  }

  test("pitStreamStream: both-sides-streaming as-of join equals batch PIT") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      IdEv(1L, 10L, t("2024-01-01 10:00:00")), // sees f@09:50 (latest in ttl)
      IdEv(2L, 10L, t("2024-01-01 11:00:00")), // sees f@10:55
      IdEv(3L, 20L, t("2024-01-01 10:30:00")), // key 20: feature too old → null
      IdEv(4L, 30L, t("2024-01-01 10:30:00"))) // key absent → null
    val feats = Seq(
      Feat(10L, t("2024-01-01 09:50:00"), 1.0),
      Feat(10L, t("2024-01-01 09:40:00"), 2.0), // older, must lose to 09:50
      Feat(10L, t("2024-01-01 10:55:00"), 3.0),
      Feat(20L, t("2024-01-01 08:00:00"), 9.0)) // outside 2h ttl for 10:30
    val ttl = 2L * 3600

    val eStream = MemoryStream[IdEv]
    val fStream = MemoryStream[Feat]
    val out = StreamingOps.pitStreamStream(
      eStream.toDF(), "event_id", "ts",
      fStream.toDF(), "fts",
      joinKeys = Seq("user_id" -> "key"), featureCols = Seq("score"),
      ttlSeconds = ttl, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sspit")
      .outputMode("append").start()
    try {
      // interleaved arrival, then far-future flush on BOTH streams
      // (the join's watermark is the min across inputs)
      eStream.addData(evs.take(2)); fStream.addData(feats.take(3))
      q.processAllAvailable()
      eStream.addData(evs.drop(2)); fStream.addData(feats.drop(3))
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(99L, 99L, t("2024-01-03 00:00:00"))))
      fStream.addData(Seq(Feat(98L, t("2024-01-03 00:00:00"), 0.0)))
      q.processAllAvailable()
      val got = spark.table("sspit").filter($"event_id" =!= 99L)
        .collect()
        .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Double])))
        .toSet

      // inner semantics: matches batch PIT on events that HAVE features
      val view = ResolvedViewForTest(feats.toDF(), ttl)
      val batch = graft.join.PointInTimeJoin.join(
        evs.toDF(), "ts", Seq(view))
        .filter($"score".isNotNull)
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[Any]("score")).map(_.asInstanceOf[Double])))
        .toSet
      got shouldBe batch
      got shouldBe Set((1L, Some(1.0)), (2L, Some(3.0)))
    } finally q.stop()
  }

  test("pitStreamStreamWithState: custom state gives full batch left-join parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      IdEv(1L, 10L, t("2024-01-01 10:00:00")),
      IdEv(2L, 10L, t("2024-01-01 11:00:00")),
      IdEv(3L, 20L, t("2024-01-01 10:30:00")), // stale feature → null
      IdEv(4L, 30L, t("2024-01-01 10:30:00"))) // no feature → null
    val feats = Seq(
      Feat(10L, t("2024-01-01 09:50:00"), 1.0),
      Feat(10L, t("2024-01-01 09:40:00"), 2.0),
      Feat(10L, t("2024-01-01 10:55:00"), 3.0),
      Feat(20L, t("2024-01-01 08:00:00"), 9.0))
    val ttl = 2L * 3600

    val eStream = MemoryStream[IdEv]
    val fStream = MemoryStream[Feat]
    val out = StreamingOps.pitStreamStreamWithState(
      eStream.toDF().select($"user_id".cast("string").as("key"),
        $"ts".as("ets"), $"event_id"),
      fStream.toDF().select($"key".cast("string").as("key"),
        $"fts", $"score".cast("string").as("payload")),
      ttlSeconds = ttl, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sspit2")
      .outputMode("append").start()
    try {
      // everything arrives while the watermark is still at zero (rows
      // older than the watermark are dropped as late — standard
      // semantics); then two flush rounds: the first advances the
      // watermark past most events (timeouts resolve them), the second
      // past the rest
      eStream.addData(evs); fStream.addData(feats)
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(99L, 99L, t("2024-01-03 00:00:00"))))
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(97L, 97L, t("2024-01-05 00:00:00"))))
      q.processAllAvailable()
      val got = spark.table("sspit2")
        .filter($"event_id" =!= 99L && $"event_id" =!= 97L)
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(3)).map(_.toDouble)))
        .toSet

      val view = ResolvedViewForTest(feats.toDF(), ttl)
      val batch = graft.join.PointInTimeJoin.join(
        evs.toDF(), "ts", Seq(view))
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[Any]("score")).map(_.asInstanceOf[Double])))
        .toSet
      got shouldBe batch
      got shouldBe Set(
        (1L, Some(1.0)), (2L, Some(3.0)), (3L, None), (4L, None))
    } finally q.stop()
  }

  test("forwardStreamStreamWithState: label maturation equals batch forward as-of") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val horizon = 3600L // 1h forward window
    val evs = Seq(
      IdEv(1L, 10L, t("2024-01-01 10:00:00")), // labels 10:30/10:45 → earliest 10:30
      IdEv(2L, 10L, t("2024-01-01 11:05:00")), // label 11:30 → 3.0
      IdEv(3L, 20L, t("2024-01-01 10:30:00")), // label at 12:00 outside 1h → null
      IdEv(4L, 30L, t("2024-01-01 10:30:00")), // no label at all → null
      IdEv(5L, 40L, t("2024-01-01 10:00:00"))) // label exactly at ets+horizon → admitted
    val labs = Seq(
      Feat(10L, t("2024-01-01 10:30:00"), 1.0),
      Feat(10L, t("2024-01-01 10:45:00"), 2.0), // later, must lose to 10:30
      Feat(10L, t("2024-01-01 09:50:00"), 8.0), // BEFORE ev1 — never admissible
      Feat(10L, t("2024-01-01 11:30:00"), 3.0),
      Feat(20L, t("2024-01-01 12:00:00"), 9.0), // 90min after ev3 — outside horizon
      Feat(40L, t("2024-01-01 11:00:00"), 7.0)) // inclusive boundary for ev5

    val eStream = MemoryStream[IdEv]
    val lStream = MemoryStream[Feat]
    val out = StreamingOps.forwardStreamStreamWithState(
      eStream.toDF().select($"user_id".cast("string").as("key"),
        $"ts".as("ets"), $"event_id"),
      lStream.toDF().select($"key".cast("string").as("key"),
        $"fts".as("lts"), $"score".cast("string").as("payload")),
      horizonSeconds = horizon, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("fwdasof")
      .outputMode("append").start()
    try {
      eStream.addData(evs); lStream.addData(labs)
      q.processAllAvailable()
      // advance the watermark past every event's horizon in two hops
      eStream.addData(Seq(IdEv(99L, 99L, t("2024-01-03 00:00:00"))))
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(97L, 97L, t("2024-01-05 00:00:00"))))
      q.processAllAvailable()
      val got = spark.table("fwdasof")
        .filter($"event_id" =!= 99L && $"event_id" =!= 97L)
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(3)).map(_.toDouble)))
        .toSet

      val batch = graft.join.DirectionalAsOf.forward(
        evs.toDF(), "ts", labs.toDF(), "fts",
        joinKeys = Seq("user_id" -> "key"), features = Seq("score"),
        horizonSeconds = horizon)
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[Any]("score")).map(_.asInstanceOf[Double])))
        .toSet
      got shouldBe batch
      got shouldBe Set(
        (1L, Some(1.0)), (2L, Some(3.0)), (3L, None), (4L, None),
        (5L, Some(7.0)))
    } finally q.stop()
  }

  test("nearestStreamStreamWithState: nearest-within-tolerance equals batch nearest as-of") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tol = 1800L // 30min either side
    val evs = Seq(
      IdEv(1L, 10L, t("2024-01-01 10:00:00")), // 09:50 (10m) beats 10:15 (15m)
      IdEv(2L, 10L, t("2024-01-01 11:00:00")), // only 11:25 in window
      IdEv(3L, 20L, t("2024-01-01 10:30:00")), // label 95min away → null
      IdEv(4L, 40L, t("2024-01-01 10:00:00"))) // equidistant ±20m → earlier wins
    val labs = Seq(
      Feat(10L, t("2024-01-01 09:50:00"), 1.0),
      Feat(10L, t("2024-01-01 10:15:00"), 2.0),
      Feat(10L, t("2024-01-01 11:25:00"), 3.0),
      Feat(20L, t("2024-01-01 12:05:00"), 9.0),
      Feat(40L, t("2024-01-01 09:40:00"), 4.0), // -20m: must win the tie
      Feat(40L, t("2024-01-01 10:20:00"), 5.0)) // +20m

    val eStream = MemoryStream[IdEv]
    val lStream = MemoryStream[Feat]
    val out = StreamingOps.nearestStreamStreamWithState(
      eStream.toDF().select($"user_id".cast("string").as("key"),
        $"ts".as("ets"), $"event_id"),
      lStream.toDF().select($"key".cast("string").as("key"),
        $"fts".as("lts"), $"score".cast("string").as("payload")),
      toleranceSeconds = tol, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("nearasof")
      .outputMode("append").start()
    try {
      eStream.addData(evs); lStream.addData(labs)
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(99L, 99L, t("2024-01-03 00:00:00"))))
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(97L, 97L, t("2024-01-05 00:00:00"))))
      q.processAllAvailable()
      val got = spark.table("nearasof")
        .filter($"event_id" =!= 99L && $"event_id" =!= 97L)
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(3)).map(_.toDouble)))
        .toSet

      val batch = graft.join.DirectionalAsOf.nearest(
        evs.toDF(), "ts", labs.toDF(), "fts",
        joinKeys = Seq("user_id" -> "key"), features = Seq("score"),
        toleranceSeconds = tol)
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[Any]("score")).map(_.asInstanceOf[Double])))
        .toSet
      got shouldBe batch
      got shouldBe Set(
        (1L, Some(1.0)), (2L, Some(3.0)), (3L, None), (4L, Some(4.0)))
    } finally q.stop()
  }

  test("as-of tie picks are null-safe: a NULL payload on a timestamp tie sorts first, no NPE") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eStream = MemoryStream[IdEv]
    implicit val encT: org.apache.spark.sql.Encoder[(Long, Timestamp, Option[Double])] =
      org.apache.spark.sql.Encoders.product
    val lStream = MemoryStream[(Long, Timestamp, Option[Double])]
    val out = StreamingOps.forwardStreamStreamWithState(
      eStream.toDF().select($"user_id".cast("string").as("key"),
        $"ts".as("ets"), $"event_id"),
      lStream.toDF().toDF("key", "lts", "score")
        .select($"key".cast("string").as("key"), $"lts",
          $"score".cast("string").as("payload")),
      horizonSeconds = 3600L, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("nullpay")
      .outputMode("append").start()
    try {
      eStream.addData(Seq(IdEv(1L, 10L, t("2024-01-01 10:00:00"))))
      lStream.addData(Seq(
        (10L, t("2024-01-01 10:30:00"), Some(5.0)),
        (10L, t("2024-01-01 10:30:00"), None))) // same lts, NULL payload
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(99L, 99L, t("2024-01-03 00:00:00"))))
      q.processAllAvailable()
      eStream.addData(Seq(IdEv(97L, 97L, t("2024-01-05 00:00:00"))))
      q.processAllAvailable()
      val rows = spark.table("nullpay").filter($"event_id" === 1L).collect()
      rows.length shouldBe 1
      rows.head.getTimestamp(2) shouldBe t("2024-01-01 10:30:00")
      // NULL-first tie rule (mirrors batch struct-min NULLS FIRST)
      rows.head.isNullAt(3) shouldBe true
    } finally q.stop()
  }

  private def ResolvedViewForTest(feats: org.apache.spark.sql.DataFrame, ttl: Long) =
    graft.join.ResolvedView(
      name = "f", source = feats, joinKeys = Seq("user_id" -> "key"),
      tsCol = "fts", createdTs = None, features = Seq("score"),
      ttlSeconds = Some(ttl))

  test("latestPerKey: state converges to the per-key event-time argmax") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = StreamingOps.latestPerKey(stream.toDF(), Seq("user_id"), "ts")
    val q = out.writeStream.format("memory").queryName("latest")
      .outputMode("update").start()
    try {
      stream.addData(events.take(4))
      q.processAllAvailable()
      stream.addData(events.drop(4))
      q.processAllAvailable()
      // last update emitted per key across all triggers = final state
      val got = spark.table("latest")
        .groupBy("user_id").agg(max(struct(col("ts"), col("value"))).as("b"))
        .select(col("user_id"), col("b.value"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got shouldBe Map(1L -> 4.0, 2L -> 5.0, 3L -> 6.0)
    } finally q.stop()
  }

  test("pitEnrichStream: per-batch as-of join matches the batch engine on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.join.ResolvedView

    // static feature view: per-user score with an event timestamp
    val features = Seq(
      (1L, t("2024-01-01 09:00:00"), 10.0),
      (1L, t("2024-01-01 11:00:00"), 11.0), // future for early events
      (2L, t("2024-01-01 10:00:00"), 20.0),
      (3L, t("2023-12-01 00:00:00"), 30.0)) // older than TTL for late events
      .toDF("user_id", "f_ts", "score")
    def view = ResolvedView(
      name = "scores", source = features,
      joinKeys = Seq("user_id" -> "user_id"),
      tsCol = "f_ts", features = Seq("score"),
      ttlSeconds = Some(14 * 24 * 3600L))

    val stream = MemoryStream[Ev]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
    val q = StreamingOps.pitEnrichStream(
      stream.toDF().select("user_id", "ts"), "ts", Seq(view)) { (batch, _) =>
      got.synchronized {
        got ++= batch.collect().map(r =>
          (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      }
    }.start()
    try {
      stream.addData(events.take(3))
      q.processAllAvailable()
      stream.addData(events.drop(3))
      q.processAllAvailable()

      val batchResult = graft.join.PointInTimeJoin
        .join(events.toDF().select("user_id", "ts"), "ts", Seq(view))
        .collect().map(r =>
          (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))

      got.sorted shouldBe batchResult.toSeq.sorted
      // spot-check the as-of semantics across the two micro-batches:
      // user 1 at 10:05/10:20 sees the 09:00 score; at 11:10 the 11:00 one
      val byUser = got.groupBy(_._1)
      byUser(1L).map(_._2).toSet shouldBe Set(Some(10.0), Some(11.0))
      byUser(3L).map(_._2).toSet shouldBe Set(None) // beyond TTL
    } finally q.stop()
  }

  test("pitEnrichStream: shared-source views over one source frame match the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.join.ResolvedView
    val features = Seq(
      (1L, t("2024-01-01 09:00:00"), 10.0, 1.0),
      (2L, t("2024-01-01 10:00:00"), 20.0, 2.0))
      .toDF("user_id", "f_ts", "score", "rank")
    // two views over the SAME source frame: each micro-batch runs the
    // batch join's plan, one candidate join over the shared source
    val views = Seq(
      ResolvedView("s1", features, Seq("user_id" -> "user_id"), "f_ts",
        features = Seq("score"), outputPrefix = Some("s1")),
      ResolvedView("s2", features, Seq("user_id" -> "user_id"), "f_ts",
        features = Seq("rank"), outputPrefix = Some("s2")))
    val stream = MemoryStream[Ev]
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamingOps.pitEnrichStream(
      stream.toDF().select("user_id", "ts"), "ts", views) { (batch, _) =>
      got.synchronized { got ++= batch.collect().map(_.toString) }
    }.start()
    try {
      events.grouped(3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val twin = graft.join.PointInTimeJoin
        .join(events.toDF().select("user_id", "ts"), "ts", views)
        .collect().map(_.toString)
      got.sorted.toSeq shouldBe twin.toSeq.sorted
    } finally q.stop()
  }

  test("pitEnrichStream: three micro-batches persist and write nothing; rows match the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.join.ResolvedView
    val features = Seq(
      (1L, t("2024-01-01 09:00:00"), 10.0),
      (2L, t("2024-01-01 10:00:00"), 20.0))
      .toDF("user_id", "f_ts", "score")
    def view = ResolvedView(
      name = "scores", source = features,
      joinKeys = Seq("user_id" -> "user_id"),
      tsCol = "f_ts", features = Seq("score"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Ev]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
    // each micro-batch runs the batch join, which materializes
    // nothing: across 3 batches no block may accumulate (one block
    // per micro-batch was the r9 monitor-leak class) and no stage of
    // the batches writes a byte
    val q = StreamingOps.pitEnrichStream(
      stream.toDF().select("user_id", "ts"), "ts", Seq(view)) {
      (batch, _) =>
        got.synchronized {
          got ++= batch.collect().map(r =>
            (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        }
    }.start()
    try {
      val (_, _, stages) = traced(events.grouped(2).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      })
      events.grouped(2).size shouldBe 3
      (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
      stages.values.flatMap(s => Option(s.taskMetrics))
        .map(_.outputMetrics.bytesWritten).sum shouldBe 0L
      val batchTwin = graft.join.PointInTimeJoin
        .join(events.toDF().select("user_id", "ts"), "ts", Seq(view))
        .collect().map(r =>
          (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      got.sorted shouldBe batchTwin.toSeq.sorted
    } finally q.stop()
  }

  test("nearDupStream: per-batch pairs against the static index match the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    def vary(j: Int) = (1 to 40).map(i => if (i == j) "CHANGED" else s"token$i").mkString(" ")
    val corpus = Seq(
      Doc(1L, base), Doc(4L, (100 to 140).map(i => s"other$i").mkString(" ")),
      Doc(6L, "entirely unrelated text that stands alone in this corpus today ok"))
    val arriving = Seq(
      Doc(2L, vary(7)),                                              // near-dup of 1
      Doc(5L, (100 to 140).map(i => if (i == 120) "X" else s"other$i").mkString(" ")),
      Doc(7L, "totally new content sharing nothing with the base corpus at all"))
    val baseSigs = Dedup.minhashSignatures(
      corpus.toDF(), "doc_id", "text", shingleN = 3, k = 16)
    val path = java.nio.file.Files.createTempDirectory("graft-ndstream").toString
    Dedup.saveLshBandIndex(baseSigs, path, k = 16, bands = 8, nHashBuckets = 8)
    val stream = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = StreamingOps.nearDupStream(
      stream.toDF(), "doc_id", "text", Dedup.loadLshBandIndex(spark, path),
      3, 0.3, Int.MaxValue) { (pairs, _) =>
      got.synchronized {
        got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }.start()
    try {
      stream.addData(arriving.take(1))
      q.processAllAvailable()
      stream.addData(arriving.drop(1))
      q.processAllAvailable()
      // the in-frame serve over the signature table is the reference
      val batchTwin = Dedup.minhashLshAgainst(
        Dedup.minhashSignatures(arriving.toDF(), "doc_id", "text", shingleN = 3, k = 16),
        baseSigs, k = 16, bands = 8, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      got.sorted shouldBe batchTwin.toSeq.sorted
      got.map(t => (t._1, t._2)) should contain((2L, 1L)) // the planted near-dup
      got.map(_._1) should not contain 7L                 // novel content passes
    } finally q.stop()
  }

  test("exactDedupStream: per-batch rows match exactAgainst on the same rows; index survivor is stable across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val history = Seq(
      Doc(10L, "Hello   World"), Doc(11L, "old news here"),
      Doc(12L, "hello world"))
    val index = Dedup.exact(history.toDF(), "doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-exstream").toString
    Dedup.saveExactIndexPartitioned(index, path, 4)
    val batches = Seq(
      Seq(Doc(2L, "HELLO WORLD"), Doc(20L, "fresh content a")),
      // batch 2 repeats batch 1's fresh content: the STATIC index
      // doesn't know it (refresh cadence is the caller's loop), so it
      // survives again — and the index hit keeps pointing at 10
      Seq(Doc(21L, "fresh content a"), Doc(22L, "hello  world")))
    val stream = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.exactDedupStream(
      stream.toDF(), "doc_id", "text",
      Dedup.loadExactIndexPartitioned(spark, path)) { (rows, id) =>
      got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      // the in-frame serve over the index frame is the reference
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = Dedup.exactAgainst(rows.toDF(), index, "doc_id", "text").collect()
        streamed.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      val byId = got.sortBy(_._1).flatMap(_._2)
        .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      byId(2L) shouldBe Some(10L)  // first-seen survivor, not min id
      byId(20L) shouldBe None
      byId(21L) shouldBe None      // static index: batch-1 content unknown
      byId(22L) shouldBe Some(10L)
    } finally q.stop()
  }

  test("simhashDedupStream: per-batch cross pairs match simhashAgainst on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    def vary(j: Int) =
      (1 to 30).map(i => if (i == j) "CHANGED" else s"token$i").mkString(" ")
    val history = Seq(
      Doc(2L, base), Doc(4L, "some wholly different text here now"))
    val index = Dedup.withSimhash(history.toDF(), "doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-shstream").toString
    Dedup.saveSimhashBandIndex(index, path, 4)
    val batches = Seq(
      Seq(Doc(1L, vary(5))),
      Seq(Doc(3L, base), Doc(5L, "unrelated content about other things")))
    val stream = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.simhashDedupStream(
      stream.toDF(), "doc_id", "text",
      Dedup.loadSimhashBandIndex(spark, path), 10) { (rows, id) =>
      got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = Dedup.simhashAgainst(
          rows.toDF(), index, "doc_id", "text", maxHamming = 10).collect()
        streamed.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      val pairs = got.flatMap(_._2).map(r => r.getLong(0) -> r.getLong(1))
      pairs should contain (1L -> 2L) // near-dup of history
      pairs should contain (3L -> 2L) // exact dup across batches
      pairs.map(_._1) should not contain 5L
    } finally q.stop()
  }

  test("winnowStream: per-batch substring overlaps match winnowAgainst on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val copied = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    val history = Seq(
      Doc(2L, s"$copied and some base-only trailing content"),
      Doc(4L, "a wholly different base document with its own words"))
    val index = Dedup.winnowFingerprints(history.toDF(), "doc_id", "text", k = 8, w = 16)
    val path = java.nio.file.Files.createTempDirectory("graft-wnstream").toString
    Dedup.saveWinnowFpIndex(index, path, 4)
    val batches = Seq(
      Seq(Doc(1L, s"prefix stolen words: $copied")),
      Seq(Doc(3L, "novel arrival content sharing nothing with the base at all")))
    val stream = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.winnowStream(
      stream.toDF(), "doc_id", "text",
      Dedup.loadWinnowFpIndex(spark, path), 2, Int.MaxValue) {
      (rows, id) => got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = Dedup.winnowAgainst(
          rows.toDF(), index, "doc_id", "text", k = 8, w = 16, minShared = 2).collect()
        streamed.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      val pairs = got.flatMap(_._2).map(r => r.getLong(0) -> r.getLong(1))
      pairs should contain (1L -> 2L) // the copied run
      pairs.map(_._1) should not contain 3L
    } finally q.stop()
  }

  test("partitioned-index streams: per-batch rows match the pruned batch serve, no memory pin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val history = Seq(
      Doc(2L, base), Doc(4L, "some wholly different text here now"),
      Doc(6L, "a third historical document with its own words"))
    val scratch = java.nio.file.Files.createTempDirectory("graft-pstream").toString
    Dedup.saveExactIndexPartitioned(
      Dedup.exact(history.toDF(), "doc_id", "text"), s"$scratch/ex", 8)
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(history.toDF(), "doc_id", "text"), s"$scratch/sh", 8)
    Dedup.saveWinnowFpIndex(
      Dedup.winnowFingerprints(history.toDF(), "doc_id", "text", k = 8, w = 16),
      s"$scratch/wn", 8)
    Dedup.saveLshBandIndex(
      Dedup.minhashSignatures(history.toDF(), "doc_id", "text", shingleN = 2, k = 16),
      s"$scratch/mh", k = 16, bands = 8, nHashBuckets = 8)
    val exIdx = Dedup.loadExactIndexPartitioned(spark, s"$scratch/ex")
    val shIdx = Dedup.loadSimhashBandIndex(spark, s"$scratch/sh")
    val wnIdx = Dedup.loadWinnowFpIndex(spark, s"$scratch/wn")
    val mhIdx = Dedup.loadLshBandIndex(spark, s"$scratch/mh")
    val batches = Seq(
      Seq(Doc(1L, base)),                                          // dup of 2
      Seq(Doc(3L, s"novel $base tail"), Doc(5L, "fresh words only here")))

    // each face: run the stream over the same two batches, assert
    // per-batch parity with the pruned batch operator, zero
    // persistent blocks left behind (the posture's point: NO pin)
    def run(face: String)(
        start: (org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc],
                (org.apache.spark.sql.DataFrame, Long) => Unit) => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])(
        twin: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
      val q = start(stream, (rows, id) =>
        got.synchronized { got += ((id, rows.collect().map(_.toString).sorted.toSeq)) }).start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        withClue(s"$face: ") {
          // leak check FIRST: the batch-twin serves below create their
          // own (legitimately batch-scoped) checkpoint blocks
          (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
          got.size shouldBe 2
          got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
            streamed shouldBe twin(rows.toDF()).collect().map(_.toString).sorted.toSeq
          }
        }
      } finally q.stop()
    }

    run("exact")((s, sink) => StreamingOps.exactDedupStream(
      s.toDF(), "doc_id", "text", exIdx)(sink))(
      b => Dedup.exactAgainst(b, exIdx, "doc_id", "text"))
    run("simhash")((s, sink) => StreamingOps.simhashDedupStream(
      s.toDF(), "doc_id", "text", shIdx, 10)(sink))(
      b => Dedup.simhashAgainst(b, shIdx, "doc_id", "text", 10))
    run("winnow")((s, sink) => StreamingOps.winnowStream(
      s.toDF(), "doc_id", "text", wnIdx, 2, Int.MaxValue)(sink))(
      b => Dedup.winnowAgainst(b, wnIdx, "doc_id", "text", 2, Int.MaxValue))
    run("minhash")((s, sink) => StreamingOps.nearDupStream(
      s.toDF(), "doc_id", "text", mhIdx, 2, 0.25, Int.MaxValue)(sink))(
      b => Dedup.minhashLshAgainst(
        Dedup.minhashSignatures(b, "doc_id", "text", shingleN = 2, k = 16),
        mhIdx, 0.25, Int.MaxValue))
  }

  test("semanticDedupStream: per-batch pairs match nearDupAgainst on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Similarity
    val rnd = new scala.util.Random(71)
    val centers = Array.fill(2, 8)(rnd.nextGaussian() * 20)
    def near(c: Int) = centers(c).map(_ + rnd.nextGaussian() * 0.1).toSeq
    val hist = (1L to 40L).map(i => (i * 2, near((i % 2).toInt))).toDF("vec_id", "embedding")
    val idx = Similarity.fitIndex(hist, "vec_id", "embedding",
      nCentroids = 2, m = 4, kSub = 8)
    val encoded = Similarity.encodeCorpus(hist, "vec_id", "embedding", idx)
    val batches = Seq(
      Seq((101L, near(0))),
      Seq((103L, near(1)), (105L, Seq.fill(8)(rnd.nextGaussian() * 0.01))))
    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.semanticDedupStream(
      stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      hist, encoded, idx, threshold = 0.9, nProbe = 2) { (rows, id) =>
      got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = Similarity.nearDupAgainst(
          rows.toDF("vec_id", "embedding"), hist, encoded,
          "vec_id", "embedding", idx, threshold = 0.9, nProbe = 2).collect()
        streamed.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      val newIds = got.flatMap(_._2).map(_.getLong(0)).toSet
      newIds should contain allOf (101L, 103L) // cluster members near-dup history
      newIds should not contain 105L           // near-origin novel vector passes
    } finally q.stop()
  }

  test("bm25ServeStream: per-batch ranked results match bm25ServeBatch on the same query rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    val docs = (1L to 40L).map { i =>
      i -> (Seq.fill((i % 3).toInt + 1)("spark").mkString(" ") +
        s" word$i " + (if (i % 2 == 0) "vector scan" else "merge window"))
    }.toDF("doc_id", "text")
    val index = Retrieval.buildBm25Index(docs, "doc_id", "text")
    val batches = Seq(
      Seq(("q1", "spark vector")),
      Seq(("q2", "merge window"), ("q3", "")))
    val stream = MemoryStream[(String, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.bm25ServeStream(
      stream.toDF().toDF("qid", "qtext"), index, "qid", "qtext", k = 5) {
      (rows, id) => got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = Retrieval.bm25ServeBatch(
          index, rows.toDF("qid", "qtext"), "qid", "qtext", k = 5).collect()
        streamed.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      // empty query text yields no rows; ranked hits arrive for q1/q2
      val queries = got.flatMap(_._2).map(_.getString(0)).toSet
      queries shouldBe Set("q1", "q2")
    } finally q.stop()
  }

  test("lmScoreStream: per-batch KN scores match kneserNeyAgainst on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog and a mat")).toDF("doc_id", "text")
    val model = LanguageModel.fitKn(train, "text")
    val batches = Seq(
      Seq((10L, "the cat and the dog"), (11L, "dog on the mat")),
      Seq((12L, "zz qq unseen tokens"), (13L, "one")))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.lmScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
      (rows, id) => got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = LanguageModel.kneserNeyAgainst(
          rows.toDF("doc_id", "text"), "doc_id", "text", model).collect()
        streamed.map(_.toString).sorted.toSeq shouldBe twin.map(_.toString).sorted.toSeq
      }
      // sub-2-token doc 13 is unscored; OOV doc 12 scores at the tail
      val byId = got.flatMap(_._2).map(r => r.getLong(0) -> r.getDouble(2)).toMap
      byId.keySet shouldBe Set(10L, 11L, 12L)
      byId(12L) should be > byId(10L)
    } finally q.stop()
  }

  test("lmScoreStream: a model of another order fails at stream build and persists nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    import org.apache.spark.storage.StorageLevel
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    for (model <- Seq(LanguageModel.fitKn3(train, "text"), LanguageModel.fitKn5(train, "text"))) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalArgumentException] {
        StreamingOps.lmScoreStream(
          stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
          (rows, _) => rows.collect(): Unit
        }
      }
      e.getMessage should include(
        s"lmScoreStream serves an order-2 model; this one is order ${model.order}")
      (model.tables :+ model.stats).foreach(_.storageLevel shouldBe StorageLevel.NONE)
      (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    }
  }

  test("lmScoreStream: the model cache releases when the query terminates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    import org.apache.spark.storage.StorageLevel
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"))
      .toDF("doc_id", "text")
    val model = LanguageModel.fitKn(train, "text")
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.lmScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
      (rows, _) => rows.collect(): Unit
    }.start()
    stream.addData(Seq((10L, "the cat and the dog")))
    q.processAllAvailable()
    // While running, the count tables are pinned...
    assert(model.table("c2").storageLevel != StorageLevel.NONE,
      "model must be cached while the query runs")
    q.stop()
    q.awaitTermination()
    // ...and the termination listener releases them (async bus — poll).
    val frames = model.keyedTables :+ ("stats" -> model.stats)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (frames.exists(_._2.storageLevel != StorageLevel.NONE) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    frames.foreach { case (name, f) =>
      assert(f.storageLevel == StorageLevel.NONE,
        s"retired scoring queries must not leak cached model blocks ($name)")
    }
  }

  test("lmScoreStream: an overridden query name still releases at quiescence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    import org.apache.spark.storage.StorageLevel
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"))
      .toDF("doc_id", "text")
    val model = LanguageModel.fitKn(train, "text")
    val stream = MemoryStream[(Long, String)]
    // The caller renames the query (monitoring convention) — the
    // name-keyed release can never match, so the QUIESCENCE fallback
    // must fire when the renamed query stops and nothing else runs.
    val q = StreamingOps.lmScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
      (rows, _) => rows.collect(): Unit
    }.queryName("caller-renamed-scorer").start()
    stream.addData(Seq((10L, "the cat and the dog")))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    // No other active query on the session -> the fallback releases.
    // (The terminated event may still see the stopping query as
    // active; a follow-up no-op query's termination settles it.)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def released = (model.tables :+ model.stats)
      .forall(_.storageLevel == StorageLevel.NONE)
    while (!released && System.nanoTime() < deadline) {
      val nudgeStream = MemoryStream[Long]
      val nudge = nudgeStream.toDF().writeStream
        .foreachBatch(
          (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => ())
        .start()
      nudgeStream.addData(1L)
      nudge.processAllAvailable(); nudge.stop(); nudge.awaitTermination()
      Thread.sleep(200)
    }
    assert(released,
      "renamed scoring queries must release via the quiescence fallback")
  }

  test("lmScoreStream: a pre-start quiescence release re-persists when the named query starts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    import org.apache.spark.storage.StorageLevel
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"))
      .toDF("doc_id", "text")
    val model = LanguageModel.fitKn(train, "text")
    val stream = MemoryStream[(Long, String)]
    // Writer CONSTRUCTED (listener registered, frames persist-marked)
    // but not yet started — the r13 ADVICE window.
    val writer = StreamingOps.lmScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
      (rows, _) => rows.collect(): Unit
    }
    // An unrelated query terminates on the otherwise-idle session →
    // the quiescence fallback fires and unpersists the model frames.
    val nudgeStream = MemoryStream[Long]
    val nudge = nudgeStream.toDF().writeStream
      .foreachBatch(
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => ())
      .start()
    nudgeStream.addData(1L)
    nudge.processAllAvailable(); nudge.stop(); nudge.awaitTermination()
    val deadline1 = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def level = model.table("c2").storageLevel
    while (level != StorageLevel.NONE && System.nanoTime() < deadline1)
      Thread.sleep(100)
    assert(level == StorageLevel.NONE,
      "pre-start quiescence must release (nothing can be serving yet)")
    // The named query now starts: onQueryStarted must RE-persist (the
    // old behavior also removed the listener on that release, so the
    // eventual query served uncached every micro-batch, forever).
    val q = writer.start()
    try {
      stream.addData(Seq((10L, "the cat and the dog")))
      q.processAllAvailable()
      val deadline2 = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (level == StorageLevel.NONE && System.nanoTime() < deadline2)
        Thread.sleep(100)
      assert(level != StorageLevel.NONE,
        "the named query's start must restore the model cache")
    } finally { q.stop(); q.awaitTermination() }
    // ...and the normal termination path still releases.
    val deadline3 = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (level != StorageLevel.NONE && System.nanoTime() < deadline3)
      Thread.sleep(100)
    assert(level == StorageLevel.NONE,
      "the normal termination release must still fire after a re-persist")
  }

  test("lm5ScoreStream: per-batch order-5 MKN scores match the batch serve; cache releases on stop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    import org.apache.spark.storage.StorageLevel
    val train = graft.Kn5TestCorpus.corpus(40).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn5-stream").toString
    LanguageModel.saveKn5Model(LanguageModel.fitKn5(train, "text"), dir)
    val model = LanguageModel.loadKn5Model(spark, dir)
    val batches = Seq(
      Seq((100L, "the cat sat on the mat"),
        (101L, "zz qq ww vv uu tt")),
      Seq((102L, "the cat sat on the mat " +
        graft.Kn5TestCorpus.gadgetText(3))))
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.lm5ScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
      (rows, id) => got.synchronized { got += ((id, rows.collect())) }
    }.start()
    val frames = model.tables :+ model.stats
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      // Served from storage: the stream never persists a model table,
      // and each batch's staged projection is released after its sink
      // (checked before the batch twins, whose one-shot checkpoint
      // would show up here).
      frames.foreach(_.storageLevel shouldBe StorageLevel.NONE)
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe
        empty
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = LanguageModel.modifiedKn5Against(
          rows.toDF("doc_id", "text"), "doc_id", "text", model).collect()
        streamed.map(_.toString).sorted.toSeq shouldBe
          twin.map(_.toString).sorted.toSeq
      }
      // OOV doc 101 scores above the fluent doc 100
      val byId = got.flatMap(_._2)
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      byId(101L) should be > byId(100L)
    } finally {
      q.stop(); q.awaitTermination()
    }
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE,
      "retired order-5 scoring queries must not leave cached model blocks"))
  }

  test("lm5ScoreStream over a key-bucketed model: storage-serving, no pin, no lingering blocks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    val train = graft.Kn5TestCorpus.corpus(40).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn5p-stream").toString
    LanguageModel.saveKn5ModelPartitioned(
      LanguageModel.fitKn5(train, "text"), dir, nKeyBuckets = 8)
    val part = LanguageModel.loadKn5Model(spark, dir)
    part.keyBuckets shouldBe Some(8)
    val batches = Seq(
      Seq((100L, "the cat sat on the mat"),
        (101L, "zz qq ww vv uu tt")),
      Seq((102L, "the cat sat on the mat " +
        graft.Kn5TestCorpus.gadgetText(3))))
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = StreamingOps.lm5ScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", part,
      floorEps = 1e-6) {
      (rows, id) => got.synchronized { got += ((id, rows.collect())) }
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      got.size shouldBe 2
      // Storage-serving: NOTHING stays pinned across batches — no
      // model persist (the layout is read pruned from parquet), and
      // each batch's staged projection released after its sink.
      // (Checked BEFORE the batch twins below, whose own one-shot
      // internal checkpoint would otherwise show up here.)
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe
        empty
      got.sortBy(_._1).map(_._2).zip(batches).foreach { case (streamed, rows) =>
        val twin = LanguageModel.modifiedKn5Against(
          rows.toDF("doc_id", "text"), "doc_id", "text", part).collect()
        streamed.map(_.toString).sorted.toSeq shouldBe
          twin.map(_.toString).sorted.toSeq
      }
    } finally { q.stop(); q.awaitTermination() }
  }

  test("lm5ScoreStreamFrom routes by the meta sidecar: neither the partitioned nor the flat dir pins a block") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    val train = graft.Kn5TestCorpus.corpus(40).toDF("doc_id", "text")
    val fit = LanguageModel.fitKn5(train, "text")
    val root = java.nio.file.Files.createTempDirectory("kn5-route").toString
    LanguageModel.saveKn5ModelPartitioned(fit, s"$root/part", nKeyBuckets = 8)
    LanguageModel.saveKn5Model(fit, s"$root/flat")
    val batch = Seq((100L, "the cat sat on the mat"),
      (101L, "zz qq ww vv uu tt"))
    val expected = LanguageModel.modifiedKn5Against(
        batch.toDF("doc_id", "text"), "doc_id", "text", fit)
      .collect().map(_.toString).sorted.toSeq
    def run(dir: String): (Seq[String], Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val stream = MemoryStream[(Long, String)]
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      var pinnedDuring = Set.empty[Int]
      val q = StreamingOps.lm5ScoreStreamFrom(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", dir) {
        (df, _) => rows.synchronized { rows ++= df.collect().map(_.toString) }
      }.start()
      try {
        stream.addData(batch); q.processAllAvailable()
        pinnedDuring =
          (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
      } finally { q.stop(); q.awaitTermination() }
      (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
      (rows.sorted.toSeq, pinnedDuring)
    }
    // Both layouts serve from storage: the batch serve's rows and ZERO
    // pinned blocks for the stream's whole lifetime (r14 verdict #2's
    // Done criterion, now on the flat layout too).
    val (partRows, partPinned) = run(s"$root/part")
    partRows shouldBe expected
    partPinned shouldBe empty
    val (flatRows, flatPinned) = run(s"$root/flat")
    flatRows shouldBe expected
    flatPinned shouldBe empty
    // A non-model dir dies at stream build with the contract named,
    // not at first table read with a raw path error.
    val notAModel = java.nio.file.Files
      .createTempDirectory("kn5-route-empty").toString
    val stream2 = MemoryStream[(Long, String)]
    intercept[IllegalArgumentException] {
      StreamingOps.lm5ScoreStreamFrom(
        stream2.toDF().toDF("doc_id", "text"), "doc_id", "text", notAModel) {
        (_, _) => ()
      }
    }.getMessage should include("neither")
  }

  test("cmsProfileStream: appended per-batch deltas merge to the one-pass sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.FeatureStats
    val all = (1 to 400).map(i => s"w${i % 23}")
    val batches = all.grouped(150).toSeq
    val stream = MemoryStream[String]
    val deltas = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val q = StreamingOps.cmsProfileStream(
      stream.toDF().toDF("v"), "v", width = 37, depth = 3) { (d, _) =>
      // materialize the delta (the sink normally appends to parquet)
      val rows = d.collect()
      deltas.synchronized {
        deltas += spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq), d.schema)
      }: Unit
    }.start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      deltas.size shouldBe batches.size
      val maintained = FeatureStats.cmsEstimate(
        FeatureStats.mergeCmsProfiles(deltas.toSeq),
        all.distinct.toDF("v2"), "v2")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val onePass = FeatureStats.cmsEstimate(
        FeatureStats.cmsProfile(all.toDF("v"), "v", width = 37, depth = 3),
        all.distinct.toDF("v2"), "v2")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      maintained shouldBe onePass // exact merge law, colliding width
    } finally q.stop()
  }

  test("WordPiece tokenize runs identically on a stream (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.WordPiece
    val m = WordPiece.Model(
      Seq("th", "##th", "er", "##er") ++
        ('a' to 'z').map(_.toString) ++ ('a' to 'z').map("##" + _),
      "[UNK]", 100)
    val docs = Seq(Doc(1L, "the weather report"), Doc(2L, "other letters"))
    val stream = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = WordPiece.tokenize(stream.toDF(), "doc_id", "text", m)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized { got ++= b.collect().map(_.toString) }: Unit
      }.start()
    try {
      stream.addData(docs); q.processAllAvailable()
      val twin = WordPiece.tokenize(docs.toDF(), "doc_id", "text", m)
        .collect().map(_.toString)
      got.sorted.toSeq shouldBe twin.sorted.toSeq
    } finally q.stop()
  }

  test("stateless corpus-quality ops run identically on streams (widen passes through)") {
    import spark.implicits._
    import graft.ops.TextOps
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Doc(1L, "reach me at bob@corp.example.org now a a a b"),
      Doc(2L, "x y x y x y plain text with no pii at all"),
      Doc(3L, "short one"))
    def transform(df: org.apache.spark.sql.DataFrame) =
      TextOps.repetitionStats(
        df.withColumn("clean", TextOps.redactPii(org.apache.spark.sql.functions.col("text"))),
        "clean")
        .select("doc_id", "clean", "n_tokens", "top_token_frac")
    val stream = MemoryStream[Doc]
    val q = transform(stream.toDF()).writeStream.format("memory")
      .queryName("qstream").outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
      val got = spark.table("qstream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = transform(docs.toDF()).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      got shouldBe batch
      got.find(_._1 == 1L).get._2 should include("<EMAIL>")
    } finally q.stop()
  }

  test("JsonQuarantine.parse runs identically on streams — quarantined rows survive append mode") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Doc(1L, """{"a":7,"b":"x"}"""),
      Doc(2L, """{"a":8,"b":"y"""),  // truncated mid-object
      Doc(3L, """{"a":9}"""))
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    def transform(df: org.apache.spark.sql.DataFrame) =
      graft.sources.JsonQuarantine.parse(
        df.withColumnRenamed("text", "js"), "js", schema)
    val stream = MemoryStream[Doc]
    val q = transform(stream.toDF()).writeStream.format("memory")
      .queryName("jsonq").outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
      val got = spark.table("jsonq").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
          r.getBoolean(3), Option(r.get(4)))).toSet
      val batch = transform(docs.toDF()).collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
          r.getBoolean(3), Option(r.get(4)))).toSet
      got shouldBe batch
      got.count(_._4) shouldBe 1 // the dead-letter row flows, not drops
    } finally q.stop()
  }

  test("CsvQuarantine.parse runs identically on streams — torn records flow labeled") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Doc(1L, "7,en,123"),
      Doc(2L, "8,fr"),        // torn record (under-arity)
      Doc(3L, "9,de,55"))
    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType), StructField("n", LongType)))
    def transform(df: org.apache.spark.sql.DataFrame) =
      graft.sources.CsvQuarantine.parse(
        df.withColumnRenamed("text", "line"), "line", schema)
    val stream = MemoryStream[Doc]
    val q = transform(stream.toDF()).writeStream.format("memory")
      .queryName("csvq").outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
      val got = spark.table("csvq").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(4))).toSet
      val batch = transform(docs.toDF()).collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(4))).toSet
      got shouldBe batch
      got.count(_._3) shouldBe 1
    } finally q.stop()
  }

  test("dedupWithinWatermark: repeated ids within horizon are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = StreamingOps.dedupWithinWatermark(
      stream.toDF(), Seq("user_id", "event_type"), "ts", "2 hours")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      val got = spark.table("dedup").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSeq
      got.size shouldBe got.toSet.size // no (user, type) appears twice
      got.toSet shouldBe Set((1L, "click"), (2L, "view"), (3L, "click"))
    } finally q.stop()
  }

  test("packStream: single micro-batch equals batch packing; state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 60L).map(i => PackDoc(i, 30L + (i * 13) % 100))

    // One micro-batch: in-batch (hash, id) order == batch global order.
    val s1 = MemoryStream[PackDoc]
    val q1 = StreamingOps.packStream(s1.toDF(), "doc_id", "n_tokens", 256, 4)
      .writeStream.format("memory").queryName("pack1").outputMode("append").start()
    try {
      s1.addData(docs)
      q1.processAllAvailable()
      val got = spark.table("pack1")
        .collect().map(r => (r.getLong(1), (r.getLong(0), r.getLong(3), r.getLong(4)))).toMap
      val batch = graft.ops.Packing.assignSequences(
        docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 256, 4)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Long]("pack_bucket"), r.getAs[Long]("tokens_before"),
            r.getAs[Long]("seq_idx")))).toMap
      got shouldBe batch
    } finally q1.stop()

    // Two micro-batches: per-bucket token totals continue, no overlap.
    val s2 = MemoryStream[PackDoc]
    val q2 = StreamingOps.packStream(s2.toDF(), "doc_id", "n_tokens", 256, 4)
      .writeStream.format("memory").queryName("pack2").outputMode("append").start()
    try {
      s2.addData(docs.take(30)); q2.processAllAvailable()
      s2.addData(docs.drop(30)); q2.processAllAvailable()
      val rows = spark.table("pack2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      rows.map(_._2).sorted shouldBe (1L to 60L)
      // Within each bucket the assignments tile the token stream:
      // sorted by tokens_before, each start = previous start + previous n.
      rows.groupBy(_._1).foreach { case (_, rs) =>
        val sorted = rs.sortBy(_._4)
        sorted.head._4 shouldBe 0L
        sorted.toSeq.sliding(2).foreach {
          case Seq(a, b) => b._4 shouldBe a._4 + a._3
          case _ => ()
        }
      }
    } finally q2.stop()
  }

  test("funnelStream: final state equals the batch funnel on ordered batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1L, t("2024-01-01 09:00:00"), "view", 0),
      Ev(1L, t("2024-01-01 09:05:00"), "click", 0),
      Ev(2L, t("2024-01-01 08:00:00"), "click", 0), // click before any view
      Ev(2L, t("2024-01-01 08:30:00"), "view", 0),
      Ev(3L, t("2024-01-01 10:00:00"), "view", 0),
      // --- second batch (later event times) ---
      Ev(1L, t("2024-01-01 09:30:00"), "purchase", 0),
      Ev(3L, t("2024-01-01 10:10:00"), "purchase", 0), // before 3's click
      Ev(3L, t("2024-01-01 10:20:00"), "click", 0),
      Ev(2L, t("2024-01-01 11:00:00"), "click", 0))
    val steps = Seq("view", "click", "purchase")
    val stream = MemoryStream[Ev]
    val out = StreamingOps.funnelStream(
      stream.toDF(), "user_id", "event_type", "ts", steps)
    val q = out.toDF("k", "times").writeStream
      .format("memory").queryName("funnel").outputMode("update").start()
    try {
      stream.addData(evs.take(5))
      q.processAllAvailable()
      stream.addData(evs.drop(5))
      q.processAllAvailable()
      // latest update per key = final state
      val got = spark.table("funnel").collect()
        .map(r => r.getString(0) -> r.getSeq[Any](1).map(Option(_)))
        .groupBy(_._1).map { case (k, rs) => k -> rs.last._2 }
      val batch = graft.ops.Sessionize.funnel(
        evs.toDF(), "user_id", "event_type", "ts", steps)
        .collect().map { r =>
          r.getLong(0).toString -> (1 to 3).map(i =>
            Option(r.getTimestamp(i)).map(ts => ts.getTime * 1000L))
        }.toMap
      // streaming emits the update trail; the last row per key must
      // carry exactly the batch times (epoch micros)
      got.keySet shouldBe batch.keySet
      batch.foreach { case (k, times) =>
        withClue(s"key $k: ") {
          got(k).map(_.map(_.asInstanceOf[Long])) shouldBe times
        }
      }
      // user 3's purchase BEFORE its click must not count in either engine
      batch("3")(2) shouldBe None
    } finally q.stop()
  }

  test("hotKeysStream flags heavy keys per window in APPEND mode (watermark evicts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1 fires 3 events in hour 10 (hot); others stay below. A
    // far-future flush event pushes the watermark past every real
    // window — APPEND mode only emits once a window finalizes, which
    // is exactly the property the full-window-struct grouping restores
    // (grouping by window.start strips event-time metadata: append
    // throws and state never evicts).
    val evs = Seq(
      Ev(1L, t("2024-01-01 10:01:00"), "click", 1.0),
      Ev(1L, t("2024-01-01 10:02:00"), "click", 1.0),
      Ev(1L, t("2024-01-01 10:03:00"), "click", 1.0),
      Ev(2L, t("2024-01-01 10:04:00"), "view", 1.0),
      Ev(1L, t("2024-01-01 11:01:00"), "click", 1.0))
    val flush = Ev(99L, t("2024-01-02 12:00:00"), "flush", 0.0)
    val stream = MemoryStream[Ev]
    val out = StreamingOps.hotKeysStream(
      stream.toDF(), "user_id", "ts", "1 hour", "10 minutes", minCount = 3L)
    val q = out.writeStream.format("memory").queryName("hotkeys")
      .outputMode("append").start()
    try {
      stream.addData(evs)
      q.processAllAvailable()
      stream.addData(Seq(flush))
      q.processAllAvailable()
      val got = spark.table("hotkeys")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSet
      val batch = StreamingOps.hotKeysStream(
        evs.toDF(), "user_id", "ts", "1 hour", "10 minutes", minCount = 3L)
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSet
      got shouldBe batch
      got shouldBe Set(("2024-01-01 10:00:00.0", 1L, 3L))
    } finally q.stop()
  }

  test("assignCentroid serves a prebuilt index identically on batch and stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Two well-separated clusters; index fitted once on a batch frame.
    val rnd = new scala.util.Random(7)
    case class Vec(id: Long, embedding: Seq[Double])
    val base = (1L to 40L).map { i =>
      val c = if (i % 2 == 0) 5.0 else -5.0
      (i, Seq.fill(4)(c + rnd.nextGaussian() * 0.1))
    }
    val batchDf = base.toDF("id", "embedding")
    val index = graft.ops.Similarity.fitIndex(
      batchDf, "id", "embedding", nCentroids = 2, m = 2, kSub = 2)
    val batch = graft.ops.Similarity.assignCentroid(batchDf, "embedding", index)
      .select("id", "centroid").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // Same rows through a MemoryStream with the same prebuilt index.
    val stream = MemoryStream[(Long, Seq[Double])]
    val out = graft.ops.Similarity.assignCentroid(
      stream.toDF().toDF("id", "embedding"), "embedding", index)
    val q = out.writeStream.format("memory").queryName("centassign")
      .outputMode("append").start()
    try {
      stream.addData(base.take(20))
      q.processAllAvailable()
      stream.addData(base.drop(20))
      q.processAllAvailable()
      val got = spark.table("centassign")
        .select("id", "centroid").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      got shouldBe batch
      // the two clusters land on two distinct centroids
      batch.values.toSet.size shouldBe 2
      base.filter(_._1 % 2 == 0).map(v => batch(v._1)).toSet.size shouldBe 1
    } finally q.stop()
  }
}
