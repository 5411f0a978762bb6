package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Multi-batch streaming SOAK at sf0.1 volume: the real tables are fed
  * through MemoryStream in many micro-batches, and each query must
  * (a) keep up — per-batch wall times are recorded and printed as one
  * `[soak]` line per query for SCALE.md — and (b) hold BOUNDED state:
  * `StreamingQueryProgress.stateOperators` row counts must stay
  * proportional to keys / open sessions, never to rows ingested. The
  * per-batch parity of these operators is oracled elsewhere
  * (pack_stream_batch, dedup_incremental, events_sessionize); this
  * suite is the state-growth / throughput regression canary the
  * parity specs can't be.
  */
class StreamingSoakSpec extends SparkSpec with Matchers {

  /** (batchId, wallMs, stateRows-per-operator) for every progress of q. */
  private def progressLog(q: StreamingQuery): Seq[(Long, Long, Seq[Long])] =
    q.recentProgress.toSeq.map { p =>
      (p.batchId, p.durationMs.asScala.values.map(_.toLong).sum,
        p.stateOperators.toSeq.map(_.numRowsTotal))
    }
  private implicit class JMap[K, V](m: java.util.Map[K, V]) {
    def asScala: scala.collection.mutable.Map[K, V] =
      scala.jdk.CollectionConverters.MapHasAsScala(m).asScala
  }

  private def soakLine(name: String, rows: Long, log: Seq[(Long, Long, Seq[Long])]): Unit = {
    val times = log.map(_._2)
    val states = log.flatMap(_._3)
    info(s"[soak] $name rows=$rows batches=${log.size} " +
      s"batchMs=${times.mkString("[", ",", "]")} " +
      s"stateRows=${log.map(_._3.sum).mkString("[", ",", "]")} " +
      s"maxState=${if (states.isEmpty) 0L else states.max}")
  }

  test("packStream soak: 5k docs in 10 batches, state pinned at bucket count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buckets = 8
    val docs = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), (col("n_chars") / 4).cast("long").as("n_tokens"))
      .as[PackDoc].collect().toSeq
    val stream = MemoryStream[PackDoc]
    val q = StreamingOps.packStream(stream.toDF(), "doc_id", "n_tokens", 2048, buckets)
      .writeStream.format("memory").queryName("pack_soak").outputMode("append").start()
    try {
      docs.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q).filter(_._3.nonEmpty)
      log.size should be >= 10
      // The whole point of the running-total design: state is ONE long
      // per bucket — 8 rows forever, at any corpus size.
      log.foreach { case (_, _, st) => st.sum should be <= buckets.toLong }
      spark.table("pack_soak").count() shouldBe docs.size.toLong
      soakLine("packStream", docs.size.toLong, log)
    } finally q.stop()
  }

  test("sessionWindowAgg soak: 100k events in 10 batches, state ~ open sessions, not stream length") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.ParquetTables.load(spark, sf("sf0.1") + "/events.parquet")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .orderBy("ts") // arrival in event-time order, as a replayed log would
      .as[Ev].collect().toSeq
    val stream = MemoryStream[Ev]
    val q = StreamingOps.sessionWindowAgg(
        stream.toDF(), "ts", "user_id", gap = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_soak").outputMode("append").start()
    try {
      events.grouped(10000).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q).filter(_._3.nonEmpty)
      log.size should be >= 10
      val stateBy = log.map(_._3.sum)
      // Bounded-state contract: eviction uses the watermark computed
      // from the PREVIOUS batch, so steady-state holds ~one
      // micro-batch worth of sessions (evicted next trigger) plus the
      // open tail — bounded by the batch size, NEVER by the stream
      // length. Growth across batches (state trending toward the
      // cumulative session count, ~90k here) is the regression this
      // soak exists to catch.
      stateBy.max should be <= (10000 * 13) / 10L // ≤1.3× batch rows
      stateBy.last.toDouble should be <= stateBy.head * 1.3
      // Sessions finalize as the watermark advances: by the last batch
      // the query has emitted most closed sessions downstream.
      spark.table("sess_soak").count() should be > 0L
      soakLine("sessionWindowAgg", events.size.toLong, log)
    } finally q.stop()
  }

  test("nearDupStream soak: 5k docs in 10 batches against a 5k-doc index, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val corpus = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), col("text")).as[Doc].collect().toSeq
    // Stream a re-keyed copy of the corpus (ids offset) so every
    // arriving doc has at least its own base twin to collide with —
    // the serving-time "is this new doc a dup of the corpus?" shape.
    val arriving = corpus.map(d => Doc(d.doc_id + 1000000L, d.text))
    val baseSigs = Dedup.minhashSignatures(
      corpus.toDF(), "doc_id", "text", shingleN = 3, k = 16)
    val path = java.nio.file.Files.createTempDirectory("graft-ndsoak").toString
    Dedup.saveLshBandIndex(baseSigs, path, k = 16, bands = 8, nHashBuckets = 64)
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val gotCount = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.nearDupStream(
      stream.toDF(), "doc_id", "text", Dedup.loadLshBandIndex(spark, path),
      3, 0.5, Int.MaxValue) { (pairs, _) =>
      gotCount.addAndGet(pairs.count())
    }.start()
    try {
      arriving.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      // foreachBatch against a persisted index is STATELESS — nothing
      // may accumulate in streaming state across batches.
      log.foreach { case (_, _, st) => st.sum shouldBe 0L }
      // block-manager hygiene, asserted BEFORE the batch twin (which
      // legitimately checkpoints its own two signature frames):
      // per-batch arrival frames are released after each sink, and the
      // index is read from storage, never pinned.
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
      // the in-frame serve over the signature table is the reference
      val batchTwin = Dedup.minhashLshAgainst(
        Dedup.minhashSignatures(arriving.toDF(), "doc_id", "text", shingleN = 3, k = 16),
        baseSigs, k = 16, bands = 8, threshold = 0.5).count()
      gotCount.get() shouldBe batchTwin
      gotCount.get() should be >= corpus.size.toLong // every doc finds its twin
      soakLine("nearDupStream", arriving.size.toLong, log)
    } finally q.stop()
  }

  test("exactDedupStream soak: 5k docs in 10 batches against the corpus index, every arrival classified as a dup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val corpus = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), col("text")).as[Doc].collect().toSeq
    val arriving = corpus.map(d => Doc(d.doc_id + 1000000L, d.text))
    val path = java.nio.file.Files.createTempDirectory("graft-exsoak").toString
    Dedup.saveExactIndexPartitioned(Dedup.exact(corpus.toDF(), "doc_id", "text"), path)
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val dups = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.exactDedupStream(
      stream.toDF(), "doc_id", "text",
      Dedup.loadExactIndexPartitioned(spark, path)) { (batch, _) =>
      rows.addAndGet(batch.count())
      dups.addAndGet(batch.filter(col("dup_of").isNotNull).count())
    }.start()
    try {
      arriving.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      // nothing stays pinned: the index is read from storage
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
      rows.get() shouldBe arriving.size.toLong  // every arrival classified
      dups.get() shouldBe arriving.size.toLong  // every text exists in history
      soakLine("exactDedupStream", arriving.size.toLong, log)
    } finally q.stop()
  }

  test("storage-serving stream soak: all four partitioned faces at sf0.1 volume, zero pinned blocks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val corpus = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), col("text")).as[Doc].collect().toSeq
    val arriving = corpus.map(d => Doc(d.doc_id + 1000000L, d.text))
    val scratch = java.nio.file.Files.createTempDirectory("graft-ssoak").toString
    Dedup.saveExactIndexPartitioned(
      Dedup.exact(corpus.toDF(), "doc_id", "text"), s"$scratch/ex", 64)
    Dedup.saveSimhashBandIndex(
      Dedup.withSimhash(corpus.toDF(), "doc_id", "text"), s"$scratch/sh", 64)
    Dedup.saveWinnowFpIndex(
      Dedup.winnowFingerprints(corpus.toDF(), "doc_id", "text"),
      s"$scratch/wn", 64)
    Dedup.saveLshBandIndex(
      Dedup.minhashSignatures(corpus.toDF(), "doc_id", "text",
        shingleN = 3, k = 16),
      s"$scratch/mh", k = 16, bands = 8, maxBucket = 200, nHashBuckets = 64)
    val exIdx = Dedup.loadExactIndexPartitioned(spark, s"$scratch/ex")
    val shIdx = Dedup.loadSimhashBandIndex(spark, s"$scratch/sh")
    val wnIdx = Dedup.loadWinnowFpIndex(spark, s"$scratch/wn")
    val mhIdx = Dedup.loadLshBandIndex(spark, s"$scratch/mh")

    // exact: every arrival is a verbatim copy of history → all dups
    locally {
      val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
      val stream = MemoryStream[Doc]
      val rows = new java.util.concurrent.atomic.AtomicLong(0)
      val dups = new java.util.concurrent.atomic.AtomicLong(0)
      val q = StreamingOps.exactDedupStream(
        stream.toDF(), "doc_id", "text", exIdx) { (batch, _) =>
        rows.addAndGet(batch.count())
        dups.addAndGet(batch.filter(col("dup_of").isNotNull).count())
      }.start()
      try {
        arriving.grouped(500).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        val log = progressLog(q)
        log.size should be >= 10
        log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
        // the storage-serving posture's point: NOTHING stays pinned —
        // no index persist, no lingering per-batch checkpoint blocks
        (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
        rows.get() shouldBe arriving.size.toLong
        dups.get() shouldBe arriving.size.toLong
        soakLine("exactDedupStream_partitioned", arriving.size.toLong, log)
      } finally q.stop()
    }

    // simhash: parity with the pruned batch twin at hamming 2
    locally {
      val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
      val stream = MemoryStream[Doc]
      val pairs = new java.util.concurrent.atomic.AtomicLong(0)
      val q = StreamingOps.simhashDedupStream(
        stream.toDF(), "doc_id", "text", shIdx, 2) { (batch, _) =>
        pairs.addAndGet(batch.count())
      }.start()
      try {
        arriving.grouped(500).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        val log = progressLog(q)
        log.size should be >= 10
        log.foreach { case (_, _, st) => st.sum shouldBe 0L }
        (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
        val twin = Dedup.simhashAgainst(
          arriving.toDF(), shIdx, "doc_id", "text", 2).count()
        pairs.get() shouldBe twin
        pairs.get() should be >= corpus.size.toLong
        soakLine("simhashDedupStream_partitioned", arriving.size.toLong, log)
      } finally q.stop()
    }

    // winnow: stored-df cap at serve time, parity with the pruned twin
    locally {
      val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
      val stream = MemoryStream[Doc]
      val pairs = new java.util.concurrent.atomic.AtomicLong(0)
      val q = StreamingOps.winnowStream(
        stream.toDF(), "doc_id", "text", wnIdx, 2, 200) { (batch, _) =>
        pairs.addAndGet(batch.count())
      }.start()
      try {
        arriving.grouped(500).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        val log = progressLog(q)
        log.size should be >= 10
        log.foreach { case (_, _, st) => st.sum shouldBe 0L }
        (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
        val twin = Dedup.winnowAgainst(
          arriving.toDF(), wnIdx, "doc_id", "text", 2, 200).count()
        pairs.get() shouldBe twin
        pairs.get() should be >= corpus.size.toLong
        soakLine("winnowStream_partitioned", arriving.size.toLong, log)
      } finally q.stop()
    }

    // minhash: band-bucketed index, parity with the pruned twin
    locally {
      val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
      val stream = MemoryStream[Doc]
      val pairs = new java.util.concurrent.atomic.AtomicLong(0)
      val q = StreamingOps.nearDupStream(
        stream.toDF(), "doc_id", "text", mhIdx, 3, 0.5, 200) { (batch, _) =>
        pairs.addAndGet(batch.count())
      }.start()
      try {
        arriving.grouped(500).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        val log = progressLog(q)
        log.size should be >= 10
        log.foreach { case (_, _, st) => st.sum shouldBe 0L }
        (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
        val twin = Dedup.minhashLshAgainst(
          Dedup.minhashSignatures(arriving.toDF(), "doc_id", "text",
            shingleN = 3, k = 16),
          mhIdx, threshold = 0.5, maxBucket = 200).count()
        pairs.get() shouldBe twin
        pairs.get() should be >= 1L // near-dup structure exists at sf0.1
        soakLine("nearDupStream_partitioned", arriving.size.toLong, log)
      } finally q.stop()
    }
  }

  test("simhashDedupStream soak: 5k docs in 10 batches against the fingerprint index, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val corpus = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), col("text")).as[Doc].collect().toSeq
    val arriving = corpus.map(d => Doc(d.doc_id + 1000000L, d.text))
    val index = Dedup.withSimhash(corpus.toDF(), "doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-shsoak").toString
    Dedup.saveSimhashBandIndex(index, path)
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val pairs = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.simhashDedupStream(
      stream.toDF(), "doc_id", "text",
      Dedup.loadSimhashBandIndex(spark, path), 2) { (batch, _) =>
      pairs.addAndGet(batch.count())
    }.start()
    try {
      arriving.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
      // the in-frame serve over the fingerprint table is the reference
      val twin = Dedup.simhashAgainst(
        arriving.toDF(), index, "doc_id", "text", maxHamming = 2).count()
      pairs.get() shouldBe twin
      pairs.get() should be >= corpus.size.toLong // every doc hits its twin at hamming 0
      soakLine("simhashDedupStream", arriving.size.toLong, log)
    } finally q.stop()
  }

  test("winnowStream soak: 5k docs in 10 batches against the fingerprint index, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val corpus = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), col("text")).as[Doc].collect().toSeq
    val arriving = corpus.map(d => Doc(d.doc_id + 1000000L, d.text))
    val index = Dedup.winnowFingerprints(corpus.toDF(), "doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-wnsoak").toString
    Dedup.saveWinnowFpIndex(index, path)
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val pairs = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.winnowStream(
      stream.toDF(), "doc_id", "text",
      Dedup.loadWinnowFpIndex(spark, path), 2, 200) { (batch, _) =>
      pairs.addAndGet(batch.count())
    }.start()
    try {
      arriving.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe empty
      // the in-frame serve with the same cap is the reference
      val twin = Dedup.winnowAgainst(
        arriving.toDF(), index, "doc_id", "text",
        minShared = 2, maxDf = 200).count()
      pairs.get() shouldBe twin
      pairs.get() should be >= corpus.size.toLong // every doc hits its twin
      soakLine("winnowStream", arriving.size.toLong, log)
    } finally q.stop()
  }

  test("semanticDedupStream soak: sf0.1 embeddings in 10 batches against the encoded history, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Similarity
    val emb = graft.sources.ParquetTables
      .load(spark, sf("sf0.1") + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val idx = Similarity.fitIndex(emb, "vec_id", "embedding",
      nCentroids = 64, m = 8, kSub = 16)
    val encoded = Similarity.encodeCorpus(emb, "vec_id", "embedding", idx)
    val vecs = emb.as[(Long, Seq[Float])].collect().toSeq
    val arriving = vecs.map { case (id, v) => (id + 1000000L, v) }
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[(Long, Seq[Float])]
    val pairs = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.semanticDedupStream(
      stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      emb, encoded, idx, threshold = 0.99, nProbe = 4, adcMargin = 2.0) {
      (batch, _) => pairs.addAndGet(batch.count()): Unit
    }.start()
    try {
      arriving.grouped(200).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      // the history vectors AND the encoded table persist for the
      // query's lifetime — nothing else may linger
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore)
        .size should be <= 2
      val twin = Similarity.nearDupAgainst(
        arriving.toDF("vec_id", "embedding"), emb, encoded,
        "vec_id", "embedding", idx,
        threshold = 0.99, nProbe = 4, adcMargin = 2.0).count()
      pairs.get() shouldBe twin
      pairs.get() should be >= vecs.size.toLong // every vec finds its copy
      soakLine("semanticDedupStream", arriving.size.toLong, log)
    } finally q.stop()
  }

  test("bm25ServeStream soak: query batches in 10 triggers against the posting index, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Retrieval
    val docs = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val index = Retrieval.buildBm25Index(docs, "doc_id", "text")
    // Query stream: every doc's 64-char prefix, served in 10 batches.
    val queryRows = docs
      .select(col("doc_id"), substring(col("text"), 1, 64).as("text"))
      .as[Doc].collect().toSeq
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val hits = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.bm25ServeStream(
      stream.toDF().toDF("query_id", "query_text"), index,
      "query_id", "query_text", k = 5) { (batch, _) =>
      hits.addAndGet(batch.count())
    }.start()
    try {
      queryRows.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      // only the query-lifetime persisted posting table may remain
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore)
        .size should be <= 1
      val twin = Retrieval.bm25ServeBatch(index,
        queryRows.toDF("query_id", "query_text"),
        "query_id", "query_text", k = 5).count()
      hits.get() shouldBe twin
      hits.get() should be >= queryRows.size.toLong // every query ranks its own doc
      soakLine("bm25ServeStream", queryRows.size.toLong, log)
    } finally q.stop()
  }

  test("driftStream soak: 600k lineitem prices in 10 batches, stateless, every batch scored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.FeatureStats
    val prices = spark.read.parquet(sf("sf0.1") + "/lineitem.parquet")
      .select(col("l_extendedprice").cast("double")).as[Double].collect().toSeq
    // Model fit ONCE on the first half; the full stream scores against
    // the fitted literal — nothing re-aggregates the baseline.
    val model = FeatureStats.fitDrift(
      prices.take(prices.size / 2).toDF("v"), "v", FeatureStats.Binning.EqualWidth(10))
    val stream = MemoryStream[Double]
    val scored = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.driftStream(
      stream.toDF().withColumnRenamed("value", "v"), model) { (row, _) =>
      val r = row.head()
      r.getAs[Long]("n_cur") should be > 0L
      scored.incrementAndGet()
    }.start()
    try {
      prices.grouped(60000).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      scored.get() should be >= 10L // one drift row per micro-batch
      // foreachBatch scoring against a literal baseline is STATELESS —
      // the monitor must hold zero rows at any stream length.
      log.foreach { case (_, _, st) => st.sum shouldBe 0L }
      soakLine("driftStream", prices.size.toLong, log)
    } finally q.stop()
  }

  test("driftStream soak, sliced quantile model: 600k (flag, price) rows in 10 batches, stateless, every slice every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.FeatureStats
    val rows = spark.read.parquet(sf("sf0.1") + "/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .as[(String, Double)].collect().toSeq
    // Equal-mass edges + per-slice masses fit ONCE (KLL mode — the
    // 100 TB fit); the stream scores against broadcast literals.
    val model = FeatureStats.fitDrift(
      rows.take(rows.size / 2).toDF("s", "v"), "v",
      FeatureStats.Binning.Quantile(10, exact = false), slice = Some("s"))
    val nSlices = model.baseCounts.map(_._1).distinct.size
    val stream = MemoryStream[(String, Double)]
    val scored = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.driftStream(
      stream.toDF().toDF("s", "v"), model) { (df, _) =>
      df.count() shouldBe nSlices.toLong // one row per baseline slice
      scored.incrementAndGet()
    }.start()
    try {
      rows.grouped(60000).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      scored.get() should be >= 10L
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      soakLine("driftStream(sliced quantile)", rows.size.toLong, log)
    } finally q.stop()
  }

  test("pqIndexStream soak: sf0.1 embeddings in 10 batches, stateless encode, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Similarity
    // Index fit ONCE on the corpus (same params as the
    // sim_topk_pq_incremental oracle); the stream encodes against its
    // broadcast literals — a stateless codegen projection, so state
    // must hold ZERO rows at any stream length and per-batch wall must
    // stay flat (nothing accumulates, nothing re-fits).
    val emb = graft.sources.ParquetTables
      .load(spark, sf("sf0.1") + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val idx = Similarity.fitIndex(emb, "vec_id", "embedding",
      nCentroids = 64, m = 8, kSub = 16)
    val vecs = emb.as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val appended = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.pqIndexStream(
      stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", idx) {
      (enc, _) => appended.addAndGet(enc.count()): Unit
    }.start()
    try {
      vecs.grouped(200).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      // stateless: the monitor holds zero streaming state forever
      log.foreach { case (_, _, st) => st.sum shouldBe 0L }
      // append-composability: the incrementally-built corpus is
      // row-for-row the one-shot encode (the oracle proves search
      // parity; here the soak proves nothing was dropped/duplicated)
      appended.get() shouldBe vecs.size.toLong
      appended.get() shouldBe
        Similarity.encodeCorpus(emb, "vec_id", "embedding", idx).count()
      soakLine("pqIndexStream", vecs.size.toLong, log)
    } finally q.stop()
  }

  test("validateStream soak: 150k orders in 10 batches, stateless, gates always fire-able") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.FeatureStats
    val orders = spark.read.parquet(sf("sf0.1") + "/orders.parquet")
      .select(col("o_orderstatus"), col("o_totalprice").cast("double"))
      .as[(String, Double)].collect().toSeq
    val specs = FeatureStats.collectSchema(FeatureStats.inferSchema(
      orders.take(orders.size / 2).toDF("o_orderstatus", "o_totalprice"),
      Seq("o_orderstatus", "o_totalprice"), maxDomain = 8))
    val stream = MemoryStream[(String, Double)]
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.validateStream(
      stream.toDF().toDF("o_orderstatus", "o_totalprice"), specs) { (rows, _) =>
      // Every anomaly row must carry a non-NULL n_bad so sink gates
      // (n_bad > 0) always evaluate — the empty-batch NULL regression
      // this round fixed would break exactly here.
      rows.collect().foreach(r => r.isNullAt(r.fieldIndex("n_bad")) shouldBe false)
      batches.incrementAndGet()
    }.start()
    try {
      orders.grouped(15000).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      batches.get() should be >= 10L
      // one conditional-agg pass per batch, no streaming state
      log.foreach { case (_, _, st) => st.sum shouldBe 0L }
      soakLine("validateStream", orders.size.toLong, log)
    } finally q.stop()
  }

  /** sf0.1 events split into a spine (view events) and a label/feature
    * log (purchase events) for the custom-state as-of soaks. */
  private def asOfSoakData() = {
    import org.apache.spark.sql.Row
    val all = graft.sources.ParquetTables.load(spark, sf("sf0.1") + "/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .orderBy("ts")
      .collect().toSeq
    val spine = all.filter(_.getString(3) == "view")
      .map((r: Row) => IdEv(r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val labels = all.filter(_.getString(3) == "purchase")
      .map((r: Row) => Feat(r.getLong(1), r.getTimestamp(2), r.getLong(0).toDouble))
    (spine, labels)
  }

  /** Time-aligned replay of both logs in 10 batches — both are cut at
    * the SAME time boundaries (count-based chunking would let one
    * stream's chunk end hours past the other's; the union watermark
    * then drops the slower stream's next chunk head as late) — plus
    * two far-future flush hops so every real event's window provably
    * closes. */
  private def replayAsOf(
      eStream: MemoryStream[IdEv], lStream: MemoryStream[Feat],
      spine: Seq[IdEv], labels: Seq[Feat],
      q: StreamingQuery): Unit = {
    val tsAll = spine.map(_.ts.getTime) ++ labels.map(_.fts.getTime)
    val (lo, hi) = (tsAll.min, tsAll.max + 1)
    val cut = (i: Int) => lo + (hi - lo) * i / 10
    (0 until 10).foreach { i =>
      val ec = spine.filter(e => e.ts.getTime >= cut(i) && e.ts.getTime < cut(i + 1))
      val lc = labels.filter(l => l.fts.getTime >= cut(i) && l.fts.getTime < cut(i + 1))
      if (ec.nonEmpty) eStream.addData(ec)
      if (lc.nonEmpty) lStream.addData(lc)
      q.processAllAvailable()
    }
    eStream.addData(Seq(IdEv(-1L, 999999L, t("2024-03-01 00:00:00"))))
    lStream.addData(Seq(Feat(999999L, t("2024-03-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    eStream.addData(Seq(IdEv(-2L, 999999L, t("2024-04-01 00:00:00"))))
    lStream.addData(Seq(Feat(999999L, t("2024-04-01 00:00:00"), 0.0)))
    q.processAllAvailable()
  }

  /** Shared body of the three custom-state as-of soaks: run the face
    * over the sf0.1 replay, pin bounded state, exactly-once resolution
    * of every spine event, and full batch parity. */
  private def asOfSoak(
      name: String,
      streamFace: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
      batchFace: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (spine, labels) = asOfSoakData()
    val eStream = MemoryStream[IdEv]
    val lStream = MemoryStream[Feat]
    val out = streamFace(
      eStream.toDF().select($"user_id".cast("string").as("key"),
        $"ts".as("ets"), $"event_id"),
      lStream.toDF().select($"key".cast("string").as("key"),
        $"fts".as("lts"), $"score".cast("string").as("payload")))
    val q = out.writeStream.format("memory").queryName(s"${name}_soak")
      .outputMode("append").start()
    try {
      replayAsOf(eStream, lStream, spine, labels, q)
      val log = progressLog(q).filter(_._3.nonEmpty)
      log.size should be >= 10
      // State ~ events/labels inside the window of a 30-day log
      // (≈ hundreds), never ~ the 40k rows ingested.
      log.flatMap(_._3).max should be < 5000L
      val rows = spark.table(s"${name}_soak").filter($"event_id" >= 0L)
        .collect()
      // exactly-once on RAW rows: a Set would collapse a duplicate
      // re-emission of the same (event_id, payload) undetected
      rows.length shouldBe spine.size
      val got = rows
        .map(r => (r.getLong(0), Option(r.getString(3)).map(_.toDouble)))
        .toSet
      got.size shouldBe spine.size
      val batch = batchFace(spine.toDF(), labels.toDF())
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[Any]("score")).map(_.asInstanceOf[Double])))
        .toSet
      got shouldBe batch
      soakLine(name, (spine.size + labels.size).toLong, log)
    } finally q.stop()
  }

  test("forwardStreamStreamWithState soak: 20k view events vs 20k purchase labels in 10 batches, state ~ horizon window") {
    val horizon = 3600L
    asOfSoak("fwd",
      (e, l) => StreamingOps.forwardStreamStreamWithState(
        e, l, horizonSeconds = horizon, watermark = "10 minutes"),
      (s, l) => graft.join.DirectionalAsOf.forward(
        s, "ts", l, "fts", joinKeys = Seq("user_id" -> "key"),
        features = Seq("score"), horizonSeconds = horizon))
  }

  test("nearestStreamStreamWithState soak: nearest-within-tolerance over the same 40k-row replay") {
    val tol = 1800L
    asOfSoak("near",
      (e, l) => StreamingOps.nearestStreamStreamWithState(
        e, l, toleranceSeconds = tol, watermark = "10 minutes"),
      (s, l) => graft.join.DirectionalAsOf.nearest(
        s, "ts", l, "fts", joinKeys = Seq("user_id" -> "key"),
        features = Seq("score"), toleranceSeconds = tol))
  }

  test("pitStreamStreamWithState soak: backward as-of over the same 40k-row replay") {
    val ttl = 3600L
    asOfSoak("pitbk",
      (e, l) => StreamingOps.pitStreamStreamWithState(
        e.select(col("key"), col("ets"), col("event_id")),
        l.select(col("key"), col("lts").as("fts"), col("payload")),
        ttlSeconds = ttl, watermark = "10 minutes"),
      (s, l) => graft.join.PointInTimeJoin.join(
        s, "ts",
        Seq(graft.join.ResolvedView(
          name = "lab", source = l, joinKeys = Seq("user_id" -> "key"),
          tsCol = "fts", createdTs = None, features = Seq("score"),
          ttlSeconds = Some(ttl)))))
  }

  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  test("lmScoreStream soak: the sf0.1 corpus in 10 batches against a fitted KN model, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    val docs = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val model = LanguageModel.fitKn(docs, "text")
    val docRows = docs.as[Doc].collect().toSeq
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val scored = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.lmScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
      (batch, _) => scored.addAndGet(batch.count()): Unit
    }.start()
    try {
      docRows.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      // only the four query-lifetime persisted model tables may remain
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore)
        .size should be <= 4
      val twin = LanguageModel.kneserNeyAgainst(
        docRows.toDF("doc_id", "text"), "doc_id", "text", model).count()
      scored.get() shouldBe twin
      scored.get() should be >= (docRows.size.toLong * 9) / 10 // ≥2-token docs
      soakLine("lmScoreStream", docRows.size.toLong, log)
    } finally q.stop()
  }

  test("lm5ScoreStream soak: sf0.1 in 10 batches against a fitted order-5 MKN model, parity with batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    // Gadget-enrich the corpus so the order-5 count-of-counts have
    // decay at every level (the lm_score_kn5 oracle synthesis).
    val docs = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"),
        concat_ws(" ", col("text"),
          udf((id: Long) => graft.Kn5TestCorpus.gadgetText(id)).apply(col("doc_id")))
          .as("text"))
    val model = LanguageModel.fitKn5(docs, "text")
    val docRows = docs.as[Doc].collect().toSeq
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val scored = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.lm5ScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model) {
      (batch, _) => scored.addAndGet(batch.count()): Unit
    }.start()
    try {
      docRows.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      // Served from storage: the stream persists no model table, and
      // each batch's staged projection is released after its sink.
      (model.tables :+ model.stats).foreach(
        _.storageLevel shouldBe org.apache.spark.storage.StorageLevel.NONE)
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe
        empty
      val twin = LanguageModel.modifiedKn5Against(
        docRows.toDF("doc_id", "text"), "doc_id", "text", model).count()
      scored.get() shouldBe twin
      soakLine("lm5ScoreStream", docRows.size.toLong, log)
    } finally q.stop()
  }

  test("lm5ScoreStream soak (key-bucketed model): sf0.1 in 10 batches, storage-serving, ZERO lingering blocks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LanguageModel
    val docs = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select(col("doc_id"),
        concat_ws(" ", col("text"),
          udf((id: Long) => graft.Kn5TestCorpus.gadgetText(id)).apply(col("doc_id")))
          .as("text"))
    val dir = java.nio.file.Files.createTempDirectory("kn5p-soak").toString
    LanguageModel.saveKn5ModelPartitioned(
      LanguageModel.fitKn5(docs, "text"), dir, nKeyBuckets = 32)
    val part = LanguageModel.loadKn5Model(spark, dir)
    val docRows = docs.as[Doc].collect().toSeq
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[Doc]
    val scored = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.lm5ScoreStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", part,
      floorEps = 1e-6) {
      (batch, _) => scored.addAndGet(batch.count()): Unit
    }.start()
    try {
      docRows.grouped(500).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val log = progressLog(q)
      log.size should be >= 10
      log.foreach { case (_, _, st) => st.sum shouldBe 0L } // stateless
      // Storage-serving: NOTHING may remain — the model reads pruned
      // from parquet and each batch's staged projection is released
      // after its sink.
      (spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore) shouldBe
        empty
      val twin = LanguageModel.modifiedKn5Against(
        docRows.toDF("doc_id", "text"), "doc_id", "text", part).count()
      scored.get() shouldBe twin
      soakLine("lm5ScoreStreamPartitioned", docRows.size.toLong, log)
    } finally q.stop()
  }
}
