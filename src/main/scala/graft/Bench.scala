package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus(32)
    val spark = LocalSession(cpus)
    // Self-diagnosis: count task failures (retries) per query via a
    // listener. A retried task silently inflates that query's wall
    // time — r6's bench tail showed a mid-run stack trace with no
    // record of which query it hit; now the JSON line itself says
    // whether the run was retry-contaminated. Attribution rides a
    // volatile query-name tag; listener delivery is async, so counts
    // are attributed best-effort (the totals are exact after the
    // post-run drain sleep below).
    val taskFailures = new java.util.concurrent.atomic.AtomicLong(0)
    val queryErrors = new java.util.concurrent.atomic.AtomicLong(0)
    val failuresBy = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var currentQuery = "warmup"
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.reason != org.apache.spark.Success) {
          taskFailures.incrementAndGet()
          failuresBy.merge(currentQuery, 1L, (a, b) => a + b)
        }
    })
    // Full materialization, NOT count(): timing `df.count()` plans
    // Aggregate(count(1)) over the query, and Catalyst's column
    // pruning deletes deterministic projection expressions nothing
    // references — so pure-projection queries (pii_redact, text_clean,
    // embed_project/whiten kin) were benching scan+count, not their
    // expression cost (r9 verdict advisory #1). The noop sink keeps
    // every output column referenced: each row is fully computed and
    // handed to a discarding writer — write-path overhead without the
    // bytes. Join/agg/window/codec queries measure the same work as
    // before (their heavy ops were never prunable); see SURVEY §8.9
    // for the one-time re-baseline.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Untimed warmup: touch every table (footers + page cache) and run
    // one representative job so JIT/codegen startup cost doesn't land
    // on whichever query happens to run first.
    try {
      graft.sources.ParquetTables.registerAll(spark, sfDir)
        .foreach(t => spark.table(t).count())
      SparkEntry.queries.get("pit_events_orders").foreach(q => materialize(q(spark, sfDir)))
    } catch { case _: Throwable => () }
    // Two timed passes, report the per-query minimum: single-JVM local
    // benches on shared hosts see multi-second noise spikes (GC, host
    // contention); min-of-2 keeps the measurement about the plan, not
    // the weather.
    // Optional name filter (args) for targeted re-benching — pinning a
    // flagged query min-of-N on an idle host without the full sweep.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    // Sweep in NAME order, not Map iteration order: HashMap order
    // reshuffles whenever a round adds queries, which moves every
    // query's in-sweep neighborhood (JIT/GC/block-manager context) and
    // showed up in r7 as phantom 3× "regressions" on queries whose
    // code hadn't changed. Sorted order is stable round-over-round, so
    // per-query diffs compare like against like.
    val sweepOrder = selected.toSeq.sortBy(_._1)
    def timeAll(): Map[String, Double] = sweepOrder.map { case (name, fn) =>
      currentQuery = name
      val t0 = System.nanoTime()
      try { materialize(fn(spark, sfDir)) }
      catch { case _: Throwable => queryErrors.incrementAndGet(); () }
      val t = (System.nanoTime() - t0) / 1e9
      // Query isolation: localCheckpoint/persist blocks live for the
      // JVM, so a long sweep accumulates every prior query's blocks
      // and later queries time under growing memory/GC pressure that
      // no standalone run has (corpus_prep_pipeline measured 3.1 s
      // targeted vs 12 s late in a 156-query sweep, BOTH passes — the
      // r7 "phantom regression" mechanism, memory edition). Dropping
      // them after the measurement keeps each timing about the query,
      // not its predecessors' leftovers.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sqlContext.clearCache()
      name -> t
    }.toMap
    // Calibration canary (r15 verdict #1): ONE fixed CPU-bound job —
    // no IO, no shuffle, constant work — timed min-of-3 before AND
    // after the sweep, so host-state drift is MEASURED per-sweep
    // instead of argued per-round (two consecutive rounds spent an
    // adjudication cycle on movers that idle-host re-runs showed were
    // host load). `calib` = the best of all six runs (a loaded host
    // elevates even the min); `calib_ratio` = calib / the median of
    // committed history at the same sf. One untimed run first so the
    // canary's own JIT warmup never lands in the measurement.
    def calibOnce(): Double = {
      currentQuery = "calib"
      val t0 = System.nanoTime()
      calibJob(spark, cpus)
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce() // warmup, untimed
    val calibPre = Seq.fill(3)(calibOnce()).min
    val (pass1, pass2) = (timeAll(), timeAll())
    val calibPost = Seq.fill(3)(calibOnce()).min
    val calib = math.min(calibPre, calibPost)
    val results = pass1.map { case (k, v) => k -> math.min(v, pass2(k)) }
    // Per-query historical band from the committed BENCH_r*.json in
    // the working directory: the sweep itself adjudicates in-band /
    // out-of-band against what past rounds actually measured, so a
    // query whose committed history already contains sweep-context
    // spikes (bm25_batch flagged in two consecutive rounds, each time
    // adjudicated as host load) stops consuming a manual adjudication
    // cycle per round. Band = [p10, p90] over the per-round values
    // (min 3 samples; historical lines elide cheap queries, so
    // coverage is the slow set — exactly the queries worth flagging),
    // with +25% tolerance: the question the band answers is "is this
    // value within what committed history has shown", so a repeat of
    // an already-adjudicated spike (4.0 s vs a 3.35 s p90) must stay
    // in-band while a genuine regression (beyond anything committed,
    // plus margin) flags. HIGH side only — flagging
    // faster-than-history would re-create the per-round adjudication
    // churn for every landed optimization until 3 new rounds shifted
    // p10 down (review finding r14); improvements are
    // compare_bench.py's job, regressions are this flag's.
    val hist = benchHistory(sfDir = sfDir)
    val calibRatio = hist.calibMedian.map(calib / _)
    val outOfBand =
      outOfBandHigh(results, hist, calibRatio.getOrElse(1.0))
    // Drain the async listener bus before reading the counters (there
    // is no public waitUntilEmpty; queries are done, 1 s is plenty).
    Thread.sleep(1000)
    // The harness reading this line keeps only the last ~2000 chars of
    // stdout, and sbt appends its own "[success] Total time: …" line
    // after ours — so the JSON must fit well under the window or its
    // head gets clipped and the driver records `parsed: null` (this
    // happened in r1 and r3 as the query count grew). `value` always
    // sums EVERY query; the per-query map reports the slowest queries
    // that fit a conservative budget, so the map stays informative
    // (cheap sub-second queries are the ones elided) at any count.
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val budget = 1600
    val slowestFirst = results.toSeq.sortBy { case (k, v) => (-v, k) }
    // Failure diagnostics: total always; per-query attribution only
    // when nonzero (top 5 by count — it shares the line budget).
    val failDiag = {
      val tf = taskFailures.get(); val qe = queryErrors.get()
      val base = s""""task_failures":$tf,"query_errors":$qe"""
      if (tf == 0) base
      else {
        import scala.jdk.CollectionConverters._
        val by = failuresBy.asScala.toSeq.sortBy { case (k, v) => (-v.longValue, k) }
          .take(5).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
        s"""$base,"task_failures_by":$by"""
      }
    }
    // out-of-band rides BEFORE the trimmable queries map (it is the
    // actionable part of the line); bands_checked says how many
    // queries had enough history to judge at all.
    val oobJson = outOfBand.take(8)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // calib / calib_ratio ride the line so the NEXT round's bands can
    // normalize by this sweep's host state (ratio absent until a
    // committed round carries calib).
    val calibJson = s""""calib":${fmt(calib)}""" +
      calibRatio.fold("")(r => s""","calib_ratio":${fmt(r)}""")
    def line(entries: Seq[(String, Double)]): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},$failDiag,$calibJson,"bands_checked":${hist.bands.size},"out_of_band":$oobJson,"queries":$qs,"sf":"$sfDir"}"""
    }
    var keep = slowestFirst
    while (keep.nonEmpty && line(keep).length > budget) keep = keep.dropRight(1)
    println(line(keep))
    spark.stop()
  }

  /** The calibration canary's job body: hash `rows` longs and fold
    * them into one value. The per-value 32-bit mask bounds the ANSI
    * sum at 2^60 (256M × 2^32) — the unmasked sum of full xxhash64
    * values overflows Long and ABORTS the sweep under Spark 4's
    * default ANSI mode (this killed the first r16 run before the JSON
    * line printed); the mask is one ALU op next to the hash, so the
    * measured work is unchanged. */
  private[graft] def calibJob(
      spark: SparkSession, nPart: Int, rows: Long = 256000000L): Long = {
    import org.apache.spark.sql.functions.{sum, xxhash64, col, lit}
    spark.range(0L, rows, 1L, nPart)
      .select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFFFFFL))))
      .head().getLong(0)
  }

  /** A per-query historical wall-time band: [p10, p90] over the
    * committed per-round values, plus the NEWEST committed round that
    * carried a sample — the staleness signal the flag gates on. */
  private[graft] final case class Band(
      lo: Double, hi: Double, latestRound: Int)

  /** What the committed `BENCH_r*.json` history says: per-query
    * bands, the committed calibration-canary median (absent until a
    * committed round carries `calib`), and the newest committed round
    * number at this sf (0 when there is no history). */
  private[graft] final case class BenchHistory(
      bands: Map[String, Band], calibMedian: Option[Double],
      latestRound: Int)

  /** How many rounds back a band's newest sample may be and still
    * count as FRESH (flag-eligible). The committed per-query maps
    * elide cheap queries under the line budget, so a band whose
    * newest sample is older than this is stale by construction —
    * rounds 15 and 16 both burned adjudication cycles on exactly
    * that class (latest_dedup 1.044 s vs a rounds-2–5 band). */
  private[graft] val BandFreshRounds = 5

  /** The sweep's regression flag: queries whose CALIBRATED wall
    * exceeds the historical p90 + 25% tolerance, slowest first. HIGH
    * side ONLY by contract (r14 verdict #5): a faster-than-history
    * value is an improvement, never an `out_of_band` entry — flagging
    * the low side would re-create a per-round adjudication cycle for
    * every landed optimization until three new rounds shifted p10
    * down. Improvements are compare_bench.py's job.
    *
    * STALE bands never flag (r15 verdict #3 + advisory #1): a band
    * counts only when its newest sample is within [[BandFreshRounds]]
    * of the newest committed round — this subsumes the r15 blanket
    * sub-second floor (a sub-second query is elided from recent
    * committed maps by the line budget, so its band is stale and
    * suppressed) while CLOSING that floor's gap: a sub-second query
    * that DID land in a recent committed round has a fresh band and a
    * genuine 3× regression of it flags again.
    *
    * `calibRatio` (this sweep's calibration canary / committed
    * median) divides the measured walls before the band compare —
    * but only when > 1: a LOADED host's uniform inflation is
    * forgiven, while a faster-than-history host never inflates
    * phantom flags out of calib noise. */
  private[graft] def outOfBandHigh(
      results: Map[String, Double],
      hist: BenchHistory,
      calibRatio: Double = 1.0): Seq[(String, Double)] = {
    val norm = math.max(1.0, calibRatio)
    results.toSeq.filter { case (k, v) =>
      hist.bands.get(k).exists(b =>
        b.latestRound >= hist.latestRound - BandFreshRounds &&
          v / norm > b.hi * 1.25)
    }.sortBy { case (k, v) => (-v, k) }
  }

  /** Parse the committed `BENCH_r*.json` files in the working
    * directory into a [[BenchHistory]] (best-effort: absent/corrupt
    * files contribute nothing; queries with fewer than 3 historical
    * samples get no band). `sfDir` non-empty restricts history to
    * rounds measured at the SAME scale factor — a band from sf0.1
    * sweeps says nothing about an sf0.001 spot run. Round numbers
    * come from the file names (`BENCH_r15.json` → 15). Jackson ships
    * with Spark. */
  private[graft] def benchHistory(
      dir: java.io.File = new java.io.File("."),
      sfDir: String = ""): BenchHistory =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .flatMap { f =>
          "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
            .map(m => (f, m.group(1).toInt))
        }
      val samples =
        scala.collection.mutable.Map.empty[String, List[(Double, Int)]]
      val calibs = scala.collection.mutable.ListBuffer.empty[Double]
      var latest = 0
      files.foreach { case (f, round) =>
        try {
          // The driver's per-round files wrap this program's own JSON
          // line under "parsed" (alongside run metadata); a raw saved
          // line has "queries" at the root. Accept both.
          val root = mapper.readTree(f)
          val base =
            if (root.has("parsed") && root.get("parsed").isObject)
              root.get("parsed")
            else root
          val sfOk = sfDir.isEmpty || {
            val sf = base.get("sf")
            sf != null && sf.isTextual && sf.asText == sfDir
          }
          if (sfOk) {
            latest = math.max(latest, round)
            val c = base.get("calib")
            if (c != null && c.isNumber) calibs += c.asDouble
            val qs = base.get("queries")
            if (qs != null && qs.isObject) {
              qs.fields().forEachRemaining { e =>
                if (e.getValue.isNumber)
                  samples.updateWith(e.getKey)(prev =>
                    Some((e.getValue.asDouble, round) :: prev.getOrElse(Nil)))
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      val bands = samples.collect { case (k, vs) if vs.size >= 3 =>
        val s = vs.map(_._1).sorted.toIndexedSeq
        def pct(p: Double): Double = s(math.round(p * (s.size - 1)).toInt)
        k -> Band(pct(0.1), pct(0.9), vs.map(_._2).max)
      }.toMap
      val calibMedian = if (calibs.isEmpty) None else {
        val s = calibs.sorted.toIndexedSeq
        Some(s(s.size / 2))
      }
      BenchHistory(bands, calibMedian, latest)
    } catch {
      case scala.util.control.NonFatal(_) => BenchHistory(Map.empty, None, 0)
    }
}
