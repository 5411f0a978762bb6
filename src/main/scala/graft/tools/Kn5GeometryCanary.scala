package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.LanguageModel
import graft.sources.ParquetTables

/** Production-geometry canary for the key-bucketed order-5 serve —
  * the r14 verdict's one open empirical claim (the ServeCanary batch,
  * ~400 distinct keys vs 64·scale buckets, probes about half the
  * model at 10× and cannot show near-flat pruning). The production
  * regime is a SMALL fixed arrival batch against a model that grows
  * without bound (the reference's serve contract: one batch of
  * entities against a large offline store, `executor.py:87`), so this
  * canary pins exactly that geometry:
  *
  *   - batch: a FIXED handful of truncated documents (a few dozen
  *     distinct 5-gram keys — reported, so the premise is checked,
  *     not assumed);
  *   - model: the gadget-enriched amplified corpus at 1×, 10×, 100×
  *     (doc_id-keyed gadgets, so each replica plants its own n-gram
  *     types and the model truly grows ~k×), key buckets ∝ scale
  *     (constant per-bucket bytes — the partitioned-serve contract);
  *   - measured per scale: probed-bucket share (distinct probed
  *     (table, bucket) pairs over 9 × keyBuckets) and the wall of
  *     three serves over the SAME loaded artifacts — the pruned
  *     partitioned serve, the flat bulk cascade, and the flat
  *     broadcast-semi plan (the best non-pruned alternative: it never
  *     shuffles the model but still SCANS all ten tables) — plus, as
  *     of r16, the [[LanguageModel.kn5ServeAuto]] front door and its
  *     apples-to-apples comparator `pruned_cold` (hand-picked pruned
  *     serve paying the same per-call model load), pinning that auto
  *     ≈ best-hand-picked at this geometry.
  *
  * Fits and saves happen outside the clock (fit-once/serve-many);
  * each layout is loaded once per scale. Gates before timing: pruned
  * and flat rows identical at every scale (layout changes which files
  * are read, never a row), and the batch's row count constant across
  * scales (a model can change scores, never which docs score).
  *
  * The claim this demonstrates: pruned serve wall near-flat (probed
  * bytes ∝ |batch keys| × constant bucket size) while both flat
  * serves grow with the model.
  *
  * Usage: runMain graft.tools.Kn5GeometryCanary [sfDir] [scales-csv]
  * (defaults: /root/testdata/sf0.01 and 1,10,100). Prints one JSON
  * line per (scale, face) + a summary; exits 1 on a gate failure or
  * any task failure.
  */
object Kn5GeometryCanary {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val scales = (if (args.length > 1) args(1) else "1,10,100")
      .split(',').map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val taskFailures = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    })
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    val scratch =
      java.nio.file.Files.createTempDirectory("graft-kn5-geom").toString
    val docs = ParquetTables.load(spark, s"$sfDir/documents.parquet")

    // The fixed small batch: 3 docs, truncated to their first 16
    // tokens — a few dozen distinct keys per lookup table, the
    // arrival-gate geometry. Re-id'd above every replica id space.
    val arrivalOffset = (Amplify.MaxReplicas + 1).toLong * Amplify.IdOffset
    val batch = docs.orderBy("doc_id").limit(3)
      .select((col("doc_id") + arrivalOffset).as("doc_id"),
        substring_index(col("text"), " ", 16).as("text"))
      .localCheckpoint(true)
    val batchN = batch.count()
    // Block ids that must SURVIVE every per-scale cleanup: the fixed
    // batch's own localCheckpoint (lineage-truncated — unpersisting
    // it is fatal, not a recompute).
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val distinctKeys = LanguageModel.stageKn5Arrivals(batch, "doc_id", "text")
      .select("fg").distinct().count()
    println(s"""{"batch_docs":$batchN,"distinct_5gram_keys":$distinctKeys}""")

    def probedShare(model: LanguageModel.Kn5Model): (Long, Long) = {
      val buckets = model.keyBuckets.get
      val keyed = LanguageModel.stageKn5Arrivals(batch, "doc_id", "text")
      val probed = keyed.select(explode(array(
          LanguageModel.Kn5Keyed.map { case (name, key) =>
            struct(lit(name).as("t"),
              graft.ops.OpsUtil.hashBucket(buckets, col(key)).as("b"))
          }: _*)).as("x"))
        .select(col("x.t"), col("x.b")).distinct().count()
      (probed, 9L * buckets)
    }

    def time(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    var gateOk = true
    var rowsAtScale = Map.empty[Int, Long]
    var walls = Map.empty[(Int, String), Double]
    var shares = Map.empty[Int, (Long, Long)]
    scales.foreach { k =>
      val d = s"$scratch/x$k"
      // Fit outside the clock: amplified corpus, gadget-enriched AFTER
      // amplification so every replica's doc_ids plant fresh n-gram
      // types (the ServeCanary kn5 construction).
      val corpus0 = Amplify.documents(docs, k, rotate = true)
        .withColumn("text", graft.queries.PipelineQueries.kn5GadgetEnrich)
      corpus0.write.mode("overwrite").parquet(s"$d/corpus.parquet")
      val corpus = spark.read.parquet(s"$d/corpus.parquet")
      val fit = LanguageModel.fitKn5(corpus, "text")
      LanguageModel.saveKn5Model(fit, s"$d/flat")
      LanguageModel.saveKn5ModelPartitioned(fit, s"$d/part",
        nKeyBuckets = 64 * k)
      // The fit's localCheckpoint blocks (c5/t4 at model scale) are
      // dead once both layouts are on disk — drop them BEFORE gating
      // and timing, so the storage-serving walls are measured without
      // gigabytes of unrelated resident blocks (the Bench isolation
      // rule; review finding r15). Everything EXCEPT the baseline
      // batch checkpoint (which later serves still read) releases;
      // prior scales' one-shot serve stagings ride along. The serves
      // below read only the loaded parquet layouts.
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseline(id)) rdd.unpersist(false)
      }
      spark.sqlContext.clearCache()
      val flat = LanguageModel.loadKn5Model(spark, s"$d/flat")
      val part = LanguageModel.loadKn5Model(spark, s"$d/part")
      val modelRows = flat.c5.count()
      val (probed, total) = probedShare(part)
      shares += k -> (probed, total)

      val faces = Map(
        // Both layouts load through loadKn5Model; the key-bucketed one
        // serves partition-pruned.
        "pruned" -> (() => LanguageModel.modifiedKn5Against(
          batch, "doc_id", "text", part)),
        "flat_cascade" -> (() => LanguageModel.modifiedKn5Against(
          batch, "doc_id", "text", flat)),
        "flat_broadcast" -> (() => LanguageModel.modifiedKn5Against(
          batch, "doc_id", "text", flat, broadcastScore = true)),
        // The serve-plan FRONT DOOR (r15 verdict #4) at production
        // geometry — routes "pruned" here (36 keys ≪ the driver
        // bound). Timed WITH its per-call loadKn5Model (listing
        // ∝ 9 × 64·scale bucket dirs) + the distinct-key routing pass
        // — costs the three pre-loaded faces above never pay — so its
        // apples-to-apples comparator is pruned_cold: the hand-picked
        // pruned serve paying the same per-call load.
        "auto" -> (() => LanguageModel.kn5ServeAuto(
          batch, "doc_id", "text", s"$d/part")),
        "pruned_cold" -> (() => LanguageModel.modifiedKn5Against(
          batch, "doc_id", "text",
          LanguageModel.loadKn5Model(spark, s"$d/part"))))

      // Gates before timing: same-scale layout parity (full rows incl.
      // scores) and the constant batch row count.
      val prunedRows = faces("pruned")()
      val flatRows = faces("flat_cascade")()
      val diff = prunedRows.exceptAll(flatRows).count() +
        flatRows.exceptAll(prunedRows).count()
      if (diff != 0) {
        gateOk = false
        println(s"""{"gate":"layout_parity_x$k","diff_rows":$diff,"ok":false}""")
      }
      rowsAtScale += k -> prunedRows.count()

      val faceOrder = faces.keys.toSeq.sorted
      faceOrder.foreach(face => time(faces(face)): Unit) // untimed warmup
      // Round-robin min-of-3 ACROSS faces (the TimeOne interleaving
      // protocol, within-scale edition: consecutive same-face runs
      // would share a JIT/GC neighborhood no deployment has; scales
      // necessarily time sequentially — each has its own model).
      var best = Map.empty[String, Double].withDefaultValue(Double.MaxValue)
      (1 to 3).foreach { _ =>
        faceOrder.foreach { face =>
          best += face -> math.min(best(face), time(faces(face)))
        }
      }
      faceOrder.foreach { face =>
        walls += (k, face) -> best(face)
        println(s"""{"scale":$k,"face":"$face","sec":${fmt(best(face))},""" +
          s""""model_c5_rows":$modelRows,"probed_buckets":$probed,""" +
          s""""total_buckets":$total,"share":${fmt(probed.toDouble / total)}}""")
      }
    }
    if (rowsAtScale.values.toSet.size != 1) {
      gateOk = false
      println(s"""{"gate":"batch_rows_constant","rows":${
        rowsAtScale.toSeq.sortBy(_._1).map(_._2).mkString("[", ",", "]")
      },"ok":false}""")
    }
    Thread.sleep(1000)
    val tf = taskFailures.get()
    val base = scales.head
    val summary = scales.map { k =>
      val (p, t) = shares(k)
      s"""{"scale":$k,"share":${fmt(p.toDouble / t)},""" +
        s""""pruned":${fmt(walls((k, "pruned")))},""" +
        s""""pruned_ratio":${fmt(walls((k, "pruned")) / walls((base, "pruned")))},""" +
        s""""flat_cascade_ratio":${
          fmt(walls((k, "flat_cascade")) / walls((base, "flat_cascade")))},""" +
        s""""flat_broadcast_ratio":${
          fmt(walls((k, "flat_broadcast")) / walls((base, "flat_broadcast")))},""" +
        s""""auto":${fmt(walls((k, "auto")))},""" +
        s""""auto_vs_cold":${
          fmt(walls((k, "auto")) / walls((k, "pruned_cold")))}}"""
    }.mkString("[", ",", "]")
    val ok = gateOk && tf == 0
    println(s"""{"metric":"kn5_geometry","scales":$summary,""" +
      s""""task_failures":$tf,"ok":$ok,"sf":"$sfDir"}""")
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(scratch), true): Unit
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
