package graft.tools

import org.apache.spark.sql.DataFrame

import graft.{LocalSession, SparkEntry}
import graft.sources.ParquetTables

/** One-time ~sf1 sweep of the priciest queries (r14 verdict #6): the
  * decade-canary synthesis — amplify the sf0.1 inputs k× with
  * replica-disjoint content ([[Amplify]]: character-substituted
  * documents, isometry-rotated embeddings, id-offset TPC-H keys over
  * shared nation/region dims) — applied to the top-of-BENCH query
  * list itself. Each query runs through its normal `SparkEntry`
  * registration against (a) the real sfDir and (b) a scratch
  * directory laid out exactly like a testdata sf dir but holding the
  * k× tables, so the measured object is the committed query body,
  * not a canary re-implementation.
  *
  * Finding that matters: wall ratio ≤ ~linear in k with zero task
  * failures — a super-linear bend names the query whose plan does
  * not survive the next decade. Per-query blocks are dropped between
  * runs (the Bench isolation rule) so each timing is about the
  * query.
  *
  * Usage: runMain graft.tools.AmplifiedSweep [sfDir] [k] [maxRatio]
  *   [query ...]   (defaults: /root/testdata/sf0.1, 10, 13.0, the
  *   BENCH_r14 top-10). Prints one JSON line per query + a summary;
  *   exits 1 on ratio > maxRatio or any task failure.
  */
object AmplifiedSweep {

  /** BENCH_r14's ten priciest queries — the verdict #6 list. */
  val DefaultQueries: Seq[String] = Seq(
    "lm_score_kn5_pruned", "lm_score_kn5_serve", "lm_score_kn5",
    "sim_topk_pq_incremental", "sim_topk_pq_recall",
    "dedup_semantic_serve", "dedup_semantic_incremental",
    "sim_hard_negatives_lsh", "text_langid_ngram", "graph_pagerank")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val maxRatio = if (args.length > 2) args(2).toDouble else 13.0
    val queries =
      if (args.length > 3) args.drop(3).toSeq else DefaultQueries
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = LocalSession(LocalSession.cpus(32))
    val taskFailures = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    })
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    // The amplified sf directory: same file layout as testdata, k×
    // rows. Content-bearing tables amplify with replica-disjoint
    // content; TPC-H fact/dim keys offset per replica over SHARED
    // nation/region (the graph gains k× edges over the same node
    // vocabulary — a bigger graph, not k disconnected copies of the
    // small one is not claimed here; pagerank's cost driver is edge
    // count either way); everything else copies verbatim.
    val scratch =
      java.nio.file.Files.createTempDirectory("graft-amp-sweep").toString
    def tbl(name: String): DataFrame =
      ParquetTables.load(spark, s"$sfDir/$name.parquet")
    def put(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$scratch/$name.parquet")
    put("documents", Amplify.documents(tbl("documents"), k, rotate = true))
    put("embeddings", Amplify.embeddings(tbl("embeddings"), k))
    put("lineitem",
      Amplify.offsetIds(tbl("lineitem"), k, Seq("l_orderkey", "l_suppkey")))
    put("orders",
      Amplify.offsetIds(tbl("orders"), k, Seq("o_orderkey", "o_custkey")))
    put("customer", Amplify.offsetIds(tbl("customer"), k, Seq("c_custkey")))
    put("supplier", Amplify.offsetIds(tbl("supplier"), k, Seq("s_suppkey")))
    put("events",
      Amplify.offsetIds(tbl("events"), k, Seq("event_id", "user_id")))
    Seq("region", "nation", "part").foreach(n => put(n, tbl(n)))

    def isolate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sqlContext.clearCache()
    }
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      isolate()
      t
    }

    var worst = 0.0
    var worstName = ""
    queries.foreach { q =>
      // Symmetric warmups (review finding r15: a 1×-only warmup left
      // the k× min-of-2 sampling its own cold first-listing run,
      // biasing ratios upward).
      time(q, sfDir): Unit
      time(q, scratch): Unit
      val t1 = Seq(time(q, sfDir), time(q, sfDir)).min
      val tk = Seq(time(q, scratch), time(q, scratch)).min
      val ratio = tk / math.max(t1, 1e-9)
      if (ratio > worst) { worst = ratio; worstName = q }
      println(s"""{"query":"$q","t1":${fmt(t1)},"tk":${fmt(tk)},"k":$k,""" +
        s""""ratio":${fmt(ratio)}}""")
    }
    Thread.sleep(1000)
    val tf = taskFailures.get()
    val ok = worst <= maxRatio && tf == 0
    println(s"""{"metric":"amplified_sweep","k":$k,"queries":${queries.size},""" +
      s""""worst_ratio":${fmt(worst)},"worst_query":"$worstName",""" +
      s""""budget":${fmt(maxRatio)},"task_failures":$tf,"ok":$ok,"sf":"$sfDir"}""")
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(scratch), true): Unit
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
