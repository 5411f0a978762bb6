package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{LocalSession, SparkEntry}

/** Run a single named query from [[SparkEntry.defs]] with timing, a
  * per-stage profile and an optional formatted plan dump — the inner
  * loop for plan tuning.
  *
  * Usage: runMain graft.tools.BenchOne <queryName> [sfDir] [explain] [show]
  *
  * Prints one JSON line on stdout (`{"query":…,"rows":-1,"sec":…}`) and,
  * on stderr, one line per completed stage of the timed run: wall,
  * summed task run time, records in, shuffle records out, spill, task
  * count and the action's callsite.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    val spark = LocalSession(LocalSession.cpus(32))
    val fn = SparkEntry.queries(name)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        val recs = si.taskMetrics.inputMetrics.recordsRead +
          si.taskMetrics.shuffleReadMetrics.recordsRead
        val out = si.taskMetrics.shuffleWriteMetrics.recordsWritten
        val cpu = si.taskMetrics.executorRunTime / 1000.0
        val spill = si.taskMetrics.memoryBytesSpilled + si.taskMetrics.diskBytesSpilled
        // si.name carries the action's callsite ("save at BenchOne.scala:N")
        // — the only attribution a query offers, as bench queries set
        // no job descriptions. AQE submits its query stages from a
        // CompletableFuture, so those stages name that callsite instead.
        stages.add(f"stage=${si.stageId}%4d wall=${wall}%7.2fs taskSum=${cpu}%8.2fs " +
          f"inRecs=$recs%10d shufOut=$out%10d spill=$spill%d tasks=${si.numTasks} " +
          f"name=${si.name.takeWhile(_ != '\n').take(70)}")
      }
    })
    // Time build + full materialization together (matching Bench's
    // noop-sink harness — count() would let Catalyst prune agg lists
    // and join payloads, underpricing the query; see SURVEY §8.9.1).
    // Some operators do eager work at DataFrame construction (index
    // fits, checkpoints). In explain mode the one built DataFrame
    // serves both the plan dump and the run, so eager-at-build queries
    // run their job once (timing then excludes the build — use
    // non-explain mode to time).
    def materialize(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); -1L
    }
    val t0 = System.nanoTime()
    val n = if (doExplain || args.contains("show")) {
      val df = fn(spark, sfDir)
      if (doExplain) df.explain("formatted")
      if (args.contains("show")) df.show(50, false)
      materialize(df)
    } else materialize(fn(spark, sfDir))
    val sec = (System.nanoTime() - t0) / 1e9
    // The listener bus delivers asynchronously and has no public
    // drain; the run is over, so a short wait lets its last stages in.
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sorted.foreach(System.err.println)
    println(f"""{"query":"$name","rows":$n,"sec":$sec%.3f}""")
    spark.stop()
  }
}
