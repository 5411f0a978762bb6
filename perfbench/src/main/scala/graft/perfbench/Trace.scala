package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}

import org.apache.spark.scheduler._

/** Task and scheduler totals of one job group. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "executor_run_s" -> runMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "shuffle_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "records_read" -> recordsRead)
}

/** Aggregates stage and task metrics per Spark job group. Jobs run
  * outside any group land in "-". */
final class GroupListener extends SparkListener {
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    stats(g).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "-"))
    s.tasks += 1
    if (e.reason != Success) s.taskFailures += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }
}

/** One traced interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Records spans around calls into the program's layers. While a span
  * is open its name is the Spark job group, so the [[GroupListener]]
  * attributes every job the call starts to that span. Only the traced
  * unit creates one: untraced units run without a listener. */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val listener = new GroupListener
  private var stack: List[(Int, String)] = Nil
  private val t0 = System.nanoTime()
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, stack.headOption.fold(-1)(_._1), 0L, 0L)
    stack = (id, name) :: stack
    sc.setJobGroup(name, name)
    val start = System.nanoTime() - t0
    try body
    finally {
      spans(id) = spans(id).copy(startNs = start, endNs = System.nanoTime() - t0)
      stack = stack.tail
      restoreGroup()
    }
  }

  /** Work the benchmark itself adds (counts, ratios) runs under its own
    * group so it never lands in a layer's totals. */
  def measure[T](body: => T): T = {
    sc.setJobGroup("bench", "bench")
    try body finally restoreGroup()
  }

  private def restoreGroup(): Unit = stack.headOption match {
    case Some((_, open)) => sc.setJobGroup(open, open)
    case None => sc.clearJobGroup()
  }

  def count(name: String, v: Double): Unit = counts(name) = v

  def toJson(sc: SparkContext): Map[String, Any] = {
    org.apache.spark.BenchBus.drain(sc)
    Map(
      "run_id" -> runId,
      "spans" -> spans.toSeq.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "run_id" -> runId)),
      "groups" -> listener.synchronized(
        listener.groups.toSeq.map { case (g, st) => g -> st.toJson }.toMap),
      "counts" -> counts.toMap)
  }
}
