package graft

import scala.collection.mutable

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate returns the same instance across suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` and returns its result with the jobs it started (in
    * start order) and the stages it submitted (by stage id). */
  def traced[T](body: => T): (T, Seq[SparkListenerJobStart], Map[Int, StageInfo]) = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val stages = mutable.Map.empty[Int, StageInfo]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized(jobs += j)
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.synchronized(stages(s.stageInfo.stageId) = s.stageInfo)
    }
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      SpecBus.drain(sc)
      (out, jobs.toSeq, stages.toMap)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession(4)
}
