package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its Spark session, so every
  * main, tool and test runs the same session shape:
  *   - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`. One
  *     shuffle partition per core is the precondition of the as-of
  *     join's row-id stitch pin (`PointInTimeJoin`, pinned only while
  *     the width is at most `defaultParallelism`);
  *   - session time zone UTC, so timestamps read and print the same on
  *     every host and Bench times the program Verify's oracle gate
  *     checks;
  *   - Spark UI off, log level WARN.
  */
object LocalSession {

  /** The session for `cpus` local cores (`getOrCreate`: an existing
    * session is returned with these settings applied). */
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` when set, else the entry point's `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
