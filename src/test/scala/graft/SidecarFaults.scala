package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spec-side corruptions of a persisted one-row parquet sidecar
  * directory (an index's or a model's `stats/`), for the specs that pin
  * how a loader refuses a damaged artifact. */
object SidecarFaults {

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** Replace the sidecar at `dir` with `f` applied to its rows. */
  def rewrite(spark: SparkSession, dir: String)(f: DataFrame => DataFrame): Unit = {
    val tmp = s"$dir.__rewrite"
    f(spark.read.parquet(dir)).coalesce(1).write.mode("overwrite").parquet(tmp)
    fs(spark).delete(new Path(dir), true)
    fs(spark).rename(new Path(tmp), new Path(dir))
  }

  /** Cut every parquet file of the sidecar at `dir` to its first
    * `keep` bytes (0 = a zero-byte file), dropping the local checksum
    * files so a read sees the cut bytes rather than a checksum error. */
  def truncate(spark: SparkSession, dir: String, keep: Int): Unit =
    fs(spark).listStatus(new Path(dir)).map(_.getPath).foreach { p =>
      val f = java.nio.file.Paths.get(p.toUri)
      if (p.getName.endsWith(".crc")) java.nio.file.Files.delete(f)
      else if (p.getName.endsWith(".parquet"))
        java.nio.file.Files.write(f, java.nio.file.Files.readAllBytes(f).take(keep))
    }
}
