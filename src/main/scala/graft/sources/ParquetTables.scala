package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table source with schema normalization.
  *
  * Spark rejects parquet `TIMESTAMP(NANOS)` columns outright
  * (`PARQUET_TYPE_ILLEGAL`); the public escape hatch is
  * `spark.sql.legacy.parquet.nanosAsLong` which surfaces them as raw
  * nano longs. We inspect the parquet footer, and when a file carries
  * nano timestamps we read with that flag and rebuild proper
  * microsecond `TimestampType` columns (`timestamp_micros(v div 1000)`)
  * — a column-level projection, so scans stay pushdown-friendly.
  */
object ParquetTables {

  /** Names of TIMESTAMP(NANOS) columns, from the parquet footer of the
    * first data file under `path` (schemas are uniform per table). */
  def nanoTimestampCols(path: String): Seq[String] = {
    val conf = new Configuration()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val dataFile =
      if (status.isDirectory)
        fs.listStatus(p).map(_.getPath)
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .getOrElse(return Nil)
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(dataFile, conf))
    try {
      reader.getFileMetaData.getSchema.getFields.asScala.toSeq.collect {
        case t if t.isPrimitive && isNanoTs(t.getLogicalTypeAnnotation) => t.getName
      }
    } finally reader.close()
  }

  private def isNanoTs(ann: LogicalTypeAnnotation): Boolean = ann match {
    case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
      ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
    case _ => false
  }

  /** Read a parquet table, converting any nano-timestamp columns to
    * microsecond `TimestampType`. Timestamps always surface as
    * `TimestampType` (session TZ is pinned UTC) — never NTZ — so every
    * operator sees one timestamp semantic. */
  def load(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val nanoCols = nanoTimestampCols(path)
    if (nanoCols.isEmpty) spark.read.parquet(path)
    else {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(path)
      nanoCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
      }
    }
  }

  /** Register every `<dir>/<name>.parquet` as temp view `<name>`;
    * returns the (name, frame) pairs in name order. */
  def registerFrames(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSeq.sorted
      .map { t =>
        val df = load(spark, s"$dir/$t.parquet")
        df.createOrReplaceTempView(t)
        t -> df
      }

  /** Register every `<dir>/<name>.parquet` as temp view `<name>`. */
  def registerAll(spark: SparkSession, dir: String): Seq[String] =
    registerFrames(spark, dir).map(_._1)
}
