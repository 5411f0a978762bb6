package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

import graft.io.HadoopConfs

/** Parquet table source with schema normalization.
  *
  * Spark rejects parquet `TIMESTAMP(NANOS)` columns outright
  * (`PARQUET_TYPE_ILLEGAL`); the public escape hatch is
  * `spark.sql.legacy.parquet.nanosAsLong` which surfaces them as raw
  * nano longs. We inspect the parquet footer, and when a file carries
  * nano timestamps we read with that flag and rebuild proper
  * microsecond `TimestampType` columns (`timestamp_micros(v div 1000)`)
  * — a column-level projection, so scans stay pushdown-friendly.
  *
  * The same footer gives the table's schema, which is handed to the
  * reader: Spark would otherwise infer it with a one-task job per table
  * that reads that footer again.
  */
object ParquetTables {

  /** The footer of the first data file under `path` (schemas are
    * uniform per table): `path` itself when it is a file, else the first
    * non-hidden `.parquet` file directly inside it; None when there is
    * none (e.g. a partitioned layout). Opened with the session's Hadoop
    * conf, so filesystems and credentials configured only through the
    * session (`spark.hadoop.*`, `spark.conf`) resolve here as they do in
    * Spark's own read. */
  private def firstFooter(spark: SparkSession, path: String): Option[Footer] = {
    val conf = HadoopConfs.of(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val dataFile =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath).find { f =>
          val n = f.getName
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
      else Some(p)
    dataFile.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try new Footer(f, reader.getFooter) finally reader.close()
    }
  }

  /** Names of the footer's TIMESTAMP(NANOS) columns. */
  private def nanoTimestampCols(footer: Footer): Seq[String] =
    footer.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.toSeq.collect {
      case t if t.isPrimitive && isNanoTs(t.getLogicalTypeAnnotation) => t.getName
    }

  private def isNanoTs(ann: LogicalTypeAnnotation): Boolean = ann match {
    case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
      ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
    case _ => false
  }

  /** Read a parquet table, converting any nano-timestamp columns to
    * microsecond `TimestampType`. Timestamps always surface as
    * `TimestampType` (session TZ is pinned UTC) — never NTZ — so every
    * operator sees one timestamp semantic. Runs no Spark job: the
    * schema is converted from the footer with the session's parquet
    * settings, as Spark's inference would; with
    * `spark.sql.parquet.mergeSchema` on, Spark infers it over every
    * file instead. */
  def load(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val footer = firstFooter(spark, path)
    val nanoCols = footer.fold(Seq.empty[String])(nanoTimestampCols)
    if (nanoCols.nonEmpty) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else footer.map(f => ParquetFileFormat.readSchemaFromFooter(f,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    val df = schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)
    nanoCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
    }
  }

  /** Register every `<name>.parquet` table in `dir` whose name passes
    * `only` as temp view `<name>`; returns the (name, frame) pairs in
    * name order. Lists `dir` through the session's Hadoop conf, so any
    * filesystem works; a table left out is never opened. */
  def registerFrames(spark: SparkSession, dir: String,
      only: String => Boolean = _ => true): Seq[(String, DataFrame)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(HadoopConfs.of(spark))
    val names =
      if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Nil
      else fs.listStatus(p).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq
    names.map(_.stripSuffix(".parquet")).filter(only).sorted.map { t =>
      val df = load(spark, s"$dir/$t.parquet")
      df.createOrReplaceTempView(t)
      t -> df
    }
  }

  /** Register every `<dir>/<name>.parquet` as temp view `<name>`. */
  def registerAll(spark: SparkSession, dir: String): Seq[String] =
    registerFrames(spark, dir).map(_._1)
}
