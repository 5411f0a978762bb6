package graft.ops

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.io.HadoopConfs

/** The one on-disk layout of the hash-bucketed dedup indexes (exact,
  * MinHash LSH, SimHash, winnow):
  *   - `<root>/<dataDir>/__graft_bb=<b>/`: the rows, hash-partitioned
  *     on the family's key columns into `hash_buckets` directories;
  *   - `<root>/stats/`: a one-row parquet sidecar holding the `kind`,
  *     `hash_buckets`, the family's build parameters and the data
  *     schema as JSON. A save deletes it first and writes it last, so
  *     it is the commit marker: rows without a sidecar are an
  *     unfinished save and never load.
  * [[load]] checks the sidecar by field name and reads the rows with
  * the stored schema, so no schema-inference job runs. A serve reads
  * only the bucket directories its arrivals reach, by path
  * ([[Layout.probe]]). Each loader names the kind it expects; only a
  * tool that routes on the kind (`Maintain`) asks [[kindOf]]. */
private[graft] object BucketedIndex {

  /** Partition column of every bucketed layout. */
  val Bucket = "__graft_bb"

  type Params = Map[String, Any]

  type Range = (String, Params => Boolean)

  /** `f > 0` when `f` is set. */
  def positive(f: String): Range = s"$f > 0" -> (_.get(f).forall(_.asInstanceOf[Int] > 0))

  /** One family's layout: its rows bucket on `keys` (the staged
    * arrivals carry the same columns), its sidecar carries `params`
    * (`optional` ones may be absent or NULL) besides the kind, bucket
    * count and schema, and `ranges` are the values its loader accepts. */
  final class Kind private[BucketedIndex] (
      val name: String, val dataDir: String, val writer: String,
      keys: Seq[String], params: Seq[(String, DataType)],
      val optional: Set[String], extraRanges: Seq[Range]) {
    def bucket(n: Int): Column = OpsUtil.hashBucket(n, keys.map(col): _*)
    def reachable: Column = keys.map(col(_).isNotNull).reduce(_ && _)
    val fields: Seq[(String, DataType)] = Seq("kind" -> StringType,
      "hash_buckets" -> IntegerType, "schema" -> StringType) ++ params
    val ranges: Seq[Range] = positive("hash_buckets") +: extraRanges
  }

  val Exact = new Kind("exact", "hashes", "saveExactIndexPartitioned",
    Seq("text_hash"), Nil, Set.empty, Nil)
  val Minhash = new Kind("minhash", "bands", "saveLshBandIndex",
    Seq("band_hash"),
    Seq("k" -> IntegerType, "bands" -> IntegerType, "portable" -> BooleanType,
      "shingle_n" -> IntegerType, "max_bucket" -> IntegerType),
    Set("shingle_n", "max_bucket"),
    Seq(positive("k"), positive("bands"),
      "k % bands == 0" -> (p => p("k").asInstanceOf[Int] % p("bands").asInstanceOf[Int] == 0),
      positive("shingle_n"), positive("max_bucket")))
  val Simhash = new Kind("simhash", "bands", "saveSimhashBandIndex",
    Seq("band", "chunk"), Seq("portable" -> BooleanType), Set.empty, Nil)
  val Winnow = new Kind("winnow", "fps", "saveWinnowFpIndex", Seq("fp"),
    Seq("k" -> IntegerType, "w" -> IntegerType, "portable" -> BooleanType),
    Set.empty, Seq(positive("k"), positive("w")))
  private val Kinds = Seq(Exact, Minhash, Simhash, Winnow)

  /** A committed layout, as its checked sidecar describes it. */
  final class Layout private[BucketedIndex] (
      spark: SparkSession, root: String, val kind: Kind, params: Params,
      stored: Option[StructType]) {
    val hashBuckets: Int = param[Int]("hash_buckets")
    def param[T](name: String): T = params(name).asInstanceOf[T]
    def opt[T](name: String): Option[T] = params.get(name).map(_.asInstanceOf[T])
    private[BucketedIndex] val data = new Path(root, kind.dataDir)

    /** Every row; lists the whole layout on first use. Layouts saved
      * before the schema was stored infer it. */
    lazy val rows: DataFrame =
      stored.fold(spark.read)(spark.read.schema(_)).parquet(data.toString)

    /** The rows in the buckets that `staged` arrivals reach. One
      * listing of the data directory, then only the probed bucket
      * directories are read, by path, so a serve's driver work does
      * not grow with the bucket count. A bucket no row fell into has no
      * directory; when none is probed the result is empty. */
    def probe(staged: DataFrame): DataFrame = {
      val buckets = staged.filter(kind.reachable)
        .select(kind.bucket(hashBuckets)).distinct().collect().map(_.getInt(0))
      val existing = fs(spark, data).listStatus(data).map(_.getPath.getName).toSet
      val dirs = buckets.map(b => s"$Bucket=$b").filter(existing)
        .map(new Path(data, _).toString)
      val schema = stored.getOrElse(rows.schema)
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.option("basePath", data.toString).schema(schema)
        .parquet(dirs.toIndexedSeq: _*)
    }
  }

  /** Stage the arrivals once: they feed both the bucket collect of
    * [[Layout.probe]] and the serve's join. */
  def staged(arrivals: DataFrame)(serve: DataFrame => DataFrame): DataFrame =
    serve(arrivals.localCheckpoint(false))

  private def fs(spark: SparkSession, p: Path) = p.getFileSystem(HadoopConfs.of(spark))

  /** Write `rows` as a `kind` layout at `root`: delete the old sidecar,
    * write the rows bucketed, then write the sidecar. */
  def write(kind: Kind, root: String, rows: DataFrame, hashBuckets: Int,
      params: Params = Map.empty): Unit = {
    val values = params ++ Map("kind" -> kind.name, "hash_buckets" -> hashBuckets)
    kind.ranges.find(!_._2(values)).foreach(r =>
      throw new IllegalArgumentException(s"${kind.writer}: ${r._1} does not hold"))
    val spark = rows.sparkSession
    val stats = new Path(root, "stats")
    fs(spark, stats).delete(stats, true)
    val out = rows.withColumn(Bucket, kind.bucket(hashBuckets))
    out.repartition(hashBuckets, col(Bucket)).write.mode("overwrite")
      .partitionBy(Bucket).parquet(s"$root/${kind.dataDir}")
    val all = values + ("schema" -> out.schema.json)
    spark.createDataFrame(
        java.util.List.of(Row.fromSeq(kind.fields.map(f => all.get(f._1).orNull))),
        StructType(kind.fields.map { case (n, t) => StructField(n, t) }))
      .coalesce(1).write.mode("overwrite").parquet(stats.toString)
  }

  /** Append `rows` to a loaded layout, bucketed by its sidecar. */
  def append(layout: Layout, rows: DataFrame): Unit =
    rows.withColumn(Bucket, layout.kind.bucket(layout.hashBuckets))
      .repartition(layout.hashBuckets, col(Bucket)).write.mode("append")
      .partitionBy(Bucket).parquet(layout.data.toString)

  /** Fold a committed layout's rows back to one file per bucket
    * directory ([[OpsUtil.compactPartitionedDir]]). */
  def compact(spark: SparkSession, root: String, kind: Kind): Unit =
    OpsUtil.compactPartitionedDir(spark, load(spark, root, kind).data.toString, Bucket)

  /** Load the `kind` layout at `root`, checking its sidecar: the right
    * kind, every field present by name with its type and non-NULL,
    * values in range, and a parseable schema. Every failure names the
    * writer's contract. A sidecar with no `kind` column predates it and
    * loads as `kind` after the same checks. */
  def load(spark: SparkSession, root: String, kind: Kind): Layout = {
    val fail = contractError(s"$root/stats", kind.writer, kind.fields, kind.ranges) _
    val names = listing(spark, root)
    if (!names("stats")) fail(s"no sidecar at $root/stats — " +
      unfinished(names).getOrElse(
        if (names.exists(_.endsWith(".parquet")))
          s"it holds a flat parquet table, which is no longer served; rebuild it with ${kind.writer}"
        else "nothing was saved there"))
    val row = sidecarRow(spark, s"$root/stats")(fail)
    row.get("kind").flatMap(_._2).filter(_ != kind.name).foreach { k =>
      fail(s"it records kind '$k'" +
        Kinds.find(_.name == k).fold("")(o => s", written by ${o.writer}"))
    }
    val legacy = !row.contains("kind")
    val p = checked(row, kind.fields, kind.ranges,
      kind.optional ++ (if (legacy) Set("kind", "schema") else Set.empty))(fail)
    val schema = p.get("schema").map { s =>
      try DataType.fromJson(s.toString).asInstanceOf[StructType]
      catch { case NonFatal(e) => fail(s"unparseable schema (${e.getMessage})") }
    }
    new Layout(spark, root, kind, p, schema)
  }

  /** The kind of the bucketed layout at `root`; None when `root` holds
    * none (another layout, such as an encoded corpus, or nothing). A
    * sidecar that predates the `kind` column is told by its parameters.
    * Bucketed rows with no sidecar are an unfinished save and fail. */
  def kindOf(spark: SparkSession, root: String): Option[Kind] = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$root is not a committed bucketed index: $why")
    val names = listing(spark, root)
    if (!names("stats")) {
      unfinished(names).foreach(fail)
      None
    } else {
      val row = sidecarRow(spark, s"$root/stats")(fail)
      def has(n: String) = row.get(n).exists(_._2.nonEmpty)
      Some(row.get("kind").flatMap(_._2) match {
        case Some(k) => Kinds.find(_.name == k).getOrElse(fail(
          s"unknown kind '$k' (known: ${Kinds.map(_.name).mkString(", ")})"))
        case None =>
          if (has("w")) Winnow else if (has("bands")) Minhash
          else if (has("portable")) Simhash else Exact
      })
    }
  }

  /** The entry names directly under `root`; empty when it is no
    * directory. */
  private def listing(spark: SparkSession, root: String): Set[String] = {
    val p = new Path(root)
    val f = fs(spark, p)
    if (f.exists(p) && f.getFileStatus(p).isDirectory)
      f.listStatus(p).map(_.getPath.getName).toSet
    else Set.empty
  }

  /** Why a directory holding bucketed rows but no sidecar fails. */
  private def unfinished(names: Set[String]): Option[String] =
    Kinds.find(k => names(k.dataDir)).map(k =>
      s"it holds rows under ${k.dataDir}/ but no stats/ sidecar, so its " +
        "save did not finish (the sidecar is written last) — re-run the save")

  /** Read the one-row parquet sidecar at `dir` that `writer` wrote and
    * check it: each of `fields` present by name, of that type and
    * non-NULL (an `optional` one may be absent or NULL, and is then
    * left out of the result), and every one of `ranges` holding. A
    * failure names the writer's contract. */
  def readSidecar(spark: SparkSession, dir: String, writer: String,
      fields: Seq[(String, DataType)], ranges: Seq[Range] = Nil,
      optional: Set[String] = Set.empty): Params = {
    val fail = contractError(dir, writer, fields, ranges) _
    checked(sidecarRow(spark, dir)(fail), fields, ranges, optional)(fail)
  }

  /** Read the parquet sidecar at `dir` that `writer` wrote as one row
    * per value of its first (string) field: those values are exactly
    * `keys`, each once, every row is checked as [[readSidecar]] checks
    * its one (a failure names the row's key), and every row holds the
    * same value of each `shared` field. Returns the rows by key. */
  def readSidecarRows(spark: SparkSession, dir: String, writer: String,
      fields: Seq[(String, DataType)], ranges: Seq[Range],
      keys: Seq[String], shared: Seq[String] = Nil): Map[String, Params] = {
    val key = fields.head._1
    val fail = contractError(dir, writer, fields, ranges,
      s"one row per $key ${keys.mkString("'", "', '", "'")}" +
        shared.map(f => s", all with one $f").mkString) _
    val rows = sidecarRows(spark, dir)(fail).map { r =>
      val at = r.get(key).flatMap(_._2).fold("")(k => s" at $key '$k'")
      checked(r, fields, ranges, Set.empty)(why => fail(why + at))
    }
    val found = rows.map(_(key).toString)
    if (found.sorted != keys.sorted) fail(s"${key}s ${found.mkString("[", ", ", "]")}")
    shared.map(f => f -> rows.map(_(f)).distinct).find(_._2.size > 1).foreach {
      case (f, vs) => fail(s"$f ${vs.mkString("[", ", ", "]")} differs between rows")
    }
    found.zip(rows).toMap
  }

  /** The Spark schema in the footer of the first parquet data file
    * under `dir` (or under its first partition directory), read on the
    * driver with no Spark job; None when there is no data file. */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val p = new Path(dir)
    val f = fs(spark, p)
    def first(d: Path): Option[Path] = {
      val (dirs, files) = f.listStatus(d).partition(_.isDirectory)
      files.map(_.getPath).find(isData)
        .orElse(dirs.map(_.getPath).filter(_.getName.contains("="))
          .sortBy(_.getName).headOption.flatMap(first))
    }
    first(p).map(withFooter(spark, _)((_, types) => types))
  }

  /** `f` of an open reader of the parquet `file` and its footer's Spark
    * schema. */
  private def withFooter[T](spark: SparkSession, file: Path)(
      f: (ParquetFileReader, StructType) => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, HadoopConfs.of(spark)))
    try f(reader, new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(reader.getFooter.getFileMetaData.getSchema))
    finally reader.close()
  }

  private def isData(q: Path): Boolean = {
    val n = q.getName
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  private def contractError(dir: String, writer: String,
      fields: Seq[(String, DataType)], ranges: Seq[Range],
      shape: String = "one row, written last")(why: String): Nothing =
    throw new IllegalArgumentException(
      s"$dir breaks the $writer sidecar contract ($shape; " +
        fields.map { case (n, t) => s"$n ${t.simpleString}" }.mkString(", ") +
        ranges.map(r => s"; ${r._1}").mkString + s"): $why")

  private def checked(row: Map[String, (DataType, Option[Any])],
      fields: Seq[(String, DataType)], ranges: Seq[Range],
      optional: Set[String])(fail: String => Nothing): Params = {
    val p = fields.flatMap { case (n, t) =>
      row.get(n) match {
        case None if optional(n) => None
        case None => fail(s"missing field $n")
        case Some((dt, _)) if dt != t =>
          fail(s"field $n is ${dt.simpleString}, expected ${t.simpleString}")
        case Some((_, None)) if !optional(n) => fail(s"NULL $n")
        case Some((_, v)) => v.map(n -> _)
      }
    }.toMap
    ranges.find(!_._2(p)).foreach(r => fail(s"out of range: ${r._1} does not hold"))
    p
  }

  /** The single row of the sidecar at `dir`: see [[sidecarRows]]. */
  private def sidecarRow(spark: SparkSession, dir: String)(
      fail: String => Nothing): Map[String, (DataType, Option[Any])] =
    sidecarRows(spark, dir)(fail) match {
      case Seq(r) => r
      case rs => fail(s"the sidecar at $dir holds ${rs.size} rows, expected one")
    }

  /** The rows of the sidecar at `dir`, read on the driver with no Spark
    * job: column name → (type, value or None for NULL). */
  private def sidecarRows(spark: SparkSession, dir: String)(
      fail: String => Nothing): Seq[Map[String, (DataType, Option[Any])]] = {
    val p = new Path(dir)
    val f = fs(spark, p)
    if (!f.exists(p)) fail(s"no sidecar at $dir")
    val files = f.listStatus(p).map(_.getPath).filter(isData)
    files.toSeq.flatMap { file =>
      try withFooter(spark, file) { (reader, types) =>
        val schema = reader.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { pages =>
            val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
            Iterator.fill(pages.getRowCount.toInt)(rr.read())
          }
          .map(g => types.fields.map(t => t.name -> (t.dataType, value(g, t))).toMap)
          .toList
      } catch {
        case NonFatal(e) => fail(s"unreadable sidecar file $file (${e.getMessage})")
      }
    }
  }

  private def value(g: Group, f: StructField): Option[Any] =
    if (g.getFieldRepetitionCount(f.name) == 0) None
    else f.dataType match {
      case IntegerType => Some(g.getInteger(f.name, 0))
      case LongType => Some(g.getLong(f.name, 0))
      case BooleanType => Some(g.getBoolean(f.name, 0))
      case DoubleType => Some(g.getDouble(f.name, 0))
      case StringType => Some(g.getString(f.name, 0))
      case _ => None
    }
}
