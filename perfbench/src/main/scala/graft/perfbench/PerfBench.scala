package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.encode.TfExample
import graft.io.TfRecordSource
import graft.registry.YamlRegistry
import graft.run.{JobConfig, Runner, Transforms}

/** The benchmark's JVM half. One process runs one workload:
  *
  *   1. set-up, `--setups` times (session, sources, registry, fitted
  *      artifacts, one warm-up unit); the first is timed from JVM start
  *   2. timed units until `--seconds` have passed (at least one)
  *   3. with `--trace 1`, one more unit with a span around every call
  *      into a layer and forced materialization between layers
  *   4. the JVM side of the correctness checks, then a calibration job
  *
  * and writes everything it measured to `--result` as JSON. The Python
  * half (run.py) generates the inputs, runs the DuckDB checks and turns
  * the raw numbers into metrics.
  */
object PerfBench {

  final case class Opts(
      workload: String, data: String, work: String, seconds: Double,
      trace: Boolean, cpus: Int, setups: Int, result: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("setups").toInt, m("result"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop cached blocks between units, as graft.Bench does. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.sqlContext.clearCache()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val w: Workload = o.workload match {
      case "examplegen_bulk" => new ExampleGenBulk(o)
      case "operator_mix" => new OperatorMix(o)
      case other => sys.error(s"unknown workload '$other'")
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until o.setups) {
      val t0 = System.nanoTime()
      if (spark != null) { spark.stop(); SparkSession.clearDefaultSession(); SparkSession.clearActiveSession() }
      spark = session(o)
      w.setup(spark)
      setups += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else secs(t0))
    }

    val taskMem = new PeakTaskMemory
    spark.sparkContext.addSparkListener(taskMem)
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    do {
      taskMem.peak = 0L
      val u = w.timedUnit(spark, units.size)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      failed += u.failed
      errors ++= u.errors
      units += u.json + ("task_mem_mb" -> taskMem.peak / 1048576.0)
      release(spark)
    } while (System.nanoTime() < deadline)

    val traced = if (!o.trace) Map.empty[String, Any] else {
      val tracer = new Tracer(spark.sparkContext,
        runId = s"${o.workload}-${java.util.UUID.randomUUID()}")
      val t0 = System.nanoTime()
      tracer.span("unit")(w.tracedUnit(spark, tracer))
      val wall = secs(t0)
      spark.sparkContext.clearJobGroup()
      release(spark)
      tracer.toJson(spark.sparkContext) + ("traced_wall_s" -> wall)
    }

    val tCheck = System.nanoTime()
    val checks = try w.check(spark) catch {
      case NonFatal(e) => Map("jvm_check_error" -> Map("ok" -> false, "detail" -> e.toString))
    }
    val tCalibStart = System.nanoTime()
    val calib = {
      graft.Bench.calibJob(spark, o.cpus, 1L << 25) // untimed JIT warm-up
      val t0 = System.nanoTime()
      graft.Bench.calibJob(spark, o.cpus, 1L << 27)
      secs(t0)
    }
    val phases = Map("check_s" -> (tCalibStart - tCheck) / 1e9, "calib_s" -> secs(tCalibStart))
    val out = Map(
      "workload" -> o.workload,
      "setup_s" -> setups.toSeq,
      "units" -> units.toSeq,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "checks" -> checks,
      "calib_s" -> calib,
      "phase_s" -> phases,
      "trace" -> traced) ++ w.extra
    Files.write(Paths.get(o.result), Json(out).getBytes(UTF_8))
    spark.stop()
  }
}

/** The most execution memory (hash tables, sort and aggregation
  * buffers: Spark's `peakExecutionMemory`) any one task held. It is set
  * by the plan and the data, where the JVM's resident set and its
  * post-GC heap follow the collector's timing (each spread 20–40%
  * between runs of this benchmark on one 4-core host). */
final class PeakTaskMemory extends org.apache.spark.scheduler.SparkListener {
  @volatile var peak = 0L
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => peak = math.max(peak, m.peakExecutionMemory))
}

/** What one timed unit measured. */
final case class UnitResult(json: Map[String, Any], failed: Long = 0, errors: Seq[String] = Nil)

trait Workload {
  def setup(spark: SparkSession): Unit
  def timedUnit(spark: SparkSession, i: Int): UnitResult
  def tracedUnit(spark: SparkSession, t: Tracer): Unit
  /** JVM-side checks: name → {"ok", "detail"}. */
  def check(spark: SparkSession): Map[String, Any]
  /** Workload-specific raw fields for the result file. */
  def extra: Map[String, Any] = Map.empty
}

/** The paper's job, as graft.run.Main runs it: entity SQL over an
  * amplified `orders` spine, point-in-time joined against four views
  * over three sources (a static customer view, two TTL views sharing
  * `orders` so FuseAuto fuses them, and a TTL view over `events`),
  * encoded as tf.Example and written as train/eval 2:1 gzip TFRecords. */
final class ExampleGenBulk(o: PerfBench.Opts) extends Workload {
  val registryYaml: String =
    """project: perfbench
      |views:
      |  - name: customer_profile
      |    source: customer.parquet
      |    entities: [c_custkey]
      |    timestamp: __static__
      |    features: [c_acctbal, c_mktsegment]
      |  - name: order_value
      |    source: orders.parquet
      |    entities: [o_custkey]
      |    timestamp: o_orderdate
      |    ttlSeconds: 7776000
      |    features: [o_totalprice]
      |  - name: order_status
      |    source: orders.parquet
      |    entities: [o_custkey]
      |    timestamp: o_orderdate
      |    ttlSeconds: 31536000
      |    features: [o_orderstatus, o_orderpriority]
      |  - name: user_activity
      |    source: events.parquet
      |    entities: [user_id]
      |    timestamp: ts
      |    ttlSeconds: 2592000
      |    features: [value, event_type]
      |services:
      |  - name: training_service
      |    features: ["customer_profile:c_acctbal", "customer_profile:c_mktsegment",
      |               "order_value:o_totalprice", "order_status:o_orderstatus",
      |               "order_status:o_orderpriority", "user_activity:value",
      |               "user_activity:event_type"]
      |""".stripMargin
  val entitySql =
    "SELECT o_orderkey, o_custkey, o_custkey AS c_custkey, o_custkey AS user_id, " +
      "o_orderdate AS event_timestamp FROM orders"
  val out = s"${o.work}/out"
  val splits = Seq("train" -> 2, "eval" -> 1)

  def job(sql: String, outPath: String): JobConfig = JobConfig(
    registry = YamlRegistry.load(registryYaml),
    dataDir = o.data,
    features = Right("training_service"),
    entityQuery = sql,
    outputPath = outPath,
    outputSplits = splits)

  def setup(spark: SparkSession): Unit = {
    // Warm-up: two full jobs, so JIT and codegen reach the timed units
    // warm (after one, unit times still fell by a fifth within a run).
    for (_ <- 1 to 2) {
      Runner.run(spark, job(entitySql, s"${o.work}/warm"))
      PerfBench.release(spark)
    }
  }

  def timedUnit(spark: SparkSession, i: Int): UnitResult = {
    val t0 = System.nanoTime()
    val res = Runner.run(spark, job(entitySql, out))
    val t = (System.nanoTime() - t0) / 1e9
    UnitResult(Map("s" -> t, "records" -> res.map(_.records).sum,
      "splits" -> res.map(r => r.split -> r.records).toMap))
  }

  private def dirBytes(f: File): Long =
    Option(f.listFiles()).fold(f.length())(_.map(dirBytes).sum)
  private def shardFiles(f: File): Int =
    Option(f.listFiles()).fold(0)(fs =>
      fs.count(_.getName.endsWith(".tfrecord.gz")) + fs.map(shardFiles).sum)

  /** Runner.run taken apart at its layer boundaries. Each layer's
    * output is materialized (localCheckpoint) inside its own span, so a
    * span times only its own layer's work. */
  def tracedUnit(spark: SparkSession, t: Tracer): Unit = {
    val tout = s"${o.work}/traced"
    val cfg = job(entitySql, tout)
    val tables = t.span("sources")(graft.sources.ParquetTables.registerAll(spark, o.data))
    t.count("sources.rows_out", t.measure(tables.map(spark.table(_).count()).sum).toDouble)
    val views = t.span("registry") {
      Runner.resolveViews(spark, cfg.copy(registry = YamlRegistry.load(registryYaml)))
    }
    t.count("registry.rows_out", views.map(_.features.size).sum.toDouble)
    val joined = t.span("join")(Runner.retrieve(spark, cfg, entitySql).localCheckpoint())
    val spineRows = t.measure(joined.count())
    t.count("join.rows_out", spineRows.toDouble)
    val feats = views.flatMap(v => v.features.map(v.outName))
    val hits = t.measure(joined.select(feats.map(f => count(col(f))): _*).head())
    t.count("join.feature_hits", feats.indices.map(hits.getLong).sum.toDouble)
    t.count("join.features_requested", (spineRows * feats.size).toDouble)
    val payloads = t.span("encode")(Runner.encode(joined, cfg.outputFormat).localCheckpoint())
    val encoded = t.measure(payloads.selectExpr("count(*)", "coalesce(sum(length(value)), 0)").head())
    t.count("encode.rows_out", encoded.getLong(0).toDouble)
    t.count("encode.bytes", encoded.getLong(1).toDouble)
    val results = t.span("io_write") {
      val r = Runner.writeSplits(payloads, cfg.outputSplits, tout)
      Runner.writeManifest(spark, tout, cfg, r)
      r
    }
    t.count("io_write.rows_out", results.map(_.records).sum.toDouble)
    t.count("io_write.bytes", dirBytes(new File(tout)).toDouble)
    t.count("io_write.files", shardFiles(new File(tout)).toDouble)
    val read = t.span("io_read") {
      splits.map { case (s, _) =>
        TfRecordSource.read(spark, tout, s)
          .map(r => TfExample.decode(r).size)(org.apache.spark.sql.Encoders.scalaInt)
          .localCheckpoint().count()
      }.sum
    }
    t.count("io_read.rows_out", read.toDouble)
  }

  /** The last timed unit's shards, decoded by [[Wire]] and written as
    * parquet for the DuckDB ASOF oracle (checks.py). */
  def check(spark: SparkSession): Map[String, Any] = {
    val longs = Seq("o_orderkey", "o_custkey", "c_custkey", "user_id")
    val floats = Seq("c_acctbal", "o_totalprice", "value")
    val strs = Seq("event_timestamp", "c_mktsegment", "o_orderstatus", "o_orderpriority", "event_type")
    val schema = StructType(StructField("split", StringType) +:
      (longs.map(StructField(_, LongType)) ++ floats.map(StructField(_, FloatType)) ++
        strs.map(StructField(_, StringType))))
    val rows = splits.flatMap { case (split, _) =>
      Wire.split(out, split).map { rec =>
        val f = Wire.decode(rec)
        def one(n: String): Any = f.get(n).flatMap {
          case Wire.Ints(v) => v.headOption
          case Wire.Floats(v) => v.headOption
          case Wire.Strs(v) => v.headOption
        }.orNull
        Row.fromSeq(split +: (longs ++ floats ++ strs).map(one))
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"${o.work}/check/decoded.parquet")
    Map("decoded_records" -> Map("ok" -> rows.nonEmpty, "detail" -> rows.size))
  }
}

/** Declared queries, in name order, each built and materialized to the
  * noop sink — graft.Bench's harness — plus the corpus-prep transform
  * chain over the `corpus` table, served against a minhash index and a
  * unigram model fitted during set-up on a held-out slice. Each result
  * is cached while it is materialized, so the checks read it without a
  * second run. */
final class OperatorMix(o: PerfBench.Opts) extends Workload {
  val Chain = "corpus_chain"
  val names: Seq[String] = Seq(
    "bm25_batch", Chain, "dedup_minhash_serve", "lm_score_kn5_serve", "lm_score_mkn",
    "pit_forward_multi", "sim_hard_negatives_lsh", "sim_topk_pq_incremental",
    "text_langid_ngram")
  private val index = s"${o.work}/artifacts/minhash"
  private val model = s"${o.work}/artifacts/unigram"
  val chain: Seq[Transforms.TransformSpec] = Transforms.parse(
    "clean_text(cols=text);quality_filter(col=text,min_tokens=5);" +
      "dedup_exact(key=doc_id,col=text);" +
      s"minhash_filter(key=doc_id,col=text,index=$index);" +
      s"tokenize_against(key=doc_id,col=text,model=$model,family=unigram);" +
      "pack_sequences(key=doc_id,col=tokens,max_len=128,buckets=8)")
  /** (token total, longest sequence, rows whose n_tokens disagrees with
    * their tokens) of the first pass's packed chain output. */
  private var packed: Option[(Long, Long, Long)] = None

  /** The layer a query exercises: its graft.ops family. */
  def layer(q: String): String = q.takeWhile(_ != '_') match {
    case "lm" => "ops_lm"
    case "dedup" => "ops_dedup"
    case "sim" => "ops_similarity"
    case "bm25" => "ops_retrieval"
    case "text" => "ops_text"
    case "pit" => "join"
    case "corpus" => "transforms"
    case other => sys.error(s"no layer for query family '$other'")
  }

  private def corpus(spark: SparkSession): DataFrame =
    graft.sources.ParquetTables.load(spark, s"${o.data}/corpus.parquet").select("doc_id", "text")

  private def build(spark: SparkSession, q: String): DataFrame =
    if (q == Chain) Transforms.applyAll(corpus(spark), chain)
    else SparkEntry.queries(q)(spark, o.data)

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def setup(spark: SparkSession): Unit = {
    graft.sources.ParquetTables.registerAll(spark, o.data).foreach(spark.table(_).count())
    val history = graft.sources.ParquetTables.load(spark, s"${o.data}/history/documents.parquet")
    graft.ops.Dedup.saveLshBandIndex(
      graft.ops.Dedup.minhashSignatures(history, "doc_id", "text", shingleN = 3, k = 16),
      index, k = 16, bands = 8)
    graft.ops.Unigram.saveModel(
      graft.ops.Unigram.train(history, "text", vocabSize = 200), model, spark)
    materialize(build(spark, "bm25_batch"))
    PerfBench.release(spark)
  }

  def timedUnit(spark: SparkSession, i: Int): UnitResult = {
    val keep = i == 0 // the first pass's results are the ones checked
    val times = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var rows = 0L
    names.foreach { q =>
      val t0 = System.nanoTime()
      try {
        val df = build(spark, q).persist()
        materialize(df)
        times(q) = (System.nanoTime() - t0) / 1e9
        rows += df.count()
        if (keep && q == Chain) {
          val p = df.agg(sum(col("n_tokens")).cast("long"), max(col("n_tokens")).cast("long"),
            sum(when(col("n_tokens") =!= size(col("tokens")), 1).otherwise(0)).cast("long")).head()
          packed = Some((p.getLong(0), p.getLong(1), p.getLong(2)))
        } else if (keep) df.write.mode("overwrite").parquet(s"${o.work}/check/$q")
      } catch {
        case NonFatal(e) =>
          times(q) = (System.nanoTime() - t0) / 1e9
          errors += s"$q: $e"
      }
      PerfBench.release(spark)
    }
    UnitResult(Map("s" -> times.values.sum, "queries" -> times.toMap, "records" -> rows),
      failed = errors.size, errors = errors.toSeq)
  }

  def tracedUnit(spark: SparkSession, t: Tracer): Unit =
    names.foreach { q =>
      val df = if (q == Chain) tracedChain(spark, t) else t.span(s"${layer(q)}.$q") {
        val d = build(spark, q).persist()
        materialize(d)
        d
      }
      t.count(s"${layer(q)}.$q.rows_out", t.measure(df.count()).toDouble)
      PerfBench.release(spark)
    }

  /** The chain one step at a time, each step materialized in its own span. */
  private def tracedChain(spark: SparkSession, t: Tracer): DataFrame = {
    val in = corpus(spark).localCheckpoint()
    t.count("transforms.rows_in", t.measure(in.count()).toDouble)
    t.span("transforms") {
      chain.foldLeft(in) { (df, spec) =>
        val next = t.span(s"transforms.${spec.name}")(Transforms.apply(df, spec).localCheckpoint())
        if (spec.name == "minhash_filter")
          t.count("transforms.survivors", t.measure(next.count()).toDouble)
        next
      }
    }
  }

  /** The chain's packed output conserves the tokens of its tokenized
    * input, and no sequence exceeds the packing budget. The declared
    * queries are checked against their oracle SQL in checks.py. */
  def check(spark: SparkSession): Map[String, Any] = packed match {
    case None => Map(Chain -> Map("ok" -> false, "detail" -> "no result"))
    case Some((total, longest, bad)) =>
      val tokenized = Transforms.applyAll(corpus(spark), chain.init)
        .agg(sum(size(col("tokens"))).cast("long")).head().getLong(0)
      Map(Chain -> Map(
        "ok" -> (total == tokenized && total > 0 && longest <= 128 && bad == 0),
        "detail" -> s"packed $total vs tokenized $tokenized tokens, longest $longest, $bad miscounted"))
  }

  override def extra: Map[String, Any] =
    Map("oracle_sql" -> names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
