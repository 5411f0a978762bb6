package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.SparkSpec
import graft.encode.TfExample
import graft.io.{HadoopConfs, TfRecordSink}
import graft.registry.YamlRegistry
import graft.run.{JobConfig, Runner}

/** A local filesystem reachable only under the `graftsession` scheme,
  * which the specs register in the session conf alone: code that opens
  * a path with a bare `new Configuration()` cannot resolve it. */
class SessionOnlyFs extends RawLocalFileSystem {
  override def getScheme: String = "graftsession"
  override def getUri: URI = URI.create("graftsession:///")
}

class ParquetTablesSpec extends SparkSpec {

  /** Two files of `(id, ts TIMESTAMP(NANOS), name)`, written with
    * parquet's own writer (Spark cannot write nano timestamps). */
  private def nanoTable(): String = {
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional binary name (STRING); }")
    val rows = new SimpleGroupFactory(schema)
    for (part <- 0 until 2) {
      val out = HadoopOutputFile.fromPath(
        new Path(s"$dir/part-$part.parquet"), HadoopConfs.of(spark))
      val w = ExampleParquetWriter.builder(out).withType(schema).build()
      try (0 until 5).foreach { i =>
        val id = part * 5L + i
        w.write(rows.newGroup().append("id", id)
          .append("ts", 1704067200000000000L + id * 1000001L).append("name", s"n$id"))
      } finally w.close()
    }
    dir
  }

  /** Three part files written by Spark. */
  private def sparkTable(): String = {
    val dir = Files.createTempDirectory("graft-multi").toString + "/t.parquet"
    spark.range(30).select(col("id"), (col("id") * 2).cast("int").as("x"),
      col("id").cast("string").as("s")).repartition(3).write.parquet(dir)
    dir
  }

  test("load reads the schema off the footer: equal to Spark's inference, and no job runs") {
    val fixtures = Seq("sf0.001", "sf0.01").flatMap { d =>
      new java.io.File(sf(d)).list().filter(_.endsWith(".parquet")).sorted
        .map(t => s"${sf(d)}/$t")
    } :+ sparkTable()
    assert(fixtures.size > 10)
    fixtures.foreach { p =>
      val (df, jobs, _) = traced(ParquetTables.load(spark, p))
      withClue(p) {
        assert(jobs.isEmpty)
        assert(df.schema == spark.read.parquet(p).schema)
      }
    }
    // nano timestamps: the footer's schema holds them as longs (as the
    // nanosAsLong inference does), then load rebuilds micro timestamps
    val nanos = nanoTable()
    val (df, jobs, _) = traced(ParquetTables.load(spark, nanos))
    assert(jobs.isEmpty)
    // Spark infers nano timestamps only as longs, under this flag
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(flag)
    spark.conf.set(flag, "true")
    val inferred =
      try spark.read.parquet(nanos).schema
      finally prev.fold(spark.conf.unset(flag))(spark.conf.set(flag, _))
    assert(inferred("ts").dataType == LongType)
    assert(df.schema == inferred.copy(fields = inferred.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
    val micros = df.orderBy("id").select("ts").collect().toSeq.map { r =>
      val t = r.getTimestamp(0)
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    }
    assert(micros == (0 until 10).map(id => (1704067200000000000L + id * 1000001L) / 1000))
  }

  test("with mergeSchema on, load infers the merged schema over every file") {
    // one table directory, two files: the first lacks `extra`
    val dir = Files.createTempDirectory("graft-merge")
    Seq(spark.range(3).select(col("id")),
      spark.range(3).select(col("id"), col("id").cast("string").as("extra")))
      .zipWithIndex.foreach { case (df, i) =>
        val tmp = Files.createTempDirectory("graft-merge-part").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(f => Files.move(f.toPath, dir.resolve(s"part-$i.parquet")))
      }
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val df = ParquetTables.load(spark, dir.toString)
      assert(df.columns.toSet == Set("id", "extra"))
      assert(df.count() == 6)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a filesystem configured only in the session conf loads through load and Runner.run") {
    val yaml =
      """project: graft-test
        |views:
        |  - name: order_features
        |    source: orders.parquet
        |    entities: [o_custkey]
        |    timestamp: o_orderdate
        |    features: [o_totalprice]
        |""".stripMargin
    spark.conf.set("fs.graftsession.impl", classOf[SessionOnlyFs].getName)
    spark.conf.set("fs.graftsession.impl.disable.cache", "true")
    try {
      val data = s"graftsession://${sf()}"
      val orders = ParquetTables.load(spark, s"$data/orders.parquet")
      assert(orders.count() == spark.read.parquet(s"${sf()}/orders.parquet").count())
      val out = "graftsession://" + Files.createTempDirectory("graft-session-fs")
      val res = Runner.run(spark, JobConfig(
        registry = YamlRegistry.load(yaml), dataDir = data,
        features = Left(Seq("order_features:o_totalprice")),
        entityQuery = "SELECT user_id AS o_custkey, ts AS event_timestamp FROM events",
        outputSplits = Seq("all" -> 1), outputPath = out))
      val events = spark.read.parquet(s"${sf()}/events.parquet").count()
      assert(res.map(_.records).sum == events)
      val back = TfRecordSink.readAll(spark, out, "all")
      assert(back.size == events)
      assert(TfExample.decode(back.head).keySet ==
        Set("o_custkey", "event_timestamp", "o_totalprice"))
    } finally {
      spark.conf.unset("fs.graftsession.impl")
      spark.conf.unset("fs.graftsession.impl.disable.cache")
    }
  }
}
