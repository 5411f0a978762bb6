package graft.run

import org.apache.spark.sql.functions.{col, size, sum}

import graft.SparkSpec
import graft.encode.TfExample
import graft.io.TfRecordSink
import graft.registry.YamlRegistry

/** End-to-end smoke (SURVEY.md §7.3 slice): entity query over `events`,
  * PIT join against feature views from `orders`/`customer`, tf.Example
  * encode, hash splits, TFRecord write, decode and re-verify. */
class RunnerSpec extends SparkSpec {

  private val registryYaml =
    """project: graft-test
      |views:
      |  - name: order_features
      |    source: orders.parquet
      |    entities: [o_custkey]
      |    timestamp: o_orderdate
      |    createdTimestamp: o_orderdate
      |    features: [o_totalprice, o_orderstatus]
      |  - name: customer_features
      |    source: customer.parquet
      |    entities: [c_custkey]
      |    timestamp: __static__
      |    features: [c_acctbal, c_mktsegment]
      |services:
      |  - name: training_service
      |    features: ["order_features:o_totalprice", "order_features:o_orderstatus"]
      |""".stripMargin

  test("registry yaml parses") {
    val reg = YamlRegistry.load(registryYaml)
    assert(reg.views("order_features").features == Seq("o_totalprice", "o_orderstatus"))
    assert(reg.service("training_service").features.map(_.feature) ==
      Seq("o_totalprice", "o_orderstatus"))
    assert(reg.resolve(Right("training_service")).head.view == "order_features")
    assert(reg.resolve(Left(Seq("customer_features:c_acctbal"))).head.feature == "c_acctbal")
  }

  test("range substitution") {
    val q = "SELECT * FROM t WHERE ts >= @begin_timestamp AND ts <= @end_timestamp"
    val got = Runner.substitute(q,
      Map("begin_timestamp" -> "'2024-01-01'", "end_timestamp" -> "'2024-02-01'"))
    assert(got == "SELECT * FROM t WHERE ts >= '2024-01-01' AND ts <= '2024-02-01'")
  }

  test("full job end-to-end on sf0.001") {
    val out = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val job = JobConfig(
      registry = YamlRegistry.load(registryYaml),
      dataDir = sf(),
      features = Right("training_service"),
      entityQuery =
        """SELECT user_id AS o_custkey, ts AS event_timestamp, event_type
          |FROM events WHERE ts >= @begin_timestamp""".stripMargin,
      entityTs = "event_timestamp",
      rangeParams = Map("begin_timestamp" -> "TIMESTAMP'2024-01-01 00:00:00'"),
      outputSplits = Seq("train" -> 2, "eval" -> 1),
      outputPath = out)

    val results = Runner.run(spark, job)
    assert(results.map(_.split).toSet == Set("train", "eval"))
    val total = results.map(_.records).sum
    val entityCount = spark.read.parquet(s"${sf()}/events.parquet").count()
    assert(total == entityCount) // PIT left join: one example per entity row

    // decode a shard and check feature keys + plausible split ratio
    val train = TfRecordSink.readAll(spark, out, "train")
    val eval = TfRecordSink.readAll(spark, out, "eval")
    assert(train.size + eval.size == total)
    val ratio = train.size.toDouble / total
    assert(ratio > 0.5 && ratio < 0.8, s"train ratio $ratio should be ~2/3")

    val m = TfExample.decode(train.head)
    assert(m.keySet == Set("o_custkey", "event_timestamp", "event_type",
      "o_totalprice", "o_orderstatus"))

    // artifact manifest: format + per-split counts readable downstream
    val manifest = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/_MANIFEST.json")), "UTF-8")
    assert(manifest.contains("\"payload_format\":\"FORMAT_TF_EXAMPLE\""))
    assert(manifest.contains(s""""name":"train","records":${train.size}"""))
    assert(manifest.contains(s""""name":"eval","records":${eval.size}"""))
    assert(manifest.contains("\"span\":0"))
  }

  test("retrieve scans a shared source once: one candidate join and one stitch per source") {
    // three order views + one customer view: the order views share one
    // scan, one aggregation and one row-id stitch
    val manyViewsYaml =
      """project: graft-test
        |views:
        |  - name: ord_price
        |    source: orders.parquet
        |    entities: [o_custkey]
        |    timestamp: o_orderdate
        |    features: [o_totalprice]
        |  - name: ord_status
        |    source: orders.parquet
        |    entities: [o_custkey]
        |    timestamp: o_orderdate
        |    ttlSeconds: 15552000
        |    features: [o_orderstatus]
        |  - name: ord_prio
        |    source: orders.parquet
        |    entities: [o_custkey]
        |    timestamp: o_orderdate
        |    features: [o_orderpriority]
        |  - name: customer_features
        |    source: customer.parquet
        |    entities: [c_custkey]
        |    timestamp: __static__
        |    features: [c_acctbal]
        |""".stripMargin
    val entitySql =
      """SELECT event_id, user_id AS o_custkey, user_id AS c_custkey,
        |       ts AS event_timestamp FROM events""".stripMargin
    val job = JobConfig(
      registry = YamlRegistry.load(manyViewsYaml), dataDir = sf(),
      features = Left(Seq("ord_price:o_totalprice", "ord_status:o_orderstatus",
        "ord_prio:o_orderpriority", "customer_features:c_acctbal")),
      entityQuery = entitySql, entityRowId = Some("event_id"))
    val out = Runner.retrieve(spark, job, entitySql)
    val plan = out.queryExecution.executedPlan.toString
    withClue(plan.take(4000)) {
      assert(plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("orders.parquet")) == 1)
      assert(("SortMergeJoin \\[__graft_row_id".r.findAllMatchIn(plan).size +
        "BroadcastHashJoin \\[__graft_row_id".r.findAllMatchIn(plan).size) == 2)
    }
    assert(out.columns.toSeq == Seq("event_id", "o_custkey", "c_custkey",
      "event_timestamp", "o_totalprice", "o_orderstatus", "o_orderpriority", "c_acctbal"))
    graft.join.AsOfOracle.check(out, spark.sql(entitySql), "event_id",
      "event_timestamp", Runner.resolveViews(spark, job))
  }

  test("a MAP-valued feature view runs through Runner.run and its m.<key> leaves decode") {
    import org.apache.spark.sql.functions.{lit, map}
    val scratch = java.nio.file.Files.createTempDirectory("graft-mapview").toString
    val src = s"$scratch/order_maps.parquet"
    graft.sources.ParquetTables.load(spark, s"${sf()}/orders.parquet")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        map(lit("price"), col("o_totalprice"),
          lit("key"), col("o_orderkey").cast("double")).as("m"))
      .write.parquet(src)
    val yaml =
      s"""project: graft-test
         |views:
         |  - name: order_maps
         |    source: $src
         |    entities: [o_custkey]
         |    timestamp: o_orderdate
         |    features: [m, o_orderkey]
         |""".stripMargin
    val out = s"$scratch/out"
    val job = JobConfig(
      registry = YamlRegistry.load(yaml), dataDir = sf(),
      features = Left(Seq("order_maps:m", "order_maps:o_orderkey")),
      entityQuery = "SELECT event_id, user_id AS o_custkey, ts AS event_timestamp FROM events",
      outputSplits = Seq("train" -> 1), outputPath = out)
    val results = Runner.run(spark, job)
    val events = spark.read.parquet(s"${sf()}/events.parquet").count()
    assert(results.map(_.records).sum == events)
    val decoded = TfRecordSink.readAll(spark, out, "train").map(TfExample.decode)
    val leafless = decoded.filterNot(d => d.contains("m.price") && d.contains("m.key"))
    assert(leafless.isEmpty, s"${leafless.size} records, e.g. ${leafless.headOption}")
    // the leaves come from the picked row: m.key is that row's order key
    val matched = decoded.filter(_("o_orderkey") != TfExample.Empty)
    assert(matched.nonEmpty)
    matched.foreach { d =>
      val TfExample.Int64s(Seq(k)) = d("o_orderkey")
      assert(d("m.key") == TfExample.Floats(Seq(k.toFloat)))
      assert(d("m.price").isInstanceOf[TfExample.Floats])
    }
    decoded.filter(_("o_orderkey") == TfExample.Empty)
      .foreach(d => assert(d("m.price") == TfExample.Empty && d("m.key") == TfExample.Empty))
    // and the picks themselves match the naive oracle
    val entity = spark.sql(job.entityQuery)
    graft.join.AsOfOracle.check(Runner.retrieve(spark, job, job.entityQuery), entity,
      "event_id", "event_timestamp", Runner.resolveViews(spark, job))
  }

  test("writeSplits executes the upstream pipeline once for N splits") {
    val out = java.nio.file.Files.createTempDirectory("graft-1pass").toString
    val acc = spark.sparkContext.longAccumulator("upstream-evals")
    import spark.implicits._
    val payloads = spark.range(1000).as[Long].map { i =>
      acc.add(1); s"payload-$i".getBytes("UTF-8")
    }
    val results = Runner.writeSplits(
      payloads, Seq("a" -> 1, "b" -> 1, "c" -> 2), out)
    assert(results.map(_.records).sum == 1000)
    // multi-pass write would re-run the map once per split → 3000/4000
    assert(acc.value == 1000, s"upstream executed ${acc.value}/1000 times")
    // every record lands in exactly one split, readable back
    val back = results.map(r => TfRecordSink.readAll(spark, out, r.split).size)
    assert(back.sum == 1000 && back.zip(results).forall { case (n, r) => n == r.records })
  }

  test("static dimension view joins via synthesized timestamp") {
    val job = JobConfig(
      registry = YamlRegistry.load(registryYaml),
      dataDir = sf(),
      features = Left(Seq(
        "order_features:o_totalprice", "customer_features:c_mktsegment")),
      entityQuery =
        "SELECT user_id AS o_custkey, user_id AS c_custkey, ts AS event_timestamp FROM events")
    val df = Runner.retrieve(spark, job, job.entityQuery)
    assert(df.columns.toSet == Set(
      "o_custkey", "c_custkey", "event_timestamp", "o_totalprice", "c_mktsegment"))
    // every user_id is a valid c_custkey at sf0.001 → no null segments
    assert(df.filter(df("c_mktsegment").isNull).count() == 0)
  }

  test("multiple input splits run independent queries") {
    val out = java.nio.file.Files.createTempDirectory("graft-splits").toString
    val job = JobConfig(
      registry = YamlRegistry.load(registryYaml),
      dataDir = sf(),
      features = Left(Seq("order_features:o_totalprice")),
      entityQuery = "",
      inputSplits = Map(
        "a" -> "SELECT user_id AS o_custkey, ts AS event_timestamp FROM events WHERE event_id % 2 = 0",
        "b" -> "SELECT user_id AS o_custkey, ts AS event_timestamp FROM events WHERE event_id % 2 = 1"),
      outputSplits = Seq("all" -> 1),
      outputPath = out)
    val results = Runner.run(spark, job)
    val entityCount = spark.read.parquet(s"${sf()}/events.parquet").count()
    assert(results.map(_.records).sum == entityCount)
    assert(new java.io.File(s"$out/a/all").exists && new java.io.File(s"$out/b/all").exists)
  }

  test("transforms: parse is total, unknown names and bad args fail fast") {
    val specs = Transforms.parse(
      "clean_text(cols=a|b); sample_hash(key=id,pct=50) ;dedup_exact(key=id,col=a)")
    assert(specs.map(_.name) == Seq("clean_text", "sample_hash", "dedup_exact"))
    assert(specs(1).args == Map("key" -> "id", "pct" -> "50"))
    intercept[IllegalArgumentException](Transforms.parse("nope(x=1)"))
    intercept[IllegalArgumentException](Transforms.parse("clean_text"))
    intercept[IllegalArgumentException] {
      Transforms.apply(spark.range(1).toDF(), Transforms.parse("sample_hash(key=id)").head)
    }
  }

  test("transforms: chain filters, dedups, and scrubs through the job plan") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob@x.example.org here we go now"),
      (2L, "mail bob@x.example.org here we go now"), // exact dup of 1
      (3L, "tiny"),
      (4L, "another unique document with enough tokens in it")
    ).toDF("id", "bio")
    val out = Transforms.applyAll(df, Transforms.parse(
      "quality_filter(col=bio,min_tokens=5);dedup_exact(key=id,col=bio);redact_pii(cols=bio)"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 4L)) // 3 fails gate; 2 deduped to 1
    assert(out(1L) == "mail <EMAIL> here we go now")
  }

  test("expect_unique / expect_fd gates: clean frames pass untouched, violations kill the job") {
    import spark.implicits._
    val clean = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "a", "z"))
      .toDF("id", "cat", "v")
    // Clean key: identical rows and schema out.
    val passed = Transforms.applyAll(clean,
      Transforms.parse("expect_unique(cols=id);expect_fd(lhs=id,rhs=cat)"))
    assert(passed.columns.toSeq == clean.columns.toSeq)
    assert(passed.collect().map(_.toString).sorted.toSeq ==
      clean.collect().map(_.toString).sorted.toSeq)
    // Duplicate key: the job must die with counts + example in the message.
    val dup = clean.unionByName(Seq((2L, "q", "w")).toDF("id", "cat", "v"))
    val e1 = intercept[Exception] {
      Transforms.applyAll(dup, Transforms.parse("expect_unique(cols=id)")).collect()
    }
    assert(e1.getMessage.contains("expect_unique(id): 1 duplicated keys, e.g. 2"))
    // FD violation: id 2 maps to cats {b, q}.
    val e2 = intercept[Exception] {
      Transforms.applyAll(dup, Transforms.parse("expect_fd(lhs=id,rhs=cat)")).collect()
    }
    assert(e2.getMessage.contains("expect_fd(id->cat): 1 violating keys, e.g. 2"))
    // A user column named like a check output survives the gate
    // (internal-prefix check columns, the quarantine collision rule).
    val shadowed = clean.withColumn("is_unique", org.apache.spark.sql.functions.lit(false))
    val kept = Transforms.applyAll(shadowed, Transforms.parse("expect_unique(cols=id)"))
    assert(kept.columns.contains("is_unique"))
    assert(kept.count() == 3L)
  }

  test("dedup_exact transform passes NULL-text rows through instead of dropping them") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("same text here")),
      (2L, Option("same text here")),
      (3L, None: Option[String]),
      (4L, None: Option[String])
    ).toDF("id", "bio")
    val out = Transforms.applyAll(df,
      Transforms.parse("dedup_exact(key=id,col=bio)"))
      .collect().map(_.getLong(0)).sorted
    // duplicate text collapses to min key; both null rows survive
    assert(out.toSeq == Seq(1L, 3L, 4L), s"got ${out.toSeq}")
  }

  test("dedup_exact transform passes NULL-key rows through instead of dropping them") {
    import spark.implicits._
    // min(key) skips nulls and NULL keys never match the keeper
    // equi-join — without the bypass, rows 3 and 4 would vanish even
    // though their text is non-null.
    val df = Seq(
      (Option(1L), "same text here"),
      (Option(2L), "same text here"),
      (None: Option[Long], "same text here"),
      (None: Option[Long], "unique text")
    ).toDF("id", "bio")
    val out = Transforms.applyAll(df,
      Transforms.parse("dedup_exact(key=id,col=bio)"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    assert(out.length == 3, s"got ${out.toSeq}")
    assert(out.count(_._1 == -1L) == 2) // both null-key rows survive
    assert(out.contains((1L, "same text here"))) // dup collapsed to min key
  }

  test("forward_label / nearest_label transforms: directional labeling from the config surface") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val frame = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // outcome 10:30 within 1h
      (2L, 10L, ts("2024-01-01 12:00:00")), // nothing within 1h → NULL
      (3L, 20L, ts("2024-01-01 10:00:00"))  // key absent → NULL
    ).toDF("row_id", "user", "ets")
    val labelsDir = java.nio.file.Files
      .createTempDirectory("fwd-labels").toString
    Seq(
      (10L, ts("2024-01-01 10:30:00"), 1.0),
      (10L, ts("2024-01-01 10:45:00"), 2.0), // later — forward must skip
      (10L, ts("2024-01-01 14:00:00"), 3.0)
    ).toDF("u", "lts", "outcome").write.mode("overwrite").parquet(labelsDir)

    val fwd = Transforms.applyAll(frame, Transforms.parse(
      s"forward_label(id=row_id,ts=ets,source=$labelsDir,source_ts=lts," +
        "keys=user:u,features=outcome,horizon=3600,prefix=label)"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("label__outcome"))) None
         else Some(r.getDouble(r.fieldIndex("label__outcome"))))).toMap
    assert(fwd == Map(1L -> Some(1.0), 2L -> None, 3L -> None), s"got $fwd")

    val near = Transforms.applyAll(frame, Transforms.parse(
      s"nearest_label(id=row_id,ts=ets,source=$labelsDir,source_ts=lts," +
        "keys=user:u,features=outcome,tolerance=1800,keep_ts=true)"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("outcome"))) None
         else Some(r.getDouble(r.fieldIndex("outcome"))))).toMap
    assert(near == Map(1L -> Some(1.0), 2L -> None, 3L -> None), s"got $near")

    // parse-time typing: horizon/tolerance must be positive longs,
    // keep_ts boolean, keys well-formed (apply-time for pair shape)
    intercept[IllegalArgumentException](Transforms.parse(
      "forward_label(id=a,ts=b,source=c,source_ts=d,keys=k:v,features=f,horizon=0)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "forward_label(id=a,ts=b,source=c,source_ts=d,keys=k:v,features=f,horizon=abc)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "nearest_label(id=a,ts=b,source=c,source_ts=d,keys=k:v,features=f)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "forward_label(id=a,ts=b,source=c,source_ts=d,keys=k:v,features=f,horizon=1,keep_ts=yes)"))
    intercept[IllegalArgumentException](Transforms.applyAll(frame, Transforms.parse(
      s"forward_label(id=row_id,ts=ets,source=$labelsDir,source_ts=lts," +
        "keys=userv,features=outcome,horizon=3600)")))
  }

  test("forward_label with prefix on a zero-row frame keeps the prefixed label columns") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val frame = Seq((1L, 10L, ts("2024-01-01 10:00:00"))).toDF("row_id", "user", "ets")
    val labelsDir = java.nio.file.Files.createTempDirectory("fwd-labels-empty").toString
    Seq((10L, ts("2024-01-01 10:30:00"), 1.0))
      .toDF("u", "lts", "outcome").write.mode("overwrite").parquet(labelsDir)
    val spec = Transforms.parse(
      s"forward_label(id=row_id,ts=ets,source=$labelsDir,source_ts=lts," +
        "keys=user:u,features=outcome,horizon=3600,prefix=label,keep_ts=true)")
    val full = Transforms.applyAll(frame, spec)
    val empty = Transforms.applyAll(frame.filter($"row_id" < 0), spec)
    assert(empty.columns.toSeq == Seq("row_id", "user", "ets", "label__lts", "label__outcome"))
    assert(empty.schema == full.schema)
    assert(empty.count() == 0)
  }

  test("dedup_against transform: index dups drop, batch dups collapse, fresh and NULL rows survive") {
    import spark.implicits._
    val history = Seq(
      (100L, "seen before text"), (101L, "other historical text")
    ).toDF("id", "bio")
    val scratch = java.nio.file.Files.createTempDirectory("graft-tidx").toString
    graft.ops.Dedup.saveExactIndex(
      graft.ops.Dedup.exact(history, "id", "bio"), s"$scratch/idx")
    val df = Seq(
      (1L, Option("Seen   BEFORE text")),  // normalized index hit → drops
      (2L, Option("fresh content a")),     // new → survives
      (3L, Option("repeated in batch")),   // batch pair: min key 3 survives
      (4L, Option("repeated  in batch")),
      (5L, None: Option[String])           // NULL text bypasses untouched
    ).toDF("id", "bio")
    val out = Transforms.applyAll(df,
      Transforms.parse(s"dedup_against(key=id,col=bio,index=$scratch/idx)"))
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(2L, 3L, 5L), s"got ${out.toSeq}")

    // hash-partitioned layout: the stats sidecar flips the gate's
    // loader to the partition-pruned serve, same kept rows
    graft.ops.Dedup.saveExactIndexPartitioned(
      graft.ops.Dedup.exact(history, "id", "bio"), s"$scratch/idxp",
      nHashBuckets = 8)
    val outP = Transforms.applyAll(df,
      Transforms.parse(s"dedup_against(key=id,col=bio,index=$scratch/idxp)"))
      .collect().map(_.getLong(0)).sorted
    assert(outP.toSeq == Seq(2L, 3L, 5L), s"got ${outP.toSeq}")
  }

  test("simhash_filter / winnow_filter transforms: near-dups of the persisted index drop, novel and NULL rows survive") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val copied = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    val history = Seq(
      (100L, base), (101L, s"$copied plus base trailing content here")
    ).toDF("id", "bio")
    val scratch = java.nio.file.Files.createTempDirectory("graft-nidx").toString
    graft.ops.Dedup.saveSimhashes(
      graft.ops.Dedup.withSimhash(history, "id", "bio"), s"$scratch/sim")
    graft.ops.Dedup.saveWinnowFingerprints(
      graft.ops.Dedup.winnowFingerprints(history, "id", "bio"), s"$scratch/wfp")
    val vary = (1 to 30).map(i => if (i == 5) "CHANGED" else s"token$i").mkString(" ")
    val df = Seq(
      (1L, Option(vary)),                            // near-dup of history
      (2L, Option("wholly new content string here")),
      (3L, None: Option[String])
    ).toDF("id", "bio")
    val simOut = Transforms.applyAll(df, Transforms.parse(
      s"simhash_filter(key=id,col=bio,index=$scratch/sim,max_hamming=14)"))
      .collect().map(_.getLong(0)).sorted
    assert(simOut.toSeq == Seq(2L, 3L), s"got ${simOut.toSeq}")
    val wdf = Seq(
      (1L, Option(s"prefix stolen words: $copied")),  // copied run
      (2L, Option("original writing sharing nothing with the base corpus")),
      (3L, None: Option[String])
    ).toDF("id", "bio")
    val winOut = Transforms.applyAll(wdf, Transforms.parse(
      s"winnow_filter(key=id,col=bio,index=$scratch/wfp,min_shared=2)"))
      .collect().map(_.getLong(0)).sorted
    assert(winOut.toSeq == Seq(2L, 3L), s"got ${winOut.toSeq}")

    // PARTITIONED layouts at the same paths' pruned twins: the stats
    // sidecar flips the gate's loader, same kept rows. The winnow one
    // is built with NON-default (k, w) — only reachable from the DSL
    // through the sidecar (the flat path serves defaults).
    graft.ops.Dedup.saveSimhashBandIndex(
      graft.ops.Dedup.withSimhash(history, "id", "bio"), s"$scratch/simp",
      nHashBuckets = 8)
    val simpOut = Transforms.applyAll(df, Transforms.parse(
      s"simhash_filter(key=id,col=bio,index=$scratch/simp,max_hamming=14)"))
      .collect().map(_.getLong(0)).sorted
    assert(simpOut.toSeq == Seq(2L, 3L), s"got ${simpOut.toSeq}")
    graft.ops.Dedup.saveWinnowFpIndex(
      graft.ops.Dedup.winnowFingerprints(history, "id", "bio", k = 6, w = 8),
      s"$scratch/wfpp", nHashBuckets = 8)
    val winpOut = Transforms.applyAll(wdf, Transforms.parse(
      s"winnow_filter(key=id,col=bio,index=$scratch/wfpp,min_shared=2)"))
      .collect().map(_.getLong(0)).sorted
    assert(winpOut.toSeq == Seq(2L, 3L), s"got ${winpOut.toSeq}")

    // parse-time arg typing: non-numeric max_hamming dies in parse()
    intercept[IllegalArgumentException](Transforms.parse(
      "simhash_filter(key=id,col=bio,index=/x,max_hamming=abc)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "winnow_filter(key=id,col=bio,index=/x,min_shared=0)"))
  }

  test("minhash_filter / semantic_filter transforms: persisted-index near-dups drop, novel and NULL rows survive") {
    import spark.implicits._
    val shared = (1 to 40).map(i => s"word$i").mkString(" ")
    val history = Seq((100L, shared)).toDF("id", "bio")
    val scratch = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    graft.ops.Dedup.saveSignatures(
      graft.ops.Dedup.minhashSignatures(history, "id", "bio",
        shingleN = 3, k = 16), s"$scratch/mh")
    val vary = (1 to 40).map(i => if (i == 7) "CHANGED" else s"word$i").mkString(" ")
    val df = Seq(
      (1L, Option(vary)),                            // near-dup of history
      (2L, Option("entirely novel writing with fresh vocabulary throughout this row")),
      (3L, None: Option[String])
    ).toDF("id", "bio")
    val mhOut = Transforms.applyAll(df, Transforms.parse(
      s"minhash_filter(key=id,col=bio,index=$scratch/mh,threshold=0.5)"))
      .collect().map(_.getLong(0)).sorted
    assert(mhOut.toSeq == Seq(2L, 3L), s"got ${mhOut.toSeq}")

    // band-bucketed layout, PORTABLE family: k/portable come from the
    // index's stats sidecar (no k=/portable= args), same kept rows.
    graft.ops.Dedup.saveLshBandIndex(
      graft.ops.Dedup.minhashSignatures(history, "id", "bio",
        shingleN = 3, k = 16, portable = true),
      s"$scratch/mhp", k = 16, bands = 8, portable = true, nHashBuckets = 8)
    val mhpOut = Transforms.applyAll(df, Transforms.parse(
      s"minhash_filter(key=id,col=bio,index=$scratch/mhp,threshold=0.5)"))
      .collect().map(_.getLong(0)).sorted
    assert(mhpOut.toSeq == Seq(2L, 3L), s"got ${mhpOut.toSeq}")

    // semantic_filter: history = 3 unit vectors; arrival 1 duplicates
    // one of them, arrival 2 is orthogonal, arrival 3 has no vector.
    def vec(axis: Int): Seq[Float] =
      (0 until 8).map(i => if (i == axis) 1.0f else 0.0f)
    val hist = Seq((100L, vec(0)), (101L, vec(1)), (102L, vec(2)))
      .toDF("id", "emb")
    val ann = graft.ops.Similarity.fitIndex(hist, "id", "emb",
      nCentroids = 2, m = 2, kSub = 2)
    hist.write.mode("overwrite").parquet(s"$scratch/sem/vectors")
    // cid-partitioned layout: the gate must read it via
    // loadEncodedCorpus (and get file-level probed-cid pruning)
    graft.ops.Similarity.saveEncodedCorpus(
      graft.ops.Similarity.encodeCorpus(hist, "id", "emb", ann),
      s"$scratch/sem/encoded")
    graft.ops.Similarity.saveIndex(ann, s"$scratch/sem/ann", spark)
    val vdf = Seq(
      (1L, Option(vec(0))),          // exact dup of history vector 100
      (2L, Option(vec(5))),          // orthogonal to all of history
      (3L, None: Option[Seq[Float]])
    ).toDF("id", "emb")
    val semOut = Transforms.applyAll(vdf, Transforms.parse(
      s"semantic_filter(key=id,col=emb,index=$scratch/sem," +
        "threshold=0.9,n_probe=2,adc_margin=2.0)"))
      .collect().map(_.getLong(0)).sorted
    assert(semOut.toSeq == Seq(2L, 3L), s"got ${semOut.toSeq}")

    // stored-vector index: self-contained, NO <index>/vectors artifact
    graft.ops.Similarity.saveEncodedCorpus(
      graft.ops.Similarity.encodeCorpus(hist, "id", "emb", ann,
        storeVectors = true),
      s"$scratch/semv/encoded")
    graft.ops.Similarity.saveIndex(ann, s"$scratch/semv/ann", spark)
    val semvOut = Transforms.applyAll(vdf, Transforms.parse(
      s"semantic_filter(key=id,col=emb,index=$scratch/semv," +
        "threshold=0.9,n_probe=2,adc_margin=2.0)"))
      .collect().map(_.getLong(0)).sorted
    assert(semvOut.toSeq == Seq(2L, 3L), s"got ${semvOut.toSeq}")

    // parse-time arg typing
    intercept[IllegalArgumentException](Transforms.parse(
      "minhash_filter(key=id,col=bio,index=/x,portable=yes)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "minhash_filter(key=id,col=bio,index=/x,k=0)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "semantic_filter(key=id,col=emb,index=/x)")) // threshold required
    intercept[IllegalArgumentException](Transforms.parse(
      "semantic_filter(key=id,col=emb,index=/x,threshold=abc)"))
  }

  test("transforms: missing args and malformed rates fail at parse time") {
    intercept[IllegalArgumentException](Transforms.parse("sample_hash(key=id)"))
    intercept[IllegalArgumentException](
      Transforms.parse("mixture_sample(key=id,strata=lang,rates=en40)"))
    // well-formed chain still parses
    assert(Transforms.parse(
      "mixture_sample(key=id,strata=lang,rates=en:40|de:80)").head.name == "mixture_sample")
  }

  test("corpus_shuffle transform assigns reproducible dense shard positions") {
    import spark.implicits._
    val df = (1L to 200L).toDF("id")
    val out = Transforms.applyAll(df,
      Transforms.parse("corpus_shuffle(key=id,shards=4)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 200)
    out.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("lm_filter transform drops the high-cross-entropy tail") {
    import spark.implicits._
    // 10 fluent docs from a tiny shared vocabulary + 1 outlier doc of
    // unique tokens: the outlier's bigrams are all singletons, so its
    // cross-entropy is the corpus maximum.
    val fluent = (1L to 10L).map(i => (i, "the cat sat on the mat"))
    val outlier = Seq((99L, "zyx wvu tsr qpo nml"))
    val df = (fluent ++ outlier).toDF("doc_id", "bio")
    val scores = graft.ops.LanguageModel
      .bigramCrossEntropy(df, df, "doc_id", "bio")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores.maxBy(_._2)._1 == 99L)
    val cut = (scores(99L) + scores(1L)) / 2
    val kept = Transforms.applyAll(df,
      Transforms.parse(s"lm_filter(key=doc_id,col=bio,max_ce=$cut)"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == (1L to 10L).toSet)
    // mistyped budget dies at parse time
    intercept[IllegalArgumentException](
      Transforms.parse("lm_filter(key=doc_id,col=bio,max_ce=cheap)"))
  }

  test("transforms: non-numeric int args fail at parse time, not at apply") {
    intercept[IllegalArgumentException](
      Transforms.parse("sample_hash(key=id,pct=abc)"))
    intercept[IllegalArgumentException](
      Transforms.parse("quality_filter(col=bio,min_tokens=lots)"))
    intercept[IllegalArgumentException](
      Transforms.parse("mixture_sample(key=id,strata=lang,rates=en:40,default_pct=x)"))
    // Int-overflowing digits and zero shards die at parse, not mid-job
    intercept[IllegalArgumentException](
      Transforms.parse("sample_hash(key=id,pct=99999999999)"))
    intercept[IllegalArgumentException](
      Transforms.parse("corpus_shuffle(key=id,shards=0)"))
    // valid ints still parse
    assert(Transforms.parse("quality_filter(col=bio,min_tokens=5,max_tokens=100)")
      .head.args("max_tokens") == "100")
    assert(Transforms.parse("corpus_shuffle(key=id,shards=16)").head.name == "corpus_shuffle")
  }

  test("lm_filter passes NULL-key rows through instead of dropping them") {
    import spark.implicits._
    val df = (Seq((Option(1L), "the cat sat on the mat"),
      (Option(2L), "the cat sat on the mat"),
      (None: Option[Long], "the cat sat on the mat")))
      .toDF("doc_id", "bio")
    val out = Transforms.applyAll(df,
      Transforms.parse("lm_filter(key=doc_id,col=bio,max_ce=100.0)"))
      .collect()
    // generous budget keeps both scorable rows AND the null-key row
    assert(out.length == 3, s"got ${out.length}")
    assert(out.count(_.isNullAt(0)) == 1)
  }

  test("lm_filter_against gates on a persisted reference model, not the ingest batch") {
    import spark.implicits._
    // Reference model fitted on fluent text ONCE; the ingest batch is
    // 90% gibberish — a self-trained lm_filter would normalize the
    // gibberish (it IS the corpus), while the against-gate keeps only
    // what the reference model finds fluent.
    val reference = (1L to 10L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "bio")
    val dir = java.nio.file.Files.createTempDirectory("kn-gate").toString
    graft.ops.LanguageModel.saveKnModel(
      graft.ops.LanguageModel.fitKn(reference, "bio"), dir)
    val ingest = (Seq((100L, "the cat sat on the mat")) ++
      (101L to 109L).map(i => (i, s"zz$i qq$i ww$i vv$i"))).toDF("doc_id", "bio")
    val ceRef = graft.ops.LanguageModel.kneserNeyAgainst(
      ingest, "doc_id", "bio",
      graft.ops.LanguageModel.loadKnModel(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cut = (ceRef(100L) + ceRef(101L)) / 2
    val kept = Transforms.applyAll(ingest,
      Transforms.parse(s"lm_filter_against(key=doc_id,col=bio,model=$dir,max_ce=$cut)"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L))
    // NULL-key rows bypass; mistyped budget dies at parse time
    val withNull = (Seq((Option(100L), "the cat sat on the mat"),
      (None: Option[Long], "anything")))
      .toDF("doc_id", "bio")
    val out = Transforms.applyAll(withNull,
      Transforms.parse(s"lm_filter_against(key=doc_id,col=bio,model=$dir,max_ce=100.0)"))
      .collect()
    assert(out.length == 2 && out.count(_.isNullAt(0)) == 1)
    intercept[IllegalArgumentException](
      Transforms.parse("lm_filter_against(key=doc_id,col=bio,model=/tmp/x,max_ce=cheap)"))
    intercept[IllegalArgumentException](
      Transforms.parse("lm_filter_against(key=doc_id,col=bio,max_ce=1.0)"))
  }

  test("CCNet recipe chains from the config surface: clean, reference-LM gate, shuffle") {
    import spark.implicits._
    // The canonical crawl-filtering pipeline as ONE transform chain:
    // normalize text, gate on perplexity under a PERSISTED reference
    // model, then assign reproducible shard addresses — all from the
    // string config surface, fused into a single plan per stage.
    val reference = (1L to 10L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "bio")
    val dir = java.nio.file.Files.createTempDirectory("kn-chain").toString
    graft.ops.LanguageModel.saveKnModel(
      graft.ops.LanguageModel.fitKn(reference, "bio"), dir)
    val ingest = (Seq(
      (100L, "  the   cat sat  on the mat  "), // cleans to fluent
      (101L, "the cat https://spam.example.com/x sat on the mat")) ++
      (102L to 109L).map(i => (i, s"zz$i qq$i ww$i vv$i"))).toDF("doc_id", "bio")
    val out = Transforms.applyAll(ingest, Transforms.parse(
      s"clean_text(cols=bio);" +
        s"lm_filter_against(key=doc_id,col=bio,model=$dir,max_ce=2.0);" +
        "corpus_shuffle(key=doc_id,shards=4)"))
      .collect()
    // the URL is stripped BEFORE scoring, so both fluent docs survive
    // the gate; all gibberish drops; every survivor has a shard address
    assert(out.map(_.getLong(0)).toSet == Set(100L, 101L))
    out.foreach { r =>
      assert(r.getAs[String]("bio") == "the cat sat on the mat")
      val shard = r.getAs[Long]("shard")
      assert(shard >= 0L && shard < 4L)
    }
  }

  test("sample_temperature / budget_select / classifier_filter transforms apply and validate") {
    import spark.implicits._
    // temperature: skewed strata flatten at alpha=0; bad args die at parse
    val skew = ((1L to 900L).map(i => (i, "big")) ++ (1001L to 1100L).map(i => (i, "small")))
      .toDF("id", "src")
    val t = Transforms.applyAll(skew,
      Transforms.parse("sample_temperature(key=id,strata=src,alpha=0.0,target=200)"))
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t("small") == 100L) // under-quota stratum kept whole
    assert(t("big") < 300L)    // heavy stratum cut toward its quota
    intercept[IllegalArgumentException](
      Transforms.parse("sample_temperature(key=id,strata=src,alpha=x,target=200)"))
    intercept[IllegalArgumentException](
      Transforms.parse("sample_temperature(key=id,strata=src,alpha=0.5,target=0)"))

    // budget_select: keeps the maximal score-ordered prefix; budget is
    // Long-ranged (values past Int.MaxValue parse fine)
    val docs = (1L to 50L).map(i => (i, 51L - i, 10L)).toDF("id", "prio", "toks")
    val kept = Transforms.applyAll(docs,
      Transforms.parse("budget_select(key=id,score=prio,cost=toks,budget=200)"))
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == (1L to 20L), s"got ${kept.mkString(",")}")
    assert(Transforms.parse("budget_select(key=id,score=p,cost=c,budget=9999999999)")
      .head.name == "budget_select")
    intercept[IllegalArgumentException](
      Transforms.parse("budget_select(key=id,score=p,cost=c,budget=-5)"))

    // sample_weighted: fixed-size draw, heavy rows dominate, bad n dies at parse
    val weighted = ((1L to 300L).map(i => (i, 1.0)) ++
      (1001L to 1300L).map(i => (i, 40.0))).toDF("id", "wt")
    val drawn = Transforms.applyAll(weighted,
      Transforms.parse("sample_weighted(key=id,weight=wt,n=100)"))
      .collect().map(_.getLong(0))
    assert(drawn.length == 100)
    assert(drawn.count(_ > 1000L) > 75)
    intercept[IllegalArgumentException](
      Transforms.parse("sample_weighted(key=id,weight=wt,n=0)"))

    // classifier_filter: separable corpus — positives stay, negatives drop,
    // NULL-key rows pass through
    val labeled = ((1 to 10).map(i => (Option(i.toLong), "alpha beta alpha", 1)) ++
      (11 to 20).map(i => (Option(i.toLong), "gamma delta gamma", 0)) ++
      Seq((None: Option[Long], "gamma delta", 0)))
      .toDF("id", "bio", "good")
    val out = Transforms.applyAll(labeled,
      Transforms.parse("classifier_filter(key=id,col=bio,label=good,min_score=0.5)"))
      .collect()
    val keptIds = out.filter(!_.isNullAt(0)).map(_.getLong(0)).toSet
    assert(keptIds == (1L to 10L).toSet, s"got $keptIds")
    assert(out.count(_.isNullAt(0)) == 1) // null-key bypass
  }

  test("tokenize_against serves all three persisted tokenizer families") {
    import spark.implicits._
    val corpus = (1L to 30L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "bio")
    val base = java.nio.file.Files.createTempDirectory("tok-gate").toString
    graft.ops.Bpe.saveRules(
      graft.ops.Bpe.train(corpus, "bio", nMerges = 10), s"$base/bpe", spark)
    graft.ops.Unigram.saveModel(
      graft.ops.Unigram.train(corpus, "bio", vocabSize = 12), s"$base/uni", spark)
    graft.ops.WordPiece.saveModel(
      graft.ops.WordPiece.train(corpus, "bio", nMerges = 10), s"$base/wp", spark)
    val ingest = Seq(
      (100L, Option("the cat sat")),
      (101L, None: Option[String])).toDF("doc_id", "bio")
    for ((fam, dir, explode) <- Seq(
        ("bpe", s"$base/bpe",
          (d: org.apache.spark.sql.DataFrame) => graft.ops.Bpe.tokenize(
            d, "doc_id", "bio", graft.ops.Bpe.loadRules(spark, s"$base/bpe"))),
        ("unigram", s"$base/uni",
          (d: org.apache.spark.sql.DataFrame) => graft.ops.Unigram.tokenize(
            d, "doc_id", "bio", graft.ops.Unigram.loadModel(spark, s"$base/uni"))),
        ("wordpiece", s"$base/wp",
          (d: org.apache.spark.sql.DataFrame) => graft.ops.WordPiece.tokenize(
            d, "doc_id", "bio", graft.ops.WordPiece.loadModel(spark, s"$base/wp"))))) {
      val out = Transforms.applyAll(ingest, Transforms.parse(
          s"tokenize_against(key=doc_id,col=bio,model=$dir,family=$fam)"))
        .collect().map(r => r.getLong(0) ->
          Option(r.getSeq[String](r.fieldIndex("tokens")))).toMap
      // Column form matches the exploded Scala API exactly (shared
      // serving expression, posexplode elided).
      val exploded = explode(ingest.filter(col("bio").isNotNull))
        .orderBy("token_pos").collect().map(_.getString(2)).toSeq
      assert(out(100L).contains(exploded), s"$fam: ${out(100L)} vs $exploded")
      assert(out(101L).isEmpty, s"$fam: NULL text must tokenize to NULL")
    }
    // Sampled unigram: deterministic in (key, model, alpha, seed),
    // tokens reassemble to the text's words.
    val s1 = Transforms.applyAll(ingest, Transforms.parse(
        s"tokenize_against(key=doc_id,col=bio,model=$base/uni," +
          "family=unigram,alpha=0.5,seed=7)"))
      .filter(col("doc_id") === 100L)
      .collect().head.getSeq[String](2)
    val s2 = Transforms.applyAll(ingest.repartition(3), Transforms.parse(
        s"tokenize_against(key=doc_id,col=bio,model=$base/uni," +
          "family=unigram,alpha=0.5,seed=7)"))
      .filter(col("doc_id") === 100L)
      .collect().head.getSeq[String](2)
    assert(s1 == s2, "sampled tokenization must replay exactly")
    assert(s1.mkString == "thecatsat")
    // Typing and vocabulary errors die at parse time.
    intercept[IllegalArgumentException](Transforms.parse(
      "tokenize_against(key=id,col=bio,model=/tmp/x,family=sentencepiece)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "tokenize_against(key=id,col=bio,model=/tmp/x,family=bpe,alpha=0.5)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "tokenize_against(key=id,col=bio,model=/tmp/x,family=unigram,alpha=hot)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "tokenize_against(key=id,col=bio,family=bpe)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "tokenize_against(key=id,col=bio,model=/tmp/x,family=unigram,seed=x)"))
    // seed without alpha would be silently ignored — parse-time error
    intercept[IllegalArgumentException](Transforms.parse(
      "tokenize_against(key=id,col=bio,model=/tmp/x,family=unigram,seed=7)"))
    // MISSPELLED optional args die at parse time instead of silently
    // running with the default (the whitelist contract)
    intercept[IllegalArgumentException](Transforms.parse(
      "tokenize_against(key=id,col=bio,model=/tmp/x,family=unigram,alpa=0.5)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "pack_sequences(key=id,col=tokens,max_len=16,bukets=8)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "lm_filter_against(key=i,col=b,model=/tmp/x,max_ce=1.0,flor_eps=1e-9)"))
  }

  test("pack_sequences packs the tokens column into training sequences") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      (i, (0 until (3 + (i % 11)).toInt).map(j => s"w${i}_$j"))
    }.toDF("doc_id", "tokens")
    // Default strategy: one row per assembled sequence, exact budget
    // except bucket tails, corpus-wide token conservation.
    val seqs = Transforms.applyAll(docs, Transforms.parse(
        "pack_sequences(key=doc_id,col=tokens,max_len=16,buckets=2)"))
      .collect()
    assert(seqs.map(_.getAs[Long]("n_tokens")).sum ==
      docs.agg(sum(size(col("tokens")))).head().getLong(0))
    seqs.groupBy(_.getAs[Long]("pack_bucket")).foreach { case (_, rows) =>
      val last = rows.map(_.getAs[Long]("seq_idx")).max
      rows.foreach { r =>
        if (r.getAs[Long]("seq_idx") < last)
          assert(r.getAs[Long]("n_tokens") == 16L)
      }
    }
    // assign keeps the doc rows, annotated.
    val assigned = Transforms.applyAll(docs, Transforms.parse(
        "pack_sequences(key=doc_id,col=tokens,max_len=16,buckets=2,strategy=assign)"))
    assert(assigned.count() == 40L)
    assert(assigned.columns.toSet.contains("seq_idx") &&
      assigned.columns.contains("tokens"))
    // assign also accepts a precomputed integral count column.
    val counted = docs.select(col("doc_id"),
      size(col("tokens")).cast("long").as("n_toks"))
    assert(Transforms.applyAll(counted, Transforms.parse(
      "pack_sequences(key=doc_id,col=n_toks,max_len=16,strategy=assign)"))
      .count() == 40L)
    // ...but token-slicing strategies need the array itself.
    intercept[IllegalArgumentException](Transforms.applyAll(counted,
      Transforms.parse("pack_sequences(key=doc_id,col=n_toks,max_len=16)")))
    // max_len/buckets/strategy typing dies at parse time.
    intercept[IllegalArgumentException](Transforms.parse(
      "pack_sequences(key=id,col=tokens,max_len=0)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "pack_sequences(key=id,col=tokens,max_len=16,strategy=greedy)"))
    intercept[IllegalArgumentException](Transforms.parse(
      "pack_sequences(key=id,col=tokens)"))
  }

  test("pre-training recipe chains end-to-end: clean, LM gate, dedup gate, tokenize, pack") {
    import spark.implicits._
    // The full CCNet-to-training-batch pipeline as ONE config string:
    // every stage serves a PERSISTED artifact (KN counts, exact-hash
    // index, unigram pieces) — zero training passes at ingest time.
    val reference = (1L to 10L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "bio")
    val base = java.nio.file.Files.createTempDirectory("pipe-chain").toString
    graft.ops.LanguageModel.saveKnModel(
      graft.ops.LanguageModel.fitKn(reference, "bio"), s"$base/kn")
    graft.ops.Unigram.saveModel(
      graft.ops.Unigram.train(reference, "bio", vocabSize = 12),
      s"$base/uni", spark)
    // History already contains doc 1's content -> its re-crawl drops.
    graft.ops.Dedup.saveExactIndex(
      graft.ops.Dedup.exact(
        Seq((1L, "the cat sat on the mat")).toDF("doc_id", "bio"),
        "doc_id", "bio"),
      s"$base/exact")
    val ingest = (Seq(
      (100L, "  the cat  sat on the mat  "), // cleans fluent, but dups history
      (101L, "the cat sat on the mat rug")) ++ // fluent and fresh
      (102L to 109L).map(i => (i, s"zz$i qq$i ww$i vv$i"))) // gibberish
      .toDF("doc_id", "bio")
    // Cut between the fresh fluent doc's score and the gibberish band.
    val ce = graft.ops.LanguageModel.kneserNeyAgainst(
        ingest, "doc_id", "bio",
        graft.ops.LanguageModel.loadKnModel(spark, s"$base/kn"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cut = (ce(101L) + ce(102L)) / 2
    assert(ce(101L) < cut && cut < ce(102L))
    val seqs = Transforms.applyAll(ingest, Transforms.parse(
      "clean_text(cols=bio);" +
        s"lm_filter_against(key=doc_id,col=bio,model=$base/kn,max_ce=$cut);" +
        s"dedup_against(key=doc_id,col=bio,index=$base/exact);" +
        s"tokenize_against(key=doc_id,col=bio,model=$base/uni,family=unigram);" +
        "pack_sequences(key=doc_id,col=tokens,max_len=8,buckets=1)"))
      .collect()
    // Only doc 101 survives the gates; its tokens arrive packed into
    // 8-token sequences (last one partial), nothing lost.
    val survivorTokens = graft.ops.Unigram.tokenize(
        Seq((101L, "the cat sat on the mat rug")).toDF("doc_id", "bio"),
        "doc_id", "bio", graft.ops.Unigram.loadModel(spark, s"$base/uni"))
      .orderBy("token_pos").collect().map(_.getString(2)).toSeq
    val packed = seqs.sortBy(_.getAs[Long]("seq_idx"))
      .flatMap(_.getSeq[String](seqs.head.fieldIndex("tokens"))).toSeq
    assert(packed == survivorTokens,
      s"packed $packed vs tokenized $survivorTokens")
    seqs.dropRight(1).foreach(r => assert(r.getAs[Long]("n_tokens") == 8L))
  }

  test("lm_filter_against exposes the persisted model's serve-time knobs") {
    import spark.implicits._
    val reference = (1L to 10L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "bio")
    val dir = java.nio.file.Files.createTempDirectory("kn-knobs").toString
    graft.ops.LanguageModel.saveKnModel(
      graft.ops.LanguageModel.fitKn(reference, "bio"), dir)
    val ingest = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "bio")
    // A knobbed gate matches kneserNeyAgainst called with the same
    // knobs: pick a cut that the default discount REJECTS and the
    // tuned discount accepts.
    val model = graft.ops.LanguageModel.loadKnModel(spark, dir)
    val ceDefault = graft.ops.LanguageModel.kneserNeyAgainst(
      ingest, "doc_id", "bio", model).collect().head.getDouble(2)
    val ceTuned = graft.ops.LanguageModel.kneserNeyAgainst(
      ingest, "doc_id", "bio", model, discount = 0.1, floorEps = 1e-9)
      .collect().head.getDouble(2)
    assert(ceTuned != ceDefault, "knobs must change the score")
    val cut = (math.min(ceDefault, ceTuned) + math.max(ceDefault, ceTuned)) / 2
    val (passFam, failFam) =
      if (ceTuned < ceDefault) ("discount=0.1,floor_eps=1e-9", "")
      else ("", "discount=0.1,floor_eps=1e-9")
    def gate(knobs: String) = Transforms.applyAll(ingest, Transforms.parse(
      s"lm_filter_against(key=doc_id,col=bio,model=$dir,max_ce=$cut" +
        (if (knobs.nonEmpty) s",$knobs" else "") + ")")).count()
    assert(gate(passFam) == 1L)
    assert(gate(failFam) == 0L)
    intercept[IllegalArgumentException](Transforms.parse(
      s"lm_filter_against(key=i,col=b,model=$dir,max_ce=1.0,discount=soft)"))
  }

  test("lm_filter_against sniffs the model's order: kn3 and kn5 layouts serve directly") {
    import spark.implicits._
    // An order-5 MKN reference needs count-class decay at four
    // levels — the shared lm_score_kn5 gadget corpus.
    val reference = graft.Kn5TestCorpus.corpus(40)
      .toDF("doc_id", "bio")
    val base = java.nio.file.Files.createTempDirectory("kn-order").toString
    graft.ops.LanguageModel.saveKn5Model(
      graft.ops.LanguageModel.fitKn5(reference, "bio"), s"$base/kn5")
    graft.ops.LanguageModel.saveKn3Model(
      graft.ops.LanguageModel.fitKn3(reference, "bio"), s"$base/kn3")
    val ingest = (Seq((100L, "the cat sat on the mat")) ++
      (101L to 105L).map(i => (i, s"zz$i qq$i ww$i vv$i uu$i")))
      .toDF("doc_id", "bio")
    for ((dir, score) <- Seq(
        (s"$base/kn5", () => graft.ops.LanguageModel.modifiedKn5Against(
          ingest, "doc_id", "bio",
          graft.ops.LanguageModel.loadKn5Model(spark, s"$base/kn5"))),
        (s"$base/kn3", () => graft.ops.LanguageModel.kneserNeyTrigramAgainst(
          ingest, "doc_id", "bio",
          graft.ops.LanguageModel.loadKn3Model(spark, s"$base/kn3"))))) {
      val ce = score().collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val cut = (ce(100L) + ce(101L)) / 2
      assert(ce(100L) < cut && cut < ce(101L), s"$dir: $ce")
      val kept = Transforms.applyAll(ingest, Transforms.parse(
          s"lm_filter_against(key=doc_id,col=bio,model=$dir,max_ce=$cut)"))
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(100L), s"$dir kept $kept")
    }
    // A kn5 model rejects the discount knob (its discounts are
    // estimated from the model's own count-of-counts).
    val e = intercept[IllegalArgumentException](Transforms.applyAll(ingest,
      Transforms.parse(s"lm_filter_against(key=doc_id,col=bio," +
        s"model=$base/kn5,max_ce=9.0,discount=0.5)")))
    assert(e.getMessage.contains("count-of-counts"))

    // serve=broadcast: the daily-ingest plan (model tables stream
    // map-side, the streaming serve's join shape) — SAME survivors as
    // the default cascade, kn5-only.
    val ce5 = graft.ops.LanguageModel.modifiedKn5Against(
        ingest, "doc_id", "bio",
        graft.ops.LanguageModel.loadKn5Model(spark, s"$base/kn5"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cut5 = (ce5(100L) + ce5(101L)) / 2
    val keptB = Transforms.applyAll(ingest, Transforms.parse(
        s"lm_filter_against(key=doc_id,col=bio,model=$base/kn5," +
          s"max_ce=$cut5,serve=broadcast)"))
      .collect().map(_.getLong(0)).toSet
    assert(keptB == Set(100L), s"broadcast serve kept $keptB")
    // ...and it refuses sub-order-5 models (their cascades have no
    // broadcast-semi variant) and typo'd values at parse time.
    assert(intercept[IllegalArgumentException](Transforms.applyAll(ingest,
      Transforms.parse(s"lm_filter_against(key=doc_id,col=bio," +
        s"model=$base/kn3,max_ce=9.0,serve=broadcast)")))
      .getMessage.contains("order-5"))
    intercept[IllegalArgumentException](Transforms.parse(
      "lm_filter_against(key=i,col=b,model=/tmp/x,max_ce=1.0,serve=fast)"))

    // KEY-BUCKETED kn5 layout (meta sidecar): the gate sniffs it,
    // serves partition-pruned broadcast-semi with the sidecar
    // discounts — SAME survivors as the flat layouts.
    graft.ops.LanguageModel.saveKn5ModelPartitioned(
      graft.ops.LanguageModel.fitKn5(reference, "bio"),
      s"$base/kn5p", nKeyBuckets = 8)
    val keptP = Transforms.applyAll(ingest, Transforms.parse(
        s"lm_filter_against(key=doc_id,col=bio,model=$base/kn5p," +
          s"max_ce=$cut5)"))
      .collect().map(_.getLong(0)).toSet
    assert(keptP == Set(100L), s"partitioned-model gate kept $keptP")
    // serve=shuffle contradicts the layout (it IS the broadcast plan)
    assert(intercept[IllegalArgumentException](Transforms.applyAll(ingest,
      Transforms.parse(s"lm_filter_against(key=doc_id,col=bio," +
        s"model=$base/kn5p,max_ce=9.0,serve=shuffle)")))
      .getMessage.contains("key-bucketed"))
  }

  test("corpus-prep job: documents to packed training sequences in ONE JobConfig, TFRecord out") {
    import spark.implicits._
    // No feature refs -> no PIT machinery: the entity SQL is the
    // corpus, the transform chain is the pipeline, the TFRecord shards
    // are fixed-budget training sequences — the complete pre-training
    // data job through the Runner's front door.
    val uniDir = java.nio.file.Files.createTempDirectory("job-uni").toString
    val docs = graft.sources.ParquetTables.load(
      spark, s"${sf()}/documents.parquet")
    graft.ops.Unigram.saveModel(
      graft.ops.Unigram.train(docs, "text", vocabSize = 30), uniDir, spark)
    val out = java.nio.file.Files.createTempDirectory("job-pack").toString
    val chain = "clean_text(cols=text);" +
      s"tokenize_against(key=doc_id,col=text,model=$uniDir,family=unigram);" +
      "pack_sequences(key=doc_id,col=tokens,max_len=64,buckets=2)"
    val job = JobConfig(
      registry = YamlRegistry.load(registryYaml),
      dataDir = sf(),
      features = Left(Seq.empty),
      entityQuery = "SELECT doc_id, text FROM documents",
      outputSplits = Seq("train" -> 1),
      outputPath = out,
      transforms = Transforms.parse(chain))
    val results = Runner.run(spark, job)
    // Record count == the chain applied directly (one row per
    // training sequence), and token counts survive the WIRE: the sum
    // of decoded n_tokens equals the corpus's packed-token total.
    val expected = Transforms.applyAll(
      docs.select("doc_id", "text"), Transforms.parse(chain))
    assert(results.map(_.records).sum == expected.count())
    val recs = TfRecordSink.readAll(spark, out, "train")
    val decoded = recs.map(TfExample.decode)
    assert(decoded.head.keySet ==
      Set("pack_bucket", "seq_idx", "tokens", "n_docs", "n_tokens"))
    val wireTokens = decoded.map(_("n_tokens") match {
      case TfExample.Int64s(xs) => xs.head
      case other => fail(s"n_tokens decoded as $other")
    }).sum
    val corpusTokens = expected
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(wireTokens == corpusTokens,
      s"wire $wireTokens vs corpus $corpusTokens")
    // every non-tail sequence carries exactly max_len token features
    val tokenLens = decoded.map(_("tokens") match {
      case TfExample.Bytes(xs) => xs.size
      case other => fail(s"tokens decoded as $other")
    })
    assert(tokenLens.count(_ == 64) >= tokenLens.size - 2) // ≤1 tail/bucket
  }

  test("full job applies GRAFT_TRANSFORMS-style chain before encoding") {
    val out = java.nio.file.Files.createTempDirectory("graft-tf").toString
    val job = JobConfig(
      registry = YamlRegistry.load(registryYaml),
      dataDir = sf(),
      features = Right("training_service"),
      entityQuery = "SELECT user_id AS o_custkey, ts AS event_timestamp FROM events",
      outputSplits = Seq("train" -> 1),
      outputPath = out,
      transforms = Transforms.parse("sample_hash(key=o_custkey,pct=40)"))
    val results = Runner.run(spark, job)
    val total = results.map(_.records).sum
    val events = spark.read.parquet(s"${sf()}/events.parquet")
    val expected = graft.ops.Sampling.deterministicSample(
      events.selectExpr("user_id AS o_custkey"), "o_custkey", 40).count()
    assert(total == expected, s"sampled $total of expected $expected rows")
    assert(total > 0 && total < events.count())
  }
}
