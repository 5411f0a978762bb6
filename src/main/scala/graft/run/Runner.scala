package graft.run

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.encode.{ExampleEncoder, TfExampleEncoder, TfSequenceExampleEncoder}
import graft.io.TfRecordSink
import graft.join.{PointInTimeJoin, ResolvedView}
import graft.registry.{FeatureRef, Registry}

/** Job configuration — the typed equivalent of the reference's
  * component parameters (`feast_component/component.py:44-50`):
  * registry + features (refs XOR service, `component.py:80-102`) +
  * entity SQL + splits + range parameters.
  *
  * @param inputSplits   named split → entity SQL (each split is an
  *                      independent query, reference §2.9 X1); when the
  *                      same query should be hash-fanned instead, give
  *                      one input split and several [[outputSplits]]
  * @param outputSplits  named split → hash-bucket weight (X2)
  * @param rangeParams   `@name` → literal substitutions applied to the
  *                      entity SQL before execution (X3; the inherited
  *                      TFX driver does this at
  *                      `example/usage_prototype.py:46-48`)
  * @param entityRowId   a column of the entity SQL result that is
  *                      already unique per row; when set the PIT join
  *                      uses it as the stitch key and skips the
  *                      synthetic-id spine materialization
  */
final case class JobConfig(
    registry: Registry,
    dataDir: String,
    features: Either[Seq[String], String],
    entityQuery: String,
    entityTs: String = "event_timestamp",
    inputSplits: Map[String, String] = Map.empty,
    outputSplits: Seq[(String, Int)] = Seq("train" -> 2, "eval" -> 1),
    rangeParams: Map[String, String] = Map.empty,
    outputPath: String = "/tmp/graft-out",
    fullFeatureNames: Boolean = false,
    outputFormat: OutputFormat = TfExampleFormat,
    span: Long = 0,
    artifactVersion: Long = 0,
    transforms: Seq[Transforms.TransformSpec] = Nil,
    entityRowId: Option[String] = None,
    spineScratchDir: Option[String] = None)

/** Payload-format dispatch — total, unlike the reference's C5 dispatch
  * (`executor.py:141-153`) whose SequenceExample branch raised. */
sealed trait OutputFormat { def encoder: ExampleEncoder }
case object TfExampleFormat extends OutputFormat { def encoder: ExampleEncoder = TfExampleEncoder }
case object TfSequenceExampleFormat extends OutputFormat { def encoder: ExampleEncoder = TfSequenceExampleEncoder }

final case class SplitResult(split: String, records: Long, path: String)

/** End-to-end runner — the Spark shape of the reference's
  * `Executor.Do` → per-split `_FeastToExampleTransform` loop
  * (`executor.py:166-184`, `executor.py:103-118`):
  * for each input split: substitute range params → run entity SQL →
  * point-in-time join against the resolved feature views → encode rows
  * as tf.train.Example → partition into output splits → TFRecord shards.
  */
object Runner {

  /** Registry timestamp sentinel for static (dimension) feature views. */
  val StaticTimestamp = "__static__"

  /** Substitute `@param` placeholders (X3). */
  def substitute(query: String, params: Map[String, String]): String =
    params.foldLeft(query) { case (q, (k, v)) => q.replace(s"@$k", v) }

  /** Register every parquet table in `dataDir` as a temp view so the
    * entity SQL can reference them by name (the reference sends its SQL
    * to BigQuery's catalog; ours is the session catalog). Returns the
    * registered (name, frame) pairs. */
  def registerTables(spark: SparkSession, dataDir: String): Seq[(String, DataFrame)] =
    graft.sources.ParquetTables.registerFrames(spark, dataDir)

  /** Resolve feature refs against the registry into concrete
    * [[ResolvedView]]s, grouped per view in ref order. */
  def resolveViews(spark: SparkSession, job: JobConfig): Seq[ResolvedView] =
    resolveViews(spark, job, Map.empty)

  /** [[resolveViews]] over already-loaded frames (source path → frame):
    * each source path is loaded at most once, so views sharing a source
    * share one frame (one footer read, one schema-inference job). */
  private def resolveViews(
      spark: SparkSession,
      job: JobConfig,
      loaded: Map[String, DataFrame]): Seq[ResolvedView] = {
    val frames = collection.mutable.Map(loaded.toSeq: _*)
    val refs = job.registry.resolve(job.features)
    val byView = refs.groupBy(_.view)
    refs.map(_.view).distinct.map { viewName =>
      val v = job.registry.view(viewName)
      val wanted = byView(viewName).map(_.feature)
      val sourcePath =
        if (v.source.startsWith("/")) v.source else s"${job.dataDir}/${v.source}"
      val raw = frames.getOrElseUpdate(sourcePath,
        graft.sources.ParquetTables.load(spark, sourcePath))
      // Dimension/static feature tables carry no event time (FIXTURES.md
      // customer_features): synthesize a constant epoch timestamp so the
      // as-of predicate always admits them.
      val source =
        if (v.timestamp == StaticTimestamp)
          raw.withColumn(StaticTimestamp, lit("1970-01-01 00:00:00").cast("timestamp"))
        else raw
      ResolvedView(
        name = v.name,
        source = source,
        joinKeys = v.entities.map(e => e -> e),
        tsCol = v.timestamp,
        createdTs = v.createdTimestamp,
        features = wanted,
        ttlSeconds = v.ttlSeconds,
        outputPrefix = if (job.fullFeatureNames) Some(v.name) else None)
    }
  }

  /** The retrieval half: entity SQL → PIT join. Returns the joined
    * DataFrame (entity columns + requested features). */
  def retrieve(spark: SparkSession, job: JobConfig, entitySql: String): DataFrame = {
    val tables = registerTables(spark, job.dataDir)
    val entity = spark.sql(substitute(entitySql, job.rangeParams))
    val views = resolveViews(spark, job,
      tables.map { case (name, df) => s"${job.dataDir}/$name.parquet" -> df }.toMap)
    // A job with NO feature refs is a pure CORPUS-PREP job: the entity
    // SQL is the corpus, the transform chain (clean → gates →
    // tokenize_against → pack_sequences) is the work, and the output
    // is the encoded result — the pre-training pipeline with no feast
    // views in sight. Skip the PIT machinery entirely (it requires a
    // view, and a timestamp column would be an artificial demand on a
    // documents table).
    if (views.isEmpty) return entity
    // Entity-side join keys: by convention the entity SQL exposes
    // columns named like the view's entity keys.
    // A natural unique entity key (entityRowId) lets the join skip the
    // synthetic-id spine materialization — at 100 TB that
    // materialization is the cost of not having one (measured 2.5×
    // end-to-end on a wide payload, SCALE.md round 9). Without a
    // natural key, spineScratchDir trades localCheckpoint's
    // block-manager rows for durable scratch parquet (see
    // PointInTimeJoin). Surface the cost when it will actually bite:
    // a wide entity row makes the materialization O(payload bytes).
    if (job.entityRowId.isEmpty && entity.schema.fields.length > 8)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"PIT spine has ${entity.schema.fields.length} columns and no " +
          "entityRowId: the synthetic-id path materializes the FULL wide " +
          "spine (O(payload bytes)). Pass a unique entity column as " +
          "entityRowId to skip it (measured 2.5x end-to-end on wide payloads).")
    PointInTimeJoin.join(entity, job.entityTs, views,
      rowIdCol = job.entityRowId, spineScratchDir = job.spineScratchDir)
  }

  /** Flatten STRUCT columns into dotted-name leaf columns so nested
    * feature values become encodable tf.Example features — the first
    * thing a Feast user with a struct-valued feature hits otherwise
    * (the reference maps such types to a runtime error,
    * `converters.py:50-53` via the tfx type table; SURVEY §1.2).
    * One projection, fully codegen (`getField`/`transform` only):
    *   - struct<a, b>            → leaves `name.a`, `name.b` (recursive)
    *   - array<struct<a, b>>     → parallel lists `name.a`, `name.b`
    *     (the tf.Example parallel-list convention; order preserved)
    *   - NULL inner struct       → NULL leaves (encoded as the same
    *     present-but-empty features a NULL primitive produces)
    * Map/decimal and nested-array leaves still fail with the encoder's
    * clear error — flattening only rewrites what tf.Example CAN carry.
    * No-op (reference-identical plan) when no struct columns exist. */
  def flattenStructs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.{types => T}
    import org.apache.spark.sql.Column
    def hasStruct(dt: T.DataType): Boolean = dt match {
      case _: T.StructType => true
      case T.ArrayType(e, _) => hasStruct(e)
      case _ => false
    }
    if (!df.schema.fields.exists(f => hasStruct(f.dataType))) return df
    def leaves(c: Column, name: String, dt: T.DataType): Seq[(String, Column)] =
      dt match {
        case st: T.StructType =>
          st.fields.toSeq.flatMap(f =>
            leaves(c.getField(f.name), s"$name.${f.name}", f.dataType))
        case T.ArrayType(st: T.StructType, _) =>
          st.fields.toSeq.flatMap(f =>
            leaves(transform(c, x => x.getField(f.name)),
              s"$name.${f.name}", T.ArrayType(f.dataType)))
        case _ => Seq(name -> c)
      }
    val out = df.schema.fields.toSeq.flatMap(f =>
      // backquoted: a pre-existing dotted top-level name must resolve
      // as one column, not a struct path; embedded backquotes escape by
      // doubling, else the quoted ref itself is malformed
      leaves(col(s"`${f.name.replace("`", "``")}`"), f.name, f.dataType))
    val dup = out.map(_._1).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty,
      s"flattenStructs: dotted leaf name collision: ${dup.mkString(", ")}")
    df.select(out.map { case (n, c) => c.as(n) }: _*)
  }

  /** Flatten `map<string, primitive-or-array>` columns into dotted-name
    * leaf columns so map-valued features become encodable tf.Example
    * features — the last encoder type gap a Feast user hits (the
    * reference maps such types to a runtime error, `converters.py:50-53`
    * via the tfx type table; SURVEY §1.2). Unlike struct fields, map
    * keys are DATA: one key-discovery job (a single scan, distinct onto
    * the (column, key) space, LIMIT-capped at `maxKeys`+1 so an ID-like
    * key space fails fast without a corpus-sized collect — the
    * fitDriftSliced guard pattern) fixes the leaf schema; then one
    * codegen projection emits `name.key` = `element_at(name, key)`:
    *   - a key absent from a row's map → NULL leaf (present-but-empty
    *     feature, the NULL-primitive convention)
    *   - NULL map                     → every leaf NULL
    *   - a map column empty/NULL in EVERY row contributes no leaves
    *     (there is no key set to name features after)
    * Non-STRING keys and nested map/struct values still fail with a
    * clear error — flattening only rewrites what tf.Example CAN carry
    * (decimal values keep the encoder's own clear error). No-op
    * (zero extra jobs, reference-identical plan) when no map columns
    * exist. */
  def flattenMaps(df: DataFrame, maxKeys: Int = 1000): DataFrame = {
    import org.apache.spark.sql.{types => T}
    val mapNames = df.schema.fields
      .filter(_.dataType.isInstanceOf[T.MapType]).map(_.name).toSeq
    if (mapNames.isEmpty) df
    else {
      // all-empty map columns are absent from discovery: pin them to
      // the empty key set (no leaves — there is no key to name one)
      val found = discoverMapKeys(df, maxKeys)
      flattenMaps(df,
        mapNames.map(n => n -> found.getOrElse(n, Seq.empty)).toMap)
    }
  }

  /** Key-discovery half of [[flattenMaps]], exposed so the discovered
    * key set can be PINNED: discovered once at training time, persisted
    * with the model/schema, and replayed at serving via the pinned
    * overload. One scan, (column, key) distinct'd map-side, LIMIT-capped
    * at `maxKeys`+1 so an ID-like key space fails fast without a
    * corpus-sized collect. Returns column → sorted distinct keys; map
    * columns empty/NULL in every row are absent from the result. */
  def discoverMapKeys(
      df: DataFrame, maxKeys: Int = 1000): Map[String, Seq[String]] = {
    import org.apache.spark.sql.{types => T}
    def q(name: String): org.apache.spark.sql.Column =
      col(s"`${name.replace("`", "``")}`")
    val mapCols = df.schema.fields.filter(_.dataType.isInstanceOf[T.MapType]).toSeq
    if (mapCols.isEmpty) return Map.empty
    validateMapCols(mapCols)
    val cap = maxKeys + 1
    val pairs = df
      .select(explode(flatten(array(mapCols.map(f =>
        transform(coalesce(map_keys(q(f.name)), array()),
          k => struct(lit(f.name).as("c"), k.as("k")))): _*))).as("ck"))
      .select(col("ck.c").as("c"), col("ck.k").as("k"))
      .filter(col("k").isNotNull)
      .distinct()
      .limit(cap)
      .collect()
    require(pairs.length < cap,
      s"flattenMaps: map columns carry more than $maxKeys distinct keys " +
        "in total — map features need a bounded, dimension-like key set")
    pairs.groupBy(_.getString(0))
      .map { case (c, rs) => c -> rs.map(_.getString(1)).sorted.toSeq }
  }

  /** Pinned-key [[flattenMaps]]: the leaf schema comes from `keysByCol`
    * (column → keys), NOT from the data — so two encodes of the same
    * logical pipeline (different batches, train vs serve) emit the
    * IDENTICAL feature set, where the discovering overload would emit
    * whatever keys each batch happens to carry (a key absent from a
    * whole batch: no leaf; absent from one row: present-but-empty — a
    * silent train/serve feature-set mismatch for schema-pinning
    * consumers). A pinned key absent from a row (or from the whole
    * batch) yields a NULL leaf = present-but-empty feature; keys in the
    * data but not pinned are DROPPED (the training schema is the
    * contract). Every map column must have an entry (use `Seq.empty` to
    * drop one deliberately); entries for non-map columns are rejected.
    * Zero extra jobs — the discovery scan only runs where discovery is
    * asked for. */
  def flattenMaps(
      df: DataFrame, keysByCol: Map[String, Seq[String]]): DataFrame = {
    import org.apache.spark.sql.{types => T}
    def q(name: String): org.apache.spark.sql.Column =
      col(s"`${name.replace("`", "``")}`")
    val mapCols = df.schema.fields.filter(_.dataType.isInstanceOf[T.MapType]).toSeq
    if (mapCols.isEmpty && keysByCol.isEmpty) return df
    validateMapCols(mapCols)
    val mapNames = mapCols.map(_.name).toSet
    val missing = mapNames -- keysByCol.keySet
    require(missing.isEmpty,
      s"flattenMaps: pinned key set has no entry for map column(s) " +
        s"${missing.toSeq.sorted.mkString(", ")} — pin every map column " +
        "(Seq.empty drops one deliberately)")
    val extra = keysByCol.keySet -- mapNames
    require(extra.isEmpty,
      s"flattenMaps: pinned keys name non-map/absent column(s) " +
        s"${extra.toSeq.sorted.mkString(", ")} — the serving schema " +
        "differs from the one the keys were discovered on")
    keysByCol.foreach { case (c, ks) =>
      require(ks.distinct.size == ks.size,
        s"flattenMaps: pinned keys for '$c' contain duplicates")
    }
    val out = df.schema.fields.toSeq.flatMap { f =>
      if (!f.dataType.isInstanceOf[T.MapType]) Seq(f.name -> q(f.name))
      else keysByCol(f.name).sorted.map(k =>
        s"${f.name}.$k" -> element_at(q(f.name), k))
    }
    val dup = out.map(_._1).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty,
      s"flattenMaps: dotted leaf name collision: ${dup.mkString(", ")}")
    df.select(out.map { case (n, c) => c.as(n) }: _*)
  }

  private def validateMapCols(
      mapCols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    import org.apache.spark.sql.{types => T}
    mapCols.foreach { f =>
      val mt = f.dataType.asInstanceOf[T.MapType]
      require(mt.keyType == T.StringType,
        s"flattenMaps: column '${f.name}': map keys must be STRING " +
          s"(feature names), got ${mt.keyType.simpleString}")
      def flat(dt: T.DataType): Boolean = dt match {
        case _: T.MapType | _: T.StructType => false
        case T.ArrayType(e, _) => flat(e)
        case _ => true
      }
      require(flat(mt.valueType),
        s"flattenMaps: column '${f.name}': map values of type " +
          s"${mt.valueType.simpleString} are not representable as " +
          "tf.train.Feature (need a primitive or array of primitives)")
    }
  }

  /** Encode rows → serialized payload bytes in the job's format.
    * Struct- and map-valued columns are flattened to dotted-name
    * features first (see [[flattenStructs]], [[flattenMaps]]).
    *
    * SCHEMA CAVEAT for map columns: without `mapKeys`, the feature set
    * is discovered from THIS batch's data, so different batches (or
    * train vs serve) can emit different feature sets — a key absent
    * from an entire batch produces no leaf at all. Consumers that pin
    * a schema should discover once with [[discoverMapKeys]] at
    * training time and pass the result here ever after. */
  def encode(
      df: DataFrame,
      format: OutputFormat = TfExampleFormat,
      mapKeys: Option[Map[String, Seq[String]]] = None): Dataset[Array[Byte]] = {
    val structFlat = flattenStructs(df)
    val flat = mapKeys match {
      case Some(ks) => flattenMaps(structFlat, ks)
      case None => flattenMaps(structFlat)
    }
    val schema = flat.schema
    ExampleEncoder.requireDistinctNames(schema) // fails before any task runs
    val enc = format.encoder
    flat.mapPartitions { rows =>
      val write = enc.compile(schema)
      rows.map(write)
    }(org.apache.spark.sql.Encoders.BINARY)
  }

  /** Deterministic output-split partition (X2): bucket by xxhash64 of
    * the payload bytes modulo total weight; contiguous weight ranges map
    * to splits (TFX hash-bucket contract shape, `executor.py:181`).
    * Single-pass: the bucket→split lookup is computed inline and every
    * split is written by one fan-out action, so the upstream pipeline
    * (entity SQL → PIT join → encode) executes exactly once however
    * many splits are configured. */
  def writeSplits(
      payloads: Dataset[Array[Byte]],
      splits: Seq[(String, Int)],
      outputPath: String): Seq[SplitResult] = {
    val total = splits.map(_._2).sum
    require(total > 0, "output split weights must sum > 0")
    val names = splits.map(_._1)
    val bucketToSplit = splits.zipWithIndex.flatMap { case ((_, w), i) => Seq.fill(w)(i) }
    val routed = payloads.toDF("payload")
      .withColumn("split_idx",
        element_at(typedLit(bucketToSplit),
          pmod(xxhash64(col("payload")), lit(total)).cast("int") + 1))
    val counts = TfRecordSink.writePartitioned(routed, outputPath, names)
    splits.map { case (name, _) =>
      SplitResult(name, counts(name), s"$outputPath/$name")
    }
  }

  /** Output artifact manifest — the Spark analogue of the properties the
    * reference stamps on its Examples artifact (`executor.py:144-148`:
    * span, version, payload_format): downstream consumers discover
    * splits, counts, and format without listing shards. Written as
    * `_MANIFEST.json` beside the split directories via the Hadoop FS
    * API (local FS / HDFS / object stores alike). */
  def writeManifest(spark: SparkSession, base: String, job: JobConfig,
      results: Seq[SplitResult]): Unit = {
    import org.apache.hadoop.fs.Path
    val fmt = job.outputFormat match {
      case TfExampleFormat => "FORMAT_TF_EXAMPLE"
      case TfSequenceExampleFormat => "FORMAT_TF_SEQUENCE_EXAMPLE"
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val splitsJson = results
      .map(r => s"""{"name":"${esc(r.split)}","records":${r.records},"path":"${esc(r.path)}"}""")
      .mkString("[", ",", "]")
    val params = job.rangeParams.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"payload_format":"$fmt","span":${job.span},"version":${job.artifactVersion},"splits":$splitsJson,"range_params":$params}"""
    val path = new Path(s"$base/_MANIFEST.json")
    val fs = path.getFileSystem(graft.io.HadoopConfs.of(spark))
    val out = fs.create(path, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Full job (§3.2 loop). Input splits each run their own query and
    * write under `<out>/<inputSplit>/<outputSplit>/`; a single unnamed
    * input writes under `<out>/<outputSplit>/` like the reference. */
  def run(spark: SparkSession, job: JobConfig): Seq[SplitResult] = {
    val inputs =
      if (job.inputSplits.nonEmpty) job.inputSplits.toSeq.sortBy(_._1)
      else Seq("" -> job.entityQuery)
    inputs.flatMap { case (inName, sql) =>
      // Corpus-prep transforms extend the retrieval plan (projections /
      // filters fused by Catalyst) before anything is encoded.
      val joined = Transforms.applyAll(retrieve(spark, job, sql), job.transforms)
      val payloads = encode(joined, job.outputFormat)
      val base = if (inName.isEmpty) job.outputPath else s"${job.outputPath}/$inName"
      val results = writeSplits(payloads, job.outputSplits, base)
      writeManifest(spark, base, job, results)
      results
    }
  }
}
