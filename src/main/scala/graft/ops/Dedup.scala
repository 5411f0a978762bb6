package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * for the 100 TB shape of the problem:
  *
  *  - exact: one hash-aggregate shuffle on a 128-bit content hash —
  *    never on the text itself (shuffle keys stay 16 bytes/row).
  *  - MinHash-LSH: signature computation is a per-row projection
  *    (no shuffle); candidate generation shuffles only
  *    (band-hash, doc_id) pairs; verification joins only within
  *    buckets. Cross-join never materializes.
  *  - SimHash: 64-bit fingerprint per row; near-dup candidates via
  *    banded bit-chunks, Hamming-verified.
  *  - n-gram Jaccard: exact pairwise similarity, blocked on shared
  *    shingles so only co-occurring pairs are scored.
  *
  * All pure column expressions / relational ops — no UDFs, no driver
  * loops; every stage is AQE- and codegen-friendly.
  */
object Dedup {

  /** Exact duplicates on whitespace/case-normalized text: one row per
    * distinct content hash with the survivor (min id) and count.
    *
    * The result doubles as the persistable EXACT-dedup index of the
    * fit-once/serve-many ingest path — the content-hash twin of the
    * minhash signature table ([[minhashSignatures]]): persist it with
    * [[saveExactIndexPartitioned]], check each ingest batch against it
    * with [[exactAgainst]] (or the streaming
    * [[graft.streaming.StreamingOps.exactDedupStream]]), and fold the
    * batch back in with [[mergeExactIndexes]]. At 100 TB the index —
    * one (hash, id, count) row per DISTINCT document — is the only
    * artifact the historical side ever re-reads; the corpus text is
    * never re-hashed. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(TextOps.normalized(col(textCol))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Classify an ingest batch against an [[exact]] index frame (the
    * reference semantics of the [[ExactHashIndex]] serve): one row per
    * arrival, `dup_of` = the id it duplicates, NULL for survivors
    * (genuinely new content). Semantics are FIRST-SEEN-WINS
    * — the real ingest contract, because history is immutable:
    *   - content already in the index → `dup_of` = the index's
    *     `keep_id`, even if the arrival's id is smaller (the
    *     historical survivor cannot be retroactively deleted);
    *   - content new to the index but repeated WITHIN the batch →
    *     min-id arrival survives, its batch twins point at it;
    *   - content seen nowhere → `dup_of` NULL;
    *   - NULL text (no content to hash) → the row passes through as a
    *     survivor with a NULL `text_hash` — content-free rows are not
    *     this operator's to drop, and every arrival gets exactly one
    *     output row (an equi-join would silently eat NULL hashes).
    * Scale shape: one hash projection over the batch, one hash-agg on
    * the batch's hashes, one equi-join against the index on the
    * 32-hex-char hash (broadcast when the batch or index is small;
    * shuffle hash join otherwise — either way no text ever moves, only
    * hashes). Survivors' `(text_hash, id)` rows are exactly what
    * [[mergeExactIndexes]] folds back into the index.
    *
    * PRECONDITION: `index` must hold ONE row per `text_hash` — which
    * every index this engine produces does by construction ([[exact]]
    * is a group-by on the hash; [[mergeExactIndexes]] re-groups). The
    * one way to violate it is unioning per-batch indexes WITHOUT
    * [[mergeExactIndexes]]; a duplicate hash would then emit one
    * classification row per copy, breaking the one-output-row-per-
    * arrival contract downstream. Deduplicating defensively here would
    * re-aggregate the (billions-row) index on every daily serve to
    * guard against a malformed input this engine cannot produce — so
    * the contract is documented, not re-checked. */
  def exactAgainst(
      newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame =
    exactClassify(stageExactArrivals(newDocs, idCol, textCol), index)

  /** The [[exactAgainst]] classification over an already-hashed batch
    * — shared by the in-frame and partition-pruned serve paths so the
    * first-seen-wins / NULL-pass-through contract lives in exactly
    * one place. */
  private def exactClassify(hashed: DataFrame, index: DataFrame): DataFrame = {
    val withHash = hashed.filter(col("text_hash").isNotNull)
    val batchKeep = withHash.groupBy("text_hash")
      .agg(min(col("id")).as("__graft_batch_keep"))
    val classified = withHash
      .join(index.select(col("text_hash"), col("keep_id")),
        Seq("text_hash"), "left")
      .join(batchKeep, Seq("text_hash"))
      .select(col("id"), col("text_hash"),
        when(col("keep_id").isNotNull, col("keep_id"))
          .when(col("__graft_batch_keep") =!= col("id"),
            col("__graft_batch_keep"))
          .as("dup_of"))
    classified.unionByName(hashed.filter(col("text_hash").isNull)
      .select(col("id"), col("text_hash"),
        lit(null).cast(classified.schema("dup_of").dataType).as("dup_of")))
  }

  /** A persisted EXACT index in the [[BucketedIndex]] layout (kind
    * `exact`): (text_hash, keep_id, dup_count) rows bucketed by hash,
    * so a serve reads ≤ |batch| bucket directories. Same
    * one-row-per-hash precondition as [[exactAgainst]].
    * Rebuild-maintained (dup_count of repeated hashes must update):
    * save `mergeExactIndexes(Seq(rows.select(text_hash, keep_id,
    * dup_count), exact(batch)))` to a fresh path — the rows are read
    * lazily, so never over the index being read. Only
    * [[loadExactIndexPartitioned]] makes one, so a serve reads the
    * layout it was loaded from. */
  final class ExactHashIndex private[graft] (
      private[graft] val layout: BucketedIndex.Layout) {
    def rows: DataFrame = layout.rows
    def hashBuckets: Int = layout.hashBuckets
  }

  /** Build + persist an [[ExactHashIndex]] from an [[exact]] /
    * [[mergeExactIndexes]] table. Size `nHashBuckets` ∝ corpus (constant
    * per-bucket bytes): serves read the probed buckets by path, so
    * their driver work is O(|batch|) at any layout size. */
  def saveExactIndexPartitioned(
      index: DataFrame, path: String, nHashBuckets: Int = 64): Unit =
    BucketedIndex.write(BucketedIndex.Exact, path,
      index.select(col("text_hash"), col("keep_id"), col("dup_count")),
      nHashBuckets)

  /** Load a persisted [[ExactHashIndex]] ([[BucketedIndex.load]]). */
  def loadExactIndexPartitioned(
      spark: org.apache.spark.sql.SparkSession, path: String): ExactHashIndex =
    new ExactHashIndex(BucketedIndex.load(spark, path, BucketedIndex.Exact))

  /** [[exactAgainst]] against a persisted [[ExactHashIndex]] —
    * IDENTICAL output to the in-frame serve of its rows (oracle-pinned:
    * dedup_exact_serve shares dedup_exact_incremental's SQL verbatim),
    * reading only the buckets the arrival hashes reach
    * ([[BucketedIndex.Layout.probe]]). */
  def exactAgainst(
      newDocs: DataFrame, index: ExactHashIndex,
      idCol: String, textCol: String): DataFrame =
    BucketedIndex.staged(stageExactArrivals(newDocs, idCol, textCol))(
      exactAgainstStaged(_, index))

  /** The arrival projection of the exact serves — exposed so a caller
    * that OWNS the staging (the streaming face, which persists it and
    * releases it after the sink) can pair it with [[exactAgainstStaged]]. */
  private[graft] def stageExactArrivals(
      newDocs: DataFrame, idCol: String, textCol: String): DataFrame =
    newDocs.select(col(idCol).as("id"),
      md5(TextOps.normalized(col(textCol))).as("text_hash"))

  /** [[exactAgainst]] over a [[stageExactArrivals]] frame the caller
    * has made stable (it feeds both the bucket collect and the join);
    * block ownership stays with the caller. */
  private[graft] def exactAgainstStaged(
      hashed: DataFrame, index: ExactHashIndex): DataFrame =
    exactClassify(hashed, index.layout.probe(hashed))

  /** Merge [[exact]] indexes — the append-composability law of the
    * incremental path: `mergeExactIndexes(Seq(exact(a), exact(b)))`
    * is ROW-IDENTICAL to `exact(a ∪ b)` (min of survivor mins = the
    * union's survivor; counts sum), so daily index maintenance is one
    * hash-agg over (yesterday's index ∪ today's batch index) — the
    * corpus itself is never touched. Oracle-pinned by
    * `dedup_exact_merged`, which shares dedup_exact's SQL verbatim. */
  def mergeExactIndexes(indexes: Seq[DataFrame]): DataFrame = {
    require(indexes.nonEmpty, "mergeExactIndexes needs at least one index")
    indexes.reduce(_ unionByName _)
      .groupBy("text_hash")
      .agg(min(col("keep_id")).as("keep_id"),
        sum(col("dup_count")).as("dup_count"))
  }

  /** Deterministic MinHash signature family: sig_i = min over shingles
    * of xxhash64(shingle, i) — one independent seeded hash per
    * component, reproducible across runs (no fitted model state, no
    * overflow under ANSI arithmetic).
    *
    * For an engine-portable family (used by the oracle-checked query)
    * see [[graft.functions.PortableMinHashSignature]]. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingleCol, s => xxhash64(s, lit(i))))
    }: _*)

  /** Mersenne prime modulus of the portable minhash family (fits well
    * inside a long so `h1 + 15*h2` can never overflow). The family:
    * ONE md5 per shingle supplies two 60-bit seeds h1, h2 (hex chars
    * 1-15 and 16-30), and component i is `min over shingles of
    * (h1 + i*h2) mod p` — the classic two-hash universal trick,
    * bit-reproducible in any engine with md5 (the DuckDB oracle
    * recomputes it exactly). Computed by the fused codegen kernel
    * [[graft.functions.PortableMinHashSignature]]. */
  val PortableMinhashMod = 2147483647L

  /** The persistable MinHash "index": DISTINCT-shingle signatures
    * (id, sig: array<k longs>) — THE single copy of the
    * shingle→signature pipeline, shared by the one-shot [[minhashLsh]]
    * and the fit-once/serve-many incremental path
    * ([[saveLshBandIndex]]/[[loadLshBandIndex]]/[[minhashLshAgainst]]:
    * dedup a daily ingest batch against yesterday's corpus WITHOUT
    * re-shingling the historical text — at 100 TB the signature table
    * is the only artifact the historical side ever re-reads). */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, portable: Boolean = false): DataFrame = {
    // Stage token/shingle arrays as real columns: lambda element access
    // then touches a materialized array instead of re-running the whole
    // normalize→split chain per element (CollapseProject keeps these
    // projections separate because the aliases are non-cheap and
    // multiply-referenced). 100× on long documents.
    // Docs too short to shingle are dropped BEFORE the projections: a
    // filter on the staged `sh` column would be pushed below the
    // projection by Catalyst, collapsing the staging and re-running
    // the tokenize chain per lambda element access (the HOF
    // re-evaluation trap — measured 10× on this exact pipeline).
    val shingled = OpsUtil.widen(df)
      .filter(size(TextOps.tokens(TextOps.normalized(col(textCol)))) >= shingleN)
      .select(col(idCol).as("id"),
        TextOps.tokens(TextOps.normalized(col(textCol))).as("ws"))
      .select(col("id"), TextOps.shingles(col("ws"), shingleN).as("sh"))
    // Build parameters ride the sig column as metadata (the
    // withSimhash pattern; k is already guarded structurally by
    // sigLengthGuard) so the serve path can validate hash-family and
    // shingle-width agreement.
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.minhash.portable", portable)
      .putLong("graft.minhash.shingle_n", shingleN.toLong).build()
    if (portable)
      shingled.select(col("id"),
        graft.functions.HashFunctions
          .portableMinhashSignature(col("sh"), k, PortableMinhashMod).as("sig", md))
    else
      shingled.select(col("id"), minhashSignature(col("sh"), k).as("sig", md))
  }

  /** LSH band rows (id, sig, band, band_hash) for a signature table,
    * with hot buckets wider than `maxBucket` dropped — shared between
    * the self-join and two-sided candidate generation. */
  private def bandRows(
      sigs: DataFrame, k: Int, bands: Int, portable: Boolean,
      maxBucket: Int): DataFrame = {
    val r = k / bands
    def bandHash(b: Column): Column = {
      val key = concat_ws(",", slice(col("sig"), b * r + 1, lit(r)), b.cast("string"))
      if (portable) md5(key) else xxhash64(key)
    }
    val bandedRaw = sigs.select(
      col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bandHash(_))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    if (maxBucket == Int.MaxValue) bandedRaw
    else {
      val hot = bandedRaw.groupBy("band", "band_hash")
        .agg(count(lit(1)).as("m")).filter(col("m") > maxBucket)
        .select("band", "band_hash")
      bandedRaw.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
    }
  }

  /** MinHash + LSH banding near-duplicate candidates.
    *
    * @param bands number of LSH bands; each band hashes `k/bands`
    *              signature components; pairs colliding in >=1 band are
    *              candidates (P ~ 1-(1-j^r)^bands)
    * @return (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
    *         fraction of matching signature components, filtered to
    *         `threshold`
    *
    * `maxBucket` caps LSH bucket width: (band, band_hash) buckets
    * holding more than `maxBucket` documents are dropped before the
    * candidate join — a bucket that wide is template/boilerplate
    * collapse and would contribute width² candidate pairs on one
    * shuffle key. Mass-identical documents belong to [[exact]] dedup,
    * which catches them in one agg; run it first. */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, portable: Boolean = false,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // The signature table is the LSH index: tiny relative to the corpus
    // (id + k longs per doc) but consumed by BOTH candidate-join sides
    // (and the bucket-width aggregate when capped) — materialize once
    // instead of re-tokenizing/re-hashing the corpus per consumer.
    // Lazy checkpoint: lineage truncates and blocks cache on the first
    // action, so plan CONSTRUCTION stays side-effect free; signature
    // values are pure functions of the input, so a concurrent first
    // compute by two stages is harmless.
    val sigsOnce = minhashSignatures(df, idCol, textCol, shingleN, k, portable)
      .localCheckpoint(false)
    val banded = bandRows(sigsOnce, k, bands, portable, maxBucket)

    // Candidate join carries ids only — signatures re-attach from the
    // checkpointed table after pair dedup, so the bucket-join shuffle
    // moves 16-byte pairs instead of both k-component arrays (the
    // candidate set is sparse by LSH construction; the sig re-join is
    // small and AQE-broadcastable).
    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    cand
      .join(sigsOnce.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsOnce.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m))
          .cast("double") / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** INCREMENTAL MinHash-LSH: near-duplicate pairs between a NEW batch
    * and an in-frame BASE signature table — the reference semantics of
    * the persisted serve (the [[LshBandIndex]] overload returns the
    * same rows). Each ingest computes signatures for its batch only;
    * the base corpus text is never re-shingled: the base side ships k
    * longs + id per document, and both band streams shuffle on the
    * same (band, band_hash) key. `maxBucket` caps bucket width PER
    * SIDE (bounding candidates per bucket at maxBucket², the same
    * template-collapse guard as [[minhashLsh]]). Output: (new_id, base_id, est_jaccard ≥
    * threshold). Sides are expected disjoint (an id present in both
    * pairs with itself at jaccard 1.0 — harmless but redundant). */
  def minhashLshAgainst(
      newSigs: DataFrame, baseSigs: DataFrame,
      k: Int = 16, bands: Int = 8, threshold: Double = 0.5,
      portable: Boolean = false, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // Hash-family tag check (the winnowAgainst contract): band hashes
    // from different families never collide meaningfully, and unlike
    // a k mismatch (caught per-row by sigLengthGuard) a family or
    // shingle-width mismatch is structurally invisible.
    checkBuildParams(baseSigs, "sig", "minhashLshAgainst",
      Seq("graft.minhash.portable" -> portable))
    checkBuildParams(newSigs, "sig", "minhashLshAgainst",
      Seq("graft.minhash.portable" -> portable))
    val (nm, bm) = (newSigs.schema("sig").metadata, baseSigs.schema("sig").metadata)
    if (nm.contains("graft.minhash.shingle_n") && bm.contains("graft.minhash.shingle_n"))
      require(nm.getLong("graft.minhash.shingle_n") == bm.getLong("graft.minhash.shingle_n"),
        "minhashLshAgainst: the two signature tables were built with " +
          s"different shingle widths (new=${nm.getLong("graft.minhash.shingle_n")}, " +
          s"base=${bm.getLong("graft.minhash.shingle_n")}) — their signatures " +
          "never match meaningfully")
    val newOnce = newSigs.localCheckpoint(false)
    val baseOnce = sigLengthGuard(baseSigs.localCheckpoint(false), k, "base")
    val a = bandRows(sigLengthGuard(newOnce, k, "new"), k, bands, portable, maxBucket)
      .select(col("band"), col("band_hash"), col("id").as("new_id"))
    val b = bandRows(baseOnce, k, bands, portable, maxBucket)
      .select(col("band"), col("band_hash"), col("id").as("base_id"))
    val cand = a.join(b, Seq("band", "band_hash"))
      .select("new_id", "base_id")
      .dropDuplicates("new_id", "base_id")
    cand
      .join(newOnce.select(col("id").as("new_id"), col("sig").as("sig_a")), Seq("new_id"))
      .join(baseOnce.select(col("id").as("base_id"), col("sig").as("sig_b")), Seq("base_id"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m))
          .cast("double") / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "base_id", "est_jaccard")
  }

  /** A loaded index can carry a DIFFERENT k than the serve call: band
    * slices would then hash the wrong components and est_jaccard would
    * divide a foreign match count by this k — confidently wrong pairs
    * with no error. Fail fast per row instead (fail-fast over silent
    * truncation, the house rule). NULL signatures are index corruption
    * too (every writer in this engine produces non-NULL arrays) and
    * fail with their own message — without the explicit branch the
    * diagnostic itself would NULL-propagate into raise_error(NULL)
    * exactly when it is needed. */
  private def sigLengthGuard(df: DataFrame, k: Int, side: String): DataFrame =
    df.withColumn("sig",
      when(col("sig").isNull, raise_error(lit(
        s"minhashLshAgainst: $side signature is NULL — corrupt index row")))
        .when(size(col("sig")) === k, col("sig"))
        .otherwise(raise_error(concat(
          lit(s"minhashLshAgainst: $side signature has "),
          size(col("sig")).cast("string"),
          lit(s" components, expected k=$k — the index was built with a different k")))))

  /** A persisted LSH BAND index in the [[BucketedIndex]] layout (kind
    * `minhash`): band rows are precomputed ONCE at build (the per-serve
    * band explode of the whole history grew 7× at 100× index growth,
    * SCALE.md round 12), bucketed by band hash. Signatures ride inside
    * the band rows (bands× storage) so verification never joins back to
    * a signature table. Build parameters live in the sidecar and are
    * re-validated at serve. */
  final class LshBandIndex private[graft] (
      private[graft] val layout: BucketedIndex.Layout) {
    def rows: DataFrame = layout.rows
    def k: Int = layout.param[Int]("k")
    def bands: Int = layout.param[Int]("bands")
    def portable: Boolean = layout.param[Boolean]("portable")
    def hashBuckets: Int = layout.hashBuckets
    def shingleN: Option[Int] = layout.opt[Int]("shingle_n")
    def maxBucket: Option[Int] = layout.opt[Int]("max_bucket")
  }

  /** Build + persist an [[LshBandIndex]] from a signature table
    * ([[minhashSignatures]] output). `maxBucket` (the template-collapse
    * cap) applies at BUILD, which keeps serves cadence-independent.
    * Size `nHashBuckets` to the corpus (constant per-bucket bytes). */
  def saveLshBandIndex(
      sigs: DataFrame, path: String,
      k: Int = 16, bands: Int = 8, portable: Boolean = false,
      maxBucket: Int = Int.MaxValue, nHashBuckets: Int = 64): Unit = {
    require(k % bands == 0, "k must divide into bands")
    // The signature frame's own family tag must match the `portable`
    // the band rows are built with — otherwise the sidecar records a
    // family the index was never hashed with and every serve that
    // derives the arrival family from the index silently returns
    // nothing.
    checkBuildParams(sigs, "sig", "saveLshBandIndex",
      Seq("graft.minhash.portable" -> portable))
    // shingle_n rides the sidecar when the frame carries its tag (every
    // minhashSignatures output does): band hashes strip the signature
    // metadata, so without the sidecar a serve could sign arrivals at a
    // different shingle width and silently find nothing. max_bucket
    // decides the MAINTENANCE contract: an uncapped build's band rows
    // are append-composable; a capped build's bucket membership is a
    // global aggregate over the whole index, so it is rebuild-only.
    val sigMd = sigs.schema("sig").metadata
    val shingleN =
      if (sigMd.contains("graft.minhash.shingle_n"))
        Map("shingle_n" -> sigMd.getLong("graft.minhash.shingle_n").toInt)
      else Map.empty
    BucketedIndex.write(BucketedIndex.Minhash, path,
      bandRows(sigLengthGuard(sigs, k, "base"), k, bands, portable, maxBucket),
      nHashBuckets, Map("k" -> k, "bands" -> bands, "portable" -> portable,
        "max_bucket" -> maxBucket) ++ shingleN)
  }

  /** Append a new batch's signatures to a [[saveLshBandIndex]] layout
    * (append ∪ rebuild are row-identical, spec-pinned). ONLY legal for
    * an UNCAPPED build: a build-time `maxBucket` cap is a global
    * aggregate over the whole index, so a capped layout (or one whose
    * sidecar predates `max_bucket`) is REBUILD-maintained and this
    * fails fast. The batch's family/shingle tags must match the
    * index's; k/bands/bucket count come from the sidecar. Each append
    * adds ≤ one file per touched bucket; compact with
    * [[compactLshBandIndex]] (or `graft.tools.Maintain`). */
  def appendLshBandIndex(sigs: DataFrame, path: String): Unit = {
    val idx = loadLshBandIndex(sigs.sparkSession, path)
    require(idx.maxBucket.contains(Int.MaxValue),
      idx.maxBucket match {
        case Some(cap) =>
          s"appendLshBandIndex: the index at $path was built with " +
            s"maxBucket=$cap — a capped LSH band index is " +
            "rebuild-maintained (bucket membership under the cap is a " +
            "global aggregate over the whole index); rebuild with " +
            "saveLshBandIndex over the merged signature table, or " +
            "build uncapped to append"
        case None =>
          s"appendLshBandIndex: the index at $path predates the " +
            "max_bucket sidecar column, so its build cap is unknowable " +
            "— rebuild once with saveLshBandIndex to record it"
      })
    checkBuildParams(sigs, "sig", "appendLshBandIndex", lshTags(idx),
      strict = true)
    BucketedIndex.append(idx.layout,
      bandRows(sigLengthGuard(sigs, idx.k, "batch"), idx.k, idx.bands,
        idx.portable, Int.MaxValue))
  }

  /** Compact an append-maintained [[saveLshBandIndex]] layout to one
    * file per bucket directory ([[BucketedIndex.compact]]). */
  def compactLshBandIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    BucketedIndex.compact(spark, path, BucketedIndex.Minhash)

  /** Load a persisted [[LshBandIndex]] ([[BucketedIndex.load]]). */
  def loadLshBandIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): LshBandIndex =
    new LshBandIndex(BucketedIndex.load(spark, path, BucketedIndex.Minhash))

  /** [[minhashLshAgainst]] against a persisted [[LshBandIndex]] —
    * IDENTICAL output to serving the raw signature table with the
    * index's build parameters (oracle-pinned: dedup_minhash_serve
    * shares dedup_incremental's SQL verbatim), reading only the buckets
    * the arrival band hashes reach ([[BucketedIndex.Layout.probe]]).
    * `maxBucket` caps the ARRIVAL side only (the base was capped at
    * build). */
  def minhashLshAgainst(
      newSigs: DataFrame, index: LshBandIndex, threshold: Double,
      maxBucket: Int): DataFrame = {
    // The band rows carry no signature metadata, so the family and
    // shingle width are checked against the index's sidecar.
    checkBuildParams(newSigs, "sig", "minhashLshAgainst", lshTags(index))
    BucketedIndex.staged(stageLshArrivalBands(newSigs, index, maxBucket))(
      minhashLshAgainstStaged(_, index, threshold))
  }

  /** The signature tags an [[LshBandIndex]]'s sidecar pins. */
  private def lshTags(index: LshBandIndex): Seq[(String, Any)] =
    Seq("graft.minhash.portable" -> index.portable) ++
      index.shingleN.map(w => "graft.minhash.shingle_n" -> w.toLong)

  /** The arrival band rows of the partitioned minhash serve — the
    * [[stageExactArrivals]] split for caller-owned staging.
    * `maxBucket` caps the ARRIVAL side only (base capped at build). */
  private[graft] def stageLshArrivalBands(
      newSigs: DataFrame, index: LshBandIndex, maxBucket: Int): DataFrame =
    bandRows(sigLengthGuard(newSigs, index.k, "new"),
      index.k, index.bands, index.portable, maxBucket)
      .select(col("band"), col("band_hash"),
        col("id").as("new_id"), col("sig").as("sig_a"))

  /** [[minhashLshAgainst]] over staged arrival band rows (the
    * [[exactAgainstStaged]] contract; callers run the public entry's
    * build-parameter checks first). */
  private[graft] def minhashLshAgainstStaged(
      a: DataFrame, index: LshBandIndex, threshold: Double): DataFrame = {
    val pruned = index.layout.probe(a)
      .select(col("band"), col("band_hash"),
        col("id").as("base_id"), col("sig").as("sig_b"))
    a.join(pruned, Seq("band", "band_hash"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m))
          .cast("double") / lit(index.k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "base_id", "est_jaccard")
      .distinct() // a pair colliding in several bands emits once
  }

  /** Near-duplicate pairs by SimHash banding + Hamming distance. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, portable: Boolean = false): DataFrame = {
    // 16 bytes per doc, consumed by both candidate-join sides —
    // materialized once (lazily) instead of re-hashing the corpus twice.
    val withSim = withSimhash(df, idCol, textCol, portable).localCheckpoint(false)
    // 4 bands of 16 bits: pairs within Hamming<=maxHamming must share
    // >=1 exact band when maxHamming < 4 per the pigeonhole at 16-bit
    // chunks; used as a candidate filter, then verified exactly.
    val banded = simhashBands(withSim)
    val a = banded.select(col("band"), col("chunk"), col("id").as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dups of an arrival batch against an in-frame
    * fingerprint table — the reference semantics of the third
    * fit-once/serve-many dedup index beside the minhash signatures and
    * the exact content-hash index, and by far the cheapest: 8 BYTES per
    * historical document (the `(id, simhash)` table from
    * [[withSimhash]]; persisted, it is a [[SimhashBandIndex]], whose
    * overload returns the same rows). Output (new_id, base_id, hamming), one row
    * per cross pair within the Hamming budget. Same candidate shape as
    * [[simhashPairs]]: 4 bands of 16 bits equi-joined (complete recall
    * for maxHamming < 4 by pigeonhole, heuristic beyond), then exact
    * Hamming verification — arrivals are hashed once, history is
    * never re-read. Index freshness = append the accepted batch's
    * fingerprints (the [[graft.ops.Similarity.encodeCorpus]] pattern:
    * fingerprints under a fixed hash family are append-composable). */
  def simhashAgainst(
      newDocs: DataFrame, baseSim: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, portable: Boolean = false): DataFrame = {
    // The arrival side MUST hash with the family the index was built
    // with; the index's own metadata tag (stamped by withSimhash,
    // preserved through a bucketed save and load) is checked here —
    // a mismatch would otherwise silently yield empty/garbage pairs.
    checkBuildParams(baseSim, "simhash", "simhashAgainst",
      Seq("graft.simhash.portable" -> portable))
    val a = simhashBands(withSimhash(newDocs, idCol, textCol, portable))
      .select(col("band"), col("chunk"),
        col("id").as("new_id"), col("simhash").as("__graft_sim_n"))
    val b = simhashBands(baseSim.select(col("id"), col("simhash")))
      .select(col("band"), col("chunk"),
        col("id").as("base_id"), col("simhash").as("__graft_sim_b"))
    a.join(b, Seq("band", "chunk"))
      .dropDuplicates("new_id", "base_id")
      .withColumn("hamming",
        bit_count(col("__graft_sim_n").bitwiseXOR(col("__graft_sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "base_id", "hamming")
  }

  /** A persisted SIMHASH band index in the [[BucketedIndex]] layout
    * (kind `simhash`; the [[LshBandIndex]] argument at the SimHash
    * face): the 4×16-bit band rows, with the fingerprint riding inside
    * them, are precomputed ONCE at build and bucketed by (band, chunk).
    * The hash family is captured at build from the frame's own
    * `graft.simhash.portable` tag and arrivals are hashed WITH IT, so a
    * build/serve family mismatch cannot happen. */
  final class SimhashBandIndex private[graft] (
      private[graft] val layout: BucketedIndex.Layout) {
    def rows: DataFrame = layout.rows
    def portable: Boolean = layout.param[Boolean]("portable")
    def hashBuckets: Int = layout.hashBuckets
  }

  /** Build + persist a [[SimhashBandIndex]] from a [[withSimhash]]
    * fingerprint table, which must carry its `graft.simhash.portable`
    * tag (a loaded index's `rows` keep it). Size `nHashBuckets` to the
    * corpus (constant per-bucket bytes). */
  def saveSimhashBandIndex(
      sim: DataFrame, path: String, nHashBuckets: Int = 64): Unit = {
    val md = sim.schema("simhash").metadata
    require(md.contains("graft.simhash.portable"),
      "saveSimhashBandIndex: the fingerprint frame carries no " +
        "graft.simhash.portable tag — build the index from withSimhash " +
        "output so the serve can hash arrivals with the index's own family")
    BucketedIndex.write(BucketedIndex.Simhash, path,
      simhashBands(sim.select(col("id"), col("simhash"))), nHashBuckets,
      Map("portable" -> md.getBoolean("graft.simhash.portable")))
  }

  /** Append a new batch's fingerprints to a [[saveSimhashBandIndex]]
    * layout (no build-time cap, so append ∪ rebuild are row-identical,
    * spec-pinned). The batch's family tag must match the index's. Each
    * append adds ≤ one file per touched bucket; compact with
    * [[compactSimhashBandIndex]]. */
  def appendSimhashBandIndex(sim: DataFrame, path: String): Unit = {
    val idx = loadSimhashBandIndex(sim.sparkSession, path)
    checkBuildParams(sim, "simhash", "appendSimhashBandIndex",
      Seq("graft.simhash.portable" -> idx.portable), strict = true)
    BucketedIndex.append(idx.layout,
      simhashBands(sim.select(col("id"), col("simhash"))))
  }

  /** Compact an append-maintained [[saveSimhashBandIndex]] layout to
    * one file per bucket directory ([[BucketedIndex.compact]]; never
    * under a live serve). */
  def compactSimhashBandIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    BucketedIndex.compact(spark, path, BucketedIndex.Simhash)

  /** Load a persisted [[SimhashBandIndex]] ([[BucketedIndex.load]]). */
  def loadSimhashBandIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): SimhashBandIndex =
    new SimhashBandIndex(BucketedIndex.load(spark, path, BucketedIndex.Simhash))

  /** [[simhashAgainst]] against a persisted [[SimhashBandIndex]] —
    * IDENTICAL output to the in-frame serve of its fingerprints
    * (oracle-pinned: dedup_simhash_serve shares
    * dedup_simhash_incremental's SQL verbatim), hashing arrivals with
    * the index's own family and reading only the buckets their (band,
    * chunk) pairs reach ([[BucketedIndex.Layout.probe]]). */
  def simhashAgainst(
      newDocs: DataFrame, index: SimhashBandIndex, idCol: String,
      textCol: String, maxHamming: Int): DataFrame =
    BucketedIndex.staged(stageSimhashArrivals(newDocs, idCol, textCol, index))(
      simhashAgainstStaged(_, index, maxHamming))

  /** The arrival band rows of the partitioned SimHash serve (hashed
    * with the INDEX's family) — the [[stageExactArrivals]] split for
    * caller-owned staging. */
  private[graft] def stageSimhashArrivals(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: SimhashBandIndex): DataFrame =
    simhashBands(withSimhash(newDocs, idCol, textCol, index.portable))
      .select(col("band"), col("chunk"),
        col("id").as("new_id"), col("simhash").as("__graft_sim_n"))

  /** [[simhashAgainst]] over staged arrival band rows (the
    * [[exactAgainstStaged]] contract). */
  private[graft] def simhashAgainstStaged(
      a: DataFrame, index: SimhashBandIndex, maxHamming: Int): DataFrame = {
    val pruned = index.layout.probe(a)
      .select(col("band"), col("chunk"),
        col("id").as("base_id"), col("simhash").as("__graft_sim_b"))
    a.join(pruned, Seq("band", "chunk"))
      .dropDuplicates("new_id", "base_id")
      .withColumn("hamming",
        bit_count(col("__graft_sim_n").bitwiseXOR(col("__graft_sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "base_id", "hamming")
  }

  /** 16-bit band rows (id, simhash, band, chunk) — shared by the
    * self-join ([[simhashPairs]]) and two-sided ([[simhashAgainst]])
    * candidate generation. */
  private def simhashBands(sim: DataFrame): DataFrame =
    sim.select(
      col("id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftrightunsigned", col("simhash"), b * 16)
          .bitwiseAND(lit(0xFFFFL)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")

  /** (id, simhash) — 64-bit fingerprint per document: xxhash64 per
    * token (one pass), then the codegen'd 64-bit majority-vote fold
    * ([[graft.functions.SimHash64]]).
    *
    * `portable = true` derives each token hash from md5 instead (first
    * 15 hex chars → a 60-bit long, via the codegen'd
    * [[graft.functions.Md5Prefix60Array]]) so the driver's DuckDB
    * oracle can recompute identical fingerprints; the fold is unchanged
    * and the 4 permanently-clear top bits don't affect banding or
    * Hamming. */
  def withSimhash(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    def tokenHashes(ws: Column): Column =
      if (portable) graft.functions.HashFunctions.md5Prefix60Array(ws)
      else transform(ws, w => xxhash64(w))
    // The hash-family flag rides the column as METADATA (it survives
    // select/persist/parquet round trips), so simhashAgainst can
    // VALIDATE that an index was built with the family it is being
    // served with — fingerprints from different families never match
    // meaningfully, and without the tag a mismatch silently yields
    // empty/garbage near-dup results.
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.simhash.portable", portable).build()
    OpsUtil.widen(df)
      .select(col(idCol).as("id"),
        TextOps.tokens(TextOps.normalized(col(textCol))).as("ws"))
      .select(col("id"), tokenHashes(col("ws")).as("hs"))
      .select(col("id"),
        graft.functions.HashFunctions.simhash64(col("hs")).as("simhash", md))
  }

  /** Fail fast when `df`'s fingerprint column carries build-parameter
    * metadata that contradicts `expected` (the other side's values). A
    * frame WITHOUT a tag (e.g. an index persisted by an engine that
    * strips Spark field metadata, or hand-built rows) passes
    * unvalidated unless `strict`: appends write permanent rows, so they
    * refuse an untagged frame (review findings r14, r15) — a wrong-family
    * batch would land as never-matching garbage rows. */
  private def checkBuildParams(
      df: DataFrame, fpCol: String, op: String,
      expected: Seq[(String, Any)], strict: Boolean = false): Unit = {
    val md = df.schema(fpCol).metadata
    expected.foreach { case (key, want) =>
      require(!strict || md.contains(key),
        s"$op: the batch frame carries no $key metadata — build it with " +
          "this engine's builders so its parameters provably match the index")
      if (md.contains(key)) {
        val got: Any = want match {
          case _: Boolean => md.getBoolean(key)
          case _: Long    => md.getLong(key)
          case other      => sys.error(s"unsupported param type: $other")
        }
        require(got == want,
          s"$op: the frame carries $key=$got but the other side was built " +
            s"with $key=$want — matching build/serve parameters are " +
            "required (fingerprints from different parameters never " +
            "match meaningfully)")
      }
    }
  }

  /** Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    * id_a < id_b and cosine >= threshold. Exact O(n²) — the
    * verification baseline; at 100 TB the same verify step runs after
    * [[graft.ops.Similarity.lshBucket]] blocking so only same-bucket
    * pairs are scored. Integral-id frames (every graft caller) run the
    * blocked-GEMM kernel ([[ExactPairs.cosinePairs]]): identical
    * results, but the n² pair stage never materializes join rows —
    * pairs are scored and threshold-filtered inside B(B+1)/2 primitive-
    * loop tasks. Other id types keep the nested-loop reference plan. */
  def embeddingCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    if (ExactPairs.eligible(df, idCol, None))
      ExactPairs.cosinePairs(df, idCol, vecCol, threshold)
    else embeddingCosinePairsNlj(df, idCol, vecCol, threshold)

  /** Reference nested-loop plan for [[embeddingCosinePairs]] — the
    * semantics contract the blocked kernel is parity-tested against,
    * and the fallback for non-integral id types. */
  private[graft] def embeddingCosinePairsNlj(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import graft.ops.Similarity
    val v = OpsUtil.widen(df)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
    val a = v.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      // try_divide: zero-norm rows yield NULL cos (dropped by the
      // threshold filter) instead of an ANSI DIVIDE_BY_ZERO job abort
      .withColumn("cos",
        try_divide(Similarity.dot(col("va"), col("vb")), col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic near-duplicate pairs: k-means-cluster the
    * embeddings (quantizer fit on a bounded hash sample, like the IVF
    * index build), then score pairwise cosine ONLY within each cluster.
    * Output matches [[embeddingCosinePairs]]: (id_a, id_b, cos),
    * id_a < id_b, cos >= threshold — minus the pairs whose endpoints
    * land in different clusters (the approximation's recall loss; a
    * cos-θ near-dup pair almost always shares its nearest centroid).
    *
    * Scale shape: clustering turns the O(n²) all-pairs scoring into n/k
    * independent cluster-local joins on a `cid` equi-key — the shuffle
    * key is the cluster id, per-cluster fan-in is bounded by the
    * cluster size, and no global pairwise stage exists at all. The
    * assignment itself is one codegen'd projection per row. */
  def semanticPairs(
      df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, threshold: Double, probes: Int = 2): DataFrame = {
    import graft.functions.VectorFunctions
    import graft.ops.Similarity
    require(probes >= 1 && probes <= nCentroids)
    val cents = Similarity.ivfCentroids(df, idCol, vecCol, nCentroids)
    // Multi-probe assignment: each vector lands in its top-`probes`
    // centroid buckets, so a true cluster that the quantizer split
    // across two centroids still co-buckets its members (the k-means
    // local-optimum failure mode). probes² × the join fan-in, bought
    // back in recall — same dial as the multi-table LSH join.
    val topCids = {
      val scores = VectorFunctions.centroidScores(col("v"), cents.toSeq.map(_.toSeq))
      val idxed = zip_with(scores, sequence(lit(0), lit(cents.length - 1)),
        (s, i) => struct(s.as("s"), i.as("i")))
      slice(reverse(array_sort(idxed)), 1, probes)("i")
    }
    val v = OpsUtil.widen(df)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .select(col("id"), explode(topCids).as("cid"),
        col("v"), Similarity.norm(col("v")).as("nrm"))
      .localCheckpoint(false) // both self-join sides read the assignment
    val a = v.select(col("cid"), col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = v.select(col("cid"), col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      // try_divide: zero-norm rows → NULL cos, dropped by the filter
      .withColumn("cos",
        try_divide(Similarity.dot(col("va"), col("vb")), col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .distinct() // a pair co-bucketed under several probes emits once
  }

  /** Connected components over near-duplicate pairs — the step that
    * turns pairwise matches into "keep one document per cluster".
    * Iterative min-label propagation: every node repeatedly adopts the
    * smallest label among itself and its neighbors until fixpoint.
    * Output: (id, cluster) where cluster = min id reachable (only for
    * ids that appear in at least one pair).
    *
    * Scale: converges in O(component diameter) rounds and near-dup
    * clusters are shallow (pairs come from blocking, so components are
    * small cliques); each round is one join + one aggregate, with
    * per-round lineage truncation (plus a pointer-jump step, so long
    * chains close in O(log diameter) rounds — the same effect the
    * alternating large-star/small-star formulation buys).
    *
    * Durability dial (`scratchDir`) — identical to
    * [[graft.ops.Graph.pageRank]]'s: the default per-round
    * `localCheckpoint(true)` blocks are non-replicated, so on a real
    * cluster any executor loss mid-run kills the iteration chain.
    * With `scratchDir` set, edges and every round's label table are
    * written as scratch parquet under a UUID run dir (deleted at JVM
    * exit via Hadoop `FileSystem.deleteOnExit`) and read back —
    * label tables are 2 columns × |nodes|, tiny next to the pair
    * generation that feeds this, so the write amplification is noise.
    * Identical clusters in both modes.
    */
  def clusters(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25, scratchDir: Option[String] = None): DataFrame = {
    val persist = OpsUtil.scratchPersist(pairs, scratchDir, "graft-clusters")
    val edges = persist(
      pairs.select(col(idA).as("a"), col(idB).as("b"))
        .union(pairs.select(col(idB).as("a"), col(idA).as("b")))
        .distinct(), "edges")
    var labels = persist(edges.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id")), "labels-0")
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // one hop: adopt the smallest label among self + neighbors
      val viaNeighbor = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("nid")).agg(min(col("cluster")).as("ncluster"))
      val stepped = labels.join(viaNeighbor, labels("id") === viaNeighbor("nid"), "left")
        .select(labels("id"),
          least(labels("cluster"), coalesce(col("ncluster"), labels("cluster"))).as("cluster"),
          labels("cluster").as("__graft_old"))
      // pointer jump: adopt the label's label — halves the remaining
      // distance to the component min each round (O(log diameter) total,
      // which matters for chain-shaped components)
      val parents = stepped.select(col("id").as("pid"), col("cluster").as("pcluster"))
      val jumped = persist(
        stepped.join(parents, stepped("cluster") === parents("pid"), "left")
          .select(stepped("id"),
            least(stepped("cluster"), coalesce(col("pcluster"), stepped("cluster"))).as("cluster"),
            col("__graft_old")),
        s"labels-${it + 1}")
      changed = jumped.filter(col("cluster") =!= col("__graft_old")).count()
      labels = jumped.select("id", "cluster")
      it += 1
    }
    labels
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` distinct shingles with ANY document of the evaluation
    * set. The eval shingle set is distinct'd first (typically small —
    * benchmarks are thousands of docs, not billions) so the semi-join
    * broadcasts under AQE; the training corpus streams through it
    * map-side, one aggregate on doc id after. The standard pipeline
    * removes (or flags) the returned ids before training. */
  def contamination(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minShared: Int = 3): DataFrame = {
    val evalShingles = contaminationShingles(eval, idCol, textCol, shingleN)
      .select("sh").distinct()
    contaminationShingles(train, idCol, textCol, shingleN)
      .join(evalShingles, Seq("sh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .withColumnRenamed("id", "doc_id")
  }

  /** The (id, distinct shingle) explode shared by [[contamination]]
    * and [[contaminationBloom]] — ONE copy of the normalize → tokenize
    * → shingle pipeline so the two variants cannot drift. */
  private def contaminationShingles(
      d: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    OpsUtil.widen(d)
      .select(col(idCol).as("id"),
        TextOps.tokens(TextOps.normalized(col(textCol))).as("ws"))
      .select(col("id"),
        explode(array_distinct(TextOps.shingles(col("ws"), shingleN))).as("sh"))

  /** [[contamination]] behind a broadcast Bloom prefilter — the 100 TB
    * scale path. The plain form broadcast-semi-joins the distinct eval
    * shingle STRINGS; once a benchmark suite accumulates tens of
    * millions of distinct shingles that hash relation outgrows the
    * broadcast threshold and the semi-join degrades to a full shuffle
    * of the exploded training corpus — the thing that must never
    * happen at scale. Here the eval shingles reduce to a Bloom sketch
    * (~1.2 bytes/item at 1% fpp vs tens of bytes per broadcast-hash
    * entry), the corpus streams through the sketch MAP-SIDE, and only
    * the survivors — true matches plus the fpp tail — reach the exact
    * semi-join: it broadcasts while the eval table fits, and past
    * that threshold it shuffles ~1/fpp less volume than the plain
    * form's full-corpus shuffle. Bloom filters have
    * no false negatives and every candidate is re-checked exactly, so
    * the output is bit-identical to [[contamination]] and shares its
    * exact SQL oracle; `fpp` only moves prefilter cost. The probe is
    * the codegen'd [[graft.functions.BloomMightContain]] expression
    * (the sketch rides in the plan, Spark's own runtime-filter
    * mechanism) and sits OUTSIDE the value path — everything it
    * passes is re-verified relationally. */
  def contaminationBloom(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minShared: Int = 3, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"contaminationBloom: fpp not in (0,1): $fpp")
    // Materialized once, reused thrice (sizing count, sketch build,
    // exact re-check) — all on the already-distinct SMALL side; the
    // corpus is never counted.
    val evalShingles = contaminationShingles(eval, idCol, textCol, shingleN)
      .select("sh").distinct().localCheckpoint(false)
    val nEval = math.max(1L, evalShingles.count())
    val bloom = evalShingles.stat.bloomFilter("sh", nEval, fpp)
    contaminationShingles(train, idCol, textCol, shingleN)
      .filter(graft.functions.HashFunctions // map-side, zero shuffle, codegen'd
        .bloomMightContain(col("sh"), bloom))
      .join(evalShingles, Seq("sh"), "left_semi") // exact re-check of survivors
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .withColumnRenamed("id", "doc_id")
  }

  /** Exact n-gram Jaccard similarity for co-shingled pairs:
    * J(A,B) = |A∩B| / (|A|+|B|-|A∩B|), computed by exploding distinct
    * shingles and counting shared ones per pair (only pairs that share
    * at least one shingle are ever materialized).
    *
    * `maxDf` is the stop-shingle cap: shingles appearing in more than
    * `maxDf` documents are dropped before the self-join (from both the
    * intersection AND the per-doc sizes, so Jaccard stays consistent
    * over the capped shingle space). Without it, one corpus-common
    * boilerplate shingle shared by m documents puts m² candidate pairs
    * on a single shuffle key — the quadratic hot-key trap at web-corpus
    * scale. The hot set is tiny by construction (only shingles with
    * df > cap), so it broadcasts: one extra agg, no extra shuffle of
    * the exploded shingles. */
  /** Winnow-overlap candidate pairs (the MOSS report): documents
    * sharing at least `minShared` winnowed k-gram fingerprints. The
    * winnowing guarantee makes this a RECALL-complete blocking stage
    * for substring plagiarism: any shared run of ≥ w+k−1 chars
    * contributes a shared fingerprint, while only ~2/(w+1) of windows
    * are ever keyed. Same scale shape as [[ngramJaccard]] — per-row
    * codegen'd fingerprint projection, self-join blocked on the 8-byte
    * fingerprint (never text), `maxDf` drops corpus-ubiquitous
    * fingerprints (boilerplate) before the join so no key goes
    * quadratic; the hot set is tiny by construction and the planner
    * broadcasts the anti-join when it fits. `portable = true` uses the
    * mod-p arithmetic whose SQL mirror the oracle runs verbatim.
    *
    * The default `minShared = 1` preserves that guarantee; raising it
    * trades the recall away for precision (a minimal w+k−1 shared run
    * may contribute exactly one fingerprint). */
  def winnowOverlap(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, minShared: Int = 1,
      maxDf: Int = Int.MaxValue, portable: Boolean = false): DataFrame = {
    // Consumed by the df-cap aggregate and both self-join sides —
    // materialize the exploded fingerprints once.
    val fps = capHotFps(
      winnowFingerprints(df, idCol, textCol, k, w, portable)
        .localCheckpoint(false),
      maxDf)
    fps.as("x").join(fps.as("y"), Seq("fp"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The persistable WINNOW fingerprint index: exploded (id, fp) rows
    * of a corpus — the substring-level member of the
    * fit-once/serve-many dedup family (minhash = document-level
    * near-dup, exact = whole-document, SimHash = cheap token-level;
    * this one carries the MOSS substring guarantee: any shared run of
    * ≥ w+k−1 chars contributes a shared fingerprint). Persist with
    * [[saveWinnowFpIndex]]; check arrivals with
    * [[winnowAgainst]]. ~2/(w+1) of windows are keyed, so the index
    * is a small fraction of corpus length × 8 bytes. */
  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, portable: Boolean = false): DataFrame = {
    import graft.functions.RollingHashFunctions
    val fpCol =
      if (portable) RollingHashFunctions.winnowedFingerprintsPortable(col(textCol), k, w)
      else RollingHashFunctions.winnowedFingerprints(col(textCol), k, w)
    // Build parameters ride the fp column as metadata (the withSimhash
    // pattern) so winnowAgainst can validate that serve-side (k, w,
    // portable) match what the index was built with.
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.winnow.k", k.toLong)
      .putLong("graft.winnow.w", w.toLong)
      .putBoolean("graft.winnow.portable", portable).build()
    // metadata goes on a SECOND projection: an alias directly on the
    // generator resolves through MultiAlias, which drops it
    OpsUtil.widen(df).select(col(idCol).as("id"), explode(fpCol).as("fp"))
      .select(col("id"), col("fp").as("fp", md))
  }

  /** A persisted WINNOW index in the [[BucketedIndex]] layout (kind
    * `winnow`): (id, fp) rows bucketed by fingerprint, each carrying its
    * fingerprint's document frequency `df`, computed ONCE at build — so
    * the serve-time hot-fingerprint cap (the in-frame serve's aggregate
    * over the whole index) becomes a stored-column filter, `maxDf`
    * still a serve-time knob. (k, w, family) come from the frame's own
    * `graft.winnow.*` tags and arrivals are fingerprinted WITH THEM.
    * REBUILD-maintained: the stored `df` is a global aggregate, so the
    * rebuild is [[saveWinnowFpIndex]] over `rows.select(id, fp)` ∪ the
    * batch's [[winnowFingerprints]] (the loaded rows keep their tags),
    * written to a fresh path — never the corpus. */
  final class WinnowFpIndex private[graft] (
      private[graft] val layout: BucketedIndex.Layout) {
    def rows: DataFrame = layout.rows
    def k: Int = layout.param[Int]("k")
    def w: Int = layout.param[Int]("w")
    def portable: Boolean = layout.param[Boolean]("portable")
    def hashBuckets: Int = layout.hashBuckets
  }

  /** Build + persist a [[WinnowFpIndex]] from a [[winnowFingerprints]]
    * table (or a loaded index's `rows.select(id, fp)` ∪ a batch's, the
    * rebuild), which must carry its `graft.winnow.*` build tags. Size
    * `nHashBuckets` to the corpus (constant per-bucket bytes). */
  def saveWinnowFpIndex(
      fps: DataFrame, path: String, nHashBuckets: Int = 64): Unit = {
    val md = fps.schema("fp").metadata
    require(md.contains("graft.winnow.k") && md.contains("graft.winnow.w") &&
        md.contains("graft.winnow.portable"),
      "saveWinnowFpIndex: the fingerprint frame carries no graft.winnow.* " +
        "build tags — build the index from winnowFingerprints output " +
        "so the serve can fingerprint arrivals with the index's own " +
        "(k, w, family)")
    val rows = fps.select(col("id"), col("fp"))
    BucketedIndex.write(BucketedIndex.Winnow, path,
      rows.join(rows.groupBy("fp").agg(count(lit(1)).as("df")), Seq("fp")),
      nHashBuckets, Map("k" -> md.getLong("graft.winnow.k").toInt,
        "w" -> md.getLong("graft.winnow.w").toInt,
        "portable" -> md.getBoolean("graft.winnow.portable")))
  }

  /** Load a persisted [[WinnowFpIndex]] ([[BucketedIndex.load]]). */
  def loadWinnowFpIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): WinnowFpIndex =
    new WinnowFpIndex(BucketedIndex.load(spark, path, BucketedIndex.Winnow))

  /** [[winnowAgainst]] against a persisted [[WinnowFpIndex]] —
    * IDENTICAL output to the in-frame serve of its fingerprints with
    * the same `maxDf` (oracle-pinned: dedup_winnow_serve shares
    * dedup_winnow_incremental's SQL verbatim), reading only the buckets
    * the arrival fingerprints reach ([[BucketedIndex.Layout.probe]])
    * and capping on the STORED document frequency. */
  def winnowAgainst(
      newDocs: DataFrame, index: WinnowFpIndex, idCol: String,
      textCol: String, minShared: Int, maxDf: Int): DataFrame =
    BucketedIndex.staged(winnowFingerprints(newDocs, idCol, textCol,
        index.k, index.w, index.portable))(
      winnowAgainstStaged(_, index, minShared, maxDf))

  /** [[winnowAgainst]] over staged arrival fingerprints built with the
    * index's (k, w, family) (the [[exactAgainstStaged]] contract). */
  private[graft] def winnowAgainstStaged(
      a: DataFrame, index: WinnowFpIndex,
      minShared: Int, maxDf: Int): DataFrame = {
    val pruned = index.layout.probe(a)
    val capped =
      if (maxDf == Int.MaxValue) pruned else pruned.filter(col("df") <= maxDf)
    a.as("x").join(capped.as("y"), Seq("fp"))
      .groupBy(col("x.id").as("new_id"), col("y.id").as("base_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Drop fingerprints appearing in more than `maxDf` rows of `fps`
    * (corpus-ubiquitous boilerplate — m occurrences → m² pairs on one
    * shuffle key). Shared by the self-join and two-sided paths. */
  private def capHotFps(fps: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) fps
    else {
      val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("fp")
      fps.join(hot, Seq("fp"), "left_anti")
    }

  /** Substring-overlap report of an arrival batch against an in-frame
    * winnow fingerprint table (the reference semantics of the
    * [[WinnowFpIndex]] serve) — "which arrivals copy runs from the reference
    * corpus, and how much": (new_id, base_id, n_shared) per cross
    * pair with at least `minShared` shared fingerprints. The
    * recall guarantee is [[winnowOverlap]]'s (any shared run of
    * ≥ w+k−1 chars shows up), and `k`/`w` MUST match the values the
    * index was built with (fingerprints from different (k, w) never
    * collide meaningfully). The df-cap applies to the BASE side only
    * — it is cadence-independent there (the
    * [[minhashLshAgainst]] base-cap argument); arrival batches are
    * small by definition. History is never re-fingerprinted. */
  def winnowAgainst(
      newDocs: DataFrame, baseFps: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, minShared: Int = 1,
      maxDf: Int = Int.MaxValue, portable: Boolean = false): DataFrame = {
    // Validated against the index's own metadata tags (stamped by
    // winnowFingerprints, preserved through save/load) — a (k, w,
    // portable) mismatch never collides meaningfully and would
    // otherwise silently report zero overlap.
    checkBuildParams(baseFps, "fp", "winnowAgainst", Seq(
      "graft.winnow.k" -> k.toLong,
      "graft.winnow.w" -> w.toLong,
      "graft.winnow.portable" -> portable))
    val base = capHotFps(baseFps.select(col("id"), col("fp")), maxDf)
    winnowFingerprints(newDocs, idCol, textCol, k, w, portable).as("x")
      .join(base.as("y"), Seq("fp"))
      .groupBy(col("x.id").as("new_id"), col("y.id").as("base_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Fuzzy near-dup pairs by bounded edit distance under prefix
    * blocking — the cheap "typo-level duplicate" detector that catches
    * what exact hashing misses without shingling at all.
    *
    * Scale shape: candidate generation is an equi-join on the
    * normalized `blockChars`-prefix (never all-pairs); per-pair cost is
    * bounded by comparing only `compareChars`-prefixes with Spark's
    * thresholded `levenshtein(l, r, maxDist)` — the banded O(maxDist ·
    * len) variant that bails out early instead of filling the full
    * O(len²) matrix. Blocks hotter than `maxBlock` members (boilerplate
    * openings: m members → m² pairs on one shuffle key) are dropped
    * up front, the same df-cap guard as the shingle joins.
    */
  def fuzzyLevenshtein(
      df: DataFrame, idCol: String, textCol: String,
      blockChars: Int = 16, compareChars: Int = 80, maxDist: Int = 20,
      maxBlock: Int = Int.MaxValue): DataFrame = {
    require(blockChars > 0 && compareChars >= blockChars && maxDist >= 0)
    val norm = TextOps.normalized(col(textCol))
    val baseRaw = OpsUtil.widen(df)
      .select(col(idCol).as("id"),
        substring(norm, 1, blockChars).as("blk"),
        substring(norm, 1, compareChars).as("pfx"))
      .localCheckpoint(false) // consumed by both self-join sides (+ cap agg)
    val base =
      if (maxBlock == Int.MaxValue) baseRaw
      else {
        val hot = baseRaw.groupBy("blk").agg(count(lit(1)).as("m"))
          .filter(col("m") > maxBlock).select("blk")
        baseRaw.join(broadcast(hot), Seq("blk"), "left_anti")
      }
    base.as("x").join(base.as("y"), Seq("blk"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        levenshtein(col("x.pfx"), col("y.pfx"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** Shared exact pair core for [[ngramJaccard]] and
    * [[ngramContainment]]: (id_a < id_b, n_inter, n_a, n_b) for every
    * co-shingled pair over the df-capped shingle space — ONE copy of
    * the tokenize/shingle/cap/self-join machinery so the two scores
    * cannot drift.
    *
    * The exploded shingle table is consumed by the two self-join
    * sides, the per-doc sizes, and (when capped) the df aggregate —
    * materialize it once rather than re-tokenizing the corpus per
    * consumer. (Exact pairwise scoring is the verification-scale
    * operator; minhashLsh is the 100 TB path, whose materialized
    * intermediate is the far smaller signature table.)
    * Shingle TEXT never leaves the scan stage: every downstream key
    * (df-cap aggregate, both self-join sides) is the 8-byte xxhash64
    * of the shingle — distinct-per-doc first, so a hash collision
    * could only merge two different shingles corpus-wide (~n²/2⁶⁴,
    * negligible even at 100 TB), and the shuffle carries fixed-width
    * keys at a third of the raw-string wire size. */
  private def ngramPairCounts(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxDf: Int): DataFrame = {
    val shRaw = OpsUtil.widen(df)
      .select(col(idCol).as("id"),
        TextOps.tokens(TextOps.normalized(col(textCol))).as("ws"))
      .select(col("id"),
        explode(array_distinct(TextOps.shingles(col("ws"), shingleN))).as("sh_txt"))
      .select(col("id"), xxhash64(col("sh_txt")).as("sh"))
      .localCheckpoint(false)
    val sh =
      if (maxDf == Int.MaxValue) shRaw
      else {
        val hot = shRaw.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("sh")
        shRaw.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    sh.as("x").join(sh.as("y"), Seq("sh"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
  }

  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxDf: Int = Int.MaxValue): DataFrame =
    ngramPairCounts(df, idCol, textCol, shingleN, maxDf)
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Max-containment near-dup pairs (Broder's containment, taken in
    * the subsumption direction): |A∩B| / min(|A|, |B|) over distinct
    * n-gram shingles — 1.0 exactly when the smaller document's
    * shingles are a subset of the larger's. This is the score that
    * catches QUOTED and SUBSUMED documents (a 50-shingle doc embedded
    * verbatim in a 5000-shingle doc has Jaccard ≈ 0.01 — invisible at
    * any sane Jaccard threshold — but containment 1.0). Same shingle
    * space, df-cap, and hash-blocked self-join as [[ngramJaccard]]
    * (one shared core); same scale posture. */
  def ngramContainment(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      maxDf: Int = Int.MaxValue): DataFrame =
    ngramPairCounts(df, idCol, textCol, shingleN, maxDf)
      .withColumn("containment",
        col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
}
