package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LanguageModel, Retrieval, Similarity}
import graft.sources.ParquetTables

/** Serve-side scale canary for the fit-once/serve-many family: a
  * FIXED arrival batch classified against a 1× and a k× persisted
  * index — the deployment regime (batch size is a product property,
  * index size a data property; the ANN-canary argument applied to
  * dedup + retrieval + LM serving). All serve faces are timed
  * (16 as of round 13: the six families below, most in both flat and
  * partitioned layouts; `lm_against` — the Kneser-Ney count
  * tables served via kneserNeyAgainst, whose MODEL rather than index
  * grows with history; it is row-count-gated across scales because a
  * k× model legitimately changes scores, never which rows return;
  * and the three tokenizer serves, whose growth dimension is also
  * the MODEL — ×10 pieces/merges — and whose outputs legitimately
  * differ across model sizes, so they gate on rows > 0),
  * each through its REAL persisted form (parquet written, read back,
  * the index LOADED ONCE per scale — the query-lifetime load of a
  * real serving process, so the clock times the serve, not repeated
  * partition discovery):
  *
  *   - exact:    [[Dedup.exactAgainst]]        vs the content-hash index,
  *               AND vs the hash-partitioned [[Dedup.ExactHashIndex]]
  *               ("exact_against_pruned" — bucket count ∝ scale,
  *               served by DIRECT PATH to the probed directories so
  *               the big layout costs no per-serve planning)
  *   - simhash:  [[Dedup.simhashAgainst]]      vs the fingerprint table,
  *               AND vs the band-bucketed [[Dedup.SimhashBandIndex]]
  *               ("simhash_against_pruned" — bucket count ∝ scale)
  *   - minhash:  [[Dedup.minhashLshAgainst]]   vs the signature table,
  *               AND vs the band-bucketed [[Dedup.LshBandIndex]]
  *               ("minhash_against_pruned" — bucket count ∝ scale)
  *   - winnow:   [[Dedup.winnowAgainst]]       vs the substring fp index,
  *               AND vs the fp-bucketed [[Dedup.WinnowFpIndex]] with
  *               stored per-fingerprint df ("winnow_against_pruned")
  *   - semantic: [[Similarity.nearDupAgainst]] vs the PQ-encoded history
  *   - bm25:     [[Retrieval.bm25ServeBatch]]  vs the posting index,
  *               in BOTH layouts: flat ("bm25_serve") and
  *               term-partitioned ("bm25_serve_pruned",
  *               [[Retrieval.saveBm25IndexPartitioned]] with bucket
  *               count ∝ scale, i.e. constant per-bucket size — the
  *               layout whose serve scan is ~|query vocabulary| ×
  *               bucket size, flat as the index grows)
  *
  * Amplification is [[Amplify.documents]] with per-replica character
  * substitution (embeddings: per-replica isometries), so replica
  * vocabularies are disjoint: the replica-0 arrival batch matches ONLY
  * replica-0 content and serve OUTPUT stays constant while the index
  * grows k× — any wall growth is the honest per-index-row serve cost,
  * not result inflation. Join-side expectations at k×: the dedup
  * faces serve as broadcast-batch joins streaming the index map-side
  * (cost ∝ index scan, embarrassingly parallel); flat bm25 scans k×
  * postings under the broadcast query vocabulary; pruned bm25 reads
  * only the vocabulary's term-hash buckets. Sub-linear ratios mean
  * fixed costs still dominate — the finding that matters is the
  * ABSENCE of a super-linear bend (and, for pruned bm25, a ~flat
  * line).
  *
  * The semantic face's arrival batch is EXACT copies of replica-0
  * vectors with a 0.99 threshold: an exact copy's top-1 probe is by
  * construction its source's bucket under ANY fitted quantizer, so
  * the hit set is deterministic at every scale even though the k×
  * index is fit on the k× corpus.
  *
  * Usage: runMain graft.tools.ServeCanary [sfDir] [k] [maxRatio]
  * Prints one JSON line per op + a summary; exits 1 on ratio >
  * maxRatio, wrong hit counts, or any task failure.
  */
object ServeCanary {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val maxRatio = if (args.length > 2) args(2).toDouble else 13.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val taskFailures = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    })
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    val scratch = java.nio.file.Files.createTempDirectory("graft-serve-canary").toString
    val docs = ParquetTables.load(spark, s"$sfDir/documents.parquet")
    val emb = ParquetTables.load(spark, s"$sfDir/embeddings.parquet")

    // Fixed replica-0 arrival batch, re-id'd clear of every index id —
    // ABOVE MaxReplicas × IdOffset, so no replica's id space can ever
    // collide with an arrival id at any supported k (an offset inside
    // the replica range, e.g. 5 × IdOffset, would alias replica 5's
    // ids and falsify any id-keyed invariant). Half verbatim (exact +
    // near hits), half suffixed (near-only).
    val arrivalOffset = (Amplify.MaxReplicas + 1).toLong * Amplify.IdOffset
    val sampled = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select((col("doc_id") + arrivalOffset).as("doc_id"), col("text"))
    val batch = sampled.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0, col("text"))
        .otherwise(concat(col("text"),
          lit(" arrival suffix "), col("doc_id").cast("string"))).as("text"))
      .localCheckpoint(true) // tiny; frozen so every serve sees identical rows
    val batchN = batch.count()
    val queries = batch.select(col("doc_id").as("query_id"),
      substring(col("text"), 1, 64).as("query_text")).localCheckpoint(true)
    // Embedding arrivals: exact replica-0 copies (see scaladoc).
    val vecBatch = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
      .select((col("vec_id") + arrivalOffset).as("vec_id"), col("embedding"))
      .localCheckpoint(true)

    // Build + persist every index per scale (fit cost, outside the
    // serve clock — the whole point of fit-once/serve-many), then
    // LOAD each once; the returned thunks are pure serves.
    def buildIndexes(scale: Int): Map[String, () => DataFrame] = {
      val d = s"$scratch/x$scale"
      val corpus0 = Amplify.documents(docs, scale, rotate = true)
      corpus0.write.mode("overwrite").parquet(s"$d/corpus.parquet")
      val corpus = spark.read.parquet(s"$d/corpus.parquet")
      // Each artifact computed once and persisted in both layouts
      // (flat + partitioned) — the lazy frames are cheap to reuse;
      // recomputing exact/simhash/winnow per save would re-hash the
      // k× corpus twice per face.
      val exactIdx0 = Dedup.exact(corpus, "doc_id", "text")
      Dedup.saveExactIndex(exactIdx0, s"$d/exact")
      // Hash-partitioned exact serve layout, bucket count ∝ scale
      // (constant per-bucket bytes). The serve reads the probed
      // buckets by DIRECT PATH (BucketedIndex.Layout.probe), so the large
      // directory count costs nothing per serve — r12's 2.08× outlier
      // was the isin-filter planning pass over every directory, and a
      // √-sizing attempt measured WORSE (2.48×: it traded planning
      // for √-growing read bytes); direct-path + ∝-scale keeps both
      // flat.
      Dedup.saveExactIndexPartitioned(exactIdx0, s"$d/exactp",
        nHashBuckets = 64 * scale)
      val sim0 = Dedup.withSimhash(corpus, "doc_id", "text")
      Dedup.saveSimhashes(sim0, s"$d/simhash")
      // Band-bucketed SimHash serve layout, bucket count ∝ scale.
      Dedup.saveSimhashBandIndex(sim0, s"$d/simhashp",
        nHashBuckets = 64 * scale)
      val corpusSigs = Dedup.minhashSignatures(corpus, "doc_id", "text",
        shingleN = 3, k = 16)
      Dedup.saveSignatures(corpusSigs, s"$d/minhash")
      // Band-bucketed serve layout, bucket count ∝ scale (constant
      // per-bucket bytes — the bm25 partitioned-index contract).
      Dedup.saveLshBandIndex(corpusSigs, s"$d/minhashp",
        k = 16, bands = 8, nHashBuckets = 64 * scale)
      val winFps0 = Dedup.winnowFingerprints(corpus, "doc_id", "text")
      Dedup.saveWinnowFingerprints(winFps0, s"$d/winnow")
      // Fp-bucketed winnow serve layout with stored per-fingerprint
      // df (the serve-time cap becomes a column filter, no per-serve
      // aggregate over the index), bucket count ∝ scale.
      Dedup.saveWinnowFpIndex(winFps0, s"$d/winnowp",
        nHashBuckets = 64 * scale)
      // KN perplexity serving: count tables fitted on the k× corpus —
      // the one face whose MODEL (not index) grows with history; the
      // serve is key joins that AQE broadcasts while the tables fit.
      LanguageModel.saveKnModel(LanguageModel.fitKn(corpus, "text"), s"$d/knlm")
      // Order-5 model, BOTH layouts from one fit. The corpus gets the
      // lm_score_kn5 gadget enrichment (doc_id-keyed, so every rotated
      // replica plants its own n-gram groups — the MODEL grows ~k×):
      // count-class decay at every order is a property the synthetic
      // text lacks and order-5 MKN fails fast without. Key-bucket
      // count ∝ scale (constant per-bucket bytes, the partitioned-
      // serve contract shared by every face above).
      val kn5Corpus = corpus.withColumn("text",
        graft.queries.PipelineQueries.kn5GadgetEnrich)
      val kn5Fit = LanguageModel.fitKn5(kn5Corpus, "text")
      LanguageModel.saveKn5Model(kn5Fit, s"$d/kn5lm")
      LanguageModel.saveKn5ModelPartitioned(kn5Fit, s"$d/kn5lmp",
        nKeyBuckets = 64 * scale)
      val bm25 = Retrieval.buildBm25Index(corpus, "doc_id", "text")
      Retrieval.saveBm25Index(bm25, s"$d/bm25")
      // Constant per-bucket size: bucket count grows with the index,
      // and already exceeds the query vocabulary at 1× — the regime
      // where pruned serve bytes ≈ |vocabulary| × bucket size, flat.
      Retrieval.saveBm25IndexPartitioned(bm25, s"$d/bm25p", 64 * scale)
      // Semantic: amplified vector corpus + fitted PQ index + encoded
      // history, all persisted (the pqIndexStream maintenance loop's
      // artifacts).
      val vecs0 = Amplify.embeddings(emb, scale)
      vecs0.write.mode("overwrite").parquet(s"$d/vecs.parquet")
      val vecs = spark.read.parquet(s"$d/vecs.parquet")
      val ann = Similarity.fitIndex(vecs, "vec_id", "embedding",
        nCentroids = 64, m = 8, kSub = 16)
      Similarity.saveIndex(ann, s"$d/ann", spark)
      Similarity.encodeCorpus(vecs, "vec_id", "embedding", ann)
        .write.mode("overwrite").parquet(s"$d/encoded.parquet")
      // The serve-optimal IVF configuration: centroid count ∝ corpus,
      // i.e. CONSTANT per-bucket bytes (the bm25/minhash partitioned-
      // index contract), encoded table partitioned by cid AND carrying
      // the stored vectors, so the whole serve — probe, ADC gate,
      // exact refine — runs inside the probed partitions: probed
      // bytes ≈ |batch| × nProbe × bucket size, flat as history
      // grows, and the history vector table is never read. (√corpus
      // sizing — the in-memory ANN balance point — leaves per-bucket
      // bytes growing as √history; serving from storage wants the
      // flat-bucket regime. The cost is linear centroid scoring, fine
      // while the centroid matrix fits an executor.)
      val annP = Similarity.fitIndex(vecs, "vec_id", "embedding",
        nCentroids = 16 * scale, m = 8, kSub = 16)
      Similarity.saveIndex(annP, s"$d/annp", spark)
      Similarity.saveEncodedCorpus(
        Similarity.encodeCorpus(vecs, "vec_id", "embedding", annP,
          storeVectors = true),
        s"$d/encodedp")
      // Same-quantizer partitioned layout, for the LAYOUT parity gate
      // only (not timed): flat vs partitioned under ONE quantizer is
      // the pair where "a layout changes which files are read, never a
      // row" holds structurally. The timed pruned face above uses the
      // ∝-scale quantizer — a different recall set in principle (its
      // own gate is the cross-scale hit-count equality, which the
      // exact-copy construction guarantees for any fitted quantizer).
      Similarity.saveEncodedCorpus(
        Similarity.encodeCorpus(vecs, "vec_id", "embedding", ann,
          storeVectors = true),
        s"$d/encodedsv")

      // One load per index per scale — the serving process's
      // query-lifetime load (file listing + schema, outside the clock).
      val exactIdx = Dedup.loadExactIndex(spark, s"$d/exact")
      val exactPart = Dedup.loadExactIndexPartitioned(spark, s"$d/exactp")
      val simIdx = Dedup.loadSimhashes(spark, s"$d/simhash")
      val simBands = Dedup.loadSimhashBandIndex(spark, s"$d/simhashp")
      val mhIdx = Dedup.loadSignatures(spark, s"$d/minhash")
      val mhBands = Dedup.loadLshBandIndex(spark, s"$d/minhashp")
      val winIdx = Dedup.loadWinnowFingerprints(spark, s"$d/winnow")
      val winFps = Dedup.loadWinnowFpIndex(spark, s"$d/winnowp")
      val knModel = LanguageModel.loadKnModel(spark, s"$d/knlm")
      val kn5Flat = LanguageModel.loadKn5Model(spark, s"$d/kn5lm")
      val kn5Part = LanguageModel.loadKn5Model(spark, s"$d/kn5lmp")
      val bm25Flat = Retrieval.loadBm25Index(spark, s"$d/bm25")
      val bm25Part = Retrieval.loadBm25Index(spark, s"$d/bm25p")
      val annIdx = Similarity.loadIndex(s"$d/ann", spark)
      val histVecs = spark.read.parquet(s"$d/vecs.parquet")
      val encoded = spark.read.parquet(s"$d/encoded.parquet")
      val annPIdx = Similarity.loadIndex(s"$d/annp", spark)
      val encodedP = Similarity.loadEncodedCorpus(spark, s"$d/encodedp")
      val encodedSv = Similarity.loadEncodedCorpus(spark, s"$d/encodedsv")
      Map(
        "exact_against" -> (() => Dedup.exactAgainst(
          batch, exactIdx, "doc_id", "text")),
        "exact_against_pruned" -> (() => Dedup.exactAgainst(
          batch, exactPart, "doc_id", "text")),
        "simhash_against" -> (() => Dedup.simhashAgainst(
          batch, simIdx, "doc_id", "text", maxHamming = 6)),
        "simhash_against_pruned" -> (() => Dedup.simhashAgainst(
          batch, simBands, "doc_id", "text", maxHamming = 6)),
        "minhash_against" -> (() => Dedup.minhashLshAgainst(
          Dedup.minhashSignatures(batch, "doc_id", "text",
            shingleN = 3, k = 16),
          mhIdx, k = 16, bands = 8, threshold = 0.5)),
        "minhash_against_pruned" -> (() => Dedup.minhashLshAgainst(
          Dedup.minhashSignatures(batch, "doc_id", "text",
            shingleN = 3, k = 16),
          mhBands, threshold = 0.5, maxBucket = Int.MaxValue)),
        "winnow_against" -> (() => Dedup.winnowAgainst(
          batch, winIdx, "doc_id", "text", minShared = 2, maxDf = 200)),
        "winnow_against_pruned" -> (() => Dedup.winnowAgainst(
          batch, winFps, "doc_id", "text", minShared = 2, maxDf = 200)),
        // adcMargin = 2.0 admits every probed-bucket candidate to the
        // exact refinement (ADC estimates of these synthetic vectors
        // are too loose to gate on at a 0.99 threshold without
        // scale-dependent recall — the gate would flap); the hit set
        // is then exactly the copy pairs at every scale, and the
        // serve honestly prices probe + refine over a k× bucket.
        "semantic_against" -> (() => Similarity.nearDupAgainst(
          vecBatch, histVecs, encoded, "vec_id", "embedding", annIdx,
          threshold = 0.99, nProbe = 4, adcMargin = 2.0)),
        "semantic_against_pruned" -> (() => Similarity.nearDupAgainst(
          vecBatch, histVecs, encodedP, "vec_id", "embedding", annPIdx,
          threshold = 0.99, nProbe = 4, adcMargin = 2.0)),
        // gate-only (not in the timed ops list): same quantizer as the
        // flat face, partitioned stored-vector layout
        "semantic_against_layout" -> (() => Similarity.nearDupAgainst(
          vecBatch, histVecs, encodedSv, "vec_id", "embedding", annIdx,
          threshold = 0.99, nProbe = 4, adcMargin = 2.0)),
        // Row-count gate only for this face: a k× model changes the
        // SCORES (more mass seen), never which batch rows come back.
        "lm_against" -> (() => LanguageModel.kneserNeyAgainst(
          batch, "doc_id", "text", knModel)
          .select(col("doc_id"))),
        // Order-5: full rows kept (scores materialized by the noop
        // sink — the serve's cost IS the scoring join); cross-scale
        // gate is the row COUNT (≥5-token docs of the fixed batch),
        // layout parity below is exceptAll over full rows incl.
        // scores (same counts, same sidecar discounts, plan-pinned
        // row-identical algebra). Both layouts load through
        // loadKn5Model; the key-bucketed one serves partition-pruned.
        "kn5_against" -> (() => LanguageModel.modifiedKn5Against(
          batch, "doc_id", "text", kn5Flat)),
        "kn5_against_pruned" -> (() => LanguageModel.modifiedKn5Against(
          batch, "doc_id", "text", kn5Part)),
        // Serve-plan FRONT DOOR (r15 verdict #4): dir-based routing —
        // this batch's distinct 5-gram count is far under the driver
        // bound, so auto routes "pruned". Its wall includes the
        // per-call loadKn5Model (listing ∝ bucket count) plus the
        // distinct-key routing pass, which the pre-loaded faces above
        // never pay — so the apples-to-apples comparator is
        // kn5_against_pruned_cold below, the HAND-PICKED pruned serve
        // paying the same per-call load: auto ≈ cold demonstrates the
        // front door costs one bounded count-agg over the batch.
        "kn5_auto" -> (() => LanguageModel.kn5ServeAuto(
          batch, "doc_id", "text", s"$d/kn5lmp")),
        "kn5_against_pruned_cold" -> (() => LanguageModel.modifiedKn5Against(
          batch, "doc_id", "text",
          LanguageModel.loadKn5Model(spark, s"$d/kn5lmp"))),
        "bm25_serve" -> (() => Retrieval.bm25ServeBatch(
          bm25Flat, queries, "query_id", "query_text", k = 10)),
        "bm25_serve_pruned" -> (() => Retrieval.bm25ServeBatch(
          bm25Part, queries, "query_id", "query_text", k = 10)))
    }
    // Tokenizer serving: the growth dimension is the MODEL (×10
    // pieces/merges on the same corpus), not the index — tokenizer
    // serves never read the corpus they were fitted on. The serve is
    // a broadcast-model codegen projection whose per-row cost is
    // bounded by maxPieceLen hash lookups, so wall should be ~flat in
    // vocabulary size; these rows pin that (r12 verdict #6). Models go
    // through their REAL persisted form like every other face. Output
    // rows differ BETWEEN model sizes by construction (a bigger vocab
    // segments differently), so these ops gate on rows > 0, not
    // cross-scale row equality.
    val tokGrowth = 10
    // The synthetic corpus carries only 31 distinct words — far too
    // few pieces to train a 10×-bigger model from. Append a
    // doc_id-derived word per document (the lm_score_mkn synthesis
    // pattern: deterministic, scale-independent) so the training dict
    // holds thousands of distinct words and both model sizes are
    // honestly attainable; the served batch carries the same
    // enrichment so the big model's extra pieces are actually
    // exercised at serve time.
    def tokEnrich(df: DataFrame): DataFrame = df.withColumn("text",
      concat(col("text"), lit(" v"),
        pmod(col("doc_id"), lit(5000)).cast("string")))
    val tokBatch = tokEnrich(batch).localCheckpoint(true)
    def tokenizerServes(grow: Int): Map[String, () => DataFrame] = {
      val d = s"$scratch/tok$grow"
      val tokCorpus = tokEnrich(docs)
      graft.ops.Bpe.saveRules(
        graft.ops.Bpe.train(tokCorpus, "text", nMerges = 60 * grow),
        s"$d/bpe", spark)
      graft.ops.Unigram.saveModel(
        graft.ops.Unigram.train(tokCorpus, "text", vocabSize = 120 * grow),
        s"$d/uni", spark)
      graft.ops.WordPiece.saveModel(
        graft.ops.WordPiece.train(tokCorpus, "text", nMerges = 60 * grow),
        s"$d/wp", spark)
      val rules = graft.ops.Bpe.loadRules(spark, s"$d/bpe")
      val uni = graft.ops.Unigram.loadModel(spark, s"$d/uni")
      val wp = graft.ops.WordPiece.loadModel(spark, s"$d/wp")
      println(s"""{"tok_models":$grow,"bpe_rules":${rules.size},""" +
        s""""unigram_pieces":${uni.pieces.size},"wp_vocab":${wp.vocab.size}}""")
      Map(
        "bpe_tokenize_serve" -> (() =>
          graft.ops.Bpe.tokenize(tokBatch, "doc_id", "text", rules)),
        "unigram_tokenize_serve" -> (() =>
          graft.ops.Unigram.tokenize(tokBatch, "doc_id", "text", uni)),
        "wordpiece_tokenize_serve" -> (() =>
          graft.ops.WordPiece.tokenize(tokBatch, "doc_id", "text", wp)))
    }
    val at1 = buildIndexes(1) ++ tokenizerServes(1)
    val atK = buildIndexes(k) ++ tokenizerServes(tokGrowth)

    def time(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val tokOps = Seq("bpe_tokenize_serve", "unigram_tokenize_serve",
      "wordpiece_tokenize_serve")
    val ops = Seq("exact_against", "exact_against_pruned", "simhash_against",
      "simhash_against_pruned", "minhash_against",
      "minhash_against_pruned", "winnow_against", "winnow_against_pruned",
      "semantic_against", "semantic_against_pruned", "lm_against",
      "kn5_against", "kn5_against_pruned", "kn5_auto",
      "kn5_against_pruned_cold",
      "bm25_serve", "bm25_serve_pruned") ++ tokOps
    // Disjoint replica vocabularies / isometries ⇒ identical hit sets
    // at both scales for the dedup faces (bm25 scores CAN admit
    // cross-replica hits: short substitution-image terms may collide;
    // ranked top-10 per query is bounded either way) — verified before
    // any timing. The two layouts of a face must also agree with EACH
    // OTHER row-for-row at every scale (a layout changes which files
    // are read, never a row).
    val dedupGateOk = (ops.filterNot(_.startsWith("bm25"))
        .filterNot(tokOps.contains) :+
        "semantic_against_layout").forall { op =>
      val a = at1(op)().count()
      val b = atK(op)().count()
      if (a != b) println(s"""{"gate":"$op","rows_1x":$a,"rows_kx":$b,"ok":false}""")
      a == b
    } && tokOps.forall { op =>
      // Segmentations differ across model sizes; the gate here is
      // that both models actually tokenize the batch.
      val a = at1(op)().count(); val b = atK(op)().count()
      if (a == 0 || b == 0)
        println(s"""{"gate":"$op","rows_1x":$a,"rows_kx":$b,"ok":false}""")
      a > 0 && b > 0
    }
    val layoutGateOk = Seq(at1 -> "1x", atK -> "kx").forall { case (m, tag) =>
      Seq("bm25_serve" -> "bm25_serve_pruned",
        "exact_against" -> "exact_against_pruned",
        "simhash_against" -> "simhash_against_pruned",
        "minhash_against" -> "minhash_against_pruned",
        "winnow_against" -> "winnow_against_pruned",
        "kn5_against" -> "kn5_against_pruned",
        // The front door may only pre-make the plan choice — never
        // change a row (r15 verdict #4).
        "kn5_against" -> "kn5_auto",
        // semantic layout parity is same-quantizer by construction;
        // the timed pruned face (∝-scale quantizer) is hit-count
        // gated above instead — a different quantizer may probe a
        // genuine non-copy near-pair differently, which would be a
        // recall difference, not a layout defect
        "semantic_against" -> "semantic_against_layout").forall { case (f, p) =>
        val d = m(f)().exceptAll(m(p)()).count() + m(p)().exceptAll(m(f)()).count()
        if (d != 0) println(s"""{"gate":"${p}_parity_$tag","diff_rows":$d,"ok":false}""")
        d == 0
      }
    }
    val gateOk = dedupGateOk && layoutGateOk
    ops.foreach { op => time(at1(op)); time(atK(op)) } // untimed warmup
    var results = Map.empty[String, (Double, Double)]
    ops.foreach { op =>
      var t1 = Double.MaxValue
      var tk = Double.MaxValue
      (1 to 3).foreach { _ => // interleaved min-of-3 (the 8.8.1 protocol)
        t1 = math.min(t1, time(at1(op)))
        tk = math.min(tk, time(atK(op)))
      }
      results += op -> (t1, tk)
    }
    Thread.sleep(1000)
    val tf = taskFailures.get()
    var worst = 0.0
    ops.foreach { op =>
      val (t1, tk) = results(op)
      val ratio = tk / math.max(t1, 1e-9)
      worst = math.max(worst, ratio)
      println(s"""{"op":"$op","t1":${fmt(t1)},"tk":${fmt(tk)},"k":$k,""" +
        s""""ratio":${fmt(ratio)},"batch_rows":$batchN}""")
    }
    val ok = gateOk && worst <= maxRatio && tf == 0
    println(s"""{"metric":"serve_canary","k":$k,"worst_ratio":${fmt(worst)},""" +
      s""""budget":${fmt(maxRatio)},"task_failures":$tf,"ok":$ok,"sf":"$sfDir"}""")
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(scratch), true): Unit
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
