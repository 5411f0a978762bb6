package graft.run

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Packing, Sampling, TextOps}

/** Named corpus-prep transforms applicable between retrieval and
  * encoding — the configuration-surface analogue of the reference's
  * component parameters, extended to the pipeline operators this
  * engine adds. Specs are strings so they travel through CLI/config
  * layers: `name(key=value,...)`, chained with `;`:
  *
  * {{{
  *   clean_text(cols=bio);redact_pii(cols=bio);sample_hash(key=user_id,pct=50)
  * }}}
  *
  * Every transform is a pure DataFrame→DataFrame plan rewrite, so
  * chaining transforms extends the single job plan and Catalyst fuses
  * the per-row stages; nothing materializes between stages except
  * where an operator is inherently corpus-level (`dedup_exact`'s
  * hash-agg, `corpus_shuffle`'s shard shuffle, `lm_filter`'s count
  * tables — each documented at its case). Unknown names or missing /
  * mistyped arguments fail fast at parse time (total error handling,
  * not the reference's §2.13 silent fallbacks).
  *
  * `lm_filter` semantics: documents with fewer than 2 tokens have no
  * bigrams, cannot be scored, and are dropped — the same contract as
  * `quality_filter`'s minimum-token gate.
  */
object Transforms {

  final case class TransformSpec(name: String, args: Map[String, String]) {
    def arg(key: String): String = args.getOrElse(key,
      throw new IllegalArgumentException(s"transform '$name' requires arg '$key'"))
    def argInt(key: String): Int = arg(key).toInt
    def argCols(key: String): Seq[String] = arg(key).split('|').toSeq
  }

  /** Parse `name(k=v,...)` chained with `;`. */
  def parse(spec: String): Seq[TransformSpec] =
    spec.split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { s =>
      val open = s.indexOf('(')
      require(open > 0 && s.endsWith(")"), s"malformed transform spec: '$s'")
      val name = s.substring(0, open)
      val body = s.substring(open + 1, s.length - 1).trim
      val args =
        if (body.isEmpty) Map.empty[String, String]
        else body.split(',').map { kv =>
          val eq = kv.indexOf('=')
          require(eq > 0, s"malformed arg '$kv' in transform '$name'")
          kv.substring(0, eq).trim -> kv.substring(eq + 1).trim
        }.toMap
      val t = TransformSpec(name, args)
      require(Required.contains(name),
        s"unknown transform '$name' (known: ${Required.keys.toSeq.sorted.mkString(", ")})")
      Required(name).foreach(t.arg) // missing required args fail HERE
      // Unknown (misspelled) arg NAMES fail here too — without this,
      // `bukets=512` silently runs with the default and the typed-arg
      // tables below never see the typo (review finding r13: the
      // fail-fast contract only covered correctly-spelled names).
      val allowed = Required(name) ++ Optional.getOrElse(name, Nil)
      t.args.keys.foreach(k => require(allowed.contains(k),
        s"transform '$name': unknown arg '$k' " +
          s"(allowed: ${allowed.sorted.mkString(", ")})"))
      IntArgs.getOrElse(name, Nil).foreach { k => // and non-numeric ints
        t.args.get(k).foreach(v => require(v.toIntOption.exists(_ >= 0),
          s"transform '$name' arg '$k' must be a non-negative integer, got '$v'"))
      }
      PositiveIntArgs.getOrElse(name, Nil).foreach { k =>
        t.args.get(k).foreach(v => require(v.toIntOption.exists(_ > 0),
          s"transform '$name' arg '$k' must be a positive integer, got '$v'"))
      }
      PositiveLongArgs.getOrElse(name, Nil).foreach { k =>
        t.args.get(k).foreach(v => require(v.toLongOption.exists(_ > 0L),
          s"transform '$name' arg '$k' must be a positive integer, got '$v'"))
      }
      DoubleArgs.getOrElse(name, Nil).foreach { k => // and non-numeric doubles
        t.args.get(k).foreach(v => require(scala.util.Try(v.toDouble).isSuccess,
          s"transform '$name' arg '$k' must be numeric, got '$v'"))
      }
      BoolArgs.getOrElse(name, Nil).foreach { k => // and non-boolean flags
        t.args.get(k).foreach(v => require(v == "true" || v == "false",
          s"transform '$name' arg '$k' must be true or false, got '$v'"))
      }
      LongArgs.getOrElse(name, Nil).foreach { k => // plain longs (seeds)
        t.args.get(k).foreach(v => require(v.toLongOption.isDefined,
          s"transform '$name' arg '$k' must be an integer, got '$v'"))
      }
      EnumArgs.getOrElse(name, Nil).foreach { case (k, allowed) =>
        t.args.get(k).foreach(v => require(allowed(v),
          s"transform '$name' arg '$k' must be one of " +
            s"${allowed.toSeq.sorted.mkString("|")}, got '$v'"))
      }
      if (name == "mixture_sample") parseRates(t.arg("rates")) // and bad formats
      if (name == "tokenize_against") {
        if (t.arg("family") != "unigram")
          require(!t.args.contains("alpha") && !t.args.contains("seed"),
            "transform 'tokenize_against': alpha/seed configure unigram " +
              "subword regularization — drop them or use family=unigram")
        require(!t.args.contains("seed") || t.args.contains("alpha"),
          "transform 'tokenize_against': seed without alpha would be " +
            "silently ignored — sampling needs alpha (Viterbi ignores seed)")
      }
      t
    }

  /** Transform name → required argument names (checked at parse time). */
  val Required: Map[String, Seq[String]] = Map(
    "clean_text" -> Seq("cols"),
    "redact_pii" -> Seq("cols"),
    "quality_filter" -> Seq("col"),
    "dedup_exact" -> Seq("key", "col"),
    "dedup_against" -> Seq("key", "col", "index"),
    "simhash_filter" -> Seq("key", "col", "index"),
    "winnow_filter" -> Seq("key", "col", "index"),
    "minhash_filter" -> Seq("key", "col", "index"),
    "semantic_filter" -> Seq("key", "col", "index", "threshold"),
    "sample_hash" -> Seq("key", "pct"),
    "mixture_sample" -> Seq("key", "strata", "rates"),
    "corpus_shuffle" -> Seq("key", "shards"),
    "lm_filter" -> Seq("key", "col", "max_ce"),
    "lm_filter_against" -> Seq("key", "col", "model", "max_ce"),
    "sample_temperature" -> Seq("key", "strata", "alpha", "target"),
    "budget_select" -> Seq("key", "score", "cost", "budget"),
    "sample_weighted" -> Seq("key", "weight", "n"),
    "classifier_filter" -> Seq("key", "col", "label", "min_score"),
    "forward_label" -> Seq("ts", "source", "source_ts", "keys",
      "features", "horizon"),
    "nearest_label" -> Seq("ts", "source", "source_ts", "keys",
      "features", "tolerance"),
    "tokenize_against" -> Seq("key", "col", "model", "family"),
    "pack_sequences" -> Seq("key", "col", "max_len"),
    "expect_unique" -> Seq("cols"),
    "expect_fd" -> Seq("lhs", "rhs"))

  /** Transform name → OPTIONAL argument names (the complete set each
    * transform's apply() reads beyond Required). parse() rejects any
    * arg outside Required ∪ Optional, so a misspelled optional arg
    * dies at parse time instead of silently running with the default.
    * Adding an optional knob to a transform means adding it HERE (the
    * whitelist is the contract) plus its type table below. */
  val Optional: Map[String, Seq[String]] = Map(
    "quality_filter" -> Seq("min_tokens", "max_tokens"),
    "simhash_filter" -> Seq("max_hamming"),
    "winnow_filter" -> Seq("min_shared", "max_df"),
    "minhash_filter" -> Seq("k", "bands", "shingle_n", "portable",
      "threshold", "max_bucket"),
    "semantic_filter" -> Seq("n_probe", "adc_margin"),
    "mixture_sample" -> Seq("default_pct"),
    "lm_filter_against" -> Seq("discount", "floor_eps", "serve"),
    "forward_label" -> Seq("keep_ts", "prefix"),
    "nearest_label" -> Seq("keep_ts", "prefix"),
    "tokenize_against" -> Seq("alpha", "seed", "out"),
    "pack_sequences" -> Seq("buckets", "strategy"))

  /** Transform name → integer-typed argument names, validated at parse
    * time when present (same fail-fast contract as Required: `pct=abc`
    * should die in parse(), not as a NumberFormatException mid-job). */
  val IntArgs: Map[String, Seq[String]] = Map(
    "quality_filter" -> Seq("min_tokens", "max_tokens"),
    "sample_hash" -> Seq("pct"),
    "simhash_filter" -> Seq("max_hamming"),
    "mixture_sample" -> Seq("default_pct"))

  /** Arguments that must be STRICTLY positive ints (zero would die
    * mid-job in the operator's own require). */
  val PositiveIntArgs: Map[String, Seq[String]] = Map(
    "corpus_shuffle" -> Seq("shards"),
    "winnow_filter" -> Seq("min_shared", "max_df"),
    "minhash_filter" -> Seq("k", "bands", "shingle_n", "max_bucket"),
    "semantic_filter" -> Seq("n_probe"),
    "pack_sequences" -> Seq("max_len", "buckets"),
    "sample_weighted" -> Seq("n"))

  /** Plain long-typed args (any sign — RNG seeds). */
  val LongArgs: Map[String, Seq[String]] = Map(
    "tokenize_against" -> Seq("seed"))

  /** Closed-vocabulary args, validated at parse time (a typo'd family
    * must die in parse(), not as a MatchError mid-job). */
  val EnumArgs: Map[String, Seq[(String, Set[String])]] = Map(
    "tokenize_against" -> Seq(
      "family" -> Set("bpe", "unigram", "wordpiece")),
    "lm_filter_against" -> Seq(
      "serve" -> Set("shuffle", "broadcast")),
    "pack_sequences" -> Seq(
      "strategy" -> Set("assign", "segments", "sequences")))

  /** Boolean-typed argument names ("true"/"false" only — a typo'd flag
    * must die at parse time, not silently default). */
  val BoolArgs: Map[String, Seq[String]] = Map(
    "minhash_filter" -> Seq("portable"),
    "forward_label" -> Seq("keep_ts"),
    "nearest_label" -> Seq("keep_ts"))

  /** Long-typed strictly positive args (row targets / token budgets
    * exceed Int range at corpus scale). */
  val PositiveLongArgs: Map[String, Seq[String]] = Map(
    "sample_temperature" -> Seq("target"),
    "budget_select" -> Seq("budget"),
    "forward_label" -> Seq("horizon"),
    "nearest_label" -> Seq("tolerance"))

  /** Double-typed argument names, same parse-time validation. */
  val DoubleArgs: Map[String, Seq[String]] = Map(
    "lm_filter" -> Seq("max_ce"),
    "lm_filter_against" -> Seq("max_ce", "discount", "floor_eps"),
    "tokenize_against" -> Seq("alpha"),
    "sample_temperature" -> Seq("alpha"),
    "minhash_filter" -> Seq("threshold"),
    "semantic_filter" -> Seq("threshold", "adc_margin"),
    "classifier_filter" -> Seq("min_score"))

  /** Shared skeleton of the persisted-index ingest gates
    * (dedup_against / simhash_filter / winnow_filter), so the staging
    * and NULL-bypass contract lives in exactly one place: stage the
    * frame once (it feeds the classifier AND the join), classify the
    * non-NULL rows into a key frame via `keys(rows, textCol)`, then
    * keep (`left_semi`) or drop (`left_anti`) by key. NULL-text /
    * NULL-key rows bypass untouched — content-free rows are never an
    * index gate's to drop, and NULL keys would silently vanish in the
    * equi-join otherwise. */
  private def indexGate(
      df: DataFrame, key: String, text: String, keepMatches: Boolean)(
      keys: (DataFrame, String) => DataFrame): DataFrame = {
    val staged = df.localCheckpoint(false)
    val gateable = staged.filter(col(text).isNotNull && col(key).isNotNull)
    gateable.join(keys(gateable, text), Seq(key),
        if (keepMatches) "left_semi" else "left_anti")
      .unionByName(staged.filter(col(text).isNull || col(key).isNull))
  }

  /** rates as strata:pct pairs joined with '|', e.g. `en:40|de:80`. */
  private def parseRates(spec: String): Map[String, Int] =
    spec.split('|').toSeq.map { r =>
      val parts = r.split(':')
      require(parts.length == 2 && parts(1).forall(_.isDigit),
        s"malformed rate '$r' (want strata:pct)")
      parts(0) -> parts(1).toInt
    }.toMap

  /** Apply one spec. */
  def apply(df: DataFrame, t: TransformSpec): DataFrame = t.name match {
    case "clean_text" =>
      t.argCols("cols").foldLeft(df)((d, c) => d.withColumn(c, TextOps.cleaned(col(c))))
    case "redact_pii" =>
      t.argCols("cols").foldLeft(df)((d, c) => d.withColumn(c, TextOps.redactPii(col(c))))
    case "quality_filter" =>
      // Token-count gate over the normalized text column.
      val c = col(t.arg("col"))
      val n = size(TextOps.tokens(TextOps.normalized(c)))
      df.filter(n.between(
        t.args.get("min_tokens").map(_.toInt).getOrElse(1),
        t.args.get("max_tokens").map(_.toInt).getOrElse(Int.MaxValue)))
    case "dedup_exact" =>
      // Keep the min-key row per normalized text hash (one hash-agg
      // shuffle on 16-byte keys + a keeper join, as in Dedup.exact).
      // NULL-text rows have no content to deduplicate on, and NULL-key
      // rows can never match the (hash, key) keeper equi-join (min()
      // skips nulls and NULL = NULL is never true) — both bypass the
      // join untouched instead of silently vanishing.
      val key = t.arg("key"); val text = t.arg("col")
      val hashed = df.withColumn("__graft_th", md5(TextOps.normalized(col(text))))
      val dedupable = hashed.filter(col("__graft_th").isNotNull && col(key).isNotNull)
      val keepers = dedupable.groupBy("__graft_th").agg(min(col(key)).as(key))
      dedupable.join(keepers, Seq("__graft_th", key))
        .unionByName(hashed.filter(col("__graft_th").isNull || col(key).isNull))
        .drop("__graft_th")
    case "dedup_against" =>
      // Incremental exact dedup against a PERSISTED content-hash index
      // (graft.ops.Dedup.saveExactIndexPartitioned — the daily-ingest
      // loop as a job transform): rows whose normalized text already
      // exists in history drop; within-frame repeats keep the min-key
      // row (dedup_exact's semantics, via exactAgainst's
      // first-seen-wins classification). Partition-pruned serving:
      // only the arrival batch's hash buckets are read.
      val key = t.arg("key")
      val root = t.arg("index")
      indexGate(df, key, t.arg("col"), keepMatches = true) { (rows, text) =>
        graft.ops.Dedup.exactAgainst(rows,
            graft.ops.Dedup.loadExactIndexPartitioned(df.sparkSession, root),
            key, text)
          .filter(col("dup_of").isNull).select(col("id").as(key))
      }
    case "simhash_filter" =>
      // Near-dup ingest gate: drop rows whose SimHash fingerprint is
      // within max_hamming (default 8) of ANY document in a persisted
      // band-bucketed index (graft.ops.Dedup.saveSimhashBandIndex) —
      // the typo-tolerant sibling of dedup_against. Partition-pruned
      // serving, hash family from the index itself.
      val key = t.arg("key")
      val root = t.arg("index")
      val mh = t.args.get("max_hamming").map(_.toInt).getOrElse(8)
      indexGate(df, key, t.arg("col"), keepMatches = false) { (rows, text) =>
        graft.ops.Dedup.simhashAgainst(rows,
            graft.ops.Dedup.loadSimhashBandIndex(df.sparkSession, root),
            key, text, mh)
          .select(col("new_id").as(key)).distinct()
      }
    case "winnow_filter" =>
      // Substring-copy ingest gate: drop rows sharing >= min_shared
      // (default 2) winnowed fingerprints with a persisted fp-bucketed
      // reference index (graft.ops.Dedup.saveWinnowFpIndex) — "copied
      // a run of w+k-1 chars from history". max_df (default uncapped)
      // is the base-side boilerplate cap, a filter on the document
      // frequency stored at build. Partition-pruned serving, (k, w,
      // family) from the index itself.
      val key = t.arg("key")
      val root = t.arg("index")
      val minSh = t.args.get("min_shared").map(_.toInt).getOrElse(2)
      val mDf = t.args.get("max_df").map(_.toInt).getOrElse(Int.MaxValue)
      indexGate(df, key, t.arg("col"), keepMatches = false) { (rows, text) =>
        graft.ops.Dedup.winnowAgainst(rows,
            graft.ops.Dedup.loadWinnowFpIndex(df.sparkSession, root),
            key, text, minShared = minSh, maxDf = mDf)
          .select(col("new_id").as(key)).distinct()
      }
    case "minhash_filter" =>
      // Document-level near-dup ingest gate: drop rows whose MinHash
      // signature LSH-collides (est. Jaccard >= threshold, default
      // 0.5) with ANY document of a persisted band-bucketed index
      // (graft.ops.Dedup.saveLshBandIndex) — the fourth
      // persisted-index gate. Partition-pruned serving with
      // k/bands/portable/shingle_n from the index's sidecar: the
      // k/bands/portable/shingle_n args only cross-check it
      // (fail-fast, never silently ignored). max_bucket caps the
      // arrival side; base-side capping is a build decision
      // (saveLshBandIndex's maxBucket), which keeps serves
      // cadence-independent.
      val key = t.arg("key")
      val root = t.arg("index")
      val threshold = t.args.get("threshold").map(_.toDouble).getOrElse(0.5)
      val maxBucket = t.args.get("max_bucket").map(_.toInt).getOrElse(Int.MaxValue)
      indexGate(df, key, t.arg("col"), keepMatches = false) { (rows, text) =>
        val idx = graft.ops.Dedup.loadLshBandIndex(df.sparkSession, root)
        Seq(("k", t.args.get("k").map(_.toInt), idx.k),
          ("bands", t.args.get("bands").map(_.toInt), idx.bands))
          .foreach { case (name, arg, built) =>
            arg.foreach(v => require(v == built,
              s"minhash_filter: $name=$v contradicts the partitioned " +
                s"index's build $name=$built (the sidecar is " +
                "authoritative; drop the arg or rebuild the index)"))
          }
        t.args.get("portable").map(_.toBoolean).foreach(v =>
          require(v == idx.portable,
            s"minhash_filter: portable=$v contradicts the partitioned " +
              s"index's build portable=${idx.portable}"))
        val shingleN = t.args.get("shingle_n").map(_.toInt)
        for (v <- shingleN; w <- idx.shingleN)
          require(v == w,
            s"minhash_filter: shingle_n=$v contradicts the partitioned " +
              s"index's build shingle_n=$w")
        graft.ops.Dedup.minhashLshAgainst(
            graft.ops.Dedup.minhashSignatures(rows, key, text,
              shingleN = idx.shingleN.orElse(shingleN).getOrElse(3),
              k = idx.k, portable = idx.portable),
            idx, threshold = threshold, maxBucket = maxBucket)
          .select(col("new_id").as(key)).distinct()
      }
    case "semantic_filter" =>
      // Embedding near-dup ingest gate: drop rows whose vector scores
      // exact-cosine >= threshold against the PQ-encoded history. The
      // index arg is a directory holding the persisted artifacts of
      // the semantic serve face: <index>/ann (Similarity.saveIndex)
      // and <index>/encoded (flat encodeCorpus parquet OR the
      // cid-partitioned saveEncodedCorpus layout — loadEncodedCorpus
      // reads both, and on the partitioned one the gate's probed-cid
      // pruning is file-level). If the encoded table does NOT store
      // its vectors (encodeCorpus's storeVectors = false), the
      // refinement additionally needs <index>/vectors — the
      // historical vector parquet, which must carry the SAME key and
      // vector column names as the gated frame; a stored-vector index
      // is self-contained and <index>/vectors may be absent. `col`
      // here is the embedding column; rows with a NULL vector bypass
      // (content-free for this gate), like every other index gate.
      val key = t.arg("key")
      val root = t.arg("index")
      indexGate(df, key, t.arg("col"), keepMatches = false) { (rows, vecCol) =>
        val s = df.sparkSession
        val enc = graft.ops.Similarity.loadEncodedCorpus(s, s"$root/encoded")
        val hist =
          if (enc.columns.contains("hv")) rows.limit(0) // never read
          else s.read.parquet(s"$root/vectors")
        graft.ops.Similarity.nearDupAgainst(
          rows, hist, enc,
          key, vecCol, graft.ops.Similarity.loadIndex(s"$root/ann", s),
          threshold = t.arg("threshold").toDouble,
          nProbe = t.args.get("n_probe").map(_.toInt).getOrElse(4),
          adcMargin = t.args.get("adc_margin").map(_.toDouble).getOrElse(0.15))
          .select(col("new_id").as(key)).distinct()
      }
    case "sample_hash" =>
      Sampling.deterministicSample(df, t.arg("key"), t.argInt("pct"))
    case "corpus_shuffle" =>
      // Reproducible (shard, pos) training order — one shuffle on the
      // shard hash, per-shard windows (no global sort).
      Sampling.shuffleAssign(df, t.arg("key"), t.argInt("shards"))
    case "lm_filter" =>
      // Perplexity gate: self-train the add-1 bigram model on the
      // incoming frame, keep rows at/below the cross-entropy budget.
      // The input feeds the model AND the scoring side — materialize it
      // once (lazily) instead of re-running the upstream plan per
      // consumer. NULL-key rows bypass the keep-join untouched (a
      // left_semi on a NULL key never matches — same silent-vanish
      // trap dedup_exact guards against above).
      val key = t.arg("key"); val text = t.arg("col")
      val maxCe = t.arg("max_ce").toDouble
      val staged = df.localCheckpoint(false)
      val scorable = staged.filter(col(key).isNotNull)
      // Train on the WHOLE frame (null-key rows still carry model-worthy
      // text — excluding them would shift every score); only scoring
      // needs the key.
      val keep = graft.ops.LanguageModel
        .bigramCrossEntropy(scorable, staged, key, text)
        .filter(col("cross_entropy") <= maxCe)
        .select(col(key))
      scorable.join(keep, Seq(key), "left_semi")
        .unionByName(staged.filter(col(key).isNull))
    case "lm_filter_against" =>
      // Persisted-model perplexity gate — the CCNet deployment shape:
      // the Kneser-Ney count tables were fitted ONCE on a clean
      // reference corpus and every ingest batch scores against them
      // with zero training passes. The model's checked `model` sidecar
      // names its ORDER (loadKnModel reads it on the driver, flat or
      // key-bucketed layout, and rejects a directory holding no model
      // naming both writers): order 2 serves bigram interpolated KN,
      // order 3 the trigram recursion, order 5 — CCNet's actual
      // configuration — modified KN, whose discounts come from the
      // model's own count-of-counts, so the discount arg is rejected
      // there.
      // discount/floor_eps are serve-time knobs of the persisted raw
      // counts (the whole point of shipping them) — surfaced with the
      // operators' own defaults (r12 ADVICE). Same NULL-key bypass
      // contract as lm_filter; docs with fewer tokens than the
      // model's order have nothing to score and drop (the sub-2-token
      // contract, at the model's own order).
      val gKey = t.arg("key"); val gText = t.arg("col")
      val gMax = t.arg("max_ce").toDouble
      val gEps = t.args.get("floor_eps").map(_.toDouble).getOrElse(1e-6)
      val gDisc = t.args.get("discount").map(_.toDouble)
      // serve picks the order-5 PLAN, not the algebra: broadcast runs
      // the streaming serve's broadcast-semi join (model tables stream
      // map-side, ≤ 2 hash exchanges — right when the gated frame is a
      // small arrival batch against a big model); shuffle (default) is
      // the bulk cascade (right when the frame is corpus-sized). Rows
      // identical either way (plan-spec-pinned).
      val gBroadcast = t.args.get("serve").contains("broadcast")
      val model = graft.ops.LanguageModel.loadKnModel(df.sparkSession, t.arg("model"))
      require(!gBroadcast || model.order == 5,
        "lm_filter_against: serve=broadcast is the order-5 serve plan " +
          s"— the order-${model.order} cascade has no broadcast-semi " +
          "variant; drop the arg for this model")
      val gStaged = df.localCheckpoint(false)
      val gScorable = gStaged.filter(col(gKey).isNotNull)
      val (gScored, gCeCol) = model.order match {
        case 5 =>
          require(gDisc.isEmpty,
            "lm_filter_against: an order-5 modified-KN model estimates " +
              "its discounts from its own count-of-counts — drop the " +
              "discount arg (floor_eps still applies)")
          // A key-bucketed model serves the partition-pruned
          // broadcast-semi plan by construction — serve=shuffle would
          // contradict it (the bulk cascade reads whole flat tables).
          require(model.keyBuckets.isEmpty ||
              !t.args.get("serve").contains("shuffle"),
            "lm_filter_against: a key-bucketed kn5 model " +
              "(saveKn5ModelPartitioned) serves the partition-pruned " +
              "broadcast-semi plan by construction — drop serve=shuffle " +
              "or point at a flat saveKnModel layout")
          (graft.ops.LanguageModel.modifiedKn5Against(
            gScorable, gKey, gText, model,
            floorEps = gEps, broadcastScore = gBroadcast),
            "kn5_cross_entropy")
        case 3 =>
          (graft.ops.LanguageModel.kneserNeyTrigramAgainst(
            gScorable, gKey, gText, model,
            discount = gDisc.getOrElse(0.75), floorEps = gEps),
            "kn3_cross_entropy")
        case _ =>
          (graft.ops.LanguageModel.kneserNeyAgainst(
            gScorable, gKey, gText, model,
            discount = gDisc.getOrElse(0.75), floorEps = gEps),
            "kn_cross_entropy")
      }
      val gKeep = gScored.filter(col(gCeCol) <= gMax).select(col(gKey))
      gScorable.join(gKeep, Seq(gKey), "left_semi")
        .unionByName(gStaged.filter(col(gKey).isNull))
    case "mixture_sample" =>
      Sampling.mixtureSample(df, t.arg("key"), t.arg("strata"),
        parseRates(t.arg("rates")),
        t.args.get("default_pct").map(_.toInt).getOrElse(0))
    case "sample_temperature" =>
      // p ∝ n^alpha domain rebalancing toward ~target rows.
      Sampling.temperatureSample(df, t.arg("key"), t.arg("strata"),
        t.arg("alpha").toDouble, t.arg("target").toLong)
    case "budget_select" =>
      // Greedy best-scoring prefix within the cost budget (two-phase
      // distributed prefix sum; one bucket shuffle, no global window).
      Sampling.budgetSelect(df, t.arg("key"), t.arg("score"),
        t.arg("cost"), t.arg("budget").toLong)
        .drop("cum_cost")
    case "sample_weighted" =>
      // Fixed-size weighted draw without replacement (A-ES).
      Sampling.weightedSample(df, t.arg("key"), t.arg("weight"), t.argInt("n"))
    case "classifier_filter" =>
      // Self-trained logistic quality gate: label column marks the
      // positive class on THIS frame (e.g. a curated flag); rows
      // scoring below min_score drop. Rows whose text is NULL/empty
      // have no features, cannot be scored, and are dropped regardless
      // of min_score — the same contract as lm_filter's sub-2-token
      // gate. The frame feeds training and the keep-join —
      // materialized once. NULL-key rows bypass the join untouched
      // (same contract as lm_filter/dedup_exact).
      val key = t.arg("key")
      val staged = df.localCheckpoint(false)
      val scorable = staged.filter(col(key).isNotNull)
      val keep = graft.ops.Classifier.trainScoreLogistic(
          scorable, key, t.arg("col"), col(t.arg("label")).cast("boolean"))
        .filter(col("score") >= t.arg("min_score").toDouble)
        .select(col(key))
      scorable.join(keep, Seq(key), "left_semi")
        .unionByName(staged.filter(col(key).isNull))
    case "forward_label" | "nearest_label" =>
      // Directional as-of LABELING from the config surface: attach the
      // earliest outcome within a forward horizon (forward_label — the
      // supervised-training pattern "did the user convert within N
      // seconds") or the closest reading within a tolerance
      // (nearest_label) from a persisted label table. Unmatched rows
      // keep NULL labels (left semantics), and every row of the frame
      // comes back once, duplicates included. `keys` are
      // entityCol:labelCol pairs joined with '|'; `prefix` renames the
      // emitted label columns `prefix__feature` so they can never
      // collide with the frame's own.
      val keys = t.arg("keys").split('|').toSeq.map { kv =>
        val p = kv.split(':')
        require(p.length == 2 && p(0).trim.nonEmpty && p(1).trim.nonEmpty,
          s"transform '${t.name}' arg 'keys': malformed pair '$kv' " +
            "(want entityCol:labelCol)")
        (p(0).trim, p(1).trim)
      }
      val features = t.argCols("features")
      val keepTs = t.args.get("keep_ts").contains("true")
      val sourceTs = t.arg("source_ts")
      // NANOS-timestamped parquet needs the coercing loader (the
      // events-table gotcha).
      val view = graft.sources.ParquetTables.load(
        df.sparkSession, t.arg("source"))
      val labeled =
        if (t.name == "forward_label")
          graft.join.DirectionalAsOf.forward(
            df, t.arg("ts"), view, sourceTs, keys, features,
            t.arg("horizon").toLong, keepViewTs = keepTs)
        else
          graft.join.DirectionalAsOf.nearest(
            df, t.arg("ts"), view, sourceTs, keys, features,
            t.arg("tolerance").toLong, keepViewTs = keepTs)
      t.args.get("prefix") match {
        case None => labeled
        case Some(p) =>
          val renames = features ++ (if (keepTs) Seq(sourceTs) else Nil)
          renames.foldLeft(labeled)((d, f) =>
            d.withColumnRenamed(f, s"${p}__$f"))
      }
    case "tokenize_against" =>
      // Tokenization from the config surface — the stage a pre-training
      // pipeline runs between dedup and packing, against a model
      // trained ONCE (Bpe.saveRules / Unigram.saveModel /
      // WordPiece.saveModel) and served with zero training passes —
      // the lm_filter_against deployment shape, for tokenizers. Emits
      // ONE column `out` (default `tokens`, array<string>) instead of
      // the Scala APIs' exploded (doc, pos, token) rows: the frame
      // keeps its row-per-document shape so pack_sequences (and any
      // other transform) chains directly; the serving expressions are
      // the SAME codegen'd segmenters the tokenize oracles pin, with
      // the posexplode elided. Zero shuffles — a pure projection over
      // whatever partitioning the frame already has. NULL text
      // tokenizes to NULL (the segmenters are null-propagating), the
      // index-gate bypass contract in column form. alpha/seed switch
      // the unigram family to sampled subword regularization, salted
      // by the row key so identical texts in different rows draw
      // independently while every shard replay is exact.
      val s = df.sparkSession
      val out = t.args.getOrElse("out", "tokens")
      require(!df.columns.contains(out),
        s"tokenize_against: output column '$out' already exists — " +
          "pass out=<fresh name>")
      val normText = TextOps.normalized(col(t.arg("col")))
      val toks: Column = t.arg("family") match {
        case "bpe" =>
          graft.functions.BpeFunctions.bpeTokens(
            normText, graft.ops.Bpe.loadRules(s, t.arg("model")))
        case "unigram" =>
          val m = graft.ops.Unigram.loadModel(s, t.arg("model"))
          t.args.get("alpha") match {
            case Some(a) =>
              graft.functions.UnigramFunctions.unigramTokensSampled(
                normText, xxhash64(col(t.arg("key"))),
                m.pieces, m.unkLogp, m.maxPieceLen, a.toDouble,
                t.args.get("seed").map(_.toLong).getOrElse(0L))
            case None =>
              graft.functions.UnigramFunctions.unigramTokens(
                normText, m.pieces, m.unkLogp, m.maxPieceLen)
          }
        case "wordpiece" =>
          val m = graft.ops.WordPiece.loadModel(s, t.arg("model"))
          graft.functions.WordPieceFunctions.wordPieceTokens(
            normText, m.vocab, m.unk, m.maxWordCp)
      }
      df.withColumn(out, toks)
    case "pack_sequences" =>
      // Fixed-token-budget sequence packing — the LAST shaping stage
      // before the TFRecord sink. `col` is either the array<string>
      // column tokenize_against emitted (its size is the token count)
      // or a precomputed integral count column. Three output shapes:
      // strategy=sequences (default) emits ONE ROW PER TRAINING
      // SEQUENCE (pack_bucket, seq_idx, tokens, n_docs, n_tokens) —
      // what the pipeline writes; segments keeps document identity
      // (one row per doc×sequence overlap with the sliced span);
      // assign only annotates each doc row with its (bucket, seq_idx)
      // slot. Distribution contract inherited from graft.ops.Packing:
      // `buckets` (default 64) independent hash-partitioned packing
      // groups, one window per bucket, never a global sort — size
      // buckets to the cluster, waste is ≤ one sequence per bucket.
      val key = t.arg("key"); val c = t.arg("col")
      val maxLen = t.argInt("max_len")
      val buckets = t.args.get("buckets").map(_.toInt).getOrElse(64)
      val isArray = df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]
      t.args.getOrElse("strategy", "sequences") match {
        case "assign" =>
          if (isArray)
            Packing.assignSequences(
              df.withColumn("__graft_nt",
                coalesce(size(col(c)).cast("long"), lit(0L))),
              key, "__graft_nt", maxLen, buckets).drop("__graft_nt")
          else Packing.assignSequences(df, key, c, maxLen, buckets)
        case strategy =>
          require(isArray,
            s"pack_sequences: strategy=$strategy slices actual tokens " +
              s"and needs an array column, but '$c' is " +
              s"${df.schema(c).dataType.simpleString} — tokenize first " +
              "(tokenize_against) or use strategy=assign on a count column")
          if (strategy == "segments")
            Packing.packTokens(df, key, c, maxLen, buckets)
          else Packing.packedSequences(df, key, c, maxLen, buckets)
      }
    case "expect_unique" =>
      // Constraint GATE (Deequ shape): rows pass through unchanged, but
      // the job FAILS with counts + an example if the key is not
      // unique — wrong data should kill the run, not flow downstream.
      // The 1-row check broadcasts onto every row; the frame is staged
      // once so the check agg and the pass-through don't re-run the
      // upstream plan twice.
      // Check columns carry the internal prefix so a user column named
      // is_unique / n_dup_keys can never collide (or be dropped).
      val cols = t.argCols("cols")
      val staged = df.localCheckpoint(false)
      val chk = graft.ops.Constraints.uniqueness(staged, cols)
        .select(col("is_unique").as("__graft_ok"),
          col("n_dup_keys").as("__graft_n"),
          col("example_dup_key").as("__graft_ex"))
      staged.crossJoin(broadcast(chk))
        .filter(when(!col("__graft_ok"), raise_error(concat(
            lit(s"expect_unique(${cols.mkString("|")}): "),
            col("__graft_n").cast("string"),
            lit(" duplicated keys, e.g. "), col("__graft_ex"))))
          .otherwise(lit(true)))
        .drop("__graft_ok", "__graft_n", "__graft_ex")
    case "expect_fd" =>
      // Functional-dependency gate: lhs must determine rhs or the job
      // dies with the violating count + smallest violating key.
      val lhs = t.argCols("lhs"); val rhs = t.argCols("rhs")
      val staged = df.localCheckpoint(false)
      val chk = graft.ops.Constraints.functionalDependency(staged, lhs, rhs)
        .select(col("holds").as("__graft_ok"),
          col("n_violating_lhs").as("__graft_n"),
          col("example_violating_key").as("__graft_ex"))
      staged.crossJoin(broadcast(chk))
        .filter(when(!col("__graft_ok"), raise_error(concat(
            lit(s"expect_fd(${lhs.mkString("|")}->${rhs.mkString("|")}): "),
            col("__graft_n").cast("string"),
            lit(" violating keys, e.g. "), col("__graft_ex"))))
          .otherwise(lit(true)))
        .drop("__graft_ok", "__graft_n", "__graft_ex")
    case other =>
      throw new IllegalArgumentException(s"unknown transform '$other'")
  }

  /** Apply a whole chain. */
  def applyAll(df: DataFrame, specs: Seq[TransformSpec]): DataFrame =
    specs.foldLeft(df)(apply)
}
