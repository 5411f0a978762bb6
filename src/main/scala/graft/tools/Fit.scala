package graft.tools

import org.apache.spark.sql.SparkSession

import graft.LocalSession

/** Artifact trainer CLI — the missing front door of the
  * fit-once/serve-many family: every transform-DSL gate
  * (`lm_filter_against`, `dedup_against`, `minhash_filter`,
  * `simhash_filter`, `winnow_filter`, `semantic_filter`,
  * `tokenize_against`, …) serves a PERSISTED artifact, and this CLI
  * builds every one of them from a parquet corpus — a shell user can
  * now both (re)build and serve the full gate family without touching
  * the Scala API. One invocation fits one artifact and persists it
  * where the gates (and [[graft.run.Main]]'s `GRAFT_TRANSFORMS`) can
  * serve it:
  *
  * {{{
  * runMain graft.tools.Fit <what> <inputParquet> <idCol> <textCol> <outDir> [size] [key=value ...]
  * }}}
  *
  * `what` (brackets show what `size` means; every family has the
  * serve-side loader named in its builder's scaladoc):
  *   - `bpe`        — merge rules [size = nMerges, default 256]
  *   - `unigram`    — unigram-LM pieces [size = vocabSize, default 500]
  *   - `wordpiece`  — WordPiece vocab [size = nMerges, default 256]
  *   - `kn`         — bigram Kneser-Ney count tables
  *   - `kn3`        — order-3 KN count tables
  *   - `kn5`        — order-5 modified-KN count tables (the corpus
  *                    must carry count-class decay at four orders —
  *                    validated HERE at fit time). [size = key-bucket
  *                    count for the partition-pruned serve layout
  *                    (saveKn5ModelPartitioned); omit for flat]
  *                    All three write one model layout (tables plus a
  *                    `model` sidecar naming the order; `loadKnModel`
  *                    reads any of them).
  *   - `exact_index` — hash-bucketed content-hash dedup index
  *                    ([[graft.ops.Dedup.saveExactIndexPartitioned]];
  *                    serves `dedup_against`) [size = nHashBuckets, 64]
  *   - `minhash_index` — band-bucketed MinHash LSH index
  *                    ([[graft.ops.Dedup.saveLshBandIndex]]; serves
  *                    `minhash_filter`) [size = nHashBuckets, 64]
  *                    opts: shingle_n=3 k=16 bands=8 portable=false
  *                    max_bucket=∞
  *   - `simhash_index` — band-bucketed SimHash index
  *                    ([[graft.ops.Dedup.saveSimhashBandIndex]];
  *                    serves `simhash_filter`) [size = nHashBuckets,
  *                    64] opts: portable=false
  *   - `winnow_index` — fp-bucketed winnow substring index
  *                    ([[graft.ops.Dedup.saveWinnowFpIndex]]; serves
  *                    `winnow_filter`) [size = nHashBuckets, 64]
  *                    opts: k=8 w=16 portable=false
  *   - `semantic_index` — IVF-PQ codebooks + cid-partitioned
  *                    stored-vector encoded corpus under
  *                    `<outDir>/ann` + `<outDir>/encoded`
  *                    ([[graft.ops.Similarity.saveIndex]] /
  *                    [[graft.ops.Similarity.saveEncodedCorpus]];
  *                    serves `semantic_filter` self-contained — no
  *                    separate vectors table at serve). `textCol`
  *                    names the EMBEDDING column. [size = nCentroids,
  *                    16] opts: m=8 k_sub=16 iters=3
  *   - `bm25_index` — term-partitioned BM25 postings
  *                    ([[graft.ops.Retrieval.saveBm25IndexPartitioned]];
  *                    serves [[graft.ops.Retrieval.bm25ServeBatch]])
  *                    [size = nTermBuckets, 64]
  *
  * Unknown families, unknown opt names, and opts on a family that
  * takes none all fail fast (the transform-DSL parse-time contract —
  * a misspelled `bukets=512` must never silently run with defaults).
  *
  * Prints one JSON line: what, rows read, output path.
  */
object Fit {

  /** Per-family optional `key=value` knobs (everything else about a
    * build is either positional or the family's API default). */
  private val Optional: Map[String, Set[String]] = Map(
    "bpe" -> Set.empty, "unigram" -> Set.empty, "wordpiece" -> Set.empty,
    "kn" -> Set.empty, "kn3" -> Set.empty, "kn5" -> Set.empty,
    "exact_index" -> Set.empty,
    "minhash_index" -> Set("shingle_n", "k", "bands", "portable", "max_bucket"),
    "simhash_index" -> Set("portable"),
    "winnow_index" -> Set("k", "w", "portable"),
    "semantic_index" -> Set("m", "k_sub", "iters"),
    "bm25_index" -> Set.empty)

  /** Fit + persist one artifact; returns the corpus row count.
    * Factored off `main` so specs drive it without a process
    * boundary (the [[Maintain.run]] pattern). */
  def fit(spark: SparkSession, what: String, input: String,
      idCol: String, textCol: String, outDir: String,
      size: Option[Int], opts: Map[String, String] = Map.empty): Long = {
    val allowed = Optional.getOrElse(what,
      throw new IllegalArgumentException(
        s"Fit: unknown artifact '$what' (known: " +
          s"${Optional.keys.toSeq.sorted.mkString(", ")})"))
    opts.keys.foreach(k => require(allowed.contains(k),
      s"Fit $what: unknown opt '$k'" +
        (if (allowed.isEmpty) " (this family takes no opts)"
         else s" (allowed: ${allowed.toSeq.sorted.mkString(", ")})")))
    // The order-2/3 KN families consume no size — accepting-and-
    // ignoring one would be the silent-misconfiguration class the opt
    // whitelist exists to kill (review finding r14). kn5 DOES take
    // one: size = key-bucket count selects its partitioned layout.
    require(size.isEmpty || !Set("kn", "kn3").contains(what),
      s"Fit $what: this family takes no [size] argument — " +
        s"drop the ${size.get}")
    def optInt(k: String, default: Int): Int =
      opts.get(k).map { v =>
        val n = v.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"Fit $what: opt '$k' must be an integer, got '$v'"))
        // Every integer knob here is structurally positive (band/hash
        // counts, shingle widths, PQ geometry, bucket caps): 0 or a
        // negative builds an artifact that fits fine and serves
        // nothing/dies — the fit-succeeds/serve-dies trap class.
        require(n > 0,
          s"Fit $what: opt '$k' must be a positive integer, got '$v'")
        n
      }.getOrElse(default)
    size.foreach(n => require(n > 0,
      s"Fit $what: size must be a positive integer, got $n"))
    def optBool(k: String): Boolean = opts.get(k).map { v =>
      require(v == "true" || v == "false",
        s"Fit $what: opt '$k' must be true or false, got '$v'")
      v.toBoolean
    }.getOrElse(false)
    val df = graft.sources.ParquetTables.load(spark, input)
    val n = df.count()
    what match {
      case "bpe" => graft.ops.Bpe.saveRules(
        graft.ops.Bpe.train(df, textCol, nMerges = size.getOrElse(256)),
        outDir, spark)
      case "unigram" => graft.ops.Unigram.saveModel(
        graft.ops.Unigram.train(df, textCol, vocabSize = size.getOrElse(500)),
        outDir, spark)
      case "wordpiece" => graft.ops.WordPiece.saveModel(
        graft.ops.WordPiece.train(df, textCol, nMerges = size.getOrElse(256)),
        outDir, spark)
      case "kn" => graft.ops.LanguageModel.saveKnModel(
        graft.ops.LanguageModel.fitKn(df, textCol), outDir)
      case "kn3" => graft.ops.LanguageModel.saveKn3Model(
        graft.ops.LanguageModel.fitKn3(df, textCol), outDir)
      case "kn5" =>
        val model = graft.ops.LanguageModel.fitKn5(df, textCol)
        // Serve-time validation at FIT time: the count tables always
        // fit, but order-5 MKN serving estimates its discounts from
        // the tables' own count-of-counts and fails fast on corpora
        // without count-class decay at every order — surfacing that
        // here beats shipping an artifact every gate rejects. (Hit in
        // practice: the synthetic test documents fit fine and then
        // failed every serve.) The partitioned save runs the SAME
        // estimation for its sidecar (before any write), so that path
        // validates via the save itself — no second union-aggregate
        // job (review finding r14); both layouts' failures land in
        // one wrapper with the remediation.
        def validated[A](save: => A): A =
          try save
          catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(
                "Fit kn5: the model fits but can never SERVE — " +
                  e.getMessage + " — use kn3/kn for this corpus, or " +
                  "fit on a larger/more repetitive reference corpus",
                e)
          }
        size match {
          // size = key-bucket count -> the partition-pruned serve
          // layout (saveKn5ModelPartitioned; loadKn5Model reads its
          // meta and model sidecars, so lm_filter_against, kn5ServeAuto and
          // lm5ScoreStreamFrom serve it broadcast-semi + pruned).
          case Some(b) => validated(
            graft.ops.LanguageModel.saveKn5ModelPartitioned(model, outDir, b))
          case None =>
            // saveKn5Model estimates the sidecar discounts itself — it
            // IS the fail-fast gate; a separate pre-validation would
            // run the count-of-counts job twice.
            validated(graft.ops.LanguageModel.saveKn5Model(model, outDir))
        }
      case "exact_index" =>
        graft.ops.Dedup.saveExactIndexPartitioned(
          graft.ops.Dedup.exact(df, idCol, textCol), outDir,
          nHashBuckets = size.getOrElse(64))
      case "minhash_index" =>
        val k = optInt("k", 16)
        val portable = optBool("portable")
        graft.ops.Dedup.saveLshBandIndex(
          graft.ops.Dedup.minhashSignatures(df, idCol, textCol,
            shingleN = optInt("shingle_n", 3), k = k, portable = portable),
          outDir, k = k, bands = optInt("bands", 8), portable = portable,
          maxBucket = optInt("max_bucket", Int.MaxValue),
          nHashBuckets = size.getOrElse(64))
      case "simhash_index" =>
        graft.ops.Dedup.saveSimhashBandIndex(
          graft.ops.Dedup.withSimhash(df, idCol, textCol,
            portable = optBool("portable")),
          outDir, nHashBuckets = size.getOrElse(64))
      case "winnow_index" =>
        graft.ops.Dedup.saveWinnowFpIndex(
          graft.ops.Dedup.winnowFingerprints(df, idCol, textCol,
            k = optInt("k", 8), w = optInt("w", 16),
            portable = optBool("portable")),
          outDir, nHashBuckets = size.getOrElse(64))
      case "semantic_index" =>
        // textCol is the EMBEDDING column here. storeVectors = true:
        // the self-contained serving layout semantic_filter prefers —
        // exact refinement runs inside the probed cid partitions and
        // no separate history vector table is ever read at serve.
        val idx = graft.ops.Similarity.fitIndex(df, idCol, textCol,
          nCentroids = size.getOrElse(16), m = optInt("m", 8),
          kSub = optInt("k_sub", 16), iters = optInt("iters", 3))
        graft.ops.Similarity.saveIndex(idx, s"$outDir/ann", spark)
        graft.ops.Similarity.saveEncodedCorpus(
          graft.ops.Similarity.encodeCorpus(df, idCol, textCol, idx,
            storeVectors = true),
          s"$outDir/encoded")
      case "bm25_index" =>
        graft.ops.Retrieval.saveBm25IndexPartitioned(
          graft.ops.Retrieval.buildBm25Index(df, idCol, textCol),
          outDir, nTermBuckets = size.getOrElse(64))
    }
    n
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println(
        "usage: Fit <bpe|unigram|wordpiece|kn|kn3|kn5|exact_index|" +
          "minhash_index|simhash_index|winnow_index|semantic_index|" +
          "bm25_index> <inputParquet> <idCol> <textCol> <outDir> " +
          "[size] [key=value ...]")
      sys.exit(2)
    }
    val Array(what, input, idCol, textCol, outDir) = args.take(5)
    // Trailing args: one optional bare integer (size) + key=value opts,
    // in any order; anything else is a usage error — reported through
    // the same clean message+exit(2) path as every other argument
    // mistake, not a raw stack trace (review finding r14; the fit-time
    // catch below can't cover this, it runs before the session).
    val trailing = args.drop(5).toSeq
    val (bare, kvs) = trailing.partition(!_.contains('='))
    if (bare.size > 1 || bare.exists(_.toIntOption.isEmpty)) {
      System.err.println(
        s"Fit: unexpected trailing args ${bare.mkString(" ")} — at most " +
          "one bare integer (size) plus key=value opts")
      sys.exit(2)
    }
    val size = bare.headOption.map(_.toInt)
    val opts = kvs.map { kv =>
      val eq = kv.indexOf('=')
      kv.substring(0, eq) -> kv.substring(eq + 1)
    }.toMap
    val spark = LocalSession(LocalSession.cpus(4))
    val n =
      try fit(spark, what, input, idCol, textCol, outDir, size, opts)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage)
          spark.stop()
          sys.exit(2)
      }
    println(s"""{"fit":"$what","rows":$n,"out":"$outDir"}""")
    spark.stop()
  }
}
