package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.UnigramFunctions

/** Unigram-language-model tokenizer training (the SentencePiece /
  * Kudo-2018 family) — the probabilistic complement of [[Bpe]]: instead
  * of a greedy merge sequence, learn piece log-probabilities by EM over
  * each word's segmentation lattice and tokenize by Viterbi.
  *
  * Training runs in ONE Spark job regardless of EM/prune rounds:
  * unigram statistics never cross word boundaries, so the corpus
  * reduces exactly to its word-frequency dictionary
  * ([[TextOps.wordDict]], one hash-agg with map-side combine, bounded
  * by `maxVocab` with the fail-fast-before-collect guard), and the
  * seed/EM/prune loop runs driver-side over that dict — which is what
  * a tokenizer trainer IS (the SentencePiece shape). The lattice is
  * integer-encoded once (word cell → candidate piece id), so EM
  * iterations are pure array arithmetic with zero string building.
  * Serving with the frozen table is a codegen'd per-row projection
  * ([[graft.functions.UnigramSegment]]) over the full corpus: zero
  * shuffle at any scale.
  *
  * Algorithm (standard, simplifications documented):
  *  - Seed: every ≤ `maxPieceLen`-codepoint substring of every word,
  *    ranked by corpus occurrence frequency; keep all single
  *    codepoints (total coverage) plus the top multi-codepoint
  *    candidates up to `seedSize`.
  *  - EM phase (`emIters` iterations): E-step computes expected piece
  *    counts by forward-backward over each word lattice (log-space);
  *    M-step renormalizes. Plain maximum-likelihood EM — no
  *    Bayesianified digamma smoothing — so per-phase corpus
  *    log-likelihood is monotone non-decreasing (asserted by spec AND
  *    by the `unigram_train_tokenize` oracle).
  *  - Prune: drop the multi-codepoint pieces whose removal least hurts
  *    likelihood, approximated per SentencePiece as
  *    `expCount(p) × (logp(p) − bestAltSegmentation(p))`; keep
  *    `pruneKeep` of the survivors per round (never below the final
  *    target), re-run the EM phase, repeat until `vocabSize` pieces
  *    remain. Single codepoints are never pruned.
  *
  * Determinism: ties in seeding and pruning break on the piece string
  * ascending in UTF-8 byte order (Spark's string order); Viterbi ties
  * prefer the longer suffix piece. The model is a pure function of the
  * corpus and the knobs.
  */
object Unigram {

  /** A trained tokenizer: piece → log-probability (UTF-8 order), the
    * unknown-single-codepoint fallback score, the DP window, and the
    * final EM phase's per-iteration corpus log-likelihood trace
    * (monotone non-decreasing — the EM invariant callers can assert).
    */
  case class Model(
      pieces: Seq[(String, Double)],
      unkLogp: Double,
      maxPieceLen: Int,
      llTrace: Seq[Double]) {

    /** EM-monotonicity check with float-roundoff tolerance. */
    def llMonotone: Boolean =
      llTrace.iterator.sliding(2).withPartial(false).forall { w =>
        w(1) >= w(0) - 1e-9 * math.max(1.0, math.abs(w(0)))
      }
  }

  /** Train a unigram tokenizer with EXACTLY `vocabSize` pieces over
    * `textCol`. `vocabSize` counts ALL pieces (single codepoints
    * included); training fails fast if the corpus alphabet alone
    * exceeds it OR the corpus's ≤ maxPieceLen substring universe
    * (after the seedSize cap) undersupplies it. */
  def train(
      df: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 4,
      seedSize: Int = 1 << 13,
      emIters: Int = 3,
      pruneKeep: Double = 0.75,
      unkLogp: Double = -20.0,
      maxVocab: Int = 1 << 20): Model = {
    require(vocabSize >= 1, s"vocabSize must be >= 1 (got $vocabSize)")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1 (got $maxPieceLen)")
    require(seedSize >= 1, s"seedSize must be >= 1 (got $seedSize)")
    require(emIters >= 1, s"emIters must be >= 1 (got $emIters)")
    require(pruneKeep > 0.0 && pruneKeep < 1.0,
      s"pruneKeep must be in (0, 1) (got $pruneKeep)")
    val dict = TextOps.wordDict(df, textCol, maxVocab, "Unigram.train")
    trainOnDict(dict, vocabSize, maxPieceLen, seedSize, emIters,
      pruneKeep, unkLogp)
  }

  /** Tokenize: one row per (doc, token) with the token's position —
    * the [[Bpe.tokenize]] shape. */
  def tokenize(
      df: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    tokenize(df, idCol, textCol, model.pieces, model.unkLogp,
      model.maxPieceLen)

  /** Persist a trained model as parquet — engine-agnostic, diffable,
    * versionable beside the corpus it tokenizes (the saveWeights /
    * saveIndex pattern): `pieces` (piece, logp — doubles round-trip
    * bit-exactly through parquet) plus a `stats` sidecar carrying the
    * serve-time parameters so a loaded model can never be served with
    * mismatched settings. The LL trace is a training artifact and is
    * not persisted. */
  def saveModel(model: Model, path: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model.pieces.toDF("piece", "logp")
      .repartition(1).write.mode("overwrite").parquet(s"$path/pieces")
    Seq((model.unkLogp, model.maxPieceLen)).toDF("unk_logp", "max_piece_len")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Load a persisted model (inverse of [[saveModel]]; `llTrace` comes
    * back empty — it describes the training run, not the model). A
    * missing, mistyped, NULL or out-of-range `stats` field fails naming
    * the sidecar's contract. */
  def loadModel(
      spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val st = BucketedIndex.readSidecar(spark, s"$path/stats",
      "Unigram.saveModel", Seq("unk_logp" -> DoubleType,
        "max_piece_len" -> IntegerType), Seq(BucketedIndex.positive("max_piece_len")))
    val pieces = spark.read.parquet(s"$path/pieces")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortWith((a, b) => utf8Order.compare(a._1, b._1) < 0)
    Model(pieces.toSeq, st("unk_logp").asInstanceOf[Double],
      st("max_piece_len").asInstanceOf[Int], Nil)
  }

  def tokenize(
      df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[(String, Double)], unkLogp: Double,
      maxPieceLen: Int): DataFrame =
    OpsUtil.widen(df)
      .select(col(idCol),
        posexplode(UnigramFunctions.unigramTokens(
          TextOps.normalized(col(textCol)), pieces, unkLogp, maxPieceLen))
          .as(Seq("token_pos", "token")))

  /** Subword-regularization tokenization (Kudo 2018 §3): one
    * segmentation per word SAMPLED from the posterior `P(seg)^alpha`
    * instead of the Viterbi argmax — the training-data augmentation
    * the unigram model exists for. Deterministic in (corpus, model,
    * alpha, seed): re-running a shard reproduces its tokens exactly
    * (splitmix64 per word occurrence — no RNG state, no
    * partition-order dependence), so augmented epochs are replayable.
    * Same zero-shuffle serving shape as [[tokenize]]. */
  def tokenizeSampled(
      df: DataFrame, idCol: String, textCol: String,
      model: Model, alpha: Double, seed: Long): DataFrame =
    OpsUtil.widen(df)
      .select(col(idCol),
        posexplode(UnigramFunctions.unigramTokensSampled(
          TextOps.normalized(col(textCol)),
          xxhash64(col(idCol)), // per-row salt: same text, fresh draws
          model.pieces, model.unkLogp,
          model.maxPieceLen, alpha, seed))
          .as(Seq("token_pos", "token")))

  // ---------------------------------------------------------------------
  // Driver-side trainer over the word dictionary.
  // ---------------------------------------------------------------------

  private val utf8Order: Ordering[String] =
    (a: String, b: String) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def toSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  private def codePointLen(s: String): Int = s.codePointCount(0, s.length)

  private[ops] def trainOnDict(
      dict: Array[(String, Long)], vocabSize: Int, maxPieceLen: Int,
      seedSize: Int, emIters: Int, pruneKeep: Double,
      unkLogp: Double): Model = {
    import scala.collection.mutable
    val entries = dict.filter(_._1.nonEmpty)
    require(entries.nonEmpty, "Unigram.train: corpus has no words")
    val words = entries.map { case (w, _) => toSymbols(w) }
    val counts = entries.map(_._2)
    val nWords = words.length

    // ---- Seed: substring occurrence frequencies ----
    val freq = mutable.HashMap.empty[String, Long]
    var wi = 0
    while (wi < nWords) {
      val syms = words(wi); val c = counts(wi)
      var i = 0
      while (i < syms.length) {
        val sb = new java.lang.StringBuilder
        var len = 1
        while (len <= maxPieceLen && i + len <= syms.length) {
          sb.append(syms(i + len - 1))
          val p = sb.toString
          freq(p) = freq.getOrElse(p, 0L) + c
          len += 1
        }
        i += 1
      }
      wi += 1
    }
    val chars = freq.keysIterator.filter(codePointLen(_) == 1).toArray
      .sortWith(utf8Order.compare(_, _) < 0)
    require(chars.length <= vocabSize,
      s"Unigram.train: corpus alphabet has ${chars.length} codepoints > " +
        s"vocabSize $vocabSize — every codepoint must stay segmentable")
    val multiSeeds = freq.iterator
      .filter { case (p, _) => codePointLen(p) > 1 }
      .toArray
      .sortWith { case ((p1, c1), (p2, c2)) =>
        if (c1 != c2) c1 > c2 else utf8Order.compare(p1, p2) < 0
      }
      .take(math.max(0, seedSize - chars.length))
      .map(_._1)

    // ---- Integer piece universe: chars first (never pruned) ----
    val pieceStr: Array[String] = chars ++ multiSeeds
    val nPieces = pieceStr.length
    val nChars = chars.length
    // Fail fast like the alphabet guard: the contract is EXACTLY
    // vocabSize pieces (the train oracle pins the literal), so a
    // corpus whose ≤ maxPieceLen substring universe (or seedSize cap)
    // undersupplies must error here, not surprise a caller later.
    require(nPieces >= vocabSize,
      s"Unigram.train: corpus supplies only $nPieces candidate pieces " +
        s"(alphabet $nChars + ${nPieces - nChars} multi-codepoint seeds) " +
        s"< vocabSize $vocabSize — lower vocabSize, raise maxPieceLen, " +
        "or raise seedSize")
    val pieceId = new java.util.HashMap[String, Integer](nPieces * 2)
    var pi = 0
    while (pi < nPieces) { pieceId.put(pieceStr(pi), pi); pi += 1 }

    // Initial logps from raw substring frequencies, normalized.
    val logp = new Array[Double](nPieces)
    val alive = Array.fill(nPieces)(true)
    var aliveCount = nPieces
    val total0 = pieceStr.iterator.map(freq(_).toDouble).sum
    val logTotal0 = math.log(total0)
    pi = 0
    while (pi < nPieces) {
      logp(pi) = math.log(freq(pieceStr(pi)).toDouble) - logTotal0
      pi += 1
    }

    // ---- Lattice encoding: word cell (i, len) → piece id or -1 ----
    // cellId(w)(i * maxPieceLen + (len-1)); substrings that missed the
    // seed cut have no id (score -Inf; len-1 cells always have one).
    val lattice: Array[Array[Int]] = words.map { syms =>
      val n = syms.length
      val cells = Array.fill(n * maxPieceLen)(-1)
      var i = 0
      while (i < n) {
        val sb = new java.lang.StringBuilder
        var len = 1
        while (len <= maxPieceLen && i + len <= n) {
          sb.append(syms(i + len - 1))
          val id = pieceId.get(sb.toString)
          if (id != null) cells(i * maxPieceLen + (len - 1)) = id.intValue()
          len += 1
        }
        i += 1
      }
      cells
    }

    def logSumExp(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log1p(math.exp(-math.abs(a - b))) }

    def score(id: Int): Double =
      if (id >= 0 && alive(id)) logp(id) else Double.NegativeInfinity

    /** One EM phase over the live vocabulary: `iters` iterations of
      * forward-backward expected counts + renormalization, in place.
      * Returns (expected counts under the final params, per-iteration
      * corpus LL under the params each E-step read). */
    def emPhase(iters: Int): (Array[Double], Vector[Double]) = {
      var expected = new Array[Double](nPieces)
      var lls = Vector.empty[Double]
      var it = 0
      while (it < iters) {
        expected = new Array[Double](nPieces)
        var ll = 0.0
        var wi = 0
        while (wi < nWords) {
          val syms = words(wi); val c = counts(wi).toDouble
          val cells = lattice(wi)
          val n = syms.length
          val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
          val beta = Array.fill(n + 1)(Double.NegativeInfinity)
          alpha(0) = 0.0
          var i = 1
          while (i <= n) {
            var len = 1
            while (len <= maxPieceLen && len <= i) {
              val s = score(cells((i - len) * maxPieceLen + (len - 1)))
              if (s != Double.NegativeInfinity &&
                  alpha(i - len) != Double.NegativeInfinity)
                alpha(i) = logSumExp(alpha(i), alpha(i - len) + s)
              len += 1
            }
            i += 1
          }
          beta(n) = 0.0
          i = n - 1
          while (i >= 0) {
            var len = 1
            while (len <= maxPieceLen && i + len <= n) {
              val s = score(cells(i * maxPieceLen + (len - 1)))
              if (s != Double.NegativeInfinity &&
                  beta(i + len) != Double.NegativeInfinity)
                beta(i) = logSumExp(beta(i), s + beta(i + len))
              len += 1
            }
            i -= 1
          }
          val z = alpha(n) // finite: chars are alive
          ll += c * z
          i = 0
          while (i < n) {
            var len = 1
            while (len <= maxPieceLen && i + len <= n) {
              val id = cells(i * maxPieceLen + (len - 1))
              val s = score(id)
              if (s != Double.NegativeInfinity) {
                val post = math.exp(alpha(i) + s + beta(i + len) - z)
                if (post > 0.0) expected(id) += c * post
              }
              len += 1
            }
            i += 1
          }
          wi += 1
        }
        lls :+= ll
        // M-step: renormalize live pieces. Expected counts that
        // underflowed to zero get -Inf (never selected; pruned first).
        var tot = 0.0
        var p = 0
        while (p < nPieces) { if (alive(p)) tot += expected(p); p += 1 }
        val logT = math.log(tot)
        p = 0
        while (p < nPieces) {
          if (alive(p))
            logp(p) =
              if (expected(p) > 0.0) math.log(expected(p)) - logT
              else Double.NegativeInfinity
          p += 1
        }
        it += 1
      }
      (expected, lls)
    }

    /** Best segmentation score of piece `pid`'s own string using the
      * live vocabulary WITHOUT the piece (the SentencePiece prune
      * alternative). */
    def altScore(pid: Int): Double = {
      val syms = toSymbols(pieceStr(pid))
      val n = syms.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      best(0) = 0.0
      var i = 1
      while (i <= n) {
        val sb = new java.lang.StringBuilder
        var len = 1
        while (len <= maxPieceLen && len <= i) {
          sb.insert(0, syms(i - len))
          val id0 = pieceId.get(sb.toString)
          val id = if (id0 == null) -1 else id0.intValue()
          if (id >= 0 && id != pid) {
            val s = score(id)
            if (s != Double.NegativeInfinity &&
                best(i - len) != Double.NegativeInfinity) {
              val v = best(i - len) + s
              if (v > best(i)) best(i) = v
            }
          }
          len += 1
        }
        i += 1
      }
      best(n)
    }

    var trace = Vector.empty[Double]
    var guard = 0
    while (aliveCount > vocabSize) {
      val (expected, lls) = emPhase(emIters)
      trace = lls
      // ---- Prune multi-codepoint pieces by likelihood loss ----
      val multi = (nChars until nPieces).filter(alive(_)).toArray
      val losses = multi.map { p =>
        val e = expected(p)
        val l =
          if (e == 0.0 || logp(p) == Double.NegativeInfinity)
            Double.NegativeInfinity
          else e * (logp(p) - altScore(p))
        (p, l)
      }
      val target = vocabSize - nChars
      val keepN = math.max(target, (multi.length * pruneKeep).toInt)
      val kept = losses
        .sortWith { case ((p1, l1), (p2, l2)) =>
          if (l1 != l2) l1 > l2
          else utf8Order.compare(pieceStr(p1), pieceStr(p2)) < 0
        }
        .take(keepN).map(_._1).toSet
      multi.foreach { p =>
        if (!kept.contains(p)) { alive(p) = false; aliveCount -= 1 }
      }
      guard += 1
      require(guard < 1000,
        "Unigram.train: prune loop failed to converge (internal error)")
    }
    // Final EM phase over the settled vocabulary (also the trace the
    // model exposes — one fixed vocab, so EM monotonicity applies).
    val (_, lls) = emPhase(emIters)
    trace = lls
    val pieces = (0 until nPieces).iterator
      .filter(alive(_))
      .map(p => (pieceStr(p), logp(p)))
      .toSeq
      .sortWith((a, b) => utf8Order.compare(a._1, b._1) < 0)
    Model(pieces, unkLogp, maxPieceLen, trace)
  }
}
