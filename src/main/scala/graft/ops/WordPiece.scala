package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.WordPieceFunctions

/** WordPiece tokenizer training — the likelihood-scored third member
  * of the tokenizer family ([[Bpe]] merges by raw pair frequency,
  * [[Unigram]] learns piece probabilities by EM; WordPiece merges by
  * the pair-likelihood ratio and serves by greedy longest-match, the
  * BERT convention).
  *
  * Training runs in ONE Spark job regardless of merge count, by the
  * same reduction as the siblings: WordPiece statistics never cross
  * word boundaries, so the corpus reduces exactly to its
  * word-frequency dictionary ([[TextOps.wordDict]], one hash-agg with
  * map-side combine, fail-fast-before-collect cap), and the merge
  * loop runs driver-side over that dict with incremental pair- and
  * symbol-count maintenance. Each word seeds as its first codepoint
  * bare plus `##`-prefixed continuations; the merge chosen each round
  * maximizes
  *
  *   score(a, b) = c(a b) / (c(a) · c(b))
  *
  * (the likelihood gain of fusing the pair under a unigram factoring —
  * the published WordPiece ranking), with the fraction order decided
  * EXACTLY — a double fast path with a provable margin, arbitrary-
  * precision cross-multiplication on near-ties (the denominators stay
  * as factors; their product alone can overflow 64 bits at corpus
  * scale); score ties break on higher pair count (more evidence),
  * then the "a b" pair string ascending in UTF-8 byte order. The
  * model is therefore a pure function of the corpus and the knobs.
  *
  * Serving with the frozen vocabulary is a codegen'd per-row
  * projection ([[graft.functions.WordPieceSegment]]): zero shuffle at
  * any scale, vocabulary broadcast as an expression reference object.
  */
object WordPiece {

  /** A trained tokenizer: the vocabulary (word-initial pieces bare,
    * word-internal pieces under the `##` continuation prefix — initial
    * alphabet in UTF-8 order, then merged tokens in rank order), the
    * unknown-word token, and the per-word degrade threshold. */
  case class Model(vocab: Seq[String], unk: String, maxWordCp: Int)

  /** Train `nMerges` likelihood-scored merges over `textCol`. The
    * vocabulary comes back as the initial alphabet plus one token per
    * effective merge (a merged string already present is not
    * re-added, so `vocab.size <= alphabet + nMerges`). */
  def train(
      df: DataFrame, textCol: String, nMerges: Int,
      unk: String = "[UNK]", maxWordCp: Int = 100,
      maxVocab: Int = 1 << 20): Model = {
    require(nMerges > 0 && maxVocab > 0,
      s"WordPiece.train: nMerges and maxVocab must be > 0 " +
        s"(got nMerges=$nMerges, maxVocab=$maxVocab)")
    require(maxWordCp > 0,
      s"WordPiece.train: maxWordCp must be > 0 (got $maxWordCp)")
    val dict = TextOps.wordDict(df, textCol, maxVocab, "WordPiece.train")
    Model(trainOnDict(dict, nMerges), unk, maxWordCp)
  }

  /** Tokenize: one row per (doc, token) with the token's position —
    * the [[Bpe.tokenize]] shape. Continuation pieces keep their `##`
    * prefix (strip it to reassemble the text). */
  def tokenize(
      df: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    OpsUtil.widen(df)
      .select(col(idCol),
        posexplode(WordPieceFunctions.wordPieceTokens(
          TextOps.normalized(col(textCol)), model.vocab, model.unk,
          model.maxWordCp))
          .as(Seq("token_pos", "token")))

  /** Persist a trained model as parquet (the saveRules / saveModel
    * pattern): `vocab` (rank, piece) — rank preserves the
    * alphabet-then-merges order so a loaded model is bit-identical —
    * plus a `stats` sidecar with the serve-time parameters. */
  def saveModel(model: Model, path: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model.vocab.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("rank", "piece")
      .repartition(1).write.mode("overwrite").parquet(s"$path/vocab")
    Seq((model.unk, model.maxWordCp)).toDF("unk", "max_word_cp")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Load a persisted model (inverse of [[saveModel]]). A missing,
    * mistyped, NULL or out-of-range `stats` field fails naming the
    * sidecar's contract. */
  def loadModel(
      spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val st = BucketedIndex.readSidecar(spark, s"$path/stats",
      "WordPiece.saveModel", Seq("unk" -> StringType,
        "max_word_cp" -> IntegerType), Seq(BucketedIndex.positive("max_word_cp")))
    val vocab = spark.read.parquet(s"$path/vocab").orderBy("rank")
      .collect().map(_.getString(1)).toSeq
    Model(vocab, st("unk").asInstanceOf[String],
      st("max_word_cp").asInstanceOf[Int])
  }

  // ---------------------------------------------------------------------
  // Driver-side trainer over the word dictionary.
  // ---------------------------------------------------------------------

  private val utf8Order: Ordering[String] =
    (a: String, b: String) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Word → WordPiece seed symbols: first codepoint bare, the rest
    * `##`-prefixed. */
  private def toSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      val s = w.substring(i, i + n)
      out += (if (i == 0) s else "##" + s)
      i += n
    }
    out.toArray
  }

  /** Merged token of pair (a, b): b sheds its continuation prefix, a
    * keeps its own (word position is a property of the LEFT edge). */
  private def merged(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** Compare n1/(a1·b1) vs n2/(a2·b2) EXACTLY. The denominator is a
    * product of two symbol counts and can itself exceed 64 bits on a
    * large corpus (two symbols at ~3e9 occurrences already overflow a
    * Long multiply — review finding, r12), so the denominators are
    * kept as FACTORS and the cross-multiplied triples compare in
    * arbitrary precision on the slow path. The fast path decides
    * through doubles with a 1e-9 relative margin: each score carries
    * ≤ ~4 ulp (≈ 4e-16) of relative error, so a gap wider than the
    * margin can never be an artifact of rounding — only genuine
    * near-ties pay the BigInteger allocation. */
  private def cmpScore(
      n1: Long, a1: Long, b1: Long,
      n2: Long, a2: Long, b2: Long): Int = {
    val s1 = n1.toDouble / (a1.toDouble * b1.toDouble)
    val s2 = n2.toDouble / (a2.toDouble * b2.toDouble)
    if (s1 > s2 * (1 + 1e-9)) 1
    else if (s2 > s1 * (1 + 1e-9)) -1
    else {
      import java.math.BigInteger.{valueOf => big}
      big(n1).multiply(big(a2)).multiply(big(b2))
        .compareTo(big(n2).multiply(big(a1)).multiply(big(b1)))
    }
  }

  private[ops] def trainOnDict(
      dict: Array[(String, Long)], nMerges: Int): Seq[String] = {
    import scala.collection.mutable
    val entries = dict.filter(_._1.nonEmpty)
    require(entries.nonEmpty, "WordPiece.train: corpus has no words")
    val words = entries.map { case (w, _) => toSymbols(w) }
    val counts = entries.map(_._2)
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val symCnt = mutable.HashMap.empty[String, Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def add(i: Int, sign: Long): Unit = {
      val s = words(i); val c = sign * counts(i)
      var j = 0
      while (j < s.length) {
        val sc = symCnt.getOrElse(s(j), 0L) + c
        if (sc == 0L) symCnt.remove(s(j)) else symCnt(s(j)) = sc
        if (j + 1 < s.length) {
          val p = (s(j), s(j + 1))
          val pc = pairCnt.getOrElse(p, 0L) + c
          if (pc == 0L) pairCnt.remove(p) else pairCnt(p) = pc
          if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
          else pairWords.get(p).foreach { ws =>
            ws -= i
            if (ws.isEmpty) pairWords.remove(p)
          }
        }
        j += 1
      }
    }
    words.indices.foreach(add(_, 1L))
    // Initial alphabet, UTF-8 order — never removed from the vocab
    // even if later merges absorb every occurrence (serving needs
    // total single-codepoint coverage of the training alphabet).
    val alphabet = symCnt.keysIterator.toArray.sortWith(utf8Order.compare(_, _) < 0)
    // Allocation-light argmax: exact fraction compare, count tie-break,
    // pair-string tie-break (built only on full ties).
    def argmax: (String, String) = {
      var best: (String, String) = null
      var bestN = 0L; var bestA = 0L; var bestB = 0L
      pairCnt.foreach { case (p, n) =>
        val ca = symCnt(p._1); val cb = symCnt(p._2)
        if (best == null) { best = p; bestN = n; bestA = ca; bestB = cb }
        else {
          val c = cmpScore(n, ca, cb, bestN, bestA, bestB)
          if (c > 0 || (c == 0 && (n > bestN ||
            (n == bestN &&
              utf8Order.compare(p._1 + " " + p._2, best._1 + " " + best._2) < 0))))
            { best = p; bestN = n; bestA = ca; bestB = cb }
        }
      }
      best
    }
    var merges = Vector.empty[String]
    val seen = mutable.HashSet.empty[String] ++ alphabet
    while (merges.length < nMerges && pairCnt.nonEmpty) {
      val (a, b) = argmax
      val m = merged(a, b)
      if (seen.add(m)) merges = merges :+ m
      val affected = pairWords.getOrElse((a, b), mutable.Set.empty).toArray
      affected.foreach { i =>
        val s = words(i)
        var j = 0
        var has = false
        while (!has && j + 1 < s.length) {
          has = s(j) == a && s(j + 1) == b; j += 1
        }
        if (has) {
          add(i, -1L)
          val out = mutable.ArrayBuffer.empty[String]
          var t = 0
          while (t < s.length) {
            if (t + 1 < s.length && s(t) == a && s(t + 1) == b) {
              out += m; t += 2
            } else { out += s(t); t += 1 }
          }
          words(i) = out.toArray
          add(i, 1L)
        }
      }
    }
    (alphabet ++ merges).toSeq
  }
}
