package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.{SidecarFaults, SparkSpec}
import graft.functions.UnigramFunctions

class UnigramSpec extends SparkSpec with Matchers {
  import org.apache.spark.sql.{Row, types => T}
  import scala.jdk.CollectionConverters._

  private def docsDf(docs: Seq[(Long, String)]) =
    spark.createDataFrame(
      docs.map { case (i, t) => Row(i, t) }.asJava,
      T.StructType(Seq(
        T.StructField("doc_id", T.LongType, nullable = false),
        T.StructField("text", T.StringType, nullable = true))))

  private def cps(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Independent exponential-time reference: best segmentation score. */
  private def bruteBest(
      word: String, vocab: Map[String, Double], unk: Double,
      maxLen: Int): Double = {
    val syms = cps(word)
    def rec(i: Int): Double =
      if (i == syms.length) 0.0
      else {
        var best = Double.NegativeInfinity
        var len = 1
        while (len <= maxLen && i + len <= syms.length) {
          val p = syms.slice(i, i + len).mkString
          val s = vocab.getOrElse(p,
            if (len == 1) unk else Double.NegativeInfinity)
          if (s != Double.NegativeInfinity) {
            val r = rec(i + len)
            if (r != Double.NegativeInfinity)
              best = math.max(best, s + r)
          }
          len += 1
        }
        best
      }
    rec(0)
  }

  private def tokensOf(
      text: String, vocab: Seq[(String, Double)], unk: Double,
      maxLen: Int): Seq[String] = {
    val df = docsDf(Seq(1L -> text))
      .select(UnigramFunctions.unigramTokens(
        TextOps.normalized(col("text")), vocab, unk, maxLen).as("t"))
    df.collect()(0).getSeq[String](0)
  }

  test("viterbi attains the brute-force optimum on random vocab/words") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    (1 to 60).foreach { _ =>
      val maxLen = 1 + rnd.nextInt(3)
      val word = (1 to (1 + rnd.nextInt(9)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      // random vocab: a few random substrings of the word + random junk
      val subs = (1 to 4).map { _ =>
        val i = rnd.nextInt(word.length)
        val l = 1 + rnd.nextInt(math.min(maxLen, word.length - i))
        word.substring(i, i + l)
      }
      val vocab = (subs ++ Seq("zz", "qq"))
        .distinct.map(p => p -> (-1.0 - rnd.nextDouble() * 9)).toSeq
      val unk = -12.5
      val vmap = vocab.toMap
      val toks = tokensOf(word, vocab, unk, maxLen)
      // lossless
      toks.mkString shouldBe word
      // attains the optimum
      val got = toks.map(t => vmap.getOrElse(t, unk)).sum
      val want = bruteBest(word, vmap, unk, maxLen)
      got shouldBe want +- 1e-9
    }
  }

  test("disjoint two-char pieces: token count = chars - occurrences") {
    // pieces with pairwise-disjoint alphabets never conflict, so the
    // optimum uses every occurrence (the unigram_tokenize oracle's
    // counting argument).
    val vocab = Seq("th" -> -3.0, "er" -> -3.0, "on" -> -3.0, "as" -> -3.0)
    val cases = Seq(
      // th, th, th+er → 4 occurrences over 16 non-space chars
      "the theory thermal" -> (16, 4),
      "ononon" -> (6, 3),
      "xyz" -> (3, 0),
      "as ason" -> (6, 3)) // as, as+on
    cases.foreach { case (text, (chars, occ)) =>
      val toks = tokensOf(text, vocab, -10.0, 2)
      toks.mkString shouldBe text.replace(" ", "")
      toks.length shouldBe (chars - occ)
    }
  }

  test("supplementary-plane codepoints survive segmentation") {
    val t = "a😀b c😀"
    val toks = tokensOf(t, Seq("😀b" -> -1.0), -5.0, 2)
    toks.mkString shouldBe t.replace(" ", "")
    toks should contain("😀b")
  }

  test("null and empty texts emit no tokens") {
    val df = docsDf(Seq(1L -> null, 2L -> "", 3L -> "   "))
    val out = Unigram.tokenize(df, "doc_id", "text",
      Seq("ab" -> -1.0), -5.0, 2)
    out.count() shouldBe 0L
  }

  test("train: exact vocab size, normalized probs, monotone LL, deterministic") {
    val docs = docsDf(Seq(
      1L -> "the cat sat on the mat",
      2L -> "the rat sat on the cat",
      3L -> "a cat and a rat and a mat"))
    val m = Unigram.train(docs, "text", vocabSize = 20,
      maxPieceLen = 3, seedSize = 64, emIters = 3)
    m.pieces.size shouldBe 20
    // probabilities sum to 1 over the final vocabulary
    val psum = m.pieces.map { case (_, lp) => math.exp(lp) }.sum
    psum shouldBe 1.0 +- 1e-9
    // final-phase EM log-likelihood is monotone non-decreasing
    m.llTrace.size shouldBe 3
    m.llMonotone shouldBe true
    // pure function of the corpus
    val m2 = Unigram.train(docs, "text", vocabSize = 20,
      maxPieceLen = 3, seedSize = 64, emIters = 3)
    m2.pieces shouldBe m.pieces
    // all single codepoints retained
    val alphabet = "the cat sat on the mat the rat a and"
      .replace(" ", "").distinct.map(_.toString).toSet
    alphabet.subsetOf(m.pieces.map(_._1).toSet) shouldBe true
  }

  test("a -Infinity table entry degrades to the unk fallback instead of hanging the DP") {
    // the trainer may export an EM-underflowed single codepoint with
    // logp = -Inf; serving must treat it as absent, not poison the DP
    val toks = tokensOf("aaa b", Seq(
      "a" -> Double.NegativeInfinity, "b" -> -2.0), -9.0, 2)
    toks shouldBe Seq("a", "a", "a", "b")
    // a -Inf unk fallback would break total coverage: rejected at build
    val e = intercept[IllegalArgumentException] {
      tokensOf("x", Seq("a" -> -1.0), Double.NegativeInfinity, 2)
    }
    e.getMessage should include("unkLogp")
  }

  test("undersupplied piece universe fails fast instead of returning fewer pieces") {
    // "ab ab": substrings ≤ 2 are {a, b, ab} — 3 candidates < 10
    val e = intercept[IllegalArgumentException] {
      Unigram.train(docsDf(Seq(1L -> "ab ab")), "text",
        vocabSize = 10, maxPieceLen = 2)
    }
    e.getMessage should include("candidate pieces")
  }

  test("alphabet larger than vocabSize fails fast") {
    val docs = docsDf(Seq(1L -> "abcdefghij"))
    val e = intercept[IllegalArgumentException] {
      Unigram.train(docs, "text", vocabSize = 5, maxPieceLen = 2)
    }
    e.getMessage should include("alphabet")
  }

  test("sampled segmentation: lossless, deterministic, posterior-shaped, Viterbi at high alpha") {
    val vocab = Seq("ab" -> -1.0, "a" -> -3.0, "b" -> -3.0)
    val m = Unigram.Model(vocab, unkLogp = -9.0, maxPieceLen = 2, llTrace = Nil)
    // distribution over many seeds for the word "ab":
    //   seg ["ab"]  weight exp(alpha * -1); seg ["a","b"] weight exp(alpha * -6)
    //   at alpha=1: P(["ab"]) = e^-1 / (e^-1 + e^-6) ≈ 0.9933
    val df = docsDf((1L to 400L).map(i => i -> "ab"))
    val counts = Unigram.tokenizeSampled(df, "doc_id", "text", m, 1.0, seed = 7L)
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    counts.length shouldBe 400
    val twoPieceFrac = counts.count(_ == 2L).toDouble / counts.length
    twoPieceFrac should be < 0.05 // expected ≈ 0.0067
    // flattened posterior samples the 2-piece path far more often
    val countsFlat = Unigram.tokenizeSampled(df, "doc_id", "text", m, 0.05, seed = 7L)
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    val twoFlat = countsFlat.count(_ == 2L).toDouble / countsFlat.length
    twoFlat should be > (twoPieceFrac + 0.2)
    // high alpha ≈ Viterbi: every doc segments as the argmax ["ab"]
    val hi = Unigram.tokenizeSampled(df, "doc_id", "text", m, 50.0, seed = 3L)
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    all(hi) shouldBe 1L
    // determinism: same seed reproduces exactly; different seed differs
    val docs2 = docsDf(Seq(1L -> "abab abba baab", 2L -> "aabb ab"))
    def toks(seed: Long) =
      Unigram.tokenizeSampled(docs2, "doc_id", "text", m, 0.3, seed)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    toks(11L) shouldBe toks(11L)
    toks(11L) should not be toks(12L)
    // losslessness under any seed/alpha
    (1L to 5L).foreach { s =>
      val re = Unigram.tokenizeSampled(docs2, "doc_id", "text", m, 0.3, s)
        .groupBy("doc_id")
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("token_pos"), col("token")))),
          x => x.getField("token")), "")).as("rmd5"))
        .join(docs2.select(col("doc_id"),
          md5(regexp_replace(TextOps.normalized(col("text")), " ", "")).as("cmd5")),
          Seq("doc_id"))
      re.filter(col("rmd5") =!= col("cmd5")).count() shouldBe 0L
    }
  }

  test("saveModel/loadModel round-trips pieces and serve parameters exactly") {
    val docs = docsDf(Seq(
      1L -> "the cat sat on the mat",
      2L -> "a rat and a cat"))
    val m = Unigram.train(docs, "text", vocabSize = 18,
      maxPieceLen = 3, seedSize = 64, emIters = 2, unkLogp = -17.5)
    val dir = java.nio.file.Files
      .createTempDirectory("unigram-model").toString
    Unigram.saveModel(m, dir, spark)
    val m2 = Unigram.loadModel(spark, dir)
    m2.pieces shouldBe m.pieces // bit-exact doubles through parquet
    m2.unkLogp shouldBe m.unkLogp
    m2.maxPieceLen shouldBe m.maxPieceLen
    m2.llTrace shouldBe Nil
    // serving with the loaded model is identical
    val a = Unigram.tokenize(docs, "doc_id", "text", m).collect().toSeq
    val b = Unigram.tokenize(docs, "doc_id", "text", m2).collect().toSeq
    b should contain theSameElementsAs a
  }

  test("loadModel refuses a stats sidecar with a NULL or missing field, naming its contract") {
    val docs = docsDf(Seq(1L -> "the cat sat on the mat", 2L -> "a rat and a cat"))
    val m = Unigram.train(docs, "text", vocabSize = 18,
      maxPieceLen = 3, seedSize = 64, emIters = 2)
    for ((why, corrupt) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "NULL unk_logp" -> (_.withColumn("unk_logp", lit(null).cast("double"))),
        "missing field max_piece_len" -> (_.withColumnRenamed("max_piece_len", "renamed")))) {
      val dir = java.nio.file.Files.createTempDirectory("unigram-bad").toString
      Unigram.saveModel(m, dir, spark)
      SidecarFaults.rewrite(spark, s"$dir/stats")(corrupt)
      val e = intercept[IllegalArgumentException](Unigram.loadModel(spark, dir))
      e.getMessage should include ("Unigram.saveModel sidecar contract")
      e.getMessage should include (why)
    }
  }

  test("train + tokenize round-trips the sf0.001 documents losslessly") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val m = Unigram.train(docs, "text", vocabSize = 200,
      maxPieceLen = 4, seedSize = 1 << 10, emIters = 2)
    m.llMonotone shouldBe true
    m.pieces.size shouldBe 200
    val toks = Unigram.tokenize(docs, "doc_id", "text", m)
      .groupBy("doc_id")
      .agg(md5(array_join(
        transform(
          array_sort(collect_list(struct(col("token_pos"), col("token")))),
          x => x.getField("token")), "")).as("rmd5"))
    val base = docs.select(col("doc_id"),
      md5(regexp_replace(TextOps.normalized(col("text")), " ", ""))
        .as("cmd5"))
      .filter(regexp_replace(TextOps.normalized(col("text")), " ", "") =!= "")
    val joined = base.join(toks, Seq("doc_id"), "left")
    joined.filter(col("rmd5").isNull || col("rmd5") =!= col("cmd5"))
      .count() shouldBe 0L
  }
}
