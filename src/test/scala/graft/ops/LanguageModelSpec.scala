package graft.ops

import org.scalatest.matchers.should.Matchers

import graft.{SidecarFaults, SparkSpec}

/** Bigram-LM cross-entropy against hand-computed add-1 probabilities. */
class LanguageModelSpec extends SparkSpec with Matchers {

  test("bigramCrossEntropy matches hand-computed smoothed log-losses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b c"),
      (3L, "x") // single token: no bigrams, absent from output
    ).toDF("doc_id", "text")
    val out = LanguageModel.bigramCrossEntropy(docs, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // counts: c("a b")=3, c("b a")=1, c("b c")=1; prefixes a->3, b->2; V=4
    val pAB = (3.0 + 1) / (3 + 4) // P(b|a)
    val pBA = (1.0 + 1) / (2 + 4)
    val pBC = (1.0 + 1) / (2 + 4)
    val ce1 = -(math.log(pAB) + math.log(pBA) + math.log(pAB)) / 3
    val ce2 = -(math.log(pAB) + math.log(pBC)) / 2
    out.keySet shouldBe Set(1L, 2L)
    out(1L)._1 shouldBe 3L
    out(2L)._1 shouldBe 2L
    out(1L)._2 shouldBe ce1 +- 1e-9
    out(2L)._2 shouldBe ce2 +- 1e-9
  }

  test("cross-scoring: unseen bigrams score via smoothing at the high-loss tail") {
    import spark.implicits._
    // train "a b a b c d": c("a b")=2, c("b a")=1, c("b c")=1, c("c d")=1;
    // prefixes a->2, b->2, c->1; V={a,b,c,d}=4
    val train = Seq((1L, "a b a b c d")).toDF("doc_id", "text")
    val out = LanguageModel.bigramCrossEntropy(
      Seq((8L, "a b z"), (9L, "q r")).toDF("doc_id", "text"),
      train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 8: "a b" seen (2+1)/(2+4); "b z" unseen continuation (0+1)/(2+4)
    val ce8 = -(math.log(3.0 / 6) + math.log(1.0 / 6)) / 2
    // doc 9: "q r" fully unseen prefix: (0+1)/(0+4)
    val ce9 = -math.log(1.0 / 4)
    out(8L)._1 shouldBe 2L
    out(8L)._2 shouldBe ce8 +- 1e-9
    out(9L)._1 shouldBe 1L
    out(9L)._2 shouldBe ce9 +- 1e-9
    // the out-of-domain doc is the worse-scoring one
    out(9L)._2 should be > out(8L)._2
  }

  test("charNgramLangId matches a hand-computed NB argmax; short docs predict NULL") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Two "languages" with disjoint unigram alphabets, n=1 so the
    // smoothed NB scores are hand-checkable: P(g|L) = (c+1)/(N_L+V).
    val train = Seq(
      (1L, "aab", "A"), (2L, "aba", "A"),   // A: a×4, b×2 → N_A=6
      (3L, "xxy", "B")                       // B: x×2, y×1 → N_B=3
    ).toDF("doc_id", "text", "lang")
    val score = Seq(
      (10L, "aa"),   // A: 2·ln(5/10)+lnP(A)  B: 2·ln(1/7)+lnP(B) → A
      (11L, "xy"),   // B wins on both grams
      (12L, "")      // shorter than n → NULL
    ).toDF("doc_id", "text")
    val out = LanguageModel
      .charNgramLangId(score, train, "doc_id", "text", "lang", n = 1)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    out shouldBe Map(10L -> Some("A"), 11L -> Some("B"), 12L -> None)
  }

  test("char-trigram NB beats marker-word langId on held-out docs that avoid the markers") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val markers = Seq(
      "en" -> Seq("the", "a", "and", "of"),
      "de" -> Seq("der", "die", "das", "und"),
      "fr" -> Seq("le", "la", "et", "de"),
      "es" -> Seq("el", "la", "y", "de"))
    // Training corpus: ordinary sentences per language (markers present
    // or not — the model sees orthography, not a curated word list).
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
      (2L, "she walked through the garden and watched the evening light fade slowly", "en"),
      (3L, "der schnelle braune fuchs springt ueber den faulen hund am flussufer", "de"),
      (4L, "sie ging durch den garten und beobachtete das schwindende abendlicht", "de"),
      (5L, "le renard brun rapide saute par dessus le chien paresseux pres de la riviere", "fr"),
      (6L, "elle marchait dans le jardin et regardait la lumiere du soir disparaitre", "fr"),
      (7L, "el rapido zorro marron salta sobre el perro perezoso cerca del rio", "es"),
      (8L, "ella caminaba por el jardin y miraba desvanecerse la luz de la tarde", "es")
    ).toDF("doc_id", "text", "lang")
    // Held-out docs deliberately avoid every marker word — the marker
    // heuristic returns 'und' (or a cross-language false hit: "de" is
    // an fr/es marker), while trigrams still carry the orthography.
    val heldOut = Seq(
      (101L, "quick foxes jump happily across green meadows every bright morning", "en"),
      (102L, "schnelle fuechse springen froehlich ueber gruene wiesen jeden hellen morgen", "de"),
      (103L, "renards rapides sautent joyeusement sur les prairies vertes chaque matin clair", "fr"),
      (104L, "zorros rapidos saltan alegremente sobre praderas verdes cada manana clara", "es")
    ).toDF("doc_id", "text", "lang")
    val nb = LanguageModel
      .charNgramLangId(heldOut, train, "doc_id", "text", "lang")
      .withColumnRenamed("doc_id", "id")
    val nbAcc = heldOut.join(nb, col("doc_id") === col("id"))
      .filter(col("lang_pred") === col("lang")).count()
    val mkAcc = heldOut
      .withColumn("pred", TextOps.langId(col("text"), markers))
      .filter(col("pred") === col("lang")).count()
    nbAcc shouldBe 4L
    mkAcc should be < nbAcc
  }

  // ---- interpolated Kneser-Ney ----

  /** Naive driver-side reference of the exact formula the operator
    * documents (seen/unseen branches, ε-floor, 9 dp term rounding). */
  private def naiveKn(
      train: Seq[String], doc: Seq[String], d: Double = 0.75,
      eps: Double = 1e-6): Option[(Long, Double)] = {
    val bgs = train.flatMap(t => t.split(" ").sliding(2).filter(_.length == 2)
      .map(p => (p(0), p(1))).toSeq)
    val c12 = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.toSeq.groupBy(_._1._1).view
      .mapValues(ps => (ps.map(_._2).sum, ps.size.toLong)).toMap
    val n1c = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1pp = c12.size.toDouble
    val v = train.flatMap(_.split(" ")).distinct.size.toDouble
    val scoreBgs = doc.sliding(2).filter(_.length == 2)
      .map(p => (p(0), p(1))).toSeq
    if (scoreBgs.isEmpty) return None
    val terms = scoreBgs.map { case (w1, w2) =>
      val pc = n1c.getOrElse(w2, 0L).toDouble / n1pp
      val pkn = c1.get(w1) match {
        case None => pc
        case Some((cw1, n1w1)) =>
          math.max(c12.getOrElse((w1, w2), 0L).toDouble - d, 0.0) / cw1 +
            d * n1w1 / cw1 * pc
      }
      val p = (1.0 - eps) * pkn + eps / (v + 1.0)
      BigDecimal(-math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    Some((scoreBgs.size.toLong,
      (terms.sum / scoreBgs.size).toDouble))
  }

  test("kneserNeyCrossEntropy matches hand-computed discounted probabilities") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = LanguageModel.kneserNeyCrossEntropy(docs, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // c12: ab=3, ba=1, bc=1. c1: a→(3,1), b→(2,2). n1c: a=1,b=1,c=1.
    // n1pp=3, V=3, D=0.75.
    //   P(b|a) = 2.25/3 + 0.75·1/3·(1/3) = 0.8333…
    //   P(a|b) = 0.25/2 + 0.75·2/2·(1/3) = 0.375
    //   P(c|b) = 0.25/2 + 0.75·2/2·(1/3) = 0.375
    def fl(p: Double) = (1 - 1e-6) * p + 1e-6 / 4.0
    val pba = fl(2.25 / 3 + 0.75 * 1 / 3.0 * (1 / 3.0))
    val pab = fl(0.375); val pcb = fl(0.375)
    val ce1 = -(math.log(pba) * 2 + math.log(pab)) / 3
    val ce2 = -(math.log(pba) + math.log(pcb)) / 2
    out(1L)._1 shouldBe 3L
    out(1L)._2 shouldBe ce1 +- 1e-6 // 9 dp term rounding
    out(2L)._1 shouldBe 2L
    out(2L)._2 shouldBe ce2 +- 1e-6
  }

  test("KN discounting is mass-preserving over seen prefixes") {
    // Σ_{w2 ∈ V} P_KN(w2 | w1) = 1 for every seen prefix w1: the
    // discount taken from seen bigrams returns through exactly
    // D·N1+(w1·)/c(w1·) of continuation mass (Σ pc over V = 1 when
    // every token also appears as a continuation).
    val train = Seq("a b a b c", "b a c a", "c b")
    val bgs = train.flatMap(_.split(" ").sliding(2).map(p => (p(0), p(1))))
    val c12 = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.toSeq.groupBy(_._1._1).view
      .mapValues(ps => (ps.map(_._2).sum, ps.size.toLong)).toMap
    val n1c = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1pp = c12.size.toDouble
    val vocab = train.flatMap(_.split(" ")).distinct
    for ((w1, (cw1, n1w1)) <- c1) {
      val mass = vocab.map { w2 =>
        val pc = n1c.getOrElse(w2, 0L).toDouble / n1pp
        math.max(c12.getOrElse((w1, w2), 0L).toDouble - 0.75, 0.0) / cw1 +
          0.75 * n1w1 / cw1 * pc
      }.sum
      mass shouldBe 1.0 +- 1e-12
    }
  }

  test("kneserNeyCrossEntropy equals the naive reference when cross-scoring") {
    import spark.implicits._
    val trainTexts = Seq(
      "the cat sat on the mat", "the dog sat on the rug",
      "a cat and a dog", "the mat and the rug", "san francisco fog",
      "fog on the bay")
    val scoreTexts = Seq(
      (10L, "the cat sat on the rug"), // all-seen tokens, mixed bigrams
      (11L, "francisco the"),          // seen tokens, unseen bigram
      (12L, "zz qq the cat"),          // OOV tokens → ε-floor terms
      (13L, "fog"))                    // 1 token → absent
    val train = trainTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = LanguageModel.kneserNeyCrossEntropy(
      scoreTexts.toDF("doc_id", "text"), train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out.keySet shouldBe Set(10L, 11L, 12L)
    for ((id, text) <- scoreTexts if id != 13L) {
      val Some((n, ce)) = naiveKn(trainTexts, text.split(" ").toSeq)
      out(id)._1 shouldBe n
      out(id)._2 shouldBe ce +- 1e-9
    }
    // OOV-heavy doc lands at the high-loss tail
    out(12L)._2 should be > out(10L)._2
  }

  /** Naive order-3 reference mirroring every branch (seen/unseen at
    * both upper levels, ε-floor, 9 dp rounding). */
  private def naiveKn3(
      train: Seq[String], doc: Seq[String], d: Double = 0.75,
      eps: Double = 1e-6): Option[(Long, Double)] = {
    val tgs = train.flatMap(_.split(" ").sliding(3).filter(_.length == 3)
      .map(p => (p(0), p(1), p(2))).toSeq)
    val c3 = tgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val p12 = c3.toSeq.groupBy { case ((a, b, _), _) => (a, b) }.view
      .mapValues(ps => (ps.map(_._2).sum, ps.size.toLong)).toMap
    val t23 = c3.keys.toSeq.groupBy { case (_, b, c) => (b, c) }.view
      .mapValues(_.size.toLong).toMap
    val mid = t23.toSeq.groupBy(_._1._1).view
      .mapValues(ps => (ps.map(_._2).sum, ps.size.toLong)).toMap
    val n1c = t23.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1pp = t23.size.toDouble
    val v = train.flatMap(_.split(" ")).distinct.size.toDouble
    val scoreTgs = doc.sliding(3).filter(_.length == 3)
      .map(p => (p(0), p(1), p(2))).toSeq
    if (scoreTgs.isEmpty) return None
    val terms = scoreTgs.map { case (w1, w2, w3) =>
      val pc = n1c.getOrElse(w3, 0L).toDouble / n1pp
      val pmid = mid.get(w2) match {
        case None => pc
        case Some((tmid, nmid)) =>
          math.max(t23.getOrElse((w2, w3), 0L).toDouble - d, 0.0) / tmid +
            d * nmid / tmid * pc
      }
      val p3 = p12.get((w1, w2)) match {
        case None => pmid
        case Some((c2, n3)) =>
          math.max(c3.getOrElse((w1, w2, w3), 0L).toDouble - d, 0.0) / c2 +
            d * n3 / c2 * pmid
      }
      val p = (1.0 - eps) * p3 + eps / (v + 1.0)
      BigDecimal(-math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    Some((scoreTgs.size.toLong, (terms.sum / scoreTgs.size).toDouble))
  }

  test("kneserNeyTrigramCrossEntropy equals the naive reference on every branch") {
    import spark.implicits._
    val trainTexts = Seq(
      "the cat sat on the mat", "the dog sat on the rug",
      "a cat and a dog sat", "the mat and the rug", "fog on the bay",
      "san francisco fog on the bay")
    val scoreTexts = Seq(
      (10L, "the cat sat on the rug"),   // seen trigrams + seen backoffs
      (11L, "a dog sat on a mat"),       // unseen (w1,w2) → middle level
      (12L, "rug fog bay cat"),          // unseen everything but unigrams
      (13L, "zz qq ww the cat sat"),     // OOV tokens → ε-floor
      (14L, "fog on"))                   // 2 tokens → absent
    val train = trainTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = LanguageModel.kneserNeyTrigramCrossEntropy(
      scoreTexts.toDF("doc_id", "text"), train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out.keySet shouldBe Set(10L, 11L, 12L, 13L)
    for ((id, text) <- scoreTexts if id != 14L) {
      val Some((n, ce)) = naiveKn3(trainTexts, text.split(" ").toSeq)
      withClue(s"doc $id: ") {
        out(id)._1 shouldBe n
        out(id)._2 shouldBe ce +- 1e-9
      }
    }
    // deeper backoff ⇒ higher loss: seen < middle-level < OOV
    out(10L)._2 should be < out(11L)._2
    out(11L)._2 should be < out(13L)._2
  }

  test("order-3 KN is mass-preserving at every level over seen contexts") {
    // Σ_{w3} P(w3|w1w2) = 1 for every seen (w1,w2), PROVIDED every
    // vocab token appears as some trigram's continuation (w3) — which
    // this corpus arranges; same caveat as the bigram law.
    val train = Seq("a b c a b d", "b c a b c", "d a b d c a")
    val tgs = train.flatMap(_.split(" ").sliding(3).map(p => (p(0), p(1), p(2))))
    val c3 = tgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val p12 = c3.toSeq.groupBy { case ((a, b, _), _) => (a, b) }.view
      .mapValues(ps => (ps.map(_._2).sum, ps.size.toLong)).toMap
    val t23 = c3.keys.toSeq.groupBy { case (_, b, c) => (b, c) }.view
      .mapValues(_.size.toLong).toMap
    val mid = t23.toSeq.groupBy(_._1._1).view
      .mapValues(ps => (ps.map(_._2).sum, ps.size.toLong)).toMap
    val n1c = t23.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1pp = t23.size.toDouble
    val vocab = train.flatMap(_.split(" ")).distinct
    // base sums to 1 (every token IS a continuation here)
    vocab.map(w => n1c.getOrElse(w, 0L).toDouble / n1pp).sum shouldBe 1.0 +- 1e-12
    for ((w2, (tmid, nmid)) <- mid) {
      val midMass = vocab.map { w3 =>
        val pc = n1c.getOrElse(w3, 0L).toDouble / n1pp
        math.max(t23.getOrElse((w2, w3), 0L).toDouble - 0.75, 0.0) / tmid +
          0.75 * nmid / tmid * pc
      }.sum
      midMass shouldBe 1.0 +- 1e-12
    }
    for (((w1, w2), (c2, n3)) <- p12) {
      val mass = vocab.map { w3 =>
        val pc = n1c.getOrElse(w3, 0L).toDouble / n1pp
        val pmid = mid.get(w2) match {
          case None => pc
          case Some((tmid, nmid)) =>
            math.max(t23.getOrElse((w2, w3), 0L).toDouble - 0.75, 0.0) / tmid +
              0.75 * nmid / tmid * pc
        }
        math.max(c3.getOrElse((w1, w2, w3), 0L).toDouble - 0.75, 0.0) / c2 +
          0.75 * n3 / c2 * pmid
      }.sum
      withClue(s"prefix ($w1,$w2): ") { mass shouldBe 1.0 +- 1e-12 }
    }
  }

  test("KN model save/load/serve reproduces in-engine scores bit-identically") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat and the dog"), (11L, "rug dog zz")).toDF("doc_id", "text")
    val want = LanguageModel.kneserNeyCrossEntropy(
      score, train, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("kn-model").toString
    LanguageModel.saveKnModel(LanguageModel.fitKn(train, "text"), dir)
    val got = LanguageModel.kneserNeyAgainst(
      score, "doc_id", "text", LanguageModel.loadKnModel(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    got shouldBe want
  }

  test("order-3 model save/load/serve reproduces in-engine scores bit-identically") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog sat")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat on a rug"), (11L, "dog sat zz on")).toDF("doc_id", "text")
    val want = LanguageModel.kneserNeyTrigramCrossEntropy(
      score, train, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("kn3-model").toString
    LanguageModel.saveKn3Model(LanguageModel.fitKn3(train, "text"), dir)
    val got = LanguageModel.kneserNeyTrigramAgainst(
      score, "doc_id", "text", LanguageModel.loadKn3Model(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    got shouldBe want
  }

  test("Witten-Bell matches hand-computed interpolation and is mass-preserving") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // c12: ab=3, ba=1, bc=1. c1: a→(3, n1w1=1), b→(2, n1w1=2).
    // n1c: a=1, b=1, c=1; n1pp=3, V=3.
    //   P(b|a) = 3/(3+1) + 1/(3+1)·(1/3) = 0.75 + 1/12
    //   P(a|b) = 1/(2+2) + 2/(2+2)·(1/3) = 0.25 + 1/6
    //   P(c|b) = same as P(a|b)
    def fl(p: Double) = (1 - 1e-6) * p + 1e-6 / 4.0
    val pba = fl(3.0 / 4 + 1.0 / 4 * (1.0 / 3))
    val pab = fl(1.0 / 4 + 2.0 / 4 * (1.0 / 3))
    val out = LanguageModel.wittenBellAgainst(
      docs, "doc_id", "text", LanguageModel.fitKn(docs, "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out(1L)._1 shouldBe 3L
    out(1L)._2 shouldBe -(math.log(pba) * 2 + math.log(pab)) / 3 +- 1e-6
    out(2L)._2 shouldBe -(math.log(pba) + math.log(pab)) / 2 +- 1e-6
    // mass law: Σ_w2 P(w2|w1) = c1/(c1+λ) + λ/(c1+λ)·Σpc = 1
    val mass = Seq("a", "b", "c").map { w2 =>
      val c = Map("a" -> 0L, "b" -> 3L, "c" -> 0L)(w2) // prefix "a"
      val pc = 1.0 / 3
      c / 4.0 + 1.0 / 4 * pc
    }.sum
    mass shouldBe 1.0 +- 1e-12
  }

  test("one saved model serves KN, modified-KN-style knobs, and WB without refit") {
    import spark.implicits._
    val train = MknTrain.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val score = Seq((10L, "v0 v1 v2 v5")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("multi-smooth").toString
    LanguageModel.saveKnModel(LanguageModel.fitKn(train, "text"), dir)
    val m = LanguageModel.loadKnModel(spark, dir)
    val kn = LanguageModel.kneserNeyAgainst(score, "doc_id", "text", m)
      .head().getDouble(2)
    val wb = LanguageModel.wittenBellAgainst(score, "doc_id", "text", m)
      .head().getDouble(2)
    // distinct smoothings, same artifact, both finite
    kn should not be wb
    kn.isNaN shouldBe false
    wb.isNaN shouldBe false
  }

  test("KN serve knobs (discount, eps) apply at serve time on one saved model") {
    import spark.implicits._
    val train = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val score = Seq((10L, "a b c")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn-knobs").toString
    LanguageModel.saveKnModel(LanguageModel.fitKn(train, "text"), dir)
    val m = LanguageModel.loadKnModel(spark, dir)
    def ce(d: Double) = LanguageModel
      .kneserNeyAgainst(score, "doc_id", "text", m, discount = d)
      .collect().head.getDouble(2)
    // harsher discount moves mass from the seen path to continuation:
    // different smoothing, same counts, no re-fit
    ce(0.1) should not be ce(0.9)
  }

  /** Naive modified-KN reference: Chen-Goodman discount estimation +
    * count-class back-off, mirroring every branch. */
  private def naiveMkn(
      train: Seq[String], doc: Seq[String],
      eps: Double = 1e-6): Option[(Long, Double)] = {
    val bgs = train.flatMap(_.split(" ").sliding(2).filter(_.length == 2)
      .map(p => (p(0), p(1))))
    val c12 = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cc = (1 to 4).map(j => c12.values.count(_ == j).toLong)
    assert(cc.forall(_ > 0), s"spec corpus must have all count-of-counts > 0, got $cc")
    val y = cc(0) / (cc(0) + 2.0 * cc(1))
    val d1 = 1.0 - 2.0 * y * cc(1) / cc(0)
    val d2 = 2.0 - 3.0 * y * cc(2) / cc(1)
    val d3 = 3.0 - 4.0 * y * cc(3) / cc(2)
    def dOf(c: Long) = if (c == 1) d1 else if (c == 2) d2 else d3
    val c1 = c12.toSeq.groupBy(_._1._1).view.mapValues { ps =>
      (ps.map(_._2).sum,
        ps.count(_._2 == 1).toLong, ps.count(_._2 == 2).toLong,
        ps.count(_._2 >= 3).toLong)
    }.toMap
    val n1c = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1pp = c12.size.toDouble
    val v = train.flatMap(_.split(" ")).distinct.size.toDouble
    val scoreBgs = doc.sliding(2).filter(_.length == 2)
      .map(p => (p(0), p(1))).toSeq
    if (scoreBgs.isEmpty) return None
    val terms = scoreBgs.map { case (w1, w2) =>
      val pc = n1c.getOrElse(w2, 0L).toDouble / n1pp
      val pkn = c1.get(w1) match {
        case None => pc
        case Some((cw1, nn1, nn2, nn3)) =>
          val c = c12.getOrElse((w1, w2), 0L)
          val d = if (c == 0) 0.0 else dOf(c)
          (c.toDouble - d) / cw1 +
            (d1 * nn1 + d2 * nn2 + d3 * nn3) / cw1 * pc
      }
      val p = (1.0 - eps) * pkn + eps / (v + 1.0)
      BigDecimal(-math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    Some((scoreBgs.size.toLong, (terms.sum / scoreBgs.size).toDouble))
  }

  /** A corpus with ZIPF-SHAPED count-of-counts — cc = (20, 6, 2, 1) —
    * which the Chen-Goodman closed form needs (cc2 = cc3 = cc4 = 1
    * drives D2/D3+ negative; natural corpora decay, toy ones must be
    * built to). Two-token docs pin each bigram's count exactly; the
    * singleton chain closes a cycle so EVERY token appears as a
    * continuation and Σ P_cont = 1 holds for the mass law.
    * Estimated discounts: Y = 20/32, D1 = 0.625, D2 = 1.375,
    * D3+ = 1.75 — all inside their count-class bounds. */
  private val MknTrain: Seq[String] = {
    def rep(a: Int, b: Int, k: Int) = Seq.fill(k)(s"v$a v$b")
    rep(0, 1, 4) ++ rep(1, 2, 3) ++ rep(2, 3, 3) ++
      (3 to 8).flatMap(i => rep(i, i + 1, 2)) ++
      (9 to 27).map(i => s"v$i v${i + 1}") :+ "v28 v0"
  }

  test("modifiedKneserNeyCrossEntropy equals the naive Chen-Goodman reference") {
    import spark.implicits._
    val train = MknTrain.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val scoreTexts = Seq(
      (10L, "v0 v1 v2 v3 v9 v10"), // count classes 4, 3, unseen, 1
      (11L, "v5 v6 zz v28 v0"),    // count-2 + OOV + singleton
      (12L, "v0 v1 v0 v1"))        // repeated count-4 bigram + unseen
    val out = LanguageModel.modifiedKneserNeyCrossEntropy(
      scoreTexts.toDF("doc_id", "text"), train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for ((id, text) <- scoreTexts) {
      val Some((n, ce)) = naiveMkn(MknTrain, text.split(" ").toSeq)
      withClue(s"doc $id: ") {
        out(id)._1 shouldBe n
        out(id)._2 shouldBe ce +- 1e-9
      }
    }
  }

  test("modified KN count-class discounting is mass-preserving") {
    val bgs = MknTrain.flatMap(_.split(" ").sliding(2).map(p => (p(0), p(1))))
    val c12 = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cc = (1 to 4).map(j => c12.values.count(_ == j).toLong)
    val y = cc(0) / (cc(0) + 2.0 * cc(1))
    val d1 = 1.0 - 2.0 * y * cc(1) / cc(0)
    val d2 = 2.0 - 3.0 * y * cc(2) / cc(1)
    val d3 = 3.0 - 4.0 * y * cc(3) / cc(2)
    // all three discounts inside their count-class bounds
    d1 should (be > 0.0 and be <= 1.0)
    d2 should (be > 0.0 and be <= 2.0)
    d3 should (be > 0.0 and be <= 3.0)
    val c1 = c12.toSeq.groupBy(_._1._1).view.mapValues { ps =>
      (ps.map(_._2).sum,
        ps.count(_._2 == 1).toLong, ps.count(_._2 == 2).toLong,
        ps.count(_._2 >= 3).toLong)
    }.toMap
    val n1c = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1pp = c12.size.toDouble
    val vocab = MknTrain.flatMap(_.split(" ")).distinct
    // Σ pc = 1 requires every token to appear as a continuation; this
    // corpus arranges it (each doc's first token recurs internally
    // elsewhere... assert it rather than assume it).
    vocab.map(w => n1c.getOrElse(w, 0L).toDouble / n1pp).sum shouldBe 1.0 +- 1e-12
    for ((w1, (cw1, nn1, nn2, nn3)) <- c1) {
      val mass = vocab.map { w2 =>
        val c = c12.getOrElse((w1, w2), 0L)
        val d = if (c == 0) 0.0 else if (c == 1) d1 else if (c == 2) d2 else d3
        val pc = n1c.getOrElse(w2, 0L).toDouble / n1pp
        (c.toDouble - d) / cw1 + (d1 * nn1 + d2 * nn2 + d3 * nn3) / cw1 * pc
      }.sum
      withClue(s"prefix $w1: ") { mass shouldBe 1.0 +- 1e-12 }
    }
  }

  test("modified KN fails fast with its documented message on a bigram-less corpus") {
    import spark.implicits._
    // every doc has one token → zero bigrams → count-of-counts all
    // zero; this must hit the require, not an NPE off a NULL sum
    val df = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LanguageModel.modifiedKneserNeyCrossEntropy(df, df, "doc_id", "text")
    }
    e.getMessage should include("corpus too small or degenerate")
  }

  test("tuneKnDiscount scores one model under every candidate, no refit") {
    import spark.implicits._
    val train = MknTrain.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val heldout = Seq((10L, "v0 v1 v2 v5 v6"), (11L, "v1 v0 zz v9 v10"))
      .toDF("doc_id", "text")
    val m = LanguageModel.fitKn(train, "text")
    val grid = Seq(0.1, 0.5, 0.9)
    val out = LanguageModel.tuneKnDiscount(
      heldout, "doc_id", "text", m, grid)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    out.map(_._1).toSeq shouldBe grid
    out.map(_._2).distinct.toSeq shouldBe Seq(out.head._2) // same bigrams each time
    out.map(_._3).distinct.length shouldBe 3 // discounts genuinely move the loss
    // each candidate equals the per-doc scorer's corpus-level number
    for ((d, _, ce) <- out) {
      val perDoc = LanguageModel.kneserNeyAgainst(
        heldout, "doc_id", "text", m, discount = d)
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
      val n = perDoc.map(_._1).sum
      val corpus = perDoc.map { case (nb, c) => nb * c }.sum / n
      ce shouldBe corpus +- 1e-7 // per-doc means recombine approximately
    }
  }

  test("noveltyRate counts exactly the bigrams absent from the model") {
    import spark.implicits._
    val train = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val m = LanguageModel.fitKn(train, "text")
    val score = Seq(
      (10L, "the cat sat"),        // both bigrams seen → 0
      (11L, "the cat ran far"),    // "the cat" seen; 2 unseen
      (12L, "zz qq"),              // 1 bigram, unseen → 1.0
      (13L, "mat")).toDF("doc_id", "text") // 1 token → absent
    val out = LanguageModel.noveltyRate(score, "doc_id", "text", m)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    out.keySet shouldBe Set(10L, 11L, 12L)
    out(10L) shouldBe ((2L, 0L, 0.0))
    out(11L) shouldBe ((3L, 2L, 2.0 / 3.0))
    out(12L) shouldBe ((1L, 1L, 1.0))
  }

  // ---- perplexity bucketing ----

  test("perplexityBuckets splits terciles with monotone cut points") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scored = (1 to 9).map(i => (i.toLong, i * 1.1)).toDF("doc_id", "ce")
    val out = LanguageModel.perplexityBuckets(
      scored, "doc_id", "ce", nBuckets = 3, exactThresholds = true)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    out shouldBe (1 to 9).map(i => i.toLong -> (1 + (i - 1) / 3)).toMap
  }

  test("perplexityBuckets tolerates a user 'ts' column and guards its outputs") {
    import spark.implicits._
    // regression: the internal threshold column was aliased "ts" —
    // any scored frame carrying its own timestamp column hit an
    // ambiguous reference or lost the column on the way out.
    val scored = (1 to 6).map(i => (i.toLong, i * 1.0, i * 100L))
      .toDF("doc_id", "ce", "ts")
    val out = LanguageModel.perplexityBuckets(
      scored, "doc_id", "ce", nBuckets = 2, exactThresholds = true)
    out.columns.toSeq shouldBe Seq("doc_id", "ce", "ts", "ppl_bucket")
    out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap shouldBe
      (1 to 6).map(i => i.toLong -> i * 100L).toMap
    // output-name collision dies loudly, not silently
    val e = intercept[IllegalArgumentException] {
      LanguageModel.perplexityBuckets(
        scored.withColumnRenamed("ts", "ppl_bucket"), "doc_id", "ce", 2)
    }
    e.getMessage should include("collide")
  }

  test("perplexityBuckets: approx path agrees with exact on small data") {
    import spark.implicits._
    val scored = (1 to 300).map(i => (i.toLong, math.sin(i) * 10))
      .toDF("doc_id", "ce")
    val exact = LanguageModel.perplexityBuckets(
      scored, "doc_id", "ce", 4, exactThresholds = true)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val approx = LanguageModel.perplexityBuckets(
      scored, "doc_id", "ce", 4, exactThresholds = false)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // accuracy 10000 on 300 rows: the sketch is exact
    approx shouldBe exact
  }

  // --- Order-5 modified Kneser-Ney -----------------------------------

  private def kn5Corpus(n: Int): Seq[(Long, String)] =
    graft.Kn5TestCorpus.corpus(n)

  /** From-scratch order-5 modified-KN reference: plain Scala maps, no
    * Spark — every statistic, both discount estimations, the level
    * cascade, and the 9-dp DECIMAL term sum recomputed independently
    * of the operator's join/aggregate machinery. */
  private def naiveKn5(
      texts: Map[Long, Seq[String]], eps: Double): Map[Long, Double] = {
    val all5 = texts.values.toList
      .flatMap(ws => ws.sliding(5).filter(_.size == 5).map(_.toList))
    val c5 = all5.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val t4 = c5.keys.toList.groupBy(_.tail).view.mapValues(_.size.toLong).toMap
    val t3 = t4.keys.toList.groupBy(_.tail).view.mapValues(_.size.toLong).toMap
    val t2 = t3.keys.toList.groupBy(_.tail).view.mapValues(_.size.toLong).toMap
    val t1 = t2.keys.toList.groupBy(_.tail).view.mapValues(_.size.toLong).toMap
    val n1pp = t2.size.toLong
    val v = texts.values.flatten.toSet.size.toLong
    def denom(num: Map[List[String], Long])
        : Map[List[String], (Long, Long, Long, Long)] =
      num.toSeq.groupBy(_._1.init).map { case (p, kvs) =>
        p -> ((kvs.map(_._2).sum,
          kvs.count(_._2 == 1L).toLong,
          kvs.count(_._2 == 2L).toLong,
          kvs.count(_._2 >= 3L).toLong))
      }
    val p4 = denom(c5); val d4 = denom(t4)
    val d3 = denom(t3); val d2 = denom(t2)
    def discounts(num: Map[List[String], Long]): (Double, Double, Double) = {
      val cc = (1 to 4).map(j => num.values.count(_ == j).toLong)
      val y = cc(0) / (cc(0) + 2.0 * cc(1))
      (1.0 - 2.0 * y * cc(1) / cc(0),
        2.0 - 3.0 * y * cc(2) / cc(1),
        3.0 - 4.0 * y * cc(3) / cc(2))
    }
    val dl5 = discounts(c5); val dl4 = discounts(t4)
    val dl3 = discounts(t3); val dl2 = discounts(t2)
    def lvl(num: Option[Long], den: Option[(Long, Long, Long, Long)],
        d: (Double, Double, Double), lower: Double): Double = den match {
      case None => lower
      case Some((s, k1, k2, k3)) =>
        val dOf = num match {
          case None => 0.0
          case Some(1L) => d._1
          case Some(2L) => d._2
          case Some(_) => d._3
        }
        math.max(num.getOrElse(0L) - dOf, 0.0) / s +
          (d._1 * k1 + d._2 * k2 + d._3 * k3) / s * lower
    }
    texts.map { case (id, ws) =>
      val grams = ws.sliding(5).filter(_.size == 5).map(_.toList).toList
      val terms = grams.map { g =>
        val p1 = t1.getOrElse(g.takeRight(1), 0L).toDouble / n1pp
        val pl2 = lvl(t2.get(g.takeRight(2)), d2.get(g.slice(3, 4)), dl2, p1)
        val pl3 = lvl(t3.get(g.takeRight(3)), d3.get(g.slice(2, 4)), dl3, pl2)
        val pl4 = lvl(t4.get(g.tail), d4.get(g.slice(1, 4)), dl4, pl3)
        val pl5 = lvl(c5.get(g), p4.get(g.init), dl5, pl4)
        BigDecimal(-math.log((1.0 - eps) * pl5 + eps / (v + 1.0)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      id -> (terms.sum.toDouble / terms.size)
    }
  }

  test("order-5 modified KN matches a from-scratch naive reference") {
    import spark.implicits._
    val corpus = kn5Corpus(40)
    val docs = corpus.toDF("doc_id", "text")
    val got = LanguageModel.modifiedKn5CrossEntropy(
        docs, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val texts = corpus.map { case (id, t) => id -> t.split(' ').toSeq }.toMap
    val expected = naiveKn5(texts, 1e-6)
    got.keySet shouldBe expected.keySet
    got.foreach { case (id, (n, ce)) =>
      n shouldBe (texts(id).size - 4).toLong
      ce shouldBe expected(id) +- 1e-9
    }
  }

  test("order-5 MKN: persisted model serves bit-identically; OOV scores at the tail") {
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn5").toString
    LanguageModel.saveKn5Model(LanguageModel.fitKn5(docs, "text"), dir)
    val inEngine = LanguageModel.modifiedKn5CrossEntropy(
        docs, docs, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    val served = LanguageModel.modifiedKn5Against(
        docs, "doc_id", "text", LanguageModel.loadKn5Model(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    served shouldBe inEngine
    // A fully-OOV doc scores strictly above every in-corpus doc (the
    // ε-floor path at all five levels).
    val oov = Seq((999L, "zz qq ww vv uu tt ss rr"))
      .toDF("doc_id", "text")
    val oovCe = LanguageModel.modifiedKn5Against(
        oov, "doc_id", "text", LanguageModel.loadKn5Model(spark, dir))
      .collect().head.getDouble(2)
    val maxSeen = LanguageModel.modifiedKn5CrossEntropy(
        docs, docs, "doc_id", "text")
      .agg(org.apache.spark.sql.functions.max("kn5_cross_entropy"))
      .head().getDouble(0)
    oovCe should be > maxSeen
  }

  test("flat kn5 layout: disc sidecar equals fresh estimation bit-for-bit") {
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn5-disc").toString
    val fit = LanguageModel.fitKn5(docs, "text")
    LanguageModel.saveKn5Model(fit, dir)
    val loaded = LanguageModel.loadKn5Model(spark, dir)
    // The sidecar is present and IS the re-estimation: discounts are
    // deterministic functions of integer counts that round-trip
    // parquet exactly, so a serve that reads the sidecar serves the
    // same doubles a count-of-counts re-scan would compute.
    loaded.disc shouldBe defined
    // Fresh estimation: re-saving the model without its discounts makes
    // saveKn5Model estimate them again from the loaded count tables.
    val fresh = java.nio.file.Files.createTempDirectory("kn5-disc-fresh").toString
    LanguageModel.saveKn5Model(loaded.copy(disc = None), fresh)
    loaded.disc shouldBe LanguageModel.loadKn5Model(spark, fresh).disc
    // A pre-sidecar layout (disc/ absent) still loads and estimates.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "disc"), true)
    val legacy = LanguageModel.loadKn5Model(spark, dir)
    legacy.disc shouldBe None
    LanguageModel.modifiedKn5Against(docs, "doc_id", "text", legacy)
      .collect().map(_.toString).sorted.toSeq shouldBe
      LanguageModel.modifiedKn5Against(docs, "doc_id", "text", loaded)
        .collect().map(_.toString).sorted.toSeq
  }

  test("order-5 serve: the broadcast-score plan never shuffles the model") {
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    // Saved + loaded — the deployment shape (a fitted-in-place model
    // would put its own FIT lineage, aggregates and all, inside the
    // serve plan text and the exchange count would measure the fit).
    val dir = java.nio.file.Files.createTempDirectory("kn5-plan").toString
    LanguageModel.saveKn5Model(LanguageModel.fitKn5(docs, "text"), dir)
    val model = LanguageModel.loadKn5Model(spark, dir)
    val batch = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    def hashExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString).size
    // Kill statistics-based broadcasting: on test-sized tables the
    // optimizer would broadcast the model in BOTH plans and hide the
    // structural difference. Explicit broadcast() hints survive the
    // threshold, so the semi-broadcast serve keeps its shape — which
    // is the claim: the plan is shuffle-free on the model side BY
    // CONSTRUCTION, not by size estimation.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // The stream's per-batch body: the staged projection, persisted
    // the way withStaged persists it, through the serve built once per
    // stream.
    val staged = LanguageModel.stageKn5Arrivals(batch, "doc_id", "text")
      .persist()
    try {
      val streamPlan = LanguageModel.kn5ServeStaged(model, 1e-6, "doc_id")(staged)
      val bulkPlan = LanguageModel.modifiedKn5Against(
        batch, "doc_id", "text", model)
      // Broadcast-score: the only hash shuffle left is the final
      // per-doc aggregate — every model lookup is a broadcast-semi +
      // small left join, so count tables stream map-side. The bulk
      // plan (correct for self-scoring, where the score side IS the
      // corpus) shuffles per joined table.
      withClue(streamPlan.queryExecution.executedPlan.toString.take(4000)) {
        hashExchanges(streamPlan) should be <= 2
      }
      hashExchanges(bulkPlan) should be > hashExchanges(streamPlan)
      // ...and the two plans return identical rows.
      streamPlan.collect().map(_.toString).sorted.toSeq shouldBe
        bulkPlan.collect().map(_.toString).sorted.toSeq
      // The PUBLIC batch serve exposes the same plan (r13 verdict:
      // the broadcast-semi shape was private and streaming-only, so
      // a daily-ingest BATCH gate shuffled all ten model tables for a
      // small arrival batch): broadcastScore = true must pin the same
      // ≤ 2-exchange shape and the same rows as the bulk cascade.
      val batchServe = LanguageModel.modifiedKn5Against(
        batch, "doc_id", "text", model, broadcastScore = true)
      withClue(batchServe.queryExecution.executedPlan.toString.take(4000)) {
        hashExchanges(batchServe) should be <= 2
      }
      batchServe.collect().map(_.toString).sorted.toSeq shouldBe
        bulkPlan.collect().map(_.toString).sorted.toSeq
    } finally {
      staged.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("broadcastScore enforces its batch bound — corpus-sized batches are refused, bounded ones serve unchanged") {
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val model = LanguageModel.fitKn5(docs, "text")
    // A "corpus-sized" batch relative to a tiny bound: the fixture
    // corpus itself (hundreds of distinct 5-grams ≫ 5). The refusal
    // must fire BEFORE any serve work, naming the remediation.
    val err = intercept[IllegalArgumentException] {
      LanguageModel.modifiedKn5Against(docs, "doc_id", "text", model,
        broadcastScore = true, broadcastMaxKeys = 5L)
    }
    err.getMessage should include("distinct batch 5-grams")
    err.getMessage should include("cascade")
    // A bounded batch under the same tiny bound serves, with rows
    // identical to the cascade (the plan-pin test above covers the
    // ≤2-exchange shape; this pins that the guard changes nothing
    // for admitted batches).
    val batch = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val guarded = LanguageModel.modifiedKn5Against(
      batch, "doc_id", "text", model, broadcastScore = true,
      broadcastMaxKeys = 5L)
    val cascade = LanguageModel.modifiedKn5Against(
      batch, "doc_id", "text", model)
    guarded.collect().map(_.toString).sorted.toSeq shouldBe
      cascade.collect().map(_.toString).sorted.toSeq
    // The default bound admits any sane arrival batch (the flag's
    // whole use case) — no behavior change for existing callers.
    LanguageModel.modifiedKn5Against(batch, "doc_id", "text", model,
      broadcastScore = true).count() should be > 0L
  }

  test("order-5 partitioned layout: pruned serve is row-identical, reads probed buckets only, keeps the broadcast plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn5-part").toString
    val model = LanguageModel.fitKn5(docs, "text")
    LanguageModel.saveKn5ModelPartitioned(model, dir, nKeyBuckets = 8)
    val part = LanguageModel.loadKn5Model(spark, dir)
    part.keyBuckets shouldBe Some(8)
    // Sidecar discounts == the flat layout's fit-time estimation
    // (deterministic driver arithmetic; doubles round-trip parquet
    // exactly).
    val flatDir = java.nio.file.Files.createTempDirectory("kn5-part-flat").toString
    LanguageModel.saveKn5Model(model, flatDir)
    part.disc shouldBe defined
    part.disc shouldBe LanguageModel.loadKn5Model(spark, flatDir).disc
    // Row parity with the in-engine score AND the flat serve — the
    // layout may change which files are read, never a row.
    val served = LanguageModel.modifiedKn5Against(
      docs, "doc_id", "text", part)
    served.collect().map(_.toString).sorted.toSeq shouldBe
      LanguageModel.modifiedKn5Against(docs, "doc_id", "text", model)
        .collect().map(_.toString).sorted.toSeq
    // File-level pruning: a one-bucket filter of c5 reads strictly
    // fewer files than the full table (the layout's whole point).
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val c5 = part.table("c5")
    val full = filesRead(c5)
    full should be >= 4L // the corpus fills most of 8 buckets
    filesRead(c5.filter(col(LanguageModel.Kn5KeyBucket) === 0)) should
      be < full
    // ...and a ONE-DOC serve actually reads a pruned c5: its fg keys
    // hash into fewer buckets than exist.
    val one = docs.filter(col("doc_id") === 7L)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val oneServe = LanguageModel.modifiedKn5Against(
        one, "doc_id", "text", part)
      // Broadcast-score shape survives the pruning.
      withClue(oneServe.queryExecution.executedPlan.toString.take(4000)) {
        "Exchange hashpartitioning".r
          .findAllMatchIn(oneServe.queryExecution.executedPlan.toString)
          .size should be <= 2
      }
      oneServe.collect().map(_.toString).sorted.toSeq shouldBe
        LanguageModel.modifiedKn5Against(one, "doc_id", "text", model)
          .collect().map(_.toString).sorted.toSeq
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("kn5ServeAuto routes by layout and batch size; every route is row-identical") {
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val model = LanguageModel.fitKn5(docs, "text")
    val flatDir = java.nio.file.Files.createTempDirectory("kn5-auto-flat").toString
    val partDir = java.nio.file.Files.createTempDirectory("kn5-auto-part").toString
    LanguageModel.saveKn5Model(model, flatDir)
    LanguageModel.saveKn5ModelPartitioned(model, partDir, nKeyBuckets = 8)
    val expected = LanguageModel.modifiedKn5Against(
      docs, "doc_id", "text", model).collect().map(_.toString).sorted.toSeq
    def routed(dir: String, maxKeys: Long): (Seq[String], String) = {
      val (df, route) = LanguageModel.kn5ServeAutoRouted(
        docs, "doc_id", "text", dir, 1e-6, maxKeys)
      (df.collect().map(_.toString).sorted.toSeq, route)
    }
    // Bounded batch: partitioned layout -> the partition-pruned
    // serve; flat layout -> the broadcast-semi serve.
    val (prunedRows, r1) = routed(partDir, LanguageModel.Kn5BroadcastMaxKeys)
    r1 shouldBe "pruned"
    prunedRows shouldBe expected
    val (bcRows, r2) = routed(flatDir, LanguageModel.Kn5BroadcastMaxKeys)
    r2 shouldBe "broadcast"
    bcRows shouldBe expected
    // Corpus-scale batch (bound forced below this batch's distinct
    // 5-gram count): BOTH layouts route to the shuffle cascade — the
    // partitioned one over its unioned buckets with the sidecar
    // discounts, no count-of-counts re-scan, no driver-bound risk.
    val (cascPartRows, r3) = routed(partDir, 5L)
    r3 shouldBe "cascade"
    cascPartRows shouldBe expected
    val (cascFlatRows, r4) = routed(flatDir, 5L)
    r4 shouldBe "cascade"
    cascFlatRows shouldBe expected
    // The public face takes the same route, decision hidden.
    LanguageModel.kn5ServeAuto(docs, "doc_id", "text", partDir)
      .collect().map(_.toString).sorted.toSeq shouldBe expected
    // A non-model dir dies HERE with the contract named, not at first
    // table read (the lm5ScoreStreamFrom sniff's strictness).
    val junk = java.nio.file.Files.createTempDirectory("kn5-auto-junk").toString
    val e = intercept[IllegalArgumentException] {
      LanguageModel.kn5ServeAuto(docs, "doc_id", "text", junk)
    }
    e.getMessage should include("saveKn5ModelPartitioned")
  }

  test("kn5 layouts round-trip: bucketed → flat → loaded keeps every table and serve") {
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val fit = LanguageModel.fitKn5(docs, "text")
    val root = java.nio.file.Files.createTempDirectory("kn5-trip").toString
    LanguageModel.saveKn5ModelPartitioned(fit, s"$root/part", nKeyBuckets = 8)
    val part = LanguageModel.loadKn5Model(spark, s"$root/part")
    part.keyBuckets shouldBe Some(8)
    part.table("c5").columns should contain(LanguageModel.Kn5KeyBucket)
    // Both writers drop the bucket column of a model loaded bucketed.
    LanguageModel.saveKn5Model(part, s"$root/flat")
    val flat = LanguageModel.loadKn5Model(spark, s"$root/flat")
    flat.keyBuckets shouldBe None
    flat.disc shouldBe part.disc
    LanguageModel.saveKn5ModelPartitioned(part, s"$root/part4", nKeyBuckets = 4)
    val part4 = LanguageModel.loadKn5Model(spark, s"$root/part4")
    part4.keyBuckets shouldBe Some(4)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    (fit.keyedTables :+ ("stats" -> fit.stats))
      .zip(flat.keyedTables :+ ("stats" -> flat.stats))
      .foreach { case ((name, expected), (_, got)) =>
        withClue(name) {
          got.columns.toSeq shouldBe expected.columns.toSeq
          rows(got) shouldBe rows(expected)
        }
      }
    part4.keyedTables.foreach { case (name, df) =>
      withClue(name) {
        df.columns.count(_ == LanguageModel.Kn5KeyBucket) shouldBe 1
        rows(df.drop(LanguageModel.Kn5KeyBucket)) shouldBe
          rows(fit.keyedTables.toMap.apply(name))
      }
    }
    // Every layout serves the same rows as the fitted model.
    val expected = rows(LanguageModel.modifiedKn5Against(
      docs, "doc_id", "text", fit))
    Seq(part, flat, part4).foreach { m =>
      rows(LanguageModel.modifiedKn5Against(docs, "doc_id", "text", m)) shouldBe
        expected
    }
  }

  test("loadKn5Model on a directory that is neither layout fails naming both writers") {
    val junk = java.nio.file.Files.createTempDirectory("kn5-neither").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(junk, "disc"))
    val e = intercept[IllegalArgumentException] {
      LanguageModel.loadKn5Model(spark, junk)
    }
    e.getMessage should include(junk)
    e.getMessage should include("saveKn5Model layout (c5/)")
    e.getMessage should include("saveKn5ModelPartitioned layout (meta/)")
  }

  test("loadKn5Model checks the discount sidecar of both layouts: missing level, NULL double, D1 = 1.5") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val fit = LanguageModel.fitKn5(docs, "text")
    val root = java.nio.file.Files.createTempDirectory("kn5-sidecar").toString
    LanguageModel.saveKn5Model(fit, s"$root/flat")
    LanguageModel.saveKn5ModelPartitioned(fit, s"$root/part", nKeyBuckets = 8)
    for ((dir, sidecar, writer) <- Seq(
        (s"$root/flat", "disc", "saveKn5Model"),
        (s"$root/part", "meta", "saveKn5ModelPartitioned"))) {
      val path = s"$dir/$sidecar"
      val pristine = spark.read.parquet(path)
      val schema = pristine.schema
      val good = pristine.collect().toSeq
      def write(rows: Seq[Row], s: StructType = schema): Unit =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), s)
          .write.mode("overwrite").parquet(path)
      def set(rows: Seq[Row], level: String, field: String, v: Any): Seq[Row] =
        rows.map { r =>
          if (r.getAs[String]("level") != level) r
          else Row.fromSeq(r.toSeq.updated(schema.fieldIndex(field), v))
        }
      val broken = Seq(
        "levels" -> (() => write(good.filterNot(_.getAs[String]("level") == "level 2"))),
        "levels" -> (() => write(good :+ good.head)),
        "NULL d2 at level 'level 3'" -> (() => write(set(good, "level 3", "d2", null))),
        "does not hold at level 'order 5'" -> (() => write(set(good, "order 5", "d1", 1.5)))) ++
        (if (sidecar == "meta") {
          val kb = schema.fieldIndex("key_buckets")
          Seq(
            "key_buckets > 0 does not hold" -> (() =>
              write(good.map(r => Row.fromSeq(r.toSeq.updated(kb, 0))))),
            "NULL key_buckets at level 'level 3'" -> (() =>
              write(set(good, "level 3", "key_buckets", null))),
            "missing field key_buckets" -> (() =>
              write(good.map(r => Row.fromSeq(r.toSeq.patch(kb, Nil, 1))),
                StructType(schema.fields.toSeq.patch(kb, Nil, 1)))),
            "differs between rows" -> (() =>
              write(set(good, "level 2", "key_buckets", 4))))
        } else Nil)
      try broken.foreach { case (why, corrupt) =>
        corrupt()
        val e = intercept[IllegalArgumentException] {
          LanguageModel.loadKn5Model(spark, dir)
        }
        withClue(s"$path / $why: ") {
          e.getMessage should include(path)
          e.getMessage should include(s"the $writer sidecar contract")
          e.getMessage should include(why)
        }
      } finally write(good)
      // Restored, the layout loads and serves again.
      LanguageModel.loadKn5Model(spark, dir).disc.map(_.size) shouldBe Some(4)
    }
    // The layout follows meta/, and the stored table schemas must agree:
    // a meta/ sidecar beside flat tables, or bucketed tables without it,
    // fails instead of serving unpruned or pruning flat tables.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$root/part/meta"),
      fs, new org.apache.hadoop.fs.Path(s"$root/flat/meta"), false, spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/part/meta"), true)
    for ((dir, why) <- Seq(
        s"$root/flat" -> "it holds a meta/ sidecar, but its tables are not key-bucketed",
        s"$root/part" -> s"its tables carry ${LanguageModel.Kn5KeyBucket}, but it holds no meta/ sidecar")) {
      val e = intercept[IllegalArgumentException](LanguageModel.loadKn5Model(spark, dir))
      e.getMessage should include(dir)
      e.getMessage should include(why)
    }
  }

  test("order-5 layouts saved before the model/ sidecar still load and serve the same rows") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import spark.implicits._
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val fit = LanguageModel.fitKn5(docs, "text")
    val root = java.nio.file.Files.createTempDirectory("kn5-legacy").toString
    LanguageModel.saveKn5Model(fit, s"$root/flat")
    LanguageModel.saveKn5ModelPartitioned(fit, s"$root/part", nKeyBuckets = 8)
    // Before the model/ sidecar, the order-5 writers named each table's
    // columns on their own and stored no schema; the discount sidecars
    // (disc/, meta/) had today's shape.
    def k(l: Int) = (1 to 3).map(j => s"k${j}_$l" -> s"k$j")
    val legacyNames: Map[String, Seq[(String, String)]] = Map(
      "c5" -> Seq("s12345" -> "fg"), "p4" -> (Seq("sum5" -> "c4") ++ k(5)),
      "d4" -> (Seq("sum4" -> "tsum4", "n4" -> "nt4") ++ k(4)),
      "d3" -> (Seq("sum3" -> "tsum3", "n3" -> "nt3") ++ k(3)),
      "d2" -> (Seq("p4" -> "w4d", "sum2" -> "tsum2", "n2" -> "nt2") ++ k(2)),
      "t1" -> Seq("s5" -> "w5c", "t1" -> "n1c"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    def legacy(src: String, sidecar: String): String = {
      val dst = s"$src-legacy"
      for (t <- fit.keyedTables.map(_._1) :+ "stats") {
        val w = spark.read.parquet(s"$src/$t")
          .withColumnsRenamed(legacyNames.getOrElse(t, Nil).toMap)
          .write.mode("overwrite")
        (if (sidecar == "meta" && t != "stats") w.partitionBy(LanguageModel.Kn5KeyBucket)
         else w).parquet(s"$dst/$t")
      }
      FileUtil.copy(fs, new Path(s"$src/$sidecar"), fs, new Path(s"$dst/$sidecar"), false, conf)
      dst
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val expected = rows(LanguageModel.modifiedKn5Against(docs, "doc_id", "text", fit))
    val disc = LanguageModel.loadKn5Model(spark, s"$root/flat").disc
    disc shouldBe defined
    val flat = legacy(s"$root/flat", "disc")
    val part = legacy(s"$root/part", "meta")
    val lf = LanguageModel.loadKn5Model(spark, flat)
    val lp = LanguageModel.loadKn5Model(spark, part)
    lf.disc shouldBe disc
    lp.disc shouldBe disc
    lf.keyBuckets shouldBe None
    lp.keyBuckets shouldBe Some(8)
    fit.keyedTables.zip(lf.keyedTables).foreach { case ((name, want), (_, got)) =>
      withClue(name)(got.columns.toSeq shouldBe want.columns.toSeq)
    }
    rows(LanguageModel.modifiedKn5Against(docs, "doc_id", "text", lf)) shouldBe expected
    rows(LanguageModel.modifiedKn5Against(docs, "doc_id", "text", lp)) shouldBe expected
    // A flat layout from before the disc/ sidecar estimates on first use.
    fs.delete(new Path(flat, "disc"), true)
    val bare = LanguageModel.loadKn5Model(spark, flat)
    bare.disc shouldBe None
    rows(LanguageModel.modifiedKn5Against(docs, "doc_id", "text", bare)) shouldBe expected
  }

  test("order-2 and order-3 loads check their layout: missing table, drifted table schema, missing, truncated or NULL sidecar") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val train = Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("kn-faults").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def delete(p: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(p), true): Unit
    for ((order, top, save, load) <- Seq[(Int, String, String => Unit, String => Any)](
        (2, "c2", d => LanguageModel.saveKnModel(LanguageModel.fitKn(train, "text"), d),
          d => LanguageModel.loadKnModel(spark, d)),
        (3, "c3", d => LanguageModel.saveKn3Model(LanguageModel.fitKn3(train, "text"), d),
          d => LanguageModel.loadKn3Model(spark, d)))) {
      def saved(name: String): String = {
        val d = s"$root/$order-$name"
        save(d)
        load(d)
        d
      }
      def refused(d: String, why: String): Unit = {
        val e = intercept[IllegalArgumentException](load(d))
        withClue(s"order $order / $why: ") {
          e.getMessage should include(d)
          e.getMessage should include("contract")
          e.getMessage should include("saveKnModel")
          e.getMessage should include(why)
        }
      }
      val noTable = saved("no-table")
      delete(s"$noTable/t1")
      refused(noTable, "missing table directory t1/")
      val drift = saved("drift")
      SidecarFaults.rewrite(spark, s"$drift/$top")(_.withColumn(top, col(top).cast("string")))
      refused(drift, s"table $top/ holds")
      val noMeta = saved("no-model")
      delete(s"$noMeta/model")
      refused(noMeta, "no model/ sidecar")
      val cut = saved("cut")
      SidecarFaults.truncate(spark, s"$cut/model", 16)
      refused(cut, "unreadable sidecar")
      val nul = saved("null")
      SidecarFaults.rewrite(spark, s"$nul/model")(_.withColumn("order", lit(null).cast("int")))
      refused(nul, "NULL order")
    }
  }

  test("LanguageModel.scala reads parquet only in its checked loader; a flat load of order 2, 3 or 5 runs no Spark job") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val src = java.nio.file.Paths.get(sys.props("user.dir"),
      "src", "main", "scala", "graft", "ops", "LanguageModel.scala")
    val lines = java.nio.file.Files.readAllLines(src).asScala.toSeq
    // the enclosing member of the object (nested defs sit deeper)
    val defLine = """  (?:private(?:\[\w+\])?\s+)?def (\w+).*""".r
    val readers = lines.zipWithIndex.collect {
      case (line, i) if """\.read\b""".r.findFirstIn(line).nonEmpty =>
        lines.take(i + 1).reverse.collectFirst { case defLine(name) => name }
          .getOrElse(s"line ${i + 1}")
    }
    withClue(s"parquet reads in $src: ") {
      readers shouldBe Seq("loadKnModel")
    }
    val docs = kn5Corpus(40).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("kn-load-jobs").toString
    LanguageModel.saveKnModel(LanguageModel.fitKn(docs, "text"), s"$root/2")
    LanguageModel.saveKnModel(LanguageModel.fitKn3(docs, "text"), s"$root/3")
    LanguageModel.saveKnModel(LanguageModel.fitKn5(docs, "text"), s"$root/5")
    for (order <- Seq(2, 3, 5)) {
      val (model, jobs, _) = traced(LanguageModel.loadKnModel(spark, s"$root/$order"))
      withClue(s"order $order: ") {
        model.order shouldBe order
        jobs.map(_.jobId) shouldBe empty
      }
    }
  }

  test("a key-bucketed load of 64 buckets runs no Spark job and holds the flat layout's rows") {
    import spark.implicits._
    val docs = kn5Corpus(60).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("kn5-load-64").toString
    val model = LanguageModel.fitKn5(docs, "text")
    LanguageModel.saveKn5ModelPartitioned(model, s"$root/part", nKeyBuckets = 64)
    LanguageModel.saveKn5Model(model, s"$root/flat")
    // more bucket directories than Spark lists without a job (32)
    new java.io.File(s"$root/part/c5").list().count(_.startsWith(s"${LanguageModel.Kn5KeyBucket}=")) should be > 32
    val (part, jobs, _) = traced(LanguageModel.loadKnModel(spark, s"$root/part"))
    jobs.map(_.jobId) shouldBe empty
    part.keyBuckets shouldBe Some(64)
    val flat = LanguageModel.loadKnModel(spark, s"$root/flat")
    for ((name, df) <- part.keyedTables) withClue(s"table $name: ") {
      df.columns should contain(LanguageModel.Kn5KeyBucket)
      val rows = df.drop(LanguageModel.Kn5KeyBucket)
      rows.count() shouldBe flat.table(name).count()
      rows.exceptAll(flat.table(name)).isEmpty shouldBe true
    }
  }

  test("order-5 MKN fails fast on corpora without count-class decay") {
    import spark.implicits._
    // Every doc identical: only one 5-gram count class exists.
    val docs = (1L to 20L).map(i => (i, "the cat sat on the mat rug"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LanguageModel.modifiedKn5CrossEntropy(docs, docs, "doc_id", "text")
        .collect()
    }
    e.getMessage should include("count-of-counts")
  }
}
