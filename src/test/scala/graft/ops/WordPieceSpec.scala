package graft.ops

import org.apache.spark.sql.functions._

import graft.{SidecarFaults, SparkSpec}

class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  // ---- trainer: hand-computed likelihood merges ----

  test("trainOnDict ranks merges by c(ab)/(c(a)c(b)) with exact ties") {
    // dict: "aab" x4, "ab" x2. Seeds: [a, ##a, ##b] / [a, ##b].
    // c(a)=6, c(##a)=4, c(##b)=6.
    // score(a,##a)    = 4/(6*4) = 1/6
    // score(##a,##b)  = 4/(4*6) = 1/6   <- tie; counts tie at 4;
    //                   pair string "##a ##b" < "a ##a" in UTF-8
    // score(a,##b)    = 2/(6*6) = 1/18
    // merge1 = ##ab. Then "aab" -> [a, ##ab]: c(a)=6, c(##ab)=4,
    // c(##b)=2; score(a,##ab)=4/24=1/6, score(a,##b)=2/12=1/6 — exact
    // tie again, count 4 > 2 picks (a,##ab) -> "aab"; last merge "ab".
    val vocab = WordPiece.trainOnDict(
      Array(("aab", 4L), ("ab", 2L)), nMerges = 3)
    assert(vocab === Seq("##a", "##b", "a", "##ab", "aab", "ab"))
  }

  test("merge ranking survives counts whose product overflows 64 bits") {
    // c(a) = c(##a) = 4e9 → the old Long denominator product
    // (1.6e19 > 2^63) wrapped negative and the 128-bit compare read
    // garbage sign. Exact order: score(a,##a) = 1/4e9 beats
    // score(b,##b) = 1/(4e9+1), so "aa" must merge first — and the
    // mirrored dict must pick "bb" first (rules out getting it right
    // by iteration-order luck).
    val big = 4_000_000_000L
    val v1 = WordPiece.trainOnDict(
      Array(("aa", big), ("bb", big + 1)), nMerges = 1)
    assert(v1.last === "aa")
    val v2 = WordPiece.trainOnDict(
      Array(("aa", big + 1), ("bb", big)), nMerges = 1)
    assert(v2.last === "bb")
  }

  test("trainOnDict is a pure function of the dict (re-run identical)") {
    val dict = Array(("the", 30L), ("then", 11L), ("than", 7L), ("a", 90L))
    val v1 = WordPiece.trainOnDict(dict, nMerges = 5)
    val v2 = WordPiece.trainOnDict(dict.reverse, nMerges = 5)
    assert(v1 === v2) // input order can't matter: counts drive everything
  }

  test("train caps the dictionary with the fail-fast guard") {
    val docs = Seq((1L, "one two three four five")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      WordPiece.train(docs, "text", nMerges = 2, maxVocab = 3)
    }
    assert(e.getMessage.contains("distinct words"))
  }

  // ---- serving: greedy longest-match-first ----

  private def toks(text: String, vocab: Seq[String],
      maxWordCp: Int = 100): Seq[String] = {
    val m = WordPiece.Model(vocab, "[UNK]", maxWordCp)
    WordPiece.tokenize(Seq((1L, text)).toDF("id", "text"), "id", "text", m)
      .orderBy("token_pos").select("token").as[String].collect().toSeq
  }

  test("BERT-style example: unaffable -> un ##aff ##able") {
    assert(toks("unaffable", Seq("un", "##aff", "##able")) ===
      Seq("un", "##aff", "##able"))
  }

  test("longest match wins at every cursor") {
    assert(toks("abcd", Seq("a", "ab", "abc", "##d", "##c", "##cd")) ===
      Seq("abc", "##d"))
    assert(toks("abcd", Seq("a", "ab", "##d", "##c", "##cd")) ===
      Seq("ab", "##cd"))
  }

  test("uncovered word degrades WHOLE to [UNK], partials discarded") {
    assert(toks("unknown", Seq("un", "##k")) === Seq("[UNK]"))
    // neighbors unaffected
    assert(toks("ab unknown ab", Seq("ab", "un", "##k")) ===
      Seq("ab", "[UNK]", "ab"))
  }

  test("word over maxWordCp degrades to [UNK]") {
    assert(toks("abab", Seq("a", "##b", "##a", "ab"), maxWordCp = 3) ===
      Seq("[UNK]"))
    assert(toks("aba", Seq("a", "##b", "##a"), maxWordCp = 3) ===
      Seq("a", "##b", "##a"))
  }

  test("supplementary-plane codepoints never shear") {
    // U+1F600 is two UTF-16 units; codepoint-based boundaries must
    // treat it as one symbol.
    val smile = new String(Character.toChars(0x1F600))
    assert(toks(s"a$smile", Seq("a", "##" + smile)) ===
      Seq("a", "##" + smile))
  }

  test("trained model is lossless over its own corpus") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "then the fox ran"),
      (3L, "brown fox brown fox")).toDF("doc_id", "text")
    val m = WordPiece.train(docs, "text", nMerges = 8)
    val re = WordPiece.tokenize(docs, "doc_id", "text", m)
      .groupBy("doc_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("token_pos"), col("token")))),
          x => regexp_replace(x.getField("token"), "^##", "")), "")
        .as("re"))
    val base = docs.select(col("doc_id"),
      regexp_replace(TextOps.normalized(col("text")), " ", "").as("want"))
    val bad = base.join(re, Seq("doc_id"))
      .filter(col("re") =!= col("want")).count()
    assert(bad === 0L)
  }

  test("saveModel/loadModel round-trips bit-identically") {
    val docs = Seq((1L, "abc abd abe")).toDF("doc_id", "text")
    val m = WordPiece.train(docs, "text", nMerges = 4)
    val dir = java.nio.file.Files.createTempDirectory("wp-model").toString
    WordPiece.saveModel(m, dir, spark)
    val m2 = WordPiece.loadModel(spark, dir)
    assert(m2 === m)
    val a = WordPiece.tokenize(docs, "doc_id", "text", m)
      .orderBy("token_pos").collect().toSeq
    val b = WordPiece.tokenize(docs, "doc_id", "text", m2)
      .orderBy("token_pos").collect().toSeq
    assert(a === b)
  }

  test("loadModel refuses a stats sidecar with a NULL or missing field, naming its contract") {
    val docs = Seq((1L, "abc abd abe")).toDF("doc_id", "text")
    val m = WordPiece.train(docs, "text", nMerges = 4)
    for ((why, corrupt) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "NULL unk" -> (_.withColumn("unk", lit(null).cast("string"))),
        "missing field max_word_cp" -> (_.withColumnRenamed("max_word_cp", "renamed")))) {
      val dir = java.nio.file.Files.createTempDirectory("wp-bad").toString
      WordPiece.saveModel(m, dir, spark)
      SidecarFaults.rewrite(spark, s"$dir/stats")(corrupt)
      val e = intercept[IllegalArgumentException](WordPiece.loadModel(spark, dir))
      assert(e.getMessage.contains("WordPiece.saveModel sidecar contract"))
      assert(e.getMessage.contains(why))
    }
  }
}
