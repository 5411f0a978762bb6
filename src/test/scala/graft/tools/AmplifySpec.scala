package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The amplification invariants behind the scale canaries' linearity
  * argument (SCALE.md "Round-8") and behind the two amplified tools
  * that remain, [[AmplifiedSweep]] and [[Kn5WriteDecomp]]: if any of
  * these breaks, an amplified run still runs but its ratios stop
  * meaning "the operator scales linearly" — so they are pinned here,
  * fast, at small k. The measured tables live in SCALE.md. */
class AmplifySpec extends SparkSpec with Matchers {

  private def docs = graft.sources.ParquetTables
    .load(spark, sf() + "/documents.parquet")

  test("documents: k-fold rows, disjoint id spaces, replica 0 verbatim") {
    val base = docs
    val amp = Amplify.documents(base, 3, rotate = true)
    amp.count() shouldBe base.count() * 3
    amp.select("doc_id").distinct().count() shouldBe base.count() * 3
    // replica 0 is the identity replica — byte-for-byte original
    val rep0 = amp.filter(col("doc_id") < Amplify.IdOffset)
      .select("doc_id", "text", "lang", "source")
    rep0.exceptAll(base.select("doc_id", "text", "lang", "source"))
      .isEmpty shouldBe true
  }

  test("documents rotation: replica shingle vocabularies are disjoint") {
    // The linearity keystone: word trigrams from different replicas
    // must never collide, or df caps and pair counts change shape.
    val amp = Amplify.documents(docs.limit(200), 3, rotate = true)
      .withColumn("rep", (col("doc_id") / Amplify.IdOffset).cast("int"))
    val shingles = amp.select(col("rep"),
        explode(expr(
          """transform(
               sequence(1, greatest(size(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ')) - 2, 0)),
               i -> concat_ws(' ',
                 slice(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '), i, 3)))"""))
          .as("sh"))
      .distinct()
    val collisions = shingles.groupBy("sh")
      .agg(countDistinct("rep").as("nrep"))
      .filter(col("nrep") > 1)
      .count()
    // ASCII-letter/digit shingles cannot collide by construction; the
    // residue is shingles of untranslated chars (punctuation-only) —
    // must stay a negligible sliver or the argument is broken.
    val total = shingles.select("sh").distinct().count()
    collisions.toDouble / total.toDouble should be < 0.01
  }

  test("substitution alphabets: permutations, identity at 0, pairwise distinct through MaxReplicas") {
    val matching = ('a' to 'z').mkString + ('A' to 'Z').mkString + ('0' to '9').mkString
    val alphas = (0 until Amplify.MaxReplicas).map(Amplify.substituted)
    alphas.head shouldBe matching // replica 0 = identity
    alphas.distinct.size shouldBe Amplify.MaxReplicas
    alphas.foreach(_.sorted shouldBe matching.sorted) // true permutations
    // case-parallel: the upper block is the lower block uppercased
    alphas.foreach(a => a.slice(26, 52) shouldBe a.take(26).toUpperCase)
  }

  test("documents substitution stays shingle-disjoint in the second decade (k = 12)") {
    val amp = Amplify.documents(docs.limit(120), 12, rotate = true)
      .withColumn("rep", (col("doc_id") / Amplify.IdOffset).cast("int"))
    val shingles = amp.select(col("rep"),
        explode(expr(
          """transform(
               sequence(1, greatest(size(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ')) - 2, 0)),
               i -> concat_ws(' ',
                 slice(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '), i, 3)))"""))
          .as("sh"))
      .distinct()
    val collisions = shingles.groupBy("sh")
      .agg(countDistinct("rep").as("nrep"))
      .filter(col("nrep") > 1)
      .count()
    val total = shingles.select("sh").distinct().count()
    collisions.toDouble / total.toDouble should be < 0.01
  }

  test("embeddings: rotation preserves norms exactly, ids disjoint, replica 0 verbatim") {
    val base = graft.sources.ParquetTables
      .load(spark, sf() + "/embeddings.parquet")
    val amp = Amplify.embeddings(base, 4)
    amp.count() shouldBe base.count() * 4
    amp.select("vec_id").distinct().count() shouldBe base.count() * 4
    val norm = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    // per-replica norm multiset identical to the base multiset — the
    // isometry receipt (float sums are order-sensitive, so compare the
    // rotation-invariant squared norms after a stable 6-dp round)
    val baseNorms = base.select(round(norm, 6).as("n2"))
      .groupBy("n2").count()
    (0 until 4).foreach { r =>
      val repNorms = amp
        .filter(col("vec_id") >= r * Amplify.IdOffset &&
          col("vec_id") < (r + 1) * Amplify.IdOffset)
        .select(round(norm, 6).as("n2")).groupBy("n2").count()
      repNorms.exceptAll(baseNorms).isEmpty shouldBe true
    }
  }

  test("offsetIds: only the id columns move, everything else verbatim") {
    val base = graft.sources.ParquetTables
      .load(spark, sf() + "/orders.parquet")
    val amp = Amplify.offsetIds(base, 2, Seq("o_orderkey", "o_custkey"))
    amp.count() shouldBe base.count() * 2
    val rep1 = amp.filter(col("o_orderkey") >= Amplify.IdOffset)
      .withColumn("o_orderkey", col("o_orderkey") - Amplify.IdOffset)
      .withColumn("o_custkey", col("o_custkey") - Amplify.IdOffset)
    rep1.exceptAll(base).isEmpty shouldBe true
  }
}
