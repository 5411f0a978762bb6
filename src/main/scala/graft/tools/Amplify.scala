package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic in-engine data amplification: replicate a table k×
  * with per-replica transforms chosen so the WORKLOAD scales linearly
  * — the shape a 1000-executor cluster sees at 100 TB, synthesized
  * from the sf0.1 tables without any new testdata.
  *
  * The transform per table family is what makes the scaling honest:
  *   - documents: per-replica character rotation (lower/upper/digit
  *     alphabets rotated in parallel). Replica r's shingle vocabulary
  *     is disjoint from replica 0's, so document-frequency caps
  *     (maxDf) filter each replica exactly as they filter the
  *     original, duplicate-pair counts grow k× (NOT k²×, which naive
  *     replication would cause — every copy near-dups its siblings),
  *     and connected components keep their per-replica diameter.
  *   - embeddings: per-replica dimension rotation. Rotation is an
  *     isometry, so within-replica neighbor structure is preserved
  *     exactly while cross-replica similarities decorrelate; corpus
  *     cost per query grows linearly.
  *   - entity tables: id offsets (1e9 per replica). Per-entity join
  *     fan-in/fan-out is identical in every replica, so a PIT join's
  *     per-key work is constant and total work linear.
  */
object Amplify {

  /** Replica id stride — far above every testdata id, so amplified id
    * spaces are disjoint and replica 0 ids are the originals. */
  val IdOffset = 1000000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase
  private val digits = "0123456789"

  private def affine(alpha: String, a: Int, b: Int): String = {
    val n = alpha.length
    (0 until n).map(i => alpha((a * i + b) % n)).mkString
  }

  /** Distinct-permutation bound for the substitution family below:
    * the LETTER family (4 units × 26 offsets, distinct (a, b) pairs
    * through r = 103) is what the disjoint-vocabulary argument needs —
    * the testdata corpus is letters-and-spaces only. The DIGIT family
    * recycles after 40 replicas (4 units × 10 offsets), so a corpus
    * with pure-digit tokens keeps strict disjointness only to 40;
    * the serve canaries' hit-set gates verified the property
    * empirically either way (SCALE.md Round-12 to Round-15). */
  private[tools] val MaxReplicas = 104

  /** Per-replica substitution alphabet: case-parallel AFFINE character
    * maps i → a·i + b (mod |alphabet|) on each alphabet, replica 0 the
    * identity. Rotations alone (a = 1) are pairwise-distinct only up
    * to the alphabet size — the old digit bound of 10 replicas; with
    * the multiplier cycling through units of the modulus the (a, b)
    * pairs stay distinct through [[MaxReplicas]]. Two distinct affine
    * maps agree on at most gcd(a_r − a_s, n) characters, so a
    * cross-replica 3-shingle collision needs all three characters in
    * that set — a ≲(2/26)³ sliver, preserving the disjoint-vocabulary
    * linearity argument through the second decade. Case-parallel so
    * lowercasing in downstream text normalization cannot re-collide
    * two replicas. */
  private[tools] def substituted(r: Int): String = {
    val la = Seq(1, 3, 5, 7)((r / 26) % 4)
    val lb = (r * 7) % 26
    val da = Seq(1, 3, 7, 9)((r / 10) % 4)
    val db = r % 10
    affine(lower, la, lb) + affine(upper, la, lb) + affine(digits, da, db)
  }

  private val matching = lower + upper + digits

  /** Cross rows with replica ids 0..k-1 (replica 0 = the original). */
  private def withRep(df: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"Amplify: k must be >= 1, got $k")
    df.withColumn("__rep", explode(sequence(lit(0), lit(k - 1))))
  }

  /** k-branch CASE of static translates — each branch stays a codegen
    * expression; k is single-digit so the CASE is cheap. */
  private def rotateText(text: Column, rep: Column, k: Int): Column =
    (1 until k)
      .foldLeft(when(rep === 0, text)) { (acc, r) =>
        acc.when(rep === r, translate(text, matching, substituted(r)))
      }
      .otherwise(text)

  def documents(df: DataFrame, k: Int, rotate: Boolean): DataFrame = {
    // Substitution distinctness holds through MaxReplicas (the affine
    // (a, b) pair space) — past that, replicas would silently share
    // shingles and the linearity argument breaks.
    require(!rotate || k <= MaxReplicas,
      s"Amplify.documents: substitution supports k <= $MaxReplicas, got $k")
    withRep(df.select("doc_id", "text", "lang", "source"), k).select(
      (col("doc_id") + col("__rep") * IdOffset).as("doc_id"),
      (if (rotate) rotateText(col("text"), col("__rep"), k) else col("text"))
        .as("text"),
      col("lang"), col("source"))
  }

  def embeddings(df: DataFrame, k: Int): DataFrame = {
    // Replicas 0..63: dimension rotation by __rep (an isometry; the
    // slice arithmetic needs rotation < dim = 64). Replicas 64+:
    // rotation by __rep mod 64 COMPOSED with a per-replica
    // deterministic sign-flip pattern (also an isometry — hash-chosen
    // signs per dimension), so every replica's within-replica neighbor
    // structure is exact while any two replicas differ by rotation,
    // flips, or both and decorrelate. Second-decade bound: 2 × 64
    // distinct (rotation, flip-epoch) combinations is far more than
    // [[MaxReplicas]] needs.
    require(k <= 128, s"Amplify.embeddings: supports k <= 128, got $k")
    val e = col("embedding")
    val rot = pmod(col("__rep"), lit(64))
    val rotatedVec = when(rot === 0, e).otherwise(concat(
      slice(e, rot + 1, size(e) - rot),
      slice(e, lit(1), rot)))
    val signedVec = when(col("__rep") < 64, rotatedVec)
      .otherwise(zip_with(rotatedVec,
        sequence(lit(0), size(e) - 1),
        (v, i) => v * (lit(1.0f) -
          lit(2.0f) * pmod(xxhash64(col("__rep"), i), lit(2)).cast("float"))))
    withRep(df, k).select(
      (col("vec_id") + col("__rep") * IdOffset).as("vec_id"),
      signedVec.as("embedding"), col("label"))
  }

  /** Generic entity-table amplification: offset the id columns, keep
    * everything else verbatim. */
  def offsetIds(df: DataFrame, k: Int, idCols: Seq[String]): DataFrame = {
    val rdf = withRep(df, k)
    rdf.select(df.columns.toSeq.map { c =>
      if (idCols.contains(c)) (col(c) + col("__rep") * IdOffset).as(c)
      else col(c)
    }: _*)
  }
}
