package graft.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual skew mitigation for equi-joins: salt the skewed side's rows
  * into `saltFactor` sub-keys and replicate the other side once per
  * salt value, so one hot key's rows spread over `saltFactor` shuffle
  * partitions instead of hammering one.
  *
  * AQE's skew-join handling (on by default) covers sort-merge joins
  * whose partition-size stats reveal the skew at runtime; explicit
  * salting remains the tool when the skew is known a priori, when the
  * join is not an SMJ, or when a single key exceeds what one executor
  * can hold even after AQE splitting. Results are identical to the
  * plain join for `inner` and `left` (skewed side preserved) joins —
  * the replicated side would double-count unmatched rows under
  * right/full, so those are rejected.
  */
object SaltedJoin {

  def join(
      skewed: DataFrame, other: DataFrame,
      keys: Seq[(String, String)],
      saltFactor: Int,
      joinType: String = "inner"): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    require(Seq("inner", "left", "left_outer", "leftouter").contains(joinType.toLowerCase),
      s"salted join preserves only inner/left semantics, got $joinType")
    // Salt assignment only needs to spread a hot key's rows uniformly —
    // any per-row value works; a seeded rand depends only on the
    // partition and the row's place in it, as a per-row id would.
    val salted = skewed.withColumn("__graft_salt",
      (rand(17) * saltFactor).cast("long"))
    val replicated = other.withColumn("__graft_salt",
      explode(sequence(lit(0L), lit(saltFactor - 1L))))
    val cond = (keys.map { case (l, r) => salted(l) === replicated(r) } :+
      (salted("__graft_salt") === replicated("__graft_salt"))).reduce(_ && _)
    salted.join(replicated, cond, joinType)
      .drop("__graft_salt")
  }
}
