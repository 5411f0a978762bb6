package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge DataFrames. Connected
  * components (min-label propagation) live in [[Dedup.clusters]]; this
  * hosts the rank-propagation family.
  */
object Graph {

  /** Weighted PageRank with a FIXED iteration count — the importance
    * score over an entity graph (domain authority for corpus weighting,
    * influence over an interaction graph).
    *
    * Semantics (deterministic, engine-portable):
    *   - `rank_0 = 1/n` for every node (n = |src ∪ dst|);
    *   - `rank_{k+1}(v) = (1-d)/n + d · Σ_{(u,v,w)} rank_k(u) · w / outw(u)`
    *     where `outw(u)` is u's total out-weight;
    *   - dangling mass is NOT redistributed (ranks need not sum to 1) —
    *     the usual simplification when ranks are used ordinally.
    *
    * Scale shape: each iteration is one shuffle — edges join the
    * 2-column rank table on `src` (broadcast when small, hash join
    * otherwise) and hash-aggregate on `dst` with map-side partial sums.
    * No driver-side collect; per-iteration lineage truncation exactly
    * like the connected-components loop (iteration count is fixed and
    * small, so there is no convergence `count()` either).
    * Contributions accumulate through DECIMAL(38,18) — order-free
    * sums, bit-identical ranks under any partitioning.
    *
    * Durability dial (`scratchDir`): the default
    * `localCheckpoint(true)` blocks are NON-replicated, so on
    * a real cluster ANY executor loss mid-run kills the whole
    * iteration chain — acceptable for short batch-local runs, not for
    * a long job on 1000 executors. With `scratchDir` set, the node
    * set, out-weights, and every `checkpointEvery`-th rank table are
    * written as scratch parquet (durable on the job's storage,
    * surviving executor loss) and read back; the UUID-named run dir is
    * registered for deletion at JVM exit via Hadoop
    * `FileSystem.deleteOnExit` (scheme-agnostic). Between durable
    * checkpoints the plan carries `checkpointEvery` stacked
    * join+agg rounds — a replayable-lineage window traded against
    * write amplification (rank tables are 2 columns × |nodes|, tiny
    * next to the edge table, so k in the 3-10 range is cheap). A
    * crashed driver can orphan the dir: point `scratchDir` at a
    * TTL'd / lifecycle-managed location. Results are bit-identical
    * across both modes and any `checkpointEvery`.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int, damping: Double = 0.85,
      scratchDir: Option[String] = None,
      checkpointEvery: Int = 1): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    require(checkpointEvery >= 1, "pageRank: checkpointEvery must be >= 1")
    val persist = OpsUtil.scratchPersist(edges, scratchDir, "graft-pagerank")
    // Weights and out-weight totals stay in exact DECIMAL (a double
    // sum would be partition-order-dependent); the per-edge ratio is
    // the single double op, identical on every engine.
    // PERSISTED: the edge projection feeds the node set, the
    // out-weight totals, AND every iteration's contribution join —
    // 2 + iterations consumers. Unpersisted, an expensive upstream
    // edge build (graph_pagerank's five-way join + aggregate) re-runs
    // once per consumer; persisted, it runs once and every consumer
    // reads three narrow columns (src, dst, decimal w).
    val e = persist(edges.select(
      col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("decimal(28,6)").as("w")), "edges")
    val nodes = persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(),
      "nodes") // consumed per iteration + the n aggregate
    val nRow = broadcast(nodes.agg(count(lit(1)).cast("double").as("__n")))
    val outw = persist(
      e.groupBy(col("src")).agg(sum(col("w")).as("ow")), "outw")
    val teleport = 1.0 - damping

    var rank = persist(nodes.crossJoin(nRow)
      .select(col("node"), (lit(1.0) / col("__n")).as("rank")), "rank-0")
    for (i <- 1 to iterations) {
      val contrib = e
        .join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .join(outw, Seq("src"))
        .select(col("dst"),
          // try_divide: a src whose weights sum to zero (all-zero or
          // cancelling signed weights) has no defined distribution —
          // NULL contributions vanish in the dst sum, i.e. the node is
          // treated as dangling, exactly like a node with no out-edges
          // at all. Under plain `/` one such row aborts the whole run
          // (ANSI DIVIDE_BY_ZERO).
          try_divide(col("rank") * col("w").cast("double"),
            col("ow").cast("double"))
            .cast("decimal(38,18)").as("c"))
      val summed = contrib.groupBy(col("dst")).agg(sum(col("c")).as("cs"))
      val next = nodes.crossJoin(nRow)
        .join(summed.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) / col("__n") + lit(damping) *
            coalesce(col("cs"), lit(0).cast("decimal(38,18)")).cast("double"))
            .as("rank"))
      // Truncate on every k-th round and on the LAST (the returned
      // frame must never carry an unbounded lineage tail).
      rank =
        if (i % checkpointEvery == 0 || i == iterations)
          persist(next, s"rank-$i")
        else next
    }
    rank
  }
}
