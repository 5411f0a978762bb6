package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._

/** A feature view resolved to a concrete DataFrame, ready to join.
  *
  * Semantics follow the point-in-time-correct retrieval contract the
  * reference delegates to Feast's `get_historical_features`
  * (invoked at `feast_component/executor.py:87`, compiled to SQL at
  * `executor.py:128-129`): for each entity row `(keys, ts)` pick the
  * feature row with the greatest `event_timestamp <= ts`, admitted only
  * when `event_timestamp >= ts - ttl` (both bounds inclusive); ties on
  * `event_timestamp` break on greatest `createdTs`; entities with no
  * admissible feature row keep NULL features (LEFT join).
  *
  * @param joinKeys  pairs of (entity column, view column) equi-join keys
  * @param tsCol     the view's event-timestamp column
  * @param createdTs optional created-timestamp tie-break column
  * @param features  feature columns to project out of the view
  * @param ttlSeconds feature freshness window; None/0 = unbounded
  * @param outputPrefix when Some(p), features emit as `p__name`
  *                  (Feast's `full_feature_names=True` shape)
  * @param predicate optional row filter over `source` columns.
  *                  Semantically identical to pre-filtering `source`,
  *                  but keeping it SEPARATE lets [[PointInTimeJoin]]
  *                  recognize views that differ only by predicate as
  *                  sharing one source and run their candidate joins
  *                  over a single scan — at 100 TB,
  *                  "scan the feature table once however many views
  *                  are defined over it" is the dominant saving.
  */
final case class ResolvedView(
    name: String,
    source: DataFrame,
    joinKeys: Seq[(String, String)],
    tsCol: String,
    createdTs: Option[String] = None,
    features: Seq[String] = Nil,
    ttlSeconds: Option[Long] = None,
    outputPrefix: Option[String] = None,
    predicate: Option[Column] = None) {
  def outName(f: String): String = outputPrefix.fold(f)(p => s"${p}__$f")
}

/** Point-in-time (as-of) left join of an entity spine against N feature
  * views — the engine's core operator (SURVEY.md §2.3 J1).
  *
  * Spark-first design, scale notes (100 TB posture):
  *   - The entity spine gets a unique row id; views are reduced to one
  *     row per spine id, then stitched back with left joins on the id.
  *     N views never multiply each other's fan-out.
  *   - Views sharing a (canonicalized source, keys, timestamp) identity
  *     run ONE candidate join over one scan, and every member reduces in
  *     one aggregation: scans, aggregations and stitch joins are
  *     O(distinct sources), not O(views).
  *   - TTL scan pruning: the entity's [min(ts), max(ts)] is computed
  *     once (a 2-value aggregate — the only driver-side collect in the
  *     engine) and every view scan is pre-filtered to
  *     [min - ttl, max]. Catalyst pushes that range into the parquet
  *     row-group filter, the single most important physical
  *     optimization here (mirrors the bounded scan CTE Feast generates;
  *     see SURVEY.md §4).
  *   - Dedup-to-latest runs as a `max(struct(...))` aggregate: it gets
  *     map-side partial aggregation (one shuffle of pre-combined rows)
  *     where a window would shuffle and sort every candidate row.
  *   - Spine ids are unique, so the dedup shuffle cannot skew; join-key
  *     skew on hot entities is left to AQE skew-join handling.
  */
object PointInTimeJoin {

  private[join] val RowId = "__graft_row_id"
  private val Ets = "__graft_entity_ts"
  private val Vts = "__graft_view_ts"
  private val Vcts = "__graft_view_created_ts"

  /** Which side of the entity timestamp admits view rows, and which
    * admitted row wins. A view's `ttlSeconds` is its window: the TTL
    * (None/0 = unbounded) backward, the horizon forward, the tolerance
    * either side for nearest. */
  private[join] sealed trait Direction
  /** Latest row at or before the entity ts (ties: greatest created ts,
    * then greatest features). */
  private[join] case object Backward extends Direction
  /** Earliest row at or after the entity ts (ties: least features). */
  private[join] case object Forward extends Direction
  /** Smallest |Δt| either side (ties: earlier row, then least features). */
  private[join] case object Nearest extends Direction

  /** As-of join `entity` against `views`.
    *
    * @param entity   entity spine; must contain `entityTs` and every
    *                 entity-side join key of every view
    * @param entityTs the spine's event-timestamp column
    * @param rowIdCol a column of `entity` that is already unique per row
    *                 (used as the stitch key and kept in the output);
    *                 when None a synthetic id is generated and dropped
    * @param spineScratchDir when a synthetic id must be materialized,
    *                 write the id-stamped spine HERE as parquet and
    *                 read it back, instead of localCheckpoint. This is
    *                 a DURABILITY trade, not a speed one:
    *                 localCheckpoint blocks are non-replicated, so on
    *                 a 1000-executor cluster ANY executor loss kills
    *                 the job mid-flight, while scratch parquet on the
    *                 job's storage survives it — but it pays a full
    *                 codec write plus one read per consumer (measured
    *                 ~2× slower end-to-end than localCheckpoint on a
    *                 1.4 GB padded spine with ample RAM, SCALE.md
    *                 round 9). Prefer `rowIdCol` over either: a
    *                 natural key skips the materialization entirely
    *                 (same measurement: 2.5× faster than the
    *                 checkpoint path at 10×). Ignored when `rowIdCol`
    *                 is set. Each run's UUID-named spine dir is
    *                 registered for deletion at JVM exit (Hadoop
    *                 `FileSystem.deleteOnExit`, any scheme); a crashed
    *                 driver can still orphan it, so prefer a TTL'd /
    *                 lifecycle-managed scratch location.
    */
  def join(
      entity: DataFrame,
      entityTs: String,
      views: Seq[ResolvedView],
      rowIdCol: Option[String] = None,
      spineScratchDir: Option[String] = None): DataFrame =
    asOf(buildSpine(entity, rowIdCol, spineScratchDir), entityTs, views, Backward)

  /** The one as-of plan behind [[join]] and every [[DirectionalAsOf]]
    * entry point. `spine` carries a unique [[RowId]]; the output is the
    * spine's other columns, then (when `keepViewTs` names it) the first
    * view's matched timestamp, then every view's features under
    * [[ResolvedView.outName]]. Three steps:
    *
    *  1. **Candidate join per group**: views sharing (canonicalized
    *     source, joinKeys, tsCol, createdTs) — e.g. N views over one
    *     feature table differing only by [[ResolvedView.predicate]] /
    *     window / feature list — run ONE candidate join over one scan,
    *     under the widest window of the group.
    *  2. **One aggregation per group**: each member's pick is a
    *     `max|min(when(pred && window, orderedStruct))` aggregate over
    *     the NARROW joined row — the structs exist only inside the
    *     aggregate buffers (a union-then-aggregate variant measured
    *     2-3× slower: its aggregation sorted rows carrying one struct
    *     copy per view), and `max`/`min` skip the `when`'s NULLs, so
    *     each view reduces over exactly its admissible rows. A view
    *     whose features are not orderable (a MAP, read from the
    *     source schema) reduces with `max_by|min_by(struct, gated
    *     order key)` instead: same winner, except that ties on the
    *     order key pick an arbitrary row.
    *  3. **One stitch per group**: a left join on the row id.
    */
  private[join] def asOf(
      spine: DataFrame,
      entityTs: String,
      views: Seq[ResolvedView],
      dir: Direction,
      keepViewTs: Option[String] = None): DataFrame = {
    require(views.nonEmpty, "at least one feature view required")
    def q(name: String): Column = col(s"`${name.replace("`", "``")}`")
    val spineCols = spine.columns.toSeq.filter(_ != RowId).map(q)
    def typeOf(v: ResolvedView, c: String) = v.source.schema(c).dataType
    // Bounded-scan pruning: one tiny job, two values on the driver
    // (reads the checkpointed spine when one was just materialized).
    val bounds = spine.agg(min(col(entityTs)), max(col(entityTs))).head()
    if (bounds.isNullAt(0)) {
      // no entity timestamp to match: typed NULL features, same schema
      val nulls = keepViewTs.map(n =>
        lit(null).cast(typeOf(views.head, views.head.tsCol)).as(n)).toSeq ++
        views.flatMap(v => v.features.map(f =>
          lit(null).cast(typeOf(v, f)).as(v.outName(f))))
      return spine.select(spineCols ++ nulls: _*)
    }
    val (loTs, hiTs) = (bounds.get(0), bounds.get(1))

    // A view's window as seconds (before, after) the entity ts: None =
    // unbounded on that side, 0 = the entity ts itself.
    def window(v: ResolvedView): (Option[Long], Option[Long]) = {
      val w = v.ttlSeconds.filter(_ > 0)
      dir match {
        case Backward => (w, Some(0L))
        case Forward  => (Some(0L), w)
        case Nearest  => (w, w)
      }
    }
    def interval(s: Long) = expr(s"INTERVAL $s SECONDS")
    // `ts` admitted by window `w` around [lo, hi]: upper bound, then lower
    def within(ts: Column, lo: Column, hi: Column,
        w: (Option[Long], Option[Long])): Seq[Column] =
      w._2.map(a => ts <= (if (a == 0) hi else hi + interval(a))).toSeq ++
        w._1.map(b => ts >= (if (b == 0) lo else lo - interval(b)))

    val vCol = views.indices.map(i => s"__graft_v$i")
    val groupAggs: Seq[DataFrame] = groups(views).map { idxs =>
      val rep = views(idxs.head)
      val keyAliases =
        rep.joinKeys.zipWithIndex.map { case (_, i) => s"__graft_k_$i" }
      // Weakest admission across the group, per side: any unbounded
      // member ⇒ unbounded; else the widest. Each member's own window
      // is re-checked inside its when() gate below.
      val ws = idxs.map(i => window(views(i)))
      def widest(side: Seq[Option[Long]]) =
        if (side.forall(_.isDefined)) Some(side.flatten.max) else None
      val groupWin = (widest(ws.map(_._1)), widest(ws.map(_._2)))
      // Scan-level predicate pre-filter: only sound when EVERY member
      // has one (a predicate-free member admits all rows).
      val anyPred: Option[Column] = {
        val ps = idxs.map(i => views(i).predicate)
        if (ps.forall(_.isDefined))
          Some(ps.flatten.map(p => coalesce(p, lit(false))).reduce(_ || _))
        else None
      }
      val rawFeats = idxs.flatMap(i => views(i).features).distinct
      val predCols = idxs.flatMap(i => views(i).predicate.map(p =>
        coalesce(p, lit(false)).as(s"__graft_p_$i")))
      val tsCol0 = col(rep.tsCol)
      val viewCols =
        rep.joinKeys.map(_._2).zip(keyAliases).map { case (c, a) => col(c).as(a) } ++
          Seq(tsCol0.as(Vts)) ++
          rep.createdTs.map(c => col(c).as(Vcts)).toSeq ++
          rawFeats.map(f => col(f)) ++ predCols
      val base = anyPred.fold(rep.source)(p => rep.source.filter(p))
      // Pruned, projected view scan: range filter + needed columns
      // only, so Catalyst pushes both into the source scan.
      val pruned = base
        .filter(within(tsCol0, lit(loTs), lit(hiTs), groupWin).reduce(_ && _))
        .select(viewCols: _*)

      val left = spine.select(
        col(RowId) +: col(entityTs).as(Ets) +: rep.joinKeys.map(k => col(k._1)): _*)
      val keyCond = rep.joinKeys.zip(keyAliases)
        .map { case ((e, _), a) => left(e) === pruned(a) }
        .reduce(_ && _)
      val joined = left.join(pruned,
        (keyCond +: within(pruned(Vts), left(Ets), left(Ets), groupWin)).reduce(_ && _),
        "inner")

      val aggExprs = idxs.map { j =>
        val w = views(j)
        val orderKey =
          (if (dir == Nearest)
            Seq(abs(unix_micros(col(Vts)) - unix_micros(col(Ets))).as("__graft_diff"))
          else Nil) ++ (col(Vts) +: w.createdTs.map(_ => col(Vcts)).toSeq)
        val packed = struct(orderKey ++ w.features.map(f => col(f).as(w.outName(f))): _*)
        // the member's own predicate and window; a zero bound is the
        // entity ts itself, which the candidate join already enforces
        val (before, after) = window(w)
        val gate = (w.predicate.map(_ => col(s"__graft_p_$j")).getOrElse(lit(true)) +:
          within(col(Vts), col(Ets), col(Ets), (before.filter(_ > 0), after.filter(_ > 0))))
          .reduce(_ && _)
        val orderable = w.features.forall(f => RowOrdering.isOrderable(typeOf(w, f)))
        val pick =
          if (orderable) {
            val p = when(gate, packed)
            if (dir == Backward) max(p) else min(p)
          } else {
            val k = when(gate, struct(orderKey: _*))
            if (dir == Backward) max_by(packed, k) else min_by(packed, k)
          }
        pick.as(vCol(j))
      }
      joined.groupBy(col(RowId)).agg(aggExprs.head, aggExprs.tail: _*)
    }

    // One stitch join per GROUP (= per distinct source), each already
    // hash-partitioned on the row id by its aggregation.
    val stitched = groupAggs.foldLeft(spine) { (acc, g) =>
      acc.join(g, Seq(RowId), "left")
    }
    stitched.select(spineCols ++
      keepViewTs.map(n => col(vCol.head).getField(Vts).as(n)) ++
      views.zipWithIndex.flatMap { case (v, i) =>
        v.features.map(f => col(vCol(i)).getField(v.outName(f)).as(v.outName(f)))
      }: _*)
  }

  /** Group views by source identity (canonicalized plan — reference
    * equality would miss separate loads of the same table), join keys,
    * and timestamp semantics; group order is deterministic. Members of
    * one group run ONE candidate join over one scan in [[asOf]]. */
  private def groups(views: Seq[ResolvedView]): Seq[Seq[Int]] =
    views.zipWithIndex
      .groupBy { case (v, _) =>
        (v.source.queryExecution.logical.canonicalized,
          v.joinKeys, v.tsCol, v.createdTs)
      }
      .values.map(_.map(_._2).toSeq).toSeq.sortBy(_.head)

  /** Id-stamped spine, materialized once when the id is synthetic. */
  private def buildSpine(
      entity: DataFrame,
      rowIdCol: Option[String],
      spineScratchDir: Option[String]): DataFrame =
    rowIdCol match {
      case Some(c) => entity.withColumn(RowId, col(c))
      case None =>
        // Synthetic ids must come out IDENTICAL in every consumer of
        // the spine (the stitch base plus each view's entity
        // projection), but monotonically_increasing_id depends on
        // partition layout and the spine subtree would otherwise
        // re-execute once per consumer — shuffle fetch order can
        // reorder rows between executions and silently reassign ids
        // (misjoined features at cluster scale). Materializing the ids
        // once lets every consumer read stored partitions, which also
        // removes the V+1 recomputes of the upstream entity scan.
        // Callers with a natural unique key should pass rowIdCol and
        // skip the materialization entirely.
        val withId = entity.withColumn(RowId, monotonically_increasing_id())
        spineScratchDir match {
          case Some(dir) =>
            // NOT underscore-prefixed: Hadoop's default path filter
            // treats `_`/`.`-led names as hidden metadata, so an
            // underscore-named spine dir is invisible to any listing
            // of the scratch dir (Spark WARNs "All paths were
            // ignored" even on the direct read).
            val p = s"$dir/graft-spine-${java.util.UUID.randomUUID()}"
            withId.write.mode("overwrite").parquet(p)
            val sess = entity.sparkSession
            // The UUID-named spine is only consumed within this JVM
            // (every consumer is a lazy scan of it), so register it for
            // deletion at JVM exit — via Hadoop FileSystem.deleteOnExit,
            // which is scheme-agnostic (local, HDFS, object stores) and
            // runs inside the FS cache's own ordered shutdown hook,
            // unlike java.io.File. Without this, every run leaks a
            // GB-scale suffix-unique dir into the scratch location. A
            // crashed driver can still orphan the dir: point
            // spineScratchDir at a TTL'd / lifecycle-managed path.
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(sess.sparkContext.hadoopConfiguration)
              .deleteOnExit(hp): Unit
            sess.read.parquet(p)
          case None => withId.localCheckpoint(true)
        }
    }
}
