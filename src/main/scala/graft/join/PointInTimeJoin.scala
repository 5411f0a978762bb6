package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, KnownNotNull, RowOrdering}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.TimestampType

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
  *   - Views sharing a (canonicalized source, keys, timestamp) identity
  *     form one group over one scan, and the groups keyed on the same
  *     spine values share ONE pass: scans are O(distinct sources), and
  *     shuffles and sorts O(distinct entity keys), not O(views).
  *   - A pass is a union of the spine rows with its groups' pruned view
  *     rows, partitioned on the join keys and ordered by time, where
  *     each view's pick is a running `max|min` over the rows before each
  *     spine row. The work stays local to each key partition: no row id,
  *     no materialized spine, and nothing is stitched back. The next
  *     pass runs over this one's output, and duplicate spine rows simply
  *     each get their own answer.
  *   - TTL scan pruning: the entity's [min(ts), max(ts)] is computed
  *     once (a 2-value aggregate — the only driver-side collect in the
  *     engine) and every view scan is pre-filtered to
  *     [min - ttl, max]. Catalyst pushes that range into the parquet
  *     row-group filter, the single most important physical
  *     optimization here (mirrors the bounded scan CTE Feast generates;
  *     see SURVEY.md §4). An empty spine, or one without timestamps,
  *     prunes every view to nothing and runs the same plan.
  *   - A hot entity key lands in one partition and is sorted there
  *     (spilling as a sort does); skew known a priori is
  *     [[SaltedJoin]]'s.
  */
object PointInTimeJoin {

  private val Ts = "__graft_ts"
  private val Tag = "__graft_tag"
  private val Spine = "__graft_spine"
  private val Vts = "__graft_view_ts"
  private val Vcts = "__graft_view_created_ts"
  private val Micros = "__graft_micros"
  private val TsOut = "__graft_matched_ts"

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

  /** As-of join `entity` against `views`: the entity's columns, then
    * every view's features under [[ResolvedView.outName]], one output
    * row per entity row.
    *
    * @param entity   entity spine; must contain `entityTs` and every
    *                 entity-side join key of every view
    * @param entityTs the spine's event-timestamp column
    */
  def join(entity: DataFrame, entityTs: String, views: Seq[ResolvedView]): DataFrame =
    asOf(entity, entityTs, views, Backward)

  /** The one as-of plan behind [[join]] and every [[DirectionalAsOf]]
    * entry point. The output is the spine's columns (types and
    * nullability unchanged), then (when `keepViewTs` names it) the first
    * view's matched timestamp, then every view's features under
    * [[ResolvedView.outName]]. Views sharing (canonicalized source,
    * joinKeys, tsCol, createdTs) form a group over one scan. One window
    * pass per entity key: groups whose entity-side key columns resolve to
    * one expression of the spine's top projection, aliases stripped, and
    * whose view key and ts types agree (so the union widens as each
    * group's own pass would) share a pass:
    *
    *  1. **Union**: the current spine rows (tagged n, the number of
    *     groups, carrying all their columns as one struct) and each
    *     group g's pruned view rows (tagged g, its features and created
    *     ts under names private to g), on the join keys. The union widens
    *     a key pair of two types to the wider one, as `===` would.
    *  2. **Partition** on the keys, by number (the session's shuffle
    *     partitions, when those are at most one per core), so the pass
    *     and everything fused after it (Runner: the encode and the
    *     write) run one task per partition however small the spine is;
    *     AQE never coalesces a by-number exchange.
    *  3. **Pick**: each member's pick is a running
    *     `max|min(when(tag = g && pred, struct(orderKey…, features…)))`
    *     over `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`,
    *     ordered by `(ts, tag)` backward and `(ts desc, tag)` forward —
    *     so a view row at the entity ts precedes the spine row. Nearest
    *     takes both orders, the backward side keyed
    *     `(-unix_micros(ts), ts, …)`, and keeps the nearer pick, the
    *     earlier one on a |Δt| tie. A view whose features are not
    *     orderable (a MAP, read from the source schema) picks with
    *     `max_by|min_by(struct, gated order key)` instead: same winner,
    *     except that ties on the order key pick an arbitrary row.
    *  4. **Gate**: keep the spine rows and admit each member's pick
    *     only inside its own TTL/horizon/tolerance.
    */
  private[join] def asOf(
      spine: DataFrame,
      entityTs: String,
      views: Seq[ResolvedView],
      dir: Direction,
      keepViewTs: Option[String] = None): DataFrame = {
    require(views.nonEmpty, "at least one feature view required")
    def q(name: String): Column = col(s"`${name.replace("`", "``")}`")
    def typeOf(v: ResolvedView, c: String) = v.source.schema(c).dataType
    // Bounded-scan pruning: one tiny job, two values on the driver. No
    // entity timestamp leaves typed NULL bounds, which admit no row.
    val tsType = spine.select(col(entityTs)).schema.head.dataType
    val bounds = spine.agg(min(col(entityTs)), max(col(entityTs))).head()
    val (loTs, hiTs) = (lit(bounds.get(0)).cast(tsType), lit(bounds.get(1)).cast(tsType))

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

    def fCol(j: Int, n: Int) = s"__graft_v${j}_$n"
    def xName(g: Int, f: String) = s"__graft_x${g}_$f"
    val sess = spine.sparkSession
    val width = sess.sessionState.conf.numShufflePartitions
    val byNumber = width <= sess.sparkContext.defaultParallelism

    val scans = groups(views).zipWithIndex.map { case (idxs, g) =>
      val rep = views(idxs.head)
      // Weakest admission across the group, per side: any unbounded
      // member ⇒ unbounded; else the widest. Each member's own window
      // is re-checked by its gate below.
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
      val tsCol0 = col(rep.tsCol)
      val base = anyPred.fold(rep.source)(p => rep.source.filter(p))
      // Pruned, projected view scan: range filter, non-NULL keys (an
      // equi-join never matches a NULL key; a window partition would
      // group them) and the needed columns only, so Catalyst pushes
      // all of it into the source scan.
      (idxs, g, base
        .filter((within(tsCol0, loTs, hiTs, groupWin) ++
          rep.joinKeys.map(k => col(k._2).isNotNull)).reduce(_ && _))
        .select(rep.joinKeys.map(_._2).zipWithIndex.map { case (c, i) => col(c).as(s"__graft_k_$i") } ++
          Seq(tsCol0.as(Ts), lit(g).as(Tag)) ++
          rep.createdTs.map(c => col(c).as(xName(g, Vcts))).toSeq ++
          idxs.flatMap(i => views(i).features).distinct.map(f => col(f).as(xName(g, f))) ++
          idxs.flatMap(i => views(i).predicate.map(p =>
            coalesce(p, lit(false)).as(s"__graft_p_$i"))): _*))
    }
    // a key column's identity (a non-deterministic expression is its own)
    val plan = spine.queryExecution.analyzed
    val top = plan match { case Project(list, _) => list; case p => p.output }
    def keyOf(c: String): Any = plan.resolveQuoted(c, sess.sessionState.conf.resolver)
      .flatMap(a => top.find(_.exprId == a.exprId)).fold[Any](c) {
        case Alias(e, _) if e.deterministic => e.canonicalized
        case e => e.toAttribute.canonicalized
      }
    val passes = scans.groupBy { case (idxs, _, rows) =>
      val ks = views(idxs.head).joinKeys.map(k => keyOf(k._1))
      (ks, rows.schema.take(ks.size + 1).map(_.dataType))
    }.values.toSeq.sortBy(_.head._2)
    val joined = passes.foldLeft(spine) { (cur, pass) =>
      val rep = views(pass.head._1.head)
      val keyNames = rep.joinKeys.indices.map(i => s"__graft_k_$i")
      val keys = keyNames.map(col)
      // the spine's tag follows every group's: at one ts view rows sort first
      val carried = cur.columns.toSeq
      val spineRows = cur.select(
        rep.joinKeys.map(_._1).zip(keyNames).map { case (c, a) => col(c).as(a) } ++
          Seq(col(entityTs).as(Ts), lit(scans.size).as(Tag), struct(carried.map(q): _*).as(Spine)): _*)
      val unioned = pass.map(_._3).foldLeft(spineRows)(_.unionByName(_, allowMissingColumns = true))
      val parted = if (byNumber) unioned.repartition(width, keys: _*) else unioned
      def over(desc: Boolean) = Window.partitionBy(keys: _*)
        .orderBy(if (desc) col(Ts).desc else col(Ts).asc, col(Tag))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)

      // Per member: the running pick(s), named `__graft_b$j` (the
      // backward-ordered pass) and `__graft_f$j` (the forward one).
      val picks: Seq[Column] = pass.flatMap { case (idxs, g, _) => idxs.flatMap { j =>
        val w = views(j)
        val admit = w.predicate.fold(col(Tag) === g)(_ => col(Tag) === g && col(s"__graft_p_$j"))
        val feats = w.features.map(f => q(xName(g, f)).as(w.outName(f)))
        val orderable = w.features.forall(f => RowOrdering.isOrderable(typeOf(w, f)))
        def pick(key: Seq[Column], desc: Boolean, greatest: Boolean): Column = {
          val packed = struct(key ++ feats: _*)
          val agg =
            if (orderable) {
              val p = when(admit, packed)
              if (greatest) max(p) else min(p)
            } else {
              val k = when(admit, struct(key: _*))
              if (greatest) max_by(packed, k) else min_by(packed, k)
            }
          agg.over(over(desc))
        }
        val byTs = col(Ts).as(Vts) +: w.createdTs.map(_ => q(xName(g, Vcts)).as(Vcts)).toSeq
        val micros = unix_micros(col(Ts).cast(TimestampType))
        dir match {
          case Backward => Seq(pick(byTs, desc = false, greatest = true).as(s"__graft_b$j"))
          case Forward => Seq(pick(byTs, desc = true, greatest = false).as(s"__graft_f$j"))
          case Nearest => Seq(
            pick((-micros).as(Micros) +: byTs, desc = false, greatest = false).as(s"__graft_b$j"),
            pick(micros.as(Micros) +: byTs, desc = true, greatest = false).as(s"__graft_f$j"))
        }
      } }

      // Keep the spine rows; restore their columns (KnownNotNull: the
      // union made the struct nullable, its fields keep their own
      // nullability) and gate each member's pick by its own window.
      val ets = col(Ts)
      val spineStruct = Bridge.column(KnownNotNull(Bridge.expression(col(Spine))))
      val gated = pass.flatMap(_._1).flatMap { j =>
        val w = views(j)
        val (b, f) = (col(s"__graft_b$j"), col(s"__graft_f$j"))
        val p = dir match {
          case Backward => b
          case Forward  => f
          case Nearest  =>
            // b keys on -micros(view ts), f on micros(view ts); the
            // nearer side wins, and a |Δt| tie goes to the earlier row, b
            val e = unix_micros(ets.cast(TimestampType))
            when(f.isNull || (b.isNotNull &&
              e + b.getField(Micros) <= f.getField(Micros) - e), b).otherwise(f)
        }
        val (before, after) = window(w)
        val kept = when((ets.isNotNull +: within(p.getField(Vts), ets, ets,
          (before.filter(_ > 0), after.filter(_ > 0)))).reduce(_ && _), p)
        (if (j == 0 && keepViewTs.isDefined) Seq(kept.getField(Vts).as(TsOut)) else Nil) ++
          w.features.indices.map(n => kept.getField(w.outName(w.features(n))).as(fCol(j, n)))
      }
      parted.select(Seq(col(Tag), ets, col(Spine)) ++ picks: _*)
        .filter(col(Tag) === scans.size)
        .select(carried.map(c => spineStruct.getField(c).as(c)) ++ gated: _*)
    }
    joined.select(spine.columns.toSeq.map(q) ++
      keepViewTs.map(n => col(TsOut).cast(typeOf(views.head, views.head.tsCol)).as(n)) ++
      views.zipWithIndex.flatMap { case (v, j) =>
        v.features.indices.map(n => col(fCol(j, n)).as(v.outName(v.features(n))))
      }: _*)
  }

  /** Group views by source identity (canonicalized plan — reference
    * equality would miss separate loads of the same table), join keys,
    * and timestamp semantics; group order is deterministic. Members of
    * one group share one scan and one window pass in [[asOf]]. */
  private def groups(views: Seq[ResolvedView]): Seq[Seq[Int]] =
    views.zipWithIndex
      .groupBy { case (v, _) =>
        (v.source.queryExecution.logical.canonicalized,
          v.joinKeys, v.tsCol, v.createdTs)
      }
      .values.map(_.map(_._2).toSeq).toSeq.sortBy(_.head)
}
