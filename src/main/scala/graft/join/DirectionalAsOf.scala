package graft.join

import org.apache.spark.sql.{Column, DataFrame}

/** Directional as-of joins: the forward ("first event at-or-after") and
  * nearest ("closest event within a tolerance") siblings of the
  * backward point-in-time join in [[PointInTimeJoin]].
  *
  * The reference's retrieval contract (Feast `get_historical_features`,
  * invoked at `/root/reference/feast_component/executor.py:87`) is
  * strictly backward-looking; label construction for training data
  * needs the forward direction ("what did the user do AFTER the
  * snapshot") and sensor/log alignment needs nearest-within-tolerance —
  * both standard as-of variants (pandas `merge_asof(direction=
  * 'forward'|'nearest')`, DuckDB `ASOF JOIN` is backward-only too).
  *
  * Scale posture (100 TB):
  *   - The horizon/tolerance bound is REQUIRED, not optional: it bounds
  *     each entity row's admissible time slice of the view, and it
  *     prunes the view scan to `[min(entityTs), max(entityTs) + horizon]`
  *     via one 2-value driver aggregate — the same bounded-scan pattern
  *     as the PIT join's TTL pruning.
  *   - The plan is the backward join's ([[PointInTimeJoin.asOf]]): one
  *     window pass per entity key, ordered by descending time forward (both
  *     orders for nearest), with `min` for `max`. Unmatched rows keep
  *     NULL features; every entity row comes back once, duplicates
  *     included, with no unique row id asked of the caller.
  */
/** One member of a multi-view directional as-of join
  * ([[DirectionalAsOf.forwardMulti]] / [[DirectionalAsOf.nearestMulti]]):
  * a view's source, timestamp, keys, projected features, its OWN
  * horizon/tolerance, and an optional row predicate. As with
  * [[ResolvedView]], keeping the predicate SEPARATE from a
  * pre-filtered source is what lets views that differ only by
  * predicate be recognized as one source and share a single scan.
  * `outputPrefix` disambiguates feature columns across views
  * (`p__name`). */
final case class DirectionalView(
    name: String,
    source: DataFrame,
    tsCol: String,
    joinKeys: Seq[(String, String)],
    features: Seq[String],
    windowSeconds: Long,
    outputPrefix: Option[String] = None,
    predicate: Option[Column] = None) {
  def outName(f: String): String = outputPrefix.fold(f)(p => s"${p}__$f")
}

object DirectionalAsOf {
  import PointInTimeJoin.{Direction, Forward, Nearest}

  /** For each entity row, the EARLIEST view row with
    * `viewTs in [entityTs, entityTs + horizonSeconds]` (both inclusive).
    * Ties on `viewTs` break on least feature values, in `features`
    * order. Unmatched rows keep NULL features (left semantics).
    *
    * @param keepViewTs when true, emit the matched view timestamp as
    *                   an output column named after `viewTs`
    */
  def forward(
      entity: DataFrame, entityTs: String,
      view: DataFrame, viewTs: String,
      joinKeys: Seq[(String, String)],
      features: Seq[String],
      horizonSeconds: Long,
      keepViewTs: Boolean = false): DataFrame =
    single(entity, entityTs, view, viewTs, joinKeys, features,
      horizonSeconds, keepViewTs, Forward)

  /** For each entity row, the view row with the smallest
    * `|viewTs - entityTs|`, admitted only within `toleranceSeconds`
    * either side. Ties (equidistant past/future) prefer the EARLIER
    * view row, then least feature values. Unmatched rows keep NULL
    * features. */
  def nearest(
      entity: DataFrame, entityTs: String,
      view: DataFrame, viewTs: String,
      joinKeys: Seq[(String, String)],
      features: Seq[String],
      toleranceSeconds: Long,
      keepViewTs: Boolean = false): DataFrame =
    single(entity, entityTs, view, viewTs, joinKeys, features,
      toleranceSeconds, keepViewTs, Nearest)

  /** Multi-view FORWARD as-of join: per view, exactly the single-view
    * operator's semantics (own horizon, predicate, ties on (viewTs,
    * features…)), features emitted under [[DirectionalView.outName]].
    * Views sharing a source share one scan, and views keyed on one
    * entity key one window pass (the multi-label shape: N label views
    * over one event table). */
  def forwardMulti(
      entity: DataFrame, entityTs: String,
      views: Seq[DirectionalView]): DataFrame =
    multi(entity, entityTs, views, Forward)

  /** Multi-view NEAREST as-of join ([[nearest]] per view;
    * `windowSeconds` is each view's tolerance). */
  def nearestMulti(
      entity: DataFrame, entityTs: String,
      views: Seq[DirectionalView]): DataFrame =
    multi(entity, entityTs, views, Nearest)

  private def single(
      entity: DataFrame, entityTs: String,
      view: DataFrame, viewTs: String,
      joinKeys: Seq[(String, String)],
      features: Seq[String],
      windowSeconds: Long,
      keepViewTs: Boolean,
      dir: Direction): DataFrame = {
    require(joinKeys.nonEmpty, "directional as-of needs equi-join keys")
    require(windowSeconds > 0, "horizon/tolerance must be positive")
    PointInTimeJoin.asOf(entity, entityTs,
      Seq(ResolvedView("view", view, joinKeys, viewTs, features = features,
        ttlSeconds = Some(windowSeconds))),
      dir, if (keepViewTs) Some(viewTs) else None)
  }

  private def multi(
      entity: DataFrame, entityTs: String,
      views: Seq[DirectionalView],
      dir: Direction): DataFrame = {
    require(views.nonEmpty, "multi-view as-of needs at least one view")
    views.foreach { v =>
      require(v.joinKeys.nonEmpty, s"view ${v.name}: equi-join keys required")
      require(v.windowSeconds > 0, s"view ${v.name}: horizon/tolerance must be positive")
    }
    PointInTimeJoin.asOf(entity, entityTs,
      views.map(v => ResolvedView(v.name, v.source, v.joinKeys, v.tsCol,
        features = v.features, ttlSeconds = Some(v.windowSeconds),
        outputPrefix = v.outputPrefix, predicate = v.predicate)),
      dir)
  }
}
