package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout}

import graft.join.{PointInTimeJoin, ResolvedView}

/** Structured-Streaming operators mirroring the batch engine's
  * semantics on unbounded inputs. The reference pipeline is batch-only
  * (SURVEY.md §2.10 — its Beam pipeline is bounded, executor.py:103-160),
  * so these are north-star extensions: the same logical operations a
  * feature platform needs when events arrive continuously.
  *
  * All operators are driver-agnostic DataFrame→DataFrame transforms:
  * they run identically under `readStream` (incremental, stateful) and
  * `read` (batch) because they only use event-time columns — no
  * processing-time dependence, so results are reproducible.
  */
/** Union row of the custom-state as-of join: an event (`event_id` set)
  * or a feature (`payload` set). */
case class PitTagged(key: String, ts: java.sql.Timestamp,
    event_id: java.lang.Long, payload: String)

/** Per-key buffers: pending events (tsMs, eventId) and admissible
  * features (tsMs, payload). */
case class PitGroupState(events: List[(Long, Long)], features: List[(Long, String)])

/** Streaming packing assignment: where a doc landed in its bucket's
  * token stream (`tokens_before` / `seq_idx` as in batch packing). */
case class PackAssigned(pack_bucket: Long, doc_id: Long, n_tokens: Long,
    tokens_before: Long, seq_idx: Long)

/** Resolved event: feature fields None when nothing was admissible. */
case class PitResolved(event_id: Long, event_ts_ms: Long,
    feature_ts_ms: Option[Long], payload: Option[String])

object StreamingOps {

  /** Event-time tumbling-window aggregation with a watermark: the
    * streaming form of the `events_windowed` batch query. On a stream,
    * state for a window is dropped once the watermark passes its end —
    * bounded memory no matter how long the stream runs. */
  def windowedAgg(
      events: DataFrame, tsCol: String, valueCol: String, typeCol: String,
      windowDuration: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      // Group by the FULL window struct — extracting .start inside the
      // grouping key strips the event-time metadata, which silently
      // disables watermark state eviction (unbounded state) and makes
      // append mode throw. The start column projects out AFTER the agg.
      .groupBy(window(col(tsCol), windowDuration), col(typeCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window").getField("start").as("window_start"),
        col(typeCol), col("n"), col("sum_value"))

  /** Streaming hot-key monitor — the streaming face of
    * [[graft.ops.FeatureStats.keySkew]]: per event-time tumbling
    * window, emit every key whose row count reaches `minCount` (the
    * skew/straggler alarm a pipeline watches before a join melts
    * down). Windowed state drops once the watermark passes the window
    * end — bounded memory forever; the same call runs in batch for
    * backfill parity. */
  def hotKeysStream(
      events: DataFrame, keyCol: String, tsCol: String,
      windowDuration: String, watermark: String, minCount: Long): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      // Full window struct in the grouping key (see windowedAgg): this
      // is what lets the watermark evict closed-window state and
      // append mode emit finalized windows.
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("window").getField("start").as("window_start"),
        col(keyCol), col("n"))

  /** Event-time gap-session aggregation via Spark's native merging
    * `session_window` state: one session row per (key, burst of events
    * closer than `gap`), `session_end` = last event + gap. The same
    * transform runs batch (watermark is a no-op) and streaming (append
    * mode; a session finalizes and its state drops once the watermark
    * passes its end — bounded memory on unbounded streams). The
    * streaming analogue of [[graft.ops.Sessionize.sessionStats]], and
    * the batch `events_session_window` query's implementation. */
  def sessionWindowAgg(
      events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup: drops rows whose `idCols` were already seen
    * within the watermark horizon. State is evicted as event time
    * advances, so memory stays proportional to the horizon, not the
    * stream length. */
  def dedupWithinWatermark(
      df: DataFrame, idCols: Seq[String], tsCol: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** TRUE stream-stream point-in-time join: both the entity events AND
    * the feature rows arrive as streams, and each event picks the
    * latest feature row within `[event_ts − ttl, event_ts]` per key —
    * the case [[pitEnrichStream]]'s batch-table model can't express
    * (late-arriving features need buffering on event time).
    *
    * Plan shape: watermarked stream-stream INNER join on key + time
    * range (both sides' state evicted as the watermark advances — the
    * TTL bounds how long a feature row stays joinable), then a chained
    * stateful event-time argmax per event dedups multiple admissible
    * feature rows with the SAME lexicographic (ts, features…) winner
    * as the batch engine's max(struct) reduction. Append mode: an event finalizes
    * once the watermark passes its timestamp.
    *
    * INNER only: events with no admissible feature are absent from the
    * output. Spark emits stream-stream OUTER null rows only after the
    * watermark passes them, so a downstream stateful argmax discards
    * them as late — use [[pitStreamStreamWithState]] for full batch
    * left-join parity (nulls for feature-less events).
    *
    * `eventIdCol` must uniquely identify an event row (the key of the
    * per-event argmax state). */
  def pitStreamStream(
      events: DataFrame, eventIdCol: String, eventTsCol: String,
      features: DataFrame, featureTsCol: String,
      joinKeys: Seq[(String, String)], featureCols: Seq[String],
      ttlSeconds: Long, watermark: String): DataFrame = {
    require(joinKeys.nonEmpty && featureCols.nonEmpty)
    val e = events.withWatermark(eventTsCol, watermark).alias("e")
    val f = features.withWatermark(featureTsCol, watermark).alias("f")
    val keyCond = joinKeys
      .map { case (ek, fk) => col(s"e.$ek") === col(s"f.$fk") }
      .reduce(_ && _)
    val rangeCond =
      col(s"f.$featureTsCol") <= col(s"e.$eventTsCol") &&
        col(s"f.$featureTsCol") >= col(s"e.$eventTsCol") - expr(s"INTERVAL $ttlSeconds SECONDS")
    val joined = e.join(f, keyCond && rangeCond, "inner")
    val best = struct(
      col(s"f.$featureTsCol") +: featureCols.map(c => col(s"f.$c")): _*)
    joined
      .groupBy(col(s"e.$eventIdCol").as(eventIdCol),
        col(s"e.$eventTsCol").as(eventTsCol))
      .agg(max(best).as("__graft_best"))
      .select(col(eventIdCol) +: col(eventTsCol) +:
        featureCols.map(c => col(s"__graft_best.$c").as(c)): _*)
  }

  /** Full-semantics streaming as-of LEFT join via custom state — the
    * (c)-tier operator for what built-in composition can't express:
    * [[pitStreamStream]]'s inner join drops feature-less events, and
    * Spark's outer-join null rows arrive too late for a chained argmax.
    *
    * Both streams union into one keyed stream with a single watermark;
    * per join key, `flatMapGroupsWithState` buffers pending events and
    * admissible features, resolves an event once the watermark passes
    * its timestamp (every on-time feature with `fts <= ets` must have
    * arrived by then), and emits nulls when nothing was admissible —
    * exact batch left-join parity. State is pruned to the TTL horizon
    * (`fts >= watermark - ttl`) and an event-time timeout fires at the
    * earliest pending event so groups resolve without new input.
    *
    * Column contract (callers pre-project): events `(key string,
    * ets timestamp, event_id long)`; features `(key string,
    * fts timestamp, payload string)` — payload is the caller's encoded
    * feature tuple (e.g. `to_json(struct(...))`). Winner per event:
    * latest admissible `fts`, ties by payload (equals the batch
    * join's pick whenever (key, fts) is unique). */
  def pitStreamStreamWithState(
      events: DataFrame, features: DataFrame,
      ttlSeconds: Long, watermark: String): DataFrame = {
    val ttlMs = ttlSeconds * 1000L
    asOfStreamWithState(
      events,
      features.withColumnRenamed("fts", "lts"),
      watermark,
      // STRICTLY before the watermark: a feature with fts == wm is
      // not late and may still arrive, so an event at ets == wm
      // isn't resolvable yet (batch-parity at the boundary)
      readyOffsetMs = 0L,
      pruneOffsetMs = ttlMs,
      admissible = (fts, ets) => fts <= ets && fts >= ets - ttlMs,
      // latest admissible fts, ties by greatest payload
      better = (a, b, _) => {
        val c = if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
          else cmpPayload(a._2, b._2)
        c > 0
      },
      outTsName = "fts")
  }

  /** Null-safe payload comparison for the custom-state as-of picks:
    * NULL sorts before any string — the same field ordering Spark's
    * struct min/max gives the batch operators' NULL features. */
  private def cmpPayload(a: String, b: String): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.compareTo(b)

  /** Shared skeleton of the three custom-state as-of faces (backward
    * [[pitStreamStreamWithState]], forward
    * [[forwardStreamStreamWithState]], nearest
    * [[nearestStreamStreamWithState]]): union both logs under one
    * watermark, buffer per key, resolve an event once
    * `ets + readyOffsetMs < wm` (its admissible-label window has
    * provably closed), pick the winner among `admissible` labels with
    * the face's `better` relation, prune labels below
    * `wm - pruneOffsetMs`, and drive timeouts so groups resolve
    * without new input. One implementation means a boundary or
    * null-handling fix can never apply to one direction and miss
    * another. */
  private def asOfStreamWithState(
      events: DataFrame, labels: DataFrame,
      watermark: String,
      readyOffsetMs: Long,
      pruneOffsetMs: Long,
      admissible: (Long, Long) => Boolean,
      better: ((Long, String), (Long, String), Long) => Boolean,
      outTsName: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val tagged = events
      .select(col("key"), col("ets").as("ts"),
        col("event_id").cast("long").as("event_id"),
        lit(null).cast("string").as("payload"))
      .unionAll(labels.select(col("key"), col("lts").as("ts"),
        lit(null).cast("long").as("event_id"),
        col("payload")))
      .withWatermark("ts", watermark)
      .as[PitTagged]

    val resolved = tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState[PitGroupState, PitResolved](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, state) =>
          val st = state.getOption.getOrElse(PitGroupState(Nil, Nil))
          var pendingEvents = st.events
          var labs = st.features
          rows.foreach { r =>
            if (r.event_id != null) pendingEvents ::= (r.ts.getTime, r.event_id.longValue())
            else labs ::= (r.ts.getTime, r.payload)
          }
          val wm = state.getCurrentWatermarkMs()
          val (ready, stillPending) =
            pendingEvents.partition(e => e._1 + readyOffsetMs < wm)
          val out = ready.map { case (ets, id) =>
            val adm = labs.filter(l => admissible(l._1, ets))
            if (adm.isEmpty) PitResolved(id, ets, None, None)
            else {
              val best = adm.reduceLeft((x, y) => if (better(y, x, ets)) y else x)
              // Option(…), not Some(…): a matched label with a NULL
              // payload must encode as SQL NULL, and Some(null) breaks
              // the Option[String] serializer
              PitResolved(id, ets, Some(best._1), Option(best._2))
            }
          }
          // labels stay joinable for pruneOffset past the watermark;
          // anything older can admit no pending or future event
          val keptLabs = labs.filter(_._1 >= wm - pruneOffsetMs)
          if (stillPending.isEmpty && keptLabs.isEmpty) state.remove()
          else {
            state.update(PitGroupState(stillPending, keptLabs))
            val next =
              if (stillPending.nonEmpty)
                stillPending.map(_._1).min + readyOffsetMs
              // revisit to expire remaining labels (max guards a
              // zero-width prune window)
              else wm + math.max(pruneOffsetMs, 1L)
            state.setTimeoutTimestamp(math.max(next, wm + 1L))
          }
          out.iterator
      }

    resolved.select(col("event_id"),
      timestamp_millis(col("event_ts_ms")).as("ets"),
      timestamp_millis(col("feature_ts_ms")).as(outTsName),
      col("payload"))
  }

  /** Streaming FORWARD as-of join — label maturation: for each spine
    * event, the EARLIEST label row with
    * `lts in [ets, ets + horizonSeconds]` (both inclusive, the batch
    * [[graft.join.DirectionalAsOf.forward]] window), ties by least
    * payload STRING (NULL first — equals the batch least-feature rule
    * whenever (key, lts) is unique, the backward face's caveat);
    * events with no admissible label emit NULLs once their
    * horizon has provably expired. This is the streaming twin the
    * directional family lacked: the training-label pattern ("did the
    * user convert within N days of the impression") where an event is
    * NOT resolvable when it arrives — it must wait out its horizon —
    * so per-batch enrich (the [[pitEnrichStream]] shape) cannot
    * express it and custom state is the honest tier.
    *
    * Resolution rule: an event resolves when the watermark passes
    * `ets + horizon` STRICTLY — a label at exactly `lts == ets +
    * horizon` is admissible and not yet late at `wm == ets + horizon`
    * (the same boundary convention as [[pitStreamStreamWithState]],
    * mirrored forward). Label state is pruned to `lts >= wm -
    * horizon`: an unresolved event has `ets + horizon >= wm` hence
    * needs `lts >= ets >= wm - 2·horizon`… but every KEPT event also
    * bounds its labels from below by its own `ets`, and future events
    * arrive with `ets >= wm`, so labels below `wm - horizon` can only
    * matter to pending events, whose admissible set is captured at
    * resolution from the still-unpruned buffer — pruning only drops a
    * label once no pending or future event can admit it (spec pins
    * batch parity including the boundary cases). State per key is
    * O(pending events + horizon-window labels) — bounded by the
    * watermark exactly like the backward face.
    *
    * Column contract (callers pre-project, the backward face's):
    * events `(key string, ets timestamp, event_id long)`; labels
    * `(key string, lts timestamp, payload string)`. Output:
    * `(event_id, ets, lts, payload)` with NULL lts/payload for
    * label-less events. */
  def forwardStreamStreamWithState(
      events: DataFrame, labels: DataFrame,
      horizonSeconds: Long, watermark: String): DataFrame = {
    require(horizonSeconds > 0, // the batch operator's contract
      s"forwardStreamStreamWithState: non-positive horizon $horizonSeconds")
    val horizonMs = horizonSeconds * 1000L
    asOfStreamWithState(
      events, labels, watermark,
      // resolvable once the horizon has strictly expired: a label at
      // lts == ets + horizon is admissible and may still arrive while
      // wm == ets + horizon
      readyOffsetMs = horizonMs,
      // a label below wm - horizon can admit no pending event
      // (pending ⇒ ets + horizon >= wm ⇒ ets >= wm - horizon) and no
      // future event (ets >= wm after late-row filtering)
      pruneOffsetMs = horizonMs,
      admissible = (lts, ets) => lts >= ets && lts <= ets + horizonMs,
      // earliest lts, ties by least payload
      better = (a, b, _) => {
        val c = if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
          else cmpPayload(a._2, b._2)
        c < 0
      },
      outTsName = "lts")
  }

  /** Streaming NEAREST as-of join — sensor/log alignment: for each
    * spine event, the label row minimizing `|lts - ets|` within
    * `toleranceSeconds` either side (the batch
    * [[graft.join.DirectionalAsOf.nearest]] window); equidistant
    * past/future ties prefer the EARLIER label, then least payload
    * STRING (NULL first — equals the batch least-feature rule
    * whenever (key, lts) is unique, the backward face's caveat).
    * An event resolves once the watermark STRICTLY passes
    * `ets + tolerance` (its future side has provably closed — the
    * [[forwardStreamStreamWithState]] boundary convention). Label
    * state prunes at `lts >= wm - 2·tolerance`: a pending event has
    * `ets >= wm - tolerance`, so its earliest admissible label is
    * `ets - tolerance >= wm - 2·tolerance`. Column contract and
    * output shape are the forward face's. */
  def nearestStreamStreamWithState(
      events: DataFrame, labels: DataFrame,
      toleranceSeconds: Long, watermark: String): DataFrame = {
    require(toleranceSeconds > 0, // the batch operator's contract
      s"nearestStreamStreamWithState: non-positive tolerance $toleranceSeconds")
    val tolMs = toleranceSeconds * 1000L
    asOfStreamWithState(
      events, labels, watermark,
      readyOffsetMs = tolMs,
      // pending ⇒ ets >= wm - tolerance ⇒ earliest admissible label
      // is ets - tolerance >= wm - 2·tolerance
      pruneOffsetMs = 2L * tolMs,
      admissible = (lts, ets) => lts >= ets - tolMs && lts <= ets + tolMs,
      // min by (|Δ|, lts, payload): equidistant prefers earlier
      better = (a, b, ets) => {
        val (da, db) = (math.abs(a._1 - ets), math.abs(b._1 - ets))
        val c =
          if (da != db) java.lang.Long.compare(da, db)
          else if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
          else cmpPayload(a._2, b._2)
        c < 0
      },
      outTsName = "lts")
  }

  /** Streaming training-data generation: point-in-time enrich each
    * micro-batch of entity events against (static) feature views using
    * the batch engine's as-of join — identical semantics per batch,
    * including TTL pruning and created-timestamp tie-breaks. The
    * returned writer still needs `.start()`, so callers can set
    * trigger/checkpoint options first.
    *
    * Correctness note: this is per-batch point-in-time against the
    * feature views AS OF when the batch runs — exactly the online
    * analogue of the reference's retrieval. Late-arriving FEATURE rows
    * would require buffering both streams on event time
    * (a stream-stream as-of join); feature views here are batch tables,
    * matching the reference's offline-store model.
    *
    * Each batch runs the batch runner's plan ([[PointInTimeJoin.join]]:
    * one window pass per distinct entity key), which persists nothing, so
    * no block outlives its micro-batch. */
  def pitEnrichStream(
      entities: DataFrame, entityTs: String, views: Seq[ResolvedView])(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    entities.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(PointInTimeJoin.join(batch.toDF(), entityTs, views), batchId)
    }

  /** Streaming drift monitor: every micro-batch is scored against a
    * fitted [[graft.ops.FeatureStats.DriftModel]] of any binning,
    * sliced or not — the baseline rides the plan as the model's
    * literal counts, so NOTHING is re-aggregated per trigger (the
    * fit-once/serve-many contract). Per-batch rows are
    * `FeatureStats.scoreDrift(model, batchDf)` on the same rows (one
    * code path, spec-asserted); scoring runs no driver job and persists
    * nothing, so the monitor is stateless and leaks no block per
    * batch. An EMPTY micro-batch still emits one n_cur = 0 row per
    * baseline slice — absence alarms fire exactly when a slice's
    * traffic stops. Alert wiring (PSI > 0.25 paging, say) belongs in
    * the sink. */
  def driftStream(
      df: DataFrame, model: graft.ops.FeatureStats.DriftModel)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(graft.ops.FeatureStats.scoreDrift(model, batch), batchId)
    }

  /** Streaming schema-validation monitor: every micro-batch runs the
    * ExampleValidator pass against pre-collected
    * [[graft.ops.FeatureStats.ColumnSpec]] expectations (collect the
    * [[graft.ops.FeatureStats.inferSchema]] table ONCE via
    * `collectSchema` — column-count metadata, nothing re-aggregated
    * per trigger), optionally per slice. Per-batch anomaly rows are
    * `validate(batchDf, specs, slice)` (same code path): unsliced, an
    * empty micro-batch still reports n_bad = 0 per check; sliced, it
    * emits zero rows (there are no slices to validate — slice-absence
    * alarms are the drift monitor's job). Alert wiring (nonzero n_bad
    * paging) belongs in the sink. */
  def validateStream(
      df: DataFrame, specs: Seq[graft.ops.FeatureStats.ColumnSpec],
      slice: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(graft.ops.FeatureStats.validate(batch, specs, slice), batchId)
    }

  /** Streaming OOV-coverage monitor: each micro-batch of documents is
    * summarized against a FIXED vocabulary ([[graft.ops.CorpusOps
    * .oovSummary]] — the vocab broadcasts, nothing re-fits) into one
    * (n_docs, n_tokens, n_oov, oov_rate) row per batch. Rising
    * oov_rate over ingestion batches is the tokenizer-retraining
    * signal; the alert threshold belongs in the sink. Stateless. */
  def oovStream(
      docs: DataFrame, textCol: String, vocab: DataFrame, termCol: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(graft.ops.CorpusOps.oovSummary(
        batch.toDF(), textCol, vocab, termCol), batchId)
    }

  /** Streaming IVF-PQ index MAINTENANCE: each micro-batch of new
    * vectors is encoded against a FIXED [[graft.ops.Similarity.AnnIndex]]
    * (a stateless codegen projection — the index rides as plan
    * literals, nothing re-fits) and handed to the sink for appending
    * to the persisted corpus table. Append-composability is the
    * correctness contract: encode(A) ∪ encode(B) == encode(A ∪ B)
    * row-for-row under a fixed index (oracle sim_topk_pq_incremental),
    * so the incrementally-maintained corpus searches identically to a
    * one-shot build. Re-fitting the index (centroid drift) is a
    * separate batch job that re-encodes — versioning indexes, not
    * mutating them. */
  def pqIndexStream(
      vecs: DataFrame, idCol: String, vecCol: String,
      index: graft.ops.Similarity.AnnIndex)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    vecs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(graft.ops.Similarity.encodeCorpus(
        batch.toDF(), idCol, vecCol, index), batchId)
    }

  /** Streaming count-min maintenance — the frequency sibling of
    * [[pqIndexStream]]: each micro-batch reduces to its own cell-delta
    * table ([[graft.ops.FeatureStats.cmsProfile]]), and because the
    * CMS merge law is cell-wise addition, APPENDING the deltas is the
    * maintenance — `mergeCmsProfiles` over the appended table (or a
    * periodic compaction of it) equals the one-pass sketch EXACTLY
    * (spec-asserted equality, not tolerance). State per batch is the
    * batch's own cells, bounded by depth × width forever. */
  def cmsProfileStream(
      values: DataFrame, valueCol: String, width: Int, depth: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    values.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(graft.ops.FeatureStats.cmsProfile(
        batch.toDF(), valueCol, width, depth), batchId)
    }

  /** Persist a micro-batch's STAGED arrival frame, run the serve, and
    * release exactly that frame after the sink — the ownership-exact
    * release of the per-batch blocks that would otherwise accumulate
    * (the r9 monitor-leak class). Each serve operator exposes a
    * stage/Staged split (e.g. [[graft.ops.Dedup.stageExactArrivals]] /
    * `exactAgainstStaged`) so the stream owns the only materialized
    * frame: no SparkContext registry diffing (which could unpersist a
    * CONCURRENT query's blocks mid-flight), and the finally releases
    * the frame even when the sink throws. Assumes `sink` consumes the
    * frame synchronously, as every sink in this engine does. */
  private def withStaged(
      staged: DataFrame, batchId: Long, sink: (DataFrame, Long) => Unit)(
      serve: DataFrame => DataFrame): Unit = {
    val pinned = staged.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try sink(serve(pinned), batchId)
    finally pinned.unpersist(false): Unit
  }

  /** Streaming EXACT dedup against a persisted
    * [[graft.ops.Dedup.ExactHashIndex]] — the streaming face of
    * [[graft.ops.Dedup.exactAgainst]] (shared code path, so per-batch
    * rows are the batch operator's by construction; the
    * dedup_exact_serve oracle covers it). First-seen-wins semantics per
    * batch: arrivals hashing into the index point at the historical
    * survivor, within-batch repeats point at the batch's min-id
    * arrival, fresh content gets dup_of NULL. No streaming state — the
    * index IS the state and it lives in storage: nothing is pinned in
    * memory, and each micro-batch reads only the ≤ |batch| hash buckets
    * its content falls into, a per-batch cost flat in history size
    * (SCALE.md Round-12). Refreshing the index is a rebuild
    * ([[graft.ops.Dedup.mergeExactIndexes]] over its rows ∪ accepted
    * batches) at whatever cadence the ingest loop chooses. */
  def exactDedupStream(
      docs: DataFrame, idCol: String, textCol: String,
      index: graft.ops.Dedup.ExactHashIndex)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      withStaged(graft.ops.Dedup.stageExactArrivals(
          batch.toDF(), idCol, textCol), batchId, sink)(
        graft.ops.Dedup.exactAgainstStaged(_, index))
    }

  /** Streaming MinHash near-dup detection against a persisted
    * [[graft.ops.Dedup.LshBandIndex]] — the near-dup sibling of
    * [[exactDedupStream]], with the same storage-serving posture: each
    * micro-batch's band rows collect their bucket set and read only
    * those partitions, signatures verified off the index rows. The
    * batch is signed with the index's own k/family (and its sidecar
    * shingle width when recorded; `shingleN` is the fallback for
    * pre-sidecar indexes). Pairs are per micro-batch; near-dups WITHIN
    * the stream are the index-refresh cadence's concern
    * ([[graft.ops.Dedup.appendLshBandIndex]] over accepted batches).
    * `maxBucket` caps the ARRIVAL side only — the base side was capped
    * at build ([[graft.ops.Dedup.saveLshBandIndex]]) — so with a finite
    * cap the arrival bucket widths, and which template buckets drop,
    * depend on trigger cadence. Rows per batch are
    * [[graft.ops.Dedup.minhashLshAgainst]]'s by construction
    * (dedup_minhash_serve oracle). */
  def nearDupStream(
      docs: DataFrame, idCol: String, textCol: String,
      index: graft.ops.Dedup.LshBandIndex, shingleN: Int,
      threshold: Double, maxBucket: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    // the batch path's fail-fast contract: a shingleN contradicting
    // the index's sidecar never silently signs at the wrong width
    index.shingleN.foreach(w => require(w == shingleN,
      s"nearDupStream: shingleN=$shingleN contradicts the partitioned " +
        s"index's build shingle_n=$w (the sidecar is authoritative)"))
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      withStaged(graft.ops.Dedup.stageLshArrivalBands(
          graft.ops.Dedup.minhashSignatures(
            batch.toDF(), idCol, textCol, shingleN, index.k, index.portable),
          index, maxBucket), batchId, sink)(
        graft.ops.Dedup.minhashLshAgainstStaged(_, index, threshold))
    }
  }

  /** Streaming SimHash near-dup against a persisted
    * [[graft.ops.Dedup.SimhashBandIndex]] — [[exactDedupStream]]'s
    * typo-tolerant sibling over the cheapest index form (8 bytes per
    * historical doc). Same storage-serving posture: each micro-batch
    * reads only the ≤ |batch| × 4 band buckets its fingerprints fall
    * into, and the hash family comes from the index itself (a batch can
    * never be hashed with the wrong family). Maintenance between/within
    * runs is [[graft.ops.Dedup.appendSimhashBandIndex]] over accepted
    * batches + periodic [[graft.ops.Dedup.compactSimhashBandIndex]].
    * Rows per batch are [[graft.ops.Dedup.simhashAgainst]]'s by
    * construction (dedup_simhash_serve oracle). */
  def simhashDedupStream(
      docs: DataFrame, idCol: String, textCol: String,
      index: graft.ops.Dedup.SimhashBandIndex, maxHamming: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      withStaged(graft.ops.Dedup.stageSimhashArrivals(
          batch.toDF(), idCol, textCol, index), batchId, sink)(
        graft.ops.Dedup.simhashAgainstStaged(_, index, maxHamming))
    }

  /** Streaming substring-overlap detection against a persisted
    * [[graft.ops.Dedup.WinnowFpIndex]] — the MOSS-guarantee face of the
    * streaming dedup matrix (exact hash, SimHash, minhash LSH, winnow).
    * Same storage-serving posture: each micro-batch reads only the fp
    * buckets its fingerprints fall into, (k, w, family) come from the
    * index itself, and the base-side df-cap filters the document
    * frequency STORED at build, so no micro-batch re-aggregates the
    * base and results are cadence-independent. Rows per batch are
    * [[graft.ops.Dedup.winnowAgainst]]'s by construction
    * (dedup_winnow_serve oracle). */
  def winnowStream(
      docs: DataFrame, idCol: String, textCol: String,
      index: graft.ops.Dedup.WinnowFpIndex, minShared: Int, maxDf: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      withStaged(graft.ops.Dedup.winnowFingerprints(
          batch.toDF(), idCol, textCol, index.k, index.w, index.portable),
          batchId, sink)(
        graft.ops.Dedup.winnowAgainstStaged(_, index, minShared, maxDf))
    }

  /** Streaming embedding near-dup against the persisted PQ-encoded
    * history — the fifth and last face of the streaming dedup matrix
    * (exact hash, SimHash, minhash LSH, winnow substring, embedding
    * cosine). Shares [[graft.ops.Similarity.nearDupAgainst]] verbatim
    * (per-batch rows are the batch operator's by construction; oracle
    * dedup_semantic_incremental). The encoded code table AND the
    * historical vector table (the exact-refinement side) persist once
    * for the query's lifetime. OWNERSHIP CAVEAT: the writer API has no
    * termination hook, so both stay cached after `stop()`; callers
    * cycling indexes must unpersist the retired frames after the last
    * `stop()`. Index freshness is the [[pqIndexStream]]
    * loop: append accepted batches' encodings at the refresh cadence. */
  def semanticDedupStream(
      vecs: DataFrame, idCol: String, vecCol: String,
      historyVecs: DataFrame, encoded: DataFrame,
      index: graft.ops.Similarity.AnnIndex,
      threshold: Double, nProbe: Int = 4, adcMargin: Double = 0.15)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val histOnce = historyVecs.persist(lvl)
    val encodedOnce = encoded.persist(lvl)
    vecs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      // The arrival frame feeds the probe AND the refinement join;
      // its per-batch block must be RELEASED after the sink or blocks
      // accumulate one per micro-batch — the r9 monitor-leak class.
      // Ownership-exact via the stage/Staged split (no registry
      // diffing; release survives a throwing sink). histOnce/
      // encodedOnce persist for the query's lifetime.
      withStaged(graft.ops.Similarity.stageNearDupArrivals(
          batch.toDF(), idCol, vecCol), batchId, sink)(
        q => graft.ops.Similarity.nearDupAgainstStaged(
          q, histOnce, encodedOnce, idCol, vecCol, index,
          threshold, nProbe, adcMargin))
    }
  }

  /** Streaming BM25 serving: QUERY batches arrive on the stream and
    * score against a prebuilt [[graft.ops.Retrieval.Bm25Index]] — the
    * retrieval-serving face of the fit-once/serve-many family (shares
    * [[graft.ops.Retrieval.bm25ServeBatch]] verbatim, so per-batch
    * rows are the batch operator's by construction; the bm25_serve
    * oracle covers it). Stateless — the posting table is the state,
    * persisted once for the query's lifetime (the writer API has no
    * termination hook: unpersist a retired index's postings after the
    * last `stop()`). */
  def bm25ServeStream(
      queries: DataFrame, index: graft.ops.Retrieval.Bm25Index,
      queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val servable = index.copy(postings = index.postings.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    queries.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(graft.ops.Retrieval.bm25ServeBatch(
        servable, batch.toDF(), queryIdCol, queryTextCol, k, k1, b), batchId)
    }
  }

  /** Streaming perplexity scoring: DOCUMENT batches arrive on the
    * stream and score against a prebuilt order-2
    * [[graft.ops.LanguageModel.KnModel]] (`fitKn`, or `loadKnModel` of
    * a bigram directory; a model of another order fails here, at stream
    * build, before anything is persisted) — the CCNet deployment shape (KenLM fitted on
    * a clean reference corpus once, served against every crawl
    * snapshot as it lands). Stateless — the count tables are the
    * state, persisted for the query's lifetime and RELEASED
    * automatically when the query terminates (a
    * `StreamingQueryListener` keyed to this writer's generated query
    * name unpersists the count frames (c2, p1, t1, stats) on
    * `onQueryTerminated` —
    * retired scoring queries can no longer leak cached model blocks,
    * the r12 ADVICE item). Two caveats that fall out of the
    * auto-release: the writer's query name is pre-set here (override
    * it and the release hook never fires), and a model shared across
    * CONCURRENT scoring queries loses its cache when the first one
    * terminates — the survivors still run correctly (persist is a
    * cache, the parquet-backed lineage recomputes), so prefer one
    * loaded model per long-lived query. Shares
    * [[graft.ops.LanguageModel.kneserNeyAgainst]] verbatim, so
    * per-batch rows are the batch operator's by construction; the
    * lm_score_kn_serve oracle covers it. */
  def lmScoreStream(
      docs: DataFrame, idCol: String, textCol: String,
      model: graft.ops.LanguageModel.KnModel,
      discount: Double = 0.75, floorEps: Double = 1e-6)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val servable = graft.ops.LanguageModel.ordered(model, 2, "lmScoreStream")
      .mapKeyed((_, df) => df.persist(lvl))
      .copy(stats = model.stats.persist(lvl))
    val queryName = releaseOnTermination(docs.sparkSession,
      "graft-lm-score", servable.tables :+ servable.stats, lvl)
    docs.writeStream.queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink(graft.ops.LanguageModel.kneserNeyAgainst(
          batch.toDF(), idCol, textCol, servable, discount, floorEps), batchId)
      }
  }

  /** Register a termination-keyed cache release for a model-serving
    * stream: returns a generated query NAME the caller must set on
    * its writer; when the query bearing that name terminates, the
    * frames unpersist and the listener removes itself — retired
    * scoring queries cannot leak cached model blocks (the r12 ADVICE
    * class; [[lmScoreStream]] pins its model, [[lm5ScoreStream]]
    * serves from storage and needs none). The started
    * event is the only one carrying the name; its id is remembered
    * and matched on termination (per-query listener events are
    * ordered, so the id is always set first). A caller that OVERRIDES
    * the writer's query name degrades to the QUIESCENCE fallback
    * instead of leaking forever (review finding r13): when any query
    * terminates, our name never started, and NO OTHER stream remains
    * active on the session (the terminating query may still list
    * itself in `streams.active` during its own terminated event —
    * r13 ADVICE — hence the forall, not isEmpty), nothing can be
    * serving these frames — release then, but KEEP the listener: the
    * same window covers the gap between writer construction and
    * `start()`, where an unrelated query's termination on an
    * otherwise-idle session would release prematurely. If the named
    * query then starts, onQueryStarted RE-PERSISTS the frames (r13
    * ADVICE: the premature release used to also drop the listener, so
    * the eventual query served uncached forever), and the normal
    * termination path finally removes the listener. A renamed query
    * releases on quiescence but leaves its (idle, frame-holding)
    * listener registered — the price of not being able to tell
    * "renamed" from "not started yet"; prefer the pre-set name. A
    * model shared across CONCURRENT queries loses its cache when the
    * first terminates; survivors recompute. */
  private def releaseOnTermination(
      spark: org.apache.spark.sql.SparkSession, prefix: String,
      frames: Seq[DataFrame],
      lvl: org.apache.spark.storage.StorageLevel): String = {
    val queryName = s"$prefix-${java.util.UUID.randomUUID()}"
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val release = new StreamingQueryListener {
      @volatile private var myId: java.util.UUID = null
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == queryName) {
          myId = e.id
          // Restore the cache if a quiescence release fired in the
          // construction→start window (persist on an already-cached
          // frame is a warning no-op, so the common path is free).
          frames.foreach(_.persist(lvl))
        }
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == myId) {
          frames.foreach(_.unpersist(false))
          spark.streams.removeListener(this)
        } else if (myId == null &&
            spark.streams.active.forall(_.id == e.id)) {
          frames.foreach(_.unpersist(false)) // listener stays — see doc
        }
    }
    spark.streams.addListener(release)
    queryName
  }

  /** Streaming ORDER-5 modified-KN scoring — the [[lmScoreStream]]
    * deployment shape at KenLM's production order: document batches
    * score against an order-5 [[graft.ops.LanguageModel.KnModel]] with
    * zero training passes, served FROM STORAGE — nothing is persisted
    * for the query's lifetime and no termination listener is
    * registered, because there is nothing to release. Discounts come
    * from `model.disc` (stored in the model's `disc` or `meta` sidecar
    * by either writer) or, for a model fitted in place, are estimated ONCE here,
    * at stream build, never per micro-batch. Each micro-batch stages
    * its all-keys 5-gram projection via withStaged (released after the
    * sink — the batch path's internal localCheckpoint would leave one
    * lingering block per micro-batch; the soak caught it) and runs the
    * broadcast-semi serve: against a key-bucketed model
    * ([[graft.ops.LanguageModel.loadKn5Model]] of a
    * `saveKn5ModelPartitioned` directory) every table is first pruned
    * to the batch's probed key buckets; a flat model's tables are read
    * whole. Rows per batch are
    * [[graft.ops.LanguageModel.modifiedKn5Against]]'s by construction
    * (shared code path; the lm_score_kn5_serve / lm_score_kn5_pruned
    * oracles cover the serve). The driver holds ~10 broadcast survivor
    * frames of ≤ |batch 5-grams| rows each — bound the trigger size
    * (maxFilesPerTrigger / maxOffsetsPerTrigger) accordingly. */
  def lm5ScoreStream(
      docs: DataFrame, idCol: String, textCol: String,
      model: graft.ops.LanguageModel.KnModel,
      floorEps: Double = 1e-6)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val serve = graft.ops.LanguageModel.kn5ServeStaged(model, floorEps, idCol)
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      withStaged(graft.ops.LanguageModel.stageKn5Arrivals(
          batch.toDF(), idCol, textCol), batchId, sink)(serve)
    }
  }

  /** Order-5 scoring stream FROM A MODEL DIRECTORY — the deployment
    * entry point: [[lm5ScoreStream]] over
    * [[graft.ops.LanguageModel.loadKn5Model]], which reads either
    * layout through its checked `model` sidecar (a
    * `saveKn5ModelPartitioned` directory serves partition-pruned, a
    * flat `saveKnModel` one whole) and fails at stream build, naming
    * both writers, on a directory that holds no model. */
  def lm5ScoreStreamFrom(
      docs: DataFrame, idCol: String, textCol: String,
      modelDir: String, floorEps: Double = 1e-6)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    lm5ScoreStream(docs, idCol, textCol,
      graft.ops.LanguageModel.loadKn5Model(docs.sparkSession, modelDir),
      floorEps)(sink)

  /** Streaming sequence packing: documents arriving on a stream are
    * assigned (bucket, seq_idx, tokens_before) against a running
    * per-bucket token total — the incremental form of
    * [[graft.ops.Packing.assignSequences]]. Batch packing orders by
    * the portable hash globally; a stream must pack in arrival order,
    * so the contract here is: deterministic GIVEN the micro-batch
    * sequence (within a micro-batch, docs order by the same portable
    * hash + id as batch packing; across batches, arrival order is the
    * corpus order). State per bucket is ONE running long — bounded by
    * the bucket count forever, the smallest possible streaming state.
    */
  def packStream(
      df: DataFrame, idCol: String, nTokensCol: String,
      seqLen: Int, buckets: Int): Dataset[PackAssigned] = {
    require(seqLen > 0 && buckets > 0)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col(idCol).cast("long").as("id"),
        col(nTokensCol).cast("long").as("n"),
        graft.ops.Sampling.hashBucket(col(idCol), buckets).as("bucket"),
        graft.ops.Sampling.hashBucket(col(idCol), 1000003).as("ord"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, PackAssigned](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (bucket: Long, rows: Iterator[(Long, Long, Long, Long)], state) =>
          var before = state.getOption.getOrElse(0L)
          // Batch-parity order within the micro-batch: (hash, id).
          val out = rows.toSeq.sortBy(r => (r._4, r._1)).map {
            case (id, n, _, _) =>
              val a = PackAssigned(bucket, id, n, before, before / seqLen)
              before += n
              a
          }
          state.update(before)
          out.iterator
      }
  }

  /** Online-store materialization: maintain the latest row per entity
    * key by event time (created-timestamp tie-break order = arrival
    * order within equal timestamps). This is the streaming half of the
    * feature-store model: the batch engine's point-in-time join answers
    * "value as of t" over history; this operator answers "value as of
    * now" continuously, with `mapGroupsWithState` keeping exactly one
    * row of state per key.
    *
    * Output (Update mode): one row per updated key per trigger. */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], tsCol: String): Dataset[Row] = {
    val schema = df.schema
    val tsIdx = schema.fieldIndex(tsCol)
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)

    def tsOf(r: Row): java.time.Instant = r.get(tsIdx) match {
      case t: java.sql.Timestamp => t.toInstant
      case i: java.time.Instant => i
      case null => java.time.Instant.MIN
    }

    df.groupByKey { r =>
        keyCols.map(c => String.valueOf(r.getAs[Any](c))).mkString("")
      }(Encoders.STRING)
      .mapGroupsWithState[Row, Row](GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state) =>
          var best = if (state.exists) state.get else null
          rows.foreach { r =>
            if (best == null || !tsOf(r).isBefore(tsOf(best))) best = r
          }
          state.update(best)
          best
      }
  }

  /** Streaming conversion funnel — the continuous form of
    * [[graft.ops.Sessionize.funnel]]: per key, the earliest completion
    * time of each ordered step (step i+1 strictly after step i's
    * earliest completion), maintained in `mapGroupsWithState` with
    * exactly ONE timestamp per step per key — state is bounded by
    * #keys × #steps forever.
    *
    * Contract vs batch: rows are applied in event-time order WITHIN
    * each micro-batch (ties process earlier steps first, so a step at
    * exactly the previous step's time never qualifies — same strict-<
    * rule as batch). Across batches the funnel refines monotonically:
    * when batches arrive in event-time order (the StreamingSpec
    * feed), the final state equals the batch funnel exactly. An
    * out-of-order view arriving AFTER a click was already admitted
    * cannot retract the admission — exact retraction would need every
    * past event buffered, i.e. unbounded state.
    *
    * Output (Update mode): one row per touched key per trigger:
    * (key, times) with `times(i)` = epoch micros of step i+1's
    * earliest completion, or NULL while unreached. */
  def funnelStream(
      df: DataFrame, keyCol: String, typeCol: String, tsCol: String,
      steps: Seq[String]): Dataset[(String, Seq[Option[Long]])] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = df.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val Unset = Long.MaxValue
    df.select(
        col(keyCol).cast("string").as("k"),
        col(typeCol).cast("string").as("st"),
        col(tsCol).cast("timestamp").as("ts"))
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Seq[Option[Long]])](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String, java.sql.Timestamp)], state) =>
          val t = state.getOption.getOrElse(Array.fill(steps.length)(Unset))
          val evs = rows.flatMap { case (_, st, ts) =>
            stepIdx.get(st).map(i => (tsMicros(ts), i))
          }.toArray.sortInPlaceBy(identity)
          evs.foreach { case (ts, i) =>
            if (i == 0) { if (ts < t(0)) t(0) = ts }
            else if (t(i - 1) != Unset && ts > t(i - 1) && ts < t(i)) t(i) = ts
          }
          state.update(t)
          key -> t.toSeq.map(v => if (v == Unset) None else Some(v))
      }
  }

  private def tsMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000) % 1000L
}
