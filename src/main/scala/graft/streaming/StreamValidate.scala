package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{ResumableValidate, Validate}
import graft.rules.Rule

/** Structured Streaming form of the validation pipeline.
  *
  * The reference is batch-only (one document per run, SURVEY.md §1.2
  * "streams: not used"); this is the engine's forward path for continuously
  * arriving document corpora: `readStream` (file source over the same
  * parquet layout, or any source with the docs schema) → the identical
  * compiled rule expressions (stateless projection — violations compile to
  * pure per-row Columns, so the batch and streaming plans share the exact
  * same expression trees) → either
  *
  *   - `violations`: append-mode flat violation rows (sink to parquet/kafka);
  *   - `verdictsByWindow`: event-time-windowed per-partition verdicts with a
  *     watermark (complete/update mode) — the streaming analogue of the
  *     per-partition verdict aggregation.
  *
  * At scale: the per-row stage is stateless (no state store); only the
  * windowed verdict aggregation keeps state, bounded by watermark ×
  * #partitions.
  */
object StreamValidate {

  /** Flat violation rows (append-able) — same composition
    * ([[ResumableValidate.compositeViolations]], stateless, so usable in
    * append mode) and same projection ([[Validate.flatViolations]]) as the
    * batch path, so neither the rule set nor the row shape can drift.
    */
  def violations(docs: DataFrame, rule: Rule,
      defs: Map[String, Rule] = Map.empty): DataFrame =
    Validate.flatViolations(
      ResumableValidate.compositeViolations(docs, rule, defs))

  /** Windowed per-partition verdicts over an event-time column. */
  def verdictsByWindow(docs: DataFrame, rule: Rule, eventTime: String,
      windowLen: String = "1 minute", watermark: String = "2 minutes",
      defs: Map[String, Rule] = Map.empty): DataFrame =
    ResumableValidate.compositeViolations(docs, rule, defs)
      .withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), windowLen), col("part"))
      .agg(Validate.verdictAggs(col("violations")).head,
        Validate.verdictAggs(col("violations")).tail: _*)
      .withColumn("pass", col("failed_docs") === 0L)

  /** Streaming exact dedup on the content hash within a watermark horizon:
    * the streaming twin of `Dedup.exact` for continuously arriving docs
    * (re-sends, at-least-once upstream sources). Emits only the FIRST
    * arrival of each distinct content per horizon; duplicates are dropped.
    *
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`): a global
    * streaming distinct's state grows without bound — the watermark bounds
    * state to (distinct contents seen within the horizon), which is the
    * right contract for re-send suppression at 10^12-doc scale. Exact
    * cross-horizon dedup belongs to the batch pass (Dedup.exact).
    */
  def dedupStream(docs: DataFrame, textCol: String, eventTime: String,
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash",
        graft.operators.Dedup.contentHash(col(textCol)))
      .withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming tombstone application — the streaming twin of
    * `Forget.forget`: a stream of documents anti-joined against the
    * STATIC delete list, so tombstoned ids never reach the sink while the
    * compliance window is open (the batch rewrite handles data already at
    * rest). Stream-static LEFT ANTI is stateless on the stream side: the
    * static side broadcasts once per trigger plan, per-row cost is one
    * hash probe, no watermark or state store involved. Null ids survive
    * (same explicit-ids-only contract as the batch form).
    */
  def forgetStream(docs: DataFrame, deletes: DataFrame, idCol: String,
      delCol: String): DataFrame =
    // ONE definition of tombstone application — stream and batch lower
    // through the same join, so the two paths cannot drift
    graft.operators.Forget.forget(docs, deletes, idCol, delCol)

  /** Streaming gap sessionization — the streaming twin of
    * `Sessionize.sessionStats`, on Spark's native `session_window`
    * (merging session state per (user, window), finalized by the
    * watermark; no custom `flatMapGroupsWithState` needed). State is
    * bounded by (open sessions within the watermark horizon) — a hot
    * user holds ONE merged session row, not its event backlog, so the
    * unbounded-user problem the batch path solves with day-bucketing
    * does not arise here.
    *
    * Boundary note: `session_window` extends a session over the half-open
    * interval [event, event + gap), so an event arriving EXACTLY at
    * gap distance starts a new session; the batch form (`ts > prev + gap`)
    * keeps it. Sub-second event times make the distinction unobservable
    * in practice, but exact-boundary corpora will differ by that edge.
    */
  def sessionsStream(events: DataFrame, userCol: String = "user_id",
      eventTime: String = "ts", gapMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(eventTime, watermark)
      .groupBy(col(userCol),
        session_window(col(eventTime), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(col(eventTime)).as("first_ts"),
        max(col(eventTime)).as("last_ts"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("n_events"), col("first_ts"), col("last_ts"))

  /** INCREMENTAL drift monitoring: one binned-KS emission per MICRO-BATCH,
    * each equal to the batch statistic over the stream prefix consumed so
    * far — the update-mode form of the complete-mode replay
    * (`Drift.binnedCellCounts` + complete sink), which recomputes the full
    * aggregation every trigger and holds the whole result in the sink.
    * Here each trigger aggregates ONLY ITS OWN rows (one map-side-combined
    * groupBy of ≤ gridSize+1 cells over the batch) via `foreachBatch`, and
    * the running state merged between triggers is the GRID — ≤ gridSize+1
    * (cell, ca, cb) triples, fixed-size regardless of how much stream has
    * passed. Per-trigger cost is O(batch), not O(prefix); the fold
    * (`Drift.ksValueFromCells`) is O(grid).
    *
    * Runs the query to completion with `Trigger.AvailableNow` and returns
    * the emission log (batch_seq, ks) — one row per micro-batch, in
    * trigger order. Pair the source with `maxFilesPerTrigger` to control
    * batch granularity. For an unbounded deployment, swap the trigger for
    * a processing-time one and sink the emissions instead of collecting
    * them; state and per-trigger cost are unchanged.
    */
  def driftKsIncremental(stream: DataFrame, c: String,
      predA: Column, predB: Column, lo: Double, hi: Double,
      gridSize: Int = 101): DataFrame = {
    val spark = stream.sparkSession
    // driver-held running grid: cellOrNull -> (ca, cb); ≤ gridSize+1 keys
    val state = scala.collection.mutable.Map.empty[Option[Int], (Long, Long)]
    val emissions = scala.collection.mutable.ListBuffer.empty[(Long, Double)]
    val q = stream.writeStream
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        val delta = graft.operators.Drift
          .binnedCellCounts(batchDf, c, predA, predB, lo, hi, gridSize)
          .collect()
        delta.foreach { r =>
          val key = if (r.isNullAt(0)) None else Some(r.getInt(0))
          val (ca, cb) = state.getOrElse(key, (0L, 0L))
          state.update(key, (ca + r.getLong(1), cb + r.getLong(2)))
        }
        emissions += ((batchId, graft.operators.Drift.ksValueFromCells(
          state.toSeq.map { case (k, (ca, cb)) => (k, ca, cb) }, gridSize)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import spark.implicits._
    // driver-local, grid-bounded rows: one partition (the default
    // parallelize split burned two 32-task jobs per harness run)
    emissions.toSeq.toDF("batch_seq", "ks").coalesce(1)
  }

  /** INCREMENTAL top-k over a stream: per micro-batch, ONE map-side-
    * combined partial count of the batch's own rows (`foreachBatch` —
    * per-trigger cost O(batch)), merged into a running key→count map on
    * the driver. Returns the final top-k (count desc, key asc — same
    * deterministic contract as the batch `topTokens`/`heavyHitters`),
    * which equals the batch answer over the whole stream by construction
    * (counts are associative).
    *
    * State is (distinct keys seen) — the right tier for enum-ish keys
    * (event types, sources, langs). For unbounded key domains swap the
    * merge map for a count-min sketch per batch (Spark's
    * `count_min_sketch`, sketches merged instead of maps) — same
    * foreachBatch shape, fixed-size state.
    */
  def topKIncremental(stream: DataFrame, keyCol: String, k: Int): DataFrame = {
    val spark = stream.sparkSession
    val state = scala.collection.mutable.Map.empty[Option[String], Long]
    val q = stream.writeStream
      .foreachBatch { (batchDf: DataFrame, _: Long) =>
        val delta = batchDf
          .groupBy(col(keyCol).cast("string").as("k"))
          .agg(count(lit(1)).as("c"))
          .collect()
        delta.foreach { r =>
          val key = if (r.isNullAt(0)) None else Some(r.getString(0))
          state.update(key, state.getOrElse(key, 0L) + r.getLong(1))
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import spark.implicits._
    // tie order matches the batch/SQL contract exactly: count desc, key
    // asc with NULLS LAST (a null key must not masquerade as "")
    state.toSeq.map { case (key, c) => (key.orNull, c) }
      .sortBy { case (key, c) =>
        (-c, key == null, Option(key).getOrElse("")) }
      .take(k)
      .toDF(keyCol, "occurrences")
      .coalesce(1) // k driver-local rows — see driftKsIncremental
  }

  /** Run an update-mode streaming Dataset to completion
    * (`Trigger.AvailableNow`) and keep EVERY batch's emitted rows — the
    * harness sink shared by the custom-state operators ([[keyedProfileStream]],
    * [[keyedEvictStream]]). A last-value/memory sink would only retain
    * each key's final row and lose the trajectory; a production pipeline
    * would point the same query at a real sink instead. Per-batch volume
    * is bounded by the keys emitting in that batch.
    */
  private def collectUpdateStream(
      df: DataFrame): Seq[org.apache.spark.sql.Row] = {
    val rows = scala.collection.mutable.ListBuffer
      .empty[org.apache.spark.sql.Row]
    val q = df.writeStream
      .outputMode("update")
      .foreachBatch { (batchDf: DataFrame, _: Long) =>
        rows ++= batchDf.collect()
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    rows.toSeq
  }

  /** Per-key CUSTOM-STATE streaming profile via `flatMapGroupsWithState`
    * — the state-store tier the `foreachBatch` incrementals above don't
    * exercise: state lives in Spark's per-key state store (checkpointed,
    * partitioned by key hash — it scales with the KEY COUNT across
    * executors, never through the driver), and the update function owns
    * the merge logic outright, which is what the built-in windowed
    * aggregations can't express when the per-key state is a custom
    * record.
    *
    * Contract (deterministic, oracle-replayable): for every micro-batch
    * in which a key appears, emit exactly one row
    * `(key, upd_seq, events_seen, last_us)` — the key's 1-based update
    * sequence number and its running event count and max event-time
    * (epoch micros) over all batches so far. Within-batch iterator order
    * never matters (count and max are order-free), so with a pinned
    * micro-batch order (mtime-ordered slice files + maxFilesPerTrigger=1,
    * as [[driftKsIncremental]]'s harness pins it) the full emission set
    * equals a per-(key, slice) prefix aggregation a batch engine can
    * replay.
    *
    * Runs to completion with `Trigger.AvailableNow` and returns every
    * emission. NoTimeout: the profile keys are live for the stream's
    * life; an eviction policy would be an event-time timeout clearing
    * keys idle past the watermark — same function, one more branch.
    * Update output mode (each emission supersedes the key's previous
    * row); collection goes through `foreachBatch` so the emissions of
    * EVERY batch are kept — a last-value sink would only show the final
    * per-key state and lose the trajectory this operator exists to
    * check.
    */
  def keyedProfileStream(events: DataFrame, keyCol: String,
      timeCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events
      .filter(col(keyCol).isNotNull && col(timeCol).isNotNull)
      .select(col(keyCol).cast("long").as("key"),
        unix_micros(col(timeCol).cast("timestamp")).as("ep_us"))
      .as[KeyedEvent]
    val emitted = ds.groupByKey(_.key)
      .flatMapGroupsWithState[KeyedProfileState, KeyedProfileEmit](
        org.apache.spark.sql.streaming.OutputMode.Update,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[KeyedEvent],
         state: org.apache.spark.sql.streaming.GroupState[KeyedProfileState]) =>
          var n = 0L
          var mx = Long.MinValue
          it.foreach { e =>
            n += 1
            if (e.ep_us > mx) mx = e.ep_us
          }
          val prev = state.getOption
            .getOrElse(KeyedProfileState(0, 0L, Long.MinValue))
          val next = KeyedProfileState(prev.upd_seq + 1, prev.n + n,
            math.max(prev.max_us, mx))
          state.update(next)
          Iterator(
            KeyedProfileEmit(key, next.upd_seq, next.n, next.max_us))
      }
    collectUpdateStream(emitted.toDF)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toDF("key", "upd_seq", "events_seen", "last_us")
      .coalesce(1) // emission-bounded driver-local rows — see driftKsIncremental
  }
  /** State EVICTION twin of [[keyedProfileStream]]: `flatMapGroupsWithState`
    * with an EVENT-TIME TIMEOUT — the piece that makes per-key state
    * bounded at 10¹²-key scale (NoTimeout state grows with the key
    * universe forever; here a key idle past the watermark is expired,
    * emitted, and REMOVED from the state store, so live state tracks the
    * active-key working set).
    *
    * Per batch: keys with data merge (count, max event-time) into state
    * and re-arm their timeout at `max event-time + timeoutMs`; keys
    * WITHOUT data whose timeout fell behind the event-time watermark fire
    * `hasTimedOut`, emit ONE episode row `(key, events_seen, last_us)`
    * and clear. A key reappearing later starts a fresh episode — the
    * stream-native form of sessionization-by-inactivity. Under
    * `Trigger.AvailableNow` the runtime appends a trailing NO-DATA batch
    * after the last file so the watermark (which lags one batch) can pass
    * the final data — that batch expires every still-live key, so the
    * emission set is COMPLETE: one row per episode, mid-stream or
    * trailing. (On an unbounded stream there is no trailing flush and
    * live keys simply haven't closed yet.)
    *
    * Determinism: the timeout re-arm is guarded to stay above the current
    * watermark (Spark rejects a timeout at-or-below it — reachable only
    * for late data, which then expires in the NEXT batch); with
    * mtime-pinned slice files whose per-slice maxima dominate every
    * key's in-slice activity by more than the timeout (the harness plants
    * a sentinel max per slice), an episode closes in the FIRST batch the
    * key sits out, and the emission set equals a batch gaps-and-islands
    * pass over (key, slice) — replayable by any engine without modeling
    * watermark timing.
    */
  def keyedEvictStream(events: DataFrame, keyCol: String, timeCol: String,
      timeoutMs: Long, watermarkDelay: String = "1 second"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events
      .filter(col(keyCol).isNotNull && col(timeCol).isNotNull)
      .withColumn("_ts", col(timeCol).cast("timestamp"))
      .withWatermark("_ts", watermarkDelay)
      // the watermarked column must SURVIVE the projection — pruning it
      // strips the watermark and event-time timeout refuses to plan
      .select(col(keyCol).cast("long").as("key"),
        unix_micros(col("_ts")).as("ep_us"), col("_ts").as("ts"))
      .as[KeyedEventTs]
    val emitted = ds.groupByKey(_.key)
      .flatMapGroupsWithState[KeyedProfileState, KeyedProfileEmit](
        org.apache.spark.sql.streaming.OutputMode.Update,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[KeyedEventTs],
         state: org.apache.spark.sql.streaming.GroupState[KeyedProfileState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(KeyedProfileEmit(key, 1, s.n, s.max_us))
          } else {
            var n = 0L
            var mx = Long.MinValue
            it.foreach { e =>
              n += 1
              if (e.ep_us > mx) mx = e.ep_us
            }
            val prev = state.getOption.getOrElse(
              KeyedProfileState(0, 0L, Long.MinValue))
            val next = KeyedProfileState(0, prev.n + n,
              math.max(prev.max_us, mx))
            state.update(next)
            // re-arm; a late-data key whose natural deadline is already
            // behind the watermark expires in the next batch instead of
            // crashing the query
            state.setTimeoutTimestamp(math.max(
              next.max_us / 1000L + timeoutMs,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
    collectUpdateStream(emitted.toDF)
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toDF("key", "events_seen", "last_us")
      .coalesce(1) // episode-bounded driver-local rows — see driftKsIncremental
  }
}

/** Input projection for [[StreamValidate.keyedProfileStream]] (top-level:
  * product encoders need a stable, non-local class).
  */
case class KeyedEvent(key: Long, ep_us: Long)

/** Input projection for [[StreamValidate.keyedEvictStream]] — carries the
  * watermarked event-time column alongside the epoch micros (see the
  * projection comment there).
  */
case class KeyedEventTs(key: Long, ep_us: Long, ts: java.sql.Timestamp)

/** Per-key state-store record for [[StreamValidate.keyedProfileStream]]. */
case class KeyedProfileState(upd_seq: Int, n: Long, max_us: Long)

/** One emission per (key, batch-with-data) from
  * [[StreamValidate.keyedProfileStream]].
  */
case class KeyedProfileEmit(key: Long, upd_seq: Int, events_seen: Long,
  last_us: Long)
