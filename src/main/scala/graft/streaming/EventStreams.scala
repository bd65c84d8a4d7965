package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.Det

/** Event-time transforms shared between batch and Structured Streaming.
  *
  * Each takes ANY events-schema frame (event_id, ts, user_id, event_type,
  * value, props) — `spark.read.parquet` in batch, `readStream`/MemoryStream
  * in streaming — and returns the same logical plan. `withWatermark` is a
  * no-op in batch, so the batch run of the identical transform is the
  * DuckDB-oracle parity check (SURVEY.md §2.7: batch-first), while the
  * streaming run gets state cleanup + late-data semantics for free.
  *
  * Scale: tumbling/session windows shuffle once on (window-bucket, key);
  * watermarked state is bounded by (watermark horizon x keys), not stream
  * length.
  */
object EventStreams {

  val WatermarkDelay = "1 hour"
  val TumblingWindow = "10 minutes"
  val SessionGap = "6 hours"
  val SlidingWindow = "30 minutes"
  val SlidingHop = "10 minutes"

  /** Tumbling 10-minute windows per event type: count + quantized value sum. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), TumblingWindow), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4))).as("sum_value"))
      .select(
        col("window.start").as("wstart"),
        col("window.end").as("wend"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 30-minute windows hopping every 10 minutes: each event lands
    * in exactly 3 overlapping windows (duration/hop). Spark expands the
    * window assignment row-side (an explode of the 3 window structs) and
    * then aggregates exactly like tumbling — state per (window, key) is
    * bounded by the watermark horizon; the shuffle carries 3x the rows of
    * the tumbling plan, the price of overlap, with partial aggregation
    * still applying per window.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), SlidingWindow, SlidingHop), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4))).as("sum_value"))
      .select(
        col("window.start").as("wstart"),
        col("window.end").as("wend"),
        col("event_type"), col("n"), col("sum_value"))

  /** At-least-once ingestion DEDUP — the stateful streaming primitive
    * the family still lacked: Kafka replays and producer retries
    * duplicate event ids, and exactly-once DOWNSTREAM semantics need
    * them dropped with BOUNDED state.
    * `dropDuplicatesWithinWatermark(event_id)` keeps the first arrival
    * and drops any same-id record arriving while the first's state
    * lives; state evicts as the watermark passes (plain dropDuplicates
    * would hold every id forever — unbounded at 100 TB/day). The
    * eviction also defines the guarantee's HONEST boundary: a same-id
    * record with an in-watermark ts arriving after the original's state
    * expired is re-admitted — dedup is guaranteed only within the
    * delay, the API's documented contract. StreamingSpec pins all
    * three behaviors plus the state-store eviction row count.
    *
    * Batch twin: the API is streaming-only (Spark raises on batch
    * frames); the batch equivalent of "keep the first byte-identical
    * copy" is plain dropDuplicates on the key — output-equal whenever
    * duplicates are byte-identical, which at-least-once REPLAYS are by
    * definition (a retry re-sends the same record; same-key records
    * with DIFFERENT payloads are a different defect class — CDC
    * versioning's job, [[StreamSinks.cdcToWarehouse]]).
    */
  def dedupedEvents(events: DataFrame,
      delay: String = WatermarkDelay): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Online FEATURE SERVING for the K-fold target encoding — the apply
    * side of `events_target_encoding`: a trainer computed the
    * (category, fold) encoding table offline; at inference time each
    * ARRIVING event must pick up its feature row-locally. The event's
    * fold is the same content hash the trainer used, the lookup is a
    * BROADCAST stream-static join against the persisted table (model
    * state, never stream state), and a category the table has never
    * seen falls back to its fold's out-of-fold prior — the m-estimate's
    * own unseen-category limit, so online and offline encodings agree
    * by construction.
    *
    * SIZE PRECONDITION on the explicit broadcast: the encoding table is
    * |categories| x K rows — here user_id cardinality, which fits an
    * executor comfortably at every test SF, but a high-cardinality
    * category column (10^8+ users) outgrows a broadcast and the hint
    * becomes an executor-OOM hazard. At that scale drop the hint (let
    * AQE pick a shuffled stream-static join) or pre-bucket the table by
    * the join key — targetEncoding's own "shuffle-or-broadcast" stance;
    * the hint here encodes the serving-table-is-model-sized assumption,
    * it is not part of the semantics. STATELESS like [[graft.streaming.VecStreams]]'
    * ingest coding: no watermark, no state store, exactly-once composes
    * through [[StreamSinks]]; StreamingSpec pins batch/stream row
    * parity across a micro-batch split including the unseen-category
    * fallback.
    */
  def encodedEvents(events: DataFrame, encoding: DataFrame): DataFrame = {
    import graft.events.EventQueries.TeFolds
    val enc = encoding.select(col("user_id"), col("fold"), col("encoding"))
    val priors = encoding.groupBy(col("fold"))
      .agg(max(col("prior")).as("fold_prior"))
    events
      .withColumn("fold",
        graft.text.TextFns.hash60(col("event_id").cast("string")) % TeFolds)
      .join(broadcast(enc), Seq("user_id", "fold"), "left")
      .join(broadcast(priors), Seq("fold"), "left")
      .withColumn("te_user", coalesce(col("encoding"), col("fold_prior")))
      .drop("encoding", "fold_prior")
  }

  /** Per-day distinct users, sketch path — the streaming twin of the
    * batch `events_daily_distinct` query's HLL++ column. Exact
    * countDistinct is not available under streaming aggregation (distinct
    * aggs need unbounded state); the sketch IS the streaming contract:
    * approx_count_distinct's HLL++ registers merge commutatively (max per
    * register), so incremental micro-batch merges and the one-shot batch
    * aggregation produce the SAME estimate — the parity StreamingSpec
    * asserts. State per day is one fixed-size sketch buffer, retired by
    * the watermark; at 100 TB/day ingest this is the only shape whose
    * state does not grow with cardinality.
    */
  /** ONLINE SRM GUARDRAIL — the streaming twin of the batch
    * `events_srm_check` (per-segment rows; the batch query's extra
    * 'ALL' distinct-user grain stays batch-side): assignment imbalance
    * should page DURING the experiment, not at readout time. Exposure
    * grain is stateful dropDuplicates on (event_type, user_id) — a
    * user's repeat events in a segment never recount whatever
    * micro-batch they arrive in — feeding one conditional aggregate;
    * the chi² flags are a stateless projection over the segment rows,
    * identical arithmetic to the batch twin (StreamingSpec asserts
    * full-row parity). Dedup state is (segments × users) — bounded by
    * the experiment's audience, the honest cost of exact exposure
    * counting; an approximate deployment swaps in the KMV/HLL state of
    * [[SketchStreams]].
    */
  def srmGuardrail(events: DataFrame): DataFrame = {
    import graft.events.EventQueries.{SrmChi2Crit1PmQ, SrmChi2Crit5Q}
    val exp = events
      .select(col("event_type"), col("user_id"))
      .dropDuplicates("event_type", "user_id")
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    val diff = (col("n_a") - col("n_b")).cast("double")
    exp
      .groupBy(col("event_type").as("segment"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("n_users", col("n_a") + col("n_b"))
      .withColumn("chi2q", when(col("n_users") > 0L,
        Det.quantize(diff * diff / col("n_users").cast("double"), 9)))
      .select(col("segment"), col("n_a"), col("n_b"), col("n_users"),
        when(col("n_users") > 0L, col("n_a").cast("double")
          / col("n_users").cast("double")).as("share_a"),
        (col("chi2q").cast("double") / lit(1e9)).as("chi2"),
        (col("chi2q") >= lit(SrmChi2Crit5Q)).as("srm_5pct"),
        (col("chi2q") >= lit(SrmChi2Crit1PmQ)).as("srm_1pm"))
  }

  def dailyDistinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 day"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"),
          graft.events.EventQueries.DailyDistinctRsd).as("users_est"))
      .select(col("window.start").as("day"), col("n_events"), col("users_est"))

  /** Weekly active users, DataSketches-HLL path — the streaming twin of
    * the batch `events_weekly_sketch_rollup` query. The batch query
    * proves sketches re-aggregate across DAYS (union of stored per-day
    * buffers); this transform proves the same sketch re-aggregates
    * across MICRO-BATCHES: `hll_sketch_agg` state merges commutatively,
    * so whatever batch boundary splits a week, the final estimate equals
    * the one-shot batch aggregation — the parity StreamingSpec asserts.
    * The 7-day window is Monday-aligned (startTime 4 days: 1970-01-05
    * was a Monday) to mirror the batch query's date_trunc('week') —
    * UNDER THE REPO'S PINNED spark.sql.session.timeZone=UTC ONLY:
    * window() offsets absolute epoch time while date_trunc truncates in
    * session-local time, so in a non-UTC session the two week boundaries
    * diverge and the batch-parity claim would need the startTime offset
    * derived from the session zone instead of this constant.
    */
  def weeklyDistinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "7 days", "7 days", "4 days"))
      .agg(
        count(lit(1)).as("n_events"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"),
          graft.events.EventQueries.WeeklySketchLgK)).as("users_est"))
      .select(col("window.start").as("week"), col("n_events"),
        col("users_est"))

  /** Hourly SLO error-budget burn — the streaming twin of the batch
    * `events_slo_burn` query, THE transform a monitoring pipeline runs
    * continuously rather than nightly: a watermarked 1-hour tumbling
    * aggregate (counts + error counts merge commutatively across
    * micro-batches, the [[tumblingCounts]] contract) with the per-hour
    * derived columns (err_share, burn_rate, page) computed on the closed
    * window. The RUNNING budget_consumed is deliberately NOT streamed: a
    * global running ratio would need a total order over every closed
    * hour (single-key unbounded state); instead the stream materializes
    * this hourly frame and the serving-layer readout
    * ([[graft.events.EventQueries.sloBurnReadout]] — the identical tail
    * the batch query runs) computes the running budget over the
    * model-sized sink table. StreamingSpec asserts full-row parity with
    * the batch query across a micro-batch split INSIDE one hour.
    * Window alignment note: window(ts, '1 hour').start equals the batch
    * date_trunc('hour') under the repo's pinned UTC session zone only
    * (the [[weeklyDistinctUsers]] caveat).
    */
  def sloBurnHourly(events: DataFrame): DataFrame = {
    import graft.events.EventQueries.{SloPageBurn, SloTarget}
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      .select(col("window.start").as("hour"), col("n_events"),
        col("n_errors"))
      .withColumn("err_share", col("n_errors") / col("n_events"))
      .withColumn("burn_rate",
        floor(col("err_share") / lit(SloTarget) * lit(1e6) + lit(0.5))
          / lit(1e6))
      .withColumn("page", col("burn_rate") >= SloPageBurn)
  }

  /** Observed 15-minute slots per event type — the streaming half of the
    * batch `events_gapfill_15min` query, the monitoring family's
    * remaining batch-only member made continuous: a watermarked tumbling
    * aggregate whose (count, quantized sum) state merges commutatively
    * across micro-batches (the [[tumblingCounts]] contract), so whatever
    * batch boundary splits a slot, the materialized slot frame equals
    * the one-shot batch aggregation. The dense grid + forward-fill is
    * deliberately NOT streamed: forward-filling across empty slots needs
    * a total order over all closed slots per type (the running-budget
    * argument on [[sloBurnHourly]]); the serving-layer readout
    * ([[graft.events.EventQueries.gapfillReadout]] — the identical tail
    * the batch query runs) computes grid + ffill over the model-sized
    * sink table. StreamingSpec asserts full-row parity across a
    * mid-slot micro-batch split.
    */
  def gapfillSlots(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(col("event_type"),
        window(col("ts"), "15 minutes")("start").as("slot"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4))).as("sum_value"))

  /** Session windows per user (6-hour inactivity gap). A session ends
    * gapDuration after its last event (Spark session_window semantics —
    * mirrored exactly by the oracle's gaps-and-islands SQL).
    */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(session_window(col("ts"), SessionGap), col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4))).as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("sum_value"))


  /** Watermarked STREAM-STREAM interval join — the click-attribution join
    * ([[graft.events.EventQueries.attributionCandidates]]'s predicate) as
    * two live streams: the view stream and the click stream each carry
    * their OWN watermark, and every click joins the same-user views within
    * the last [[graft.events.EventQueries.AttributionWindowMicros]]. This
    * is the Structured Streaming class no single-stream op covers: BOTH
    * inputs are unbounded, so each side must buffer the other's potential
    * matches in the state store.
    *
    * State bound — why this never grows with stream length: the join
    * condition relates the two event-time columns directly
    * (`view_ts IN (click_ts - W, click_ts]`), so Spark derives each
    * side's watermark from the other's: a buffered view is droppable
    * once the click watermark passes `view_ts + W` (no future click can
    * reach back to it), a buffered click once the view watermark passes
    * `click_ts` — state per side is O(rows inside watermark delay + W),
    * independent of total stream length. Without the interval condition
    * the view buffer would be unbounded (any future click could match);
    * StreamingSpec pins the eviction by watching the state-store row
    * count fall after the watermark advances.
    *
    * `joinType` "left_outer" keeps unattributed clicks (the batch
    * `events_attribution` contract): the null-padded row emits only when
    * the VIEW watermark passes the click's window — the earliest moment
    * "no match" is final. In batch the watermarks are no-ops and the
    * same plan is the ordinary interval join, which is the oracle-checked
    * twin (`events_attribution_pairs`).
    */
  def attributionJoin(viewEvents: DataFrame, clickEvents: DataFrame,
      delay: String = WatermarkDelay, joinType: String = "inner"): DataFrame = {
    val W = graft.events.EventQueries.AttributionWindowMicros
    val v = viewEvents.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val c = clickEvents.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    c.join(v,
        col("user_id") === col("v_user")
          && col("view_ts") <= col("click_ts")
          && col("view_ts") > col("click_ts") - expr(s"INTERVAL $W MICROSECOND"),
        joinType)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("view_id"), col("view_ts"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("lag_micros"))
  }

  /** Custom keyed state via flatMapGroupsWithState: emit an alert row each
    * time a user's cumulative value crosses a multiple of `threshold`.
    * This is the API for state no built-in window expresses (counters,
    * sessions with custom close rules, CDC-style reconciliation); state
    * size is one long per user, dropped with the group timeout at scale.
    */
  /** SCD2 dimension MAINTENANCE as keyed streaming state — the streaming
    * twin of the batch `events_scd2_dimension` derivation: per user, the
    * open version (version, state, valid_from) lives in
    * flatMapGroupsWithState state; a state-changing event CLOSES the open
    * version (emitting the finished row append-mode, exactly-once
    * composable with [[StreamSinks]]) and opens the next. Emitted rows
    * are precisely the batch query's valid_to-closed rows — StreamingSpec
    * asserts the parity across a micro-batch split, including a version
    * whose open and close arrive in DIFFERENT batches (the state
    * carry-over the batch window can't even express).
    *
    * Ordering contract: rows are sorted (ts, event_id) WITHIN each batch
    * (the iterator has no order guarantee); ACROSS batches the source
    * must deliver each user's events in order — the usual CDC-ingest
    * contract. A late cross-batch event would need watermark-buffered
    * reordering on top of this state machine.
    */
  def scd2Closed(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_id",
        "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         gs: GroupState[(Int, String, java.sql.Timestamp)]) => {
          val sorted = rows.toSeq.sortWith((a, b) => {
            val c = a._2.compareTo(b._2)
            c < 0 || (c == 0 && a._3 < b._3)
          })
          var cur = gs.getOption
          val out = scala.collection.mutable.ListBuffer
            .empty[(Long, Int, String, java.sql.Timestamp, java.sql.Timestamp)]
          sorted.foreach { case (_, ts, _, et) =>
            cur match {
              case None => cur = Some((1, et, ts))
              case Some((v, s0, from)) if s0 != et =>
                out += ((user, v, s0, from, ts))
                cur = Some((v + 1, et, ts))
              case _ => ()
            }
          }
          cur.foreach(gs.update)
          out.iterator
        })
      .toDF("user_id", "version", "state", "valid_from", "valid_to")
  }

  /** Ordered-funnel stage tracking as keyed streaming state — the
    * continuous twin of the batch `events_funnel` (the MATCH_RECOGNIZE
    * class the batch query solves with conditional-min joins): per user,
    * the three first-times (first view, first click strictly after it,
    * first purchase strictly after that) live in flatMapGroupsWithState
    * state; each stage COMPLETION emits one append-mode row
    * (user_id, stage, ts) — at most three per user ever, composable with
    * the exactly-once sink — and the serving-layer readout
    * ([[graft.events.EventQueries.funnelPerUserFromStages]] +
    * `funnelRollup`, the gap-fill/SLO extraction pattern) recovers the
    * batch query's rollup from the model-sized sink.
    *
    * State is three timestamps per user. Pass `idleTimeout` (e.g.
    * "30 days") to wire the production eviction: a processing-time group
    * timeout drops users idle past the window, bounding the state store
    * by the ACTIVE user set instead of the all-time one — the explicit
    * trade is that an expired user who returns restarts the funnel and
    * may re-emit stages (completed-funnel state is deliberately NOT
    * removed early; it suppresses re-emission for returning completed
    * users inside the window). The DEFAULT is no timeout, deliberately:
    * with ProcessingTimeTimeout Spark schedules timeout-evaluation
    * micro-batches continuously under the default trigger, which
    * busy-loops this harness's unthrottled MemoryStream tests (a real
    * deployment sets a trigger interval, where the extra batches are
    * bounded by the trigger rate).
    *
    * Ordering contract: in-batch rows re-sorted (ts, event_id); ACROSS
    * batches per-user in-order delivery — the [[scd2Closed]] CDC-ingest
    * contract (a late-arriving EARLIER view could re-open a stage the
    * batch rule would have anchored differently; that needs
    * watermark-buffered reordering on top of this machine).
    * StreamingSpec asserts per-user-frame AND rollup parity with the
    * batch derivation across a mid-journey micro-batch split.
    */
  def funnelStages(events: DataFrame,
      idleTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_id",
        "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         gs: GroupState[(java.sql.Timestamp, java.sql.Timestamp, java.sql.Timestamp)]) => {
          if (gs.hasTimedOut) {
            gs.remove()
            Iterator.empty
          } else {
          val sorted = rows.toSeq.sortWith((a, b) => {
            val c = a._2.compareTo(b._2)
            c < 0 || (c == 0 && a._3 < b._3)
          })
          var (tv, tc, tp) = gs.getOption.getOrElse(
            (null: java.sql.Timestamp, null: java.sql.Timestamp,
              null: java.sql.Timestamp))
          val out = scala.collection.mutable.ListBuffer
            .empty[(Long, String, java.sql.Timestamp)]
          sorted.foreach { case (_, ts, _, et) =>
            et match {
              case "view" if tv == null =>
                tv = ts; out += ((user, "view", ts))
              case "click" if tv != null && tc == null
                  && ts.compareTo(tv) > 0 =>
                tc = ts; out += ((user, "click", ts))
              case "purchase" if tc != null && tp == null
                  && ts.compareTo(tc) > 0 =>
                tp = ts; out += ((user, "purchase", ts))
              case _ => ()
            }
          }
          gs.update((tv, tc, tp))
          // idle-state eviction: no event for this user within the
          // window -> state dropped (the timeout branch above)
          idleTimeout.foreach(gs.setTimeoutDuration)
          out.iterator
          }
        })
      .toDF("user_id", "stage", "ts")
  }

  def valueAlerts(events: DataFrame, threshold: Double = 100.0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "CAST(value AS DOUBLE) AS value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Double]) => {
          var total = state.getOption.getOrElse(0.0)
          var alerts = List.empty[(Long, Long, Double)]
          rows.foreach { case (_, v) =>
            val before = (total / threshold).toLong
            total += v
            val after = (total / threshold).toLong
            // one row PER milestone crossed — a single large event can
            // jump several multiples at once
            ((before + 1) to after).foreach(m => alerts ::= ((user, m, total)))
          }
          state.update(total)
          alerts.reverseIterator
        })
      .toDF("user_id", "milestone", "total_at_alert")
  }
}
