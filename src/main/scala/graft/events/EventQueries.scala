package graft.events

import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.{Det, GraftQuery}
import graft.streaming.EventStreams

/** Event-table queries: JSON extraction and the batch runs of the shared
  * streaming transforms ([[graft.streaming.EventStreams]]) — the batch
  * side of the batch/stream parity contract.
  */
object EventQueries {

  /** JSON scalar extraction (`props` is a JSON string) + per-type rollup. */
  val jsonRollup: GraftQuery = GraftQuery(
    "events_json_rollup",
    "get_json_object extraction + groupBy event_type rollup",
    EventOracle.jsonRollupSql) { (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")) / count(col("k"))).as("avg_k"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4))).as("sum_value"))
      .orderBy("event_type")
  }

  /** Tumbling 10-minute event-time windows (batch parity of the streaming
    * transform; wstart/wend are epoch-aligned on both engines).
    */
  val tumbling: GraftQuery = GraftQuery(
    "events_tumbling_10min",
    "event-time tumbling window agg (batch parity of streaming transform)",
    EventOracle.tumblingSql) { (s, d) =>
    EventStreams.tumblingCounts(Tables.events(s, d))
      .orderBy("wstart", "event_type")
  }

  /** Sliding 30-minute windows with a 10-minute hop (batch parity of the
    * streaming transform): each event belongs to exactly 3 overlapping
    * windows. The oracle reconstructs Spark's assignment rule (window
    * starts are the hop-aligned buckets at 0/1/2 hops back) explicitly.
    */
  val sliding: GraftQuery = GraftQuery(
    "events_sliding_30min",
    "sliding event-time windows (30min / 10min hop, batch parity of streaming)",
    EventOracle.slidingSql) { (s, d) =>
    EventStreams.slidingCounts(Tables.events(s, d))
      .orderBy("wstart", "event_type")
  }

  /** Session windows per user, 6h gap (batch parity; oracle is the
    * gaps-and-islands formulation).
    */
  val sessions: GraftQuery = GraftQuery(
    "events_user_sessions",
    "session_window per user, 6h inactivity gap (batch parity)",
    EventOracle.sessionsSql) { (s, d) =>
    EventStreams.userSessions(Tables.events(s, d))
      .orderBy("user_id", "session_start")
  }

  /** As-of join (absent from both the reference and vanilla Spark —
    * SURVEY.md §2.3): each event is matched to the LATEST order of its
    * customer at or before a per-event as-of date. Composed Spark-first:
    * equi-join on the customer key + temporal filter + row_number pick —
    * the shuffle is the key equi-join (sort-merge at scale), never a
    * cross product; the window sorts only each event's matched orders.
    */
  val asOfJoin: GraftQuery = GraftQuery(
    "events_asof_order",
    "as-of join: latest order per event's customer at/before event as-of date",
    EventOracle.asOfJoinSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        date_add(to_date(lit("1995-01-01")), (col("event_id") % 2400).cast("int"))
          .as("as_of_date"))
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(desc("o_date"), desc("o_orderkey"))
    ev.join(o, col("user_id") === col("o_custkey") && col("o_date") <= col("as_of_date"),
      "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_id", "user_id", "as_of_date", "o_orderkey", "o_date", "o_totalprice")
      .orderBy("event_id")
  }

  /** Range (band) join: events bucketed into a literal value-band dimension
    * via a non-equi join condition — broadcast-nested-loop against the
    * 5-row dim, so the corpus side streams through untouched.
    */
  val rangeJoin: GraftQuery = GraftQuery(
    "events_value_bands",
    "range join: value into literal [lo,hi) bands + per-band rollup",
    EventOracle.rangeJoinSql) { (s, d) =>
    val bands = broadcast(s.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("nano", 0.0, 5.0),
        org.apache.spark.sql.Row("small", 5.0, 25.0),
        org.apache.spark.sql.Row("mid", 25.0, 100.0),
        org.apache.spark.sql.Row("large", 100.0, 250.0),
        org.apache.spark.sql.Row("huge", 250.0, 1e9)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "band STRING, lo DOUBLE, hi DOUBLE")))
    Tables.events(s, d)
      .join(bands, col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"), col("lo"))
      .agg(
        count(lit(1)).as("n"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4))).as("sum_value"))
      .select("band", "lo", "n", "sum_value")
      .orderBy("lo")
  }

  /** Skew-resistant two-stage (salted) aggregation: stage 1 pre-aggregates
    * on (key, salt) so a hot key's rows split across `Salt` reducers; stage
    * 2 merges the partials. The quantized-long partials make the rewrite
    * EXACTLY semantics-preserving — which is why this query's oracle is the
    * plain single-stage GROUP BY: identical results, different shuffle
    * shape. (With AQE skew handling this is usually automatic; the explicit
    * form is for deliberate control at 100 TB.)
    */
  val saltedRollup: GraftQuery = GraftQuery(
    "events_salted_rollup",
    "skew-resistant salted two-stage agg per user (oracle = plain groupBy)",
    EventOracle.saltedRollupSql) { (s, d) =>
    val Salt = 8
    val stage1 = Tables.events(s, d)
      .withColumn("salt", (col("event_id") % Salt).cast("int"))
      .groupBy(col("user_id"), col("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(Det.quantize(col("value"))).as("pv"))
    stage1
      .groupBy(col("user_id"))
      .agg(
        sum(col("pn")).as("n"),
        (sum(col("pv")) / lit(Det.pow10(4))).as("sum_value"))
      .orderBy("user_id")
  }

  /** Replication factor for [[saltedJoin]]'s hot keys. */
  val JoinSalt = 8

  /** Hot-key budget for [[saltedJoin]]: the top-K keys by fact count pay
    * replication. Production gates on the [[keySkew]] threshold instead
    * (cnt > 2·N/reducers, which bounds the hot set at reducers/2 keys by
    * Σcnt ≤ N); the fixed top-K keeps the salted path EXERCISED at gate
    * SF, where the synthetic corpus is too uniform to trip the threshold.
    */
  val JoinHotK = 16

  /** SALTED SKEW-JOIN — the replicate-broadcast rewrite
    * [[keySkew]] diagnoses and [[saltedRollup]] applies to aggregation,
    * applied to the JOIN: a shuffle join on a skewed key sends every row
    * of the hottest key through ONE reducer, so the fix is to split the
    * hot keys' fact rows across [[JoinSalt]] salt values and REPLICATE
    * the dim side's hot rows once per salt — the join key becomes
    * (key, salt) and the hot key's traffic spreads over Salt reducers.
    * Cold keys ride salt 0 with no replication. SEMANTICS-PRESERVING by
    * construction (each fact row still meets exactly its dim row — once,
    * under exactly one salt), so the oracle is the PLAIN join+agg — the
    * `urgent_revenue_bloom`/`events_salted_rollup` grading contract.
    *
    * The dim side carries a merge-join hint: at gate SF Spark would
    * broadcast the 1.5k-row customer dim (and a broadcast join cannot
    * skew in the first place — no rewrite needed); the hint makes the
    * dim stand in for the non-broadcastable big-dim/fact side this
    * rewrite exists for, and PlanSpec pins the shuffle partitioning on
    * BOTH join columns (user_id, salt). At 100 TB with AQE skew-join the
    * runtime can split oversized partitions itself — the explicit form
    * is deliberate control, and unlike AQE it also fixes skew that only
    * materializes INSIDE a stage (the [[saltedRollup]] note).
    *
    * Scale shape: the hot set is a global top-K on the per-key count
    * frame (key-cardinality-bounded; TakeOrderedAndProject) broadcast to
    * both sides; fact traffic is unchanged (one shuffle, now salted);
    * dim pays +K·(Salt−1) replicated rows. Determinism: salts come from
    * the stable event_id, totals are quantized-LONG sums, the readout
    * groups by segment.
    */
  val saltedJoin: GraftQuery = GraftQuery(
    "events_salted_join",
    s"salted skew join: top-$JoinHotK hot user_ids split x$JoinSalt, dim replicated (oracle = plain join)",
    EventOracle.saltedJoinSql) { (s, d) =>
    saltedJoinFrame(Tables.events(s, d), Tables.customer(s, d))
  }

  /** The salted-join rewrite over any (events, customer) pair — shared
    * by the registry query and the planted-hot-key spec.
    */
  def saltedJoinFrame(events: org.apache.spark.sql.DataFrame,
      customers: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hot = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("user_id")).limit(JoinHotK)
      .select(col("user_id").as("hot_key"))
    val fact = events
      .join(broadcast(hot), col("user_id") === col("hot_key"), "left")
      .withColumn("salt",
        when(col("hot_key").isNotNull,
          (col("event_id") % JoinSalt).cast("int")).otherwise(lit(0)))
      .select(col("user_id"), col("salt"), col("value"))
    val dim = customers
      .join(broadcast(hot), col("c_custkey") === col("hot_key"), "left")
      .withColumn("salt", explode(
        when(col("hot_key").isNotNull,
          sequence(lit(0), lit(JoinSalt - 1))).otherwise(array(lit(0)))))
      .select(col("c_custkey"), col("salt").cast("int").as("salt"),
        col("c_mktsegment"))
    fact.join(dim.hint("merge"),
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4)))
          .as("sum_value"))
      .orderBy("c_mktsegment")
  }

  /** lag/lead analytics: per-user inter-arrival gaps. Gaps are exact
    * microsecond longs (timestamp diffs), so the summary stats quantize
    * for free.
    */
  val interarrival: GraftQuery = GraftQuery(
    "events_interarrival",
    "lag window: per-user inter-arrival gap stats (avg/max seconds)",
    EventOracle.interarrivalSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(col("gap_us")) / (lit(1e6) * count(col("gap_us")))).as("avg_gap_s"),
        (max(col("gap_us")) / lit(1e6)).as("max_gap_s"))
      .orderBy("user_id")
  }

  /** Time-series gap-fill / resample: the corpus regularized onto a dense
    * 15-minute grid (one row per (event_type, slot) even where no events
    * landed), with the per-slot mean value FORWARD-FILLED across empty
    * slots — the standard prep step before any windowed feature extraction
    * or join against a regular-cadence series.
    *
    * Scale shape: the observed-slot aggregate is one partial-agg shuffle
    * keyed (type, slot); the dense grid is generated (5 types x one
    * `sequence` over the global slot bounds — never materialized from the
    * fact side) and left-joins the aggregate on the same key. The forward
    * fill is `last(ignoreNulls)` over (type, slot) — partitioned by type,
    * so 100 TB of events still fan into per-type streams whose state is
    * one running value. Bounds come from a broadcast 1-row aggregate.
    */
  val gapFill: GraftQuery = GraftQuery(
    "events_gapfill_15min",
    "dense 15-min grid per type + forward-filled mean value (gap-fill/resample)",
    EventOracle.gapFillSql) { (s, d) =>
    gapfillReadout(graft.streaming.EventStreams
      .gapfillSlots(Tables.events(s, d)))
  }

  /** The gap-fill READOUT tail over a (event_type, slot, n_events,
    * sum_value) observed-slot aggregate — shared by the batch query and
    * the streaming path (the [[sloBurnReadout]] extraction pattern): the
    * dense grid's bounds AND its type list both derive from the
    * aggregate itself (a type with any event has a slot row), so the
    * tail reads only model-sized state — in streaming, the materialized
    * sink table, never the stream.
    */
  def gapfillReadout(slotAgg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // re-alias the grid-side derivations: the readout references slotAgg
    // three times (bounds, type list, join right side), and a memory-sink
    // View repeats attribute ids across branches — the explicit aliases
    // mint fresh ids so the self-join resolves (parquet-backed frames
    // dedup automatically; streaming sink tables do not)
    val slots2 = slotAgg.select(col("event_type").as("event_type"),
      col("slot").as("slot"))
    val bounds = slots2.agg(min(col("slot")).as("lo"), max(col("slot")).as("hi"))
    val grid = slots2.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 15 MINUTES")))
          .as("slot"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slot"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(slotAgg, Seq("event_type", "slot"), "left")
      .select(
        col("event_type"), col("slot"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("sum_value") / col("n_events"), ignoreNulls = true).over(w)
          .as("value_ffill"),
        col("n_events").isNull.as("is_gap"))
      .orderBy("event_type", "slot")
  }

  /** Ordered-sequence funnel (view -> click -> purchase): per user, the
    * first view, the first click strictly after it, the first purchase
    * strictly after that — the product-analytics pattern-match operator
    * (MATCH_RECOGNIZE's most common instance). Stage times are exact
    * microsecond longs, so the conversion-lag stats quantize for free.
    *
    * Scale shape: three filtered scans each partial-agg to one row per
    * user BEFORE any join (the conditional min is an agg over the
    * user-key shuffle, never a window over raw events), and the stage
    * joins are user-key equi-joins between those per-user frames — at
    * 100 TB every funnel stage moves |users| rows, not |events|.
    */
  val funnel: GraftQuery = GraftQuery.oneRow(
    "events_funnel",
    "3-stage ordered funnel per user (view->click->purchase) + conversion lags",
    EventOracle.funnelSql) { (s, d) =>
    funnelRollup(funnelPerUser(Tables.events(s, d)))
  }

  /** The batch per-user stage-times frame (user_id, t_view, t_click,
    * t_purchase — later stages NULL where unreached): first view, first
    * click strictly after it, first purchase strictly after that. Under
    * per-user in-order delivery this equals what the streaming keyed
    * state machine ([[graft.streaming.EventStreams.funnelStages]])
    * accumulates — StreamingSpec asserts frame-level parity.
    */
  def funnelPerUser(e0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = e0.select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(col("ts")).as("t_purchase"))
    v.join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), col("t_purchase")), Seq("user_id"), "left")
  }

  /** Exact funnel-latency quantiles — the distribution behind
    * [[funnel]]'s single mean lag: view→purchase latency per CONVERTED
    * user, reported as exact rank-based (type-1) p25/p50/p75/p90 plus
    * the mean. Rank-based rather than interpolated deliberately: the
    * pick is `value at row ceil(q*n)` under a total order — pure
    * integer/row_number logic both engines compute identically, where
    * interpolated quantiles hide engine-specific formula differences.
    * The q*n product is forced through DOUBLE on both engines (0.9 is
    * not binary-exact; a decimal-vs-double ceil would disagree at exact
    * multiples).
    *
    * Scale shape: the ranking runs over the CONVERTED-USER frame (model
    * -sized relative to events — one row per converting user), so the
    * single total-order window is a deliberate, bounded cost; at
    * unbounded cardinality the GK sketch (`region_bucket_distinct`
    * family) is the approximate path.
    */
  val funnelLatency: GraftQuery = GraftQuery.oneRow(
    "events_funnel_latency",
    "exact rank-based view->purchase latency quantiles (p25/p50/p75/p90) + mean, over converted users",
    EventOracle.funnelLatencySql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val lat = funnelPerUser(Tables.events(s, d))
      .filter(col("t_purchase").isNotNull)
      .select((unix_micros(col("t_purchase")) - unix_micros(col("t_view")))
        .as("lat"), col("user_id"))
    val r = lat
      .withColumn("rn", row_number().over(
        Window.orderBy(col("lat"), col("user_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    def pick(p: Double, name: String) =
      max(when(col("rn") === ceil(lit(p) * col("n")).cast("long"),
        col("lat"))).as(name)
    r.agg(
      max(col("n")).as("n_converted"),
      pick(0.25, "p25_micros"), pick(0.5, "p50_micros"),
      pick(0.75, "p75_micros"), pick(0.9, "p90_micros"),
      (sum(col("lat")).cast("double") / max(col("n")).cast("double"))
        .as("mean_micros"))
  }

  /** Path steps kept by [[conversionPaths]] before truncation. */
  val PathMaxSteps = 8

  /** Top conversion PATHS — the report [[markovTransitions]] (pairwise)
    * and [[sequenceTrigrams]] (3-step) approximate but cannot produce:
    * the full ordered event-type sequence each converting user walked
    * from their funnel-anchoring first view to their first purchase,
    * truncated to [[PathMaxSteps]] steps (paths have unbounded length;
    * the truncation is explicit via n_steps so a capped path can't
    * masquerade as complete), ranked by user count with share. THE
    * product-analytics "how do users actually convert" readout.
    *
    * Scale shape: the per-user bounds come from [[funnelPerUser]]
    * (aggregation joins), the walk is one events⋈bounds range join
    * pruned to converting users, and the path assembly is
    * sort_array(collect_list(struct)) per user — per-group state is the
    * user's in-window events, bounded by the funnel window, not the
    * stream. Determinism: in-path order is (ts, event_id) via the
    * struct sort; the oracle's string_agg carries the same ORDER BY.
    */
  val conversionPaths: GraftQuery = GraftQuery(
    "events_conversion_paths",
    s"top-20 view->purchase conversion paths (event-type sequences, first $PathMaxSteps steps) by converting-user count",
    EventOracle.conversionPathsSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val bounds = funnelPerUser(ev)
      .filter(col("t_purchase").isNotNull)
      .select(col("user_id").as("bu"), col("t_view"), col("t_purchase"))
    val walked = ev
      .join(bounds, col("user_id") === col("bu")
        && col("ts") >= col("t_view") && col("ts") <= col("t_purchase"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("steps"))
      .select(col("user_id"),
        size(col("steps")).as("n_steps"),
        array_join(transform(slice(col("steps"), 1, PathMaxSteps),
          x => x.getField("event_type")), ">").as("path"))
    val byPath = walked
      .groupBy(col("path"), (col("n_steps") > PathMaxSteps).as("truncated"))
      .agg(count(lit(1)).as("n_users"))
    byPath
      .withColumn("share",
        col("n_users") / sum(col("n_users")).over(Window.partitionBy()))
      .orderBy(desc("n_users"), col("path"), col("truncated"))
      .limit(20)
      .select(col("path"), col("truncated"), col("n_users"), col("share"))
  }

  /** The funnel ROLLUP tail over a per-user stage-times frame — shared
    * by the batch query and the streaming readout (the
    * [[gapfillReadout]]/[[anomalyReadout]] pattern): stage counts,
    * conversion rate, mean view->purchase lag, reading only the
    * model-sized per-user frame (in streaming, the pivot of the sink's
    * stage-completion rows), never raw events.
    */
  def funnelRollup(perUser: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    perUser.agg(
      count(col("t_view")).as("n_view"),
      count(col("t_click")).as("n_click"),
      count(col("t_purchase")).as("n_purchase"),
      (count(col("t_purchase")) / count(col("t_view"))).as("conv_rate"),
      (sum(unix_micros(col("t_purchase")) - unix_micros(col("t_view")))
        / (lit(1e6) * count(col("t_purchase")))).as("avg_lag_s"))

  /** Pivot of the streamed stage-completion rows (user_id, stage, ts —
    * each stage emitted at most once per user) back into the
    * [[funnelPerUser]] frame shape, for the shared [[funnelRollup]].
    */
  def funnelPerUserFromStages(stages: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    stages.groupBy(col("user_id"))
      .agg(
        max(when(col("stage") === "view", col("ts"))).as("t_view"),
        max(when(col("stage") === "click", col("ts"))).as("t_click"),
        max(when(col("stage") === "purchase", col("ts"))).as("t_purchase"))

  /** Weekly retention cohorts: users grouped by first-seen week, counted
    * in each later week they return — the triangle matrix behind every
    * retention dashboard. Two aggregations: per-user first week (one
    * user-key shuffle), then distinct users per (cohort_week, offset) over
    * the user-week activity frame — at 100 TB the distinct pre-aggregates
    * on (cohort, offset, user) before the final count, so the shuffle
    * carries user-week pairs, never raw events.
    */
  val retention: GraftQuery = GraftQuery(
    "events_retention_cohorts",
    "weekly cohort retention matrix: first-seen week x week offset x users",
    EventOracle.retentionSql) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
    val first = e.groupBy(col("user_id")).agg(min(col("aw")).as("cohort_week"))
    e.join(first, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("aw"), col("cohort_week")) / lit(7)).cast("int")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Error-budget SLO for [[sloBurn]]: target error share and the burn
    * multiple that pages (the Google SRE multiwindow convention's fast
    * window).
    */
  val SloTarget = 0.05
  val SloPageBurn = 2.0

  /** SLO error-budget burn — the ops-monitoring readout an event
    * pipeline feeds: per tumbling hour, the error share of all events,
    * the burn rate (share / [[SloTarget]] — how fast that hour consumes
    * the error budget), a paging flag at [[SloPageBurn]]x, plus the
    * RUNNING budget consumed since the start of the stream (cumulative
    * errors / cumulative allowed errors). One tumbling aggregate
    * (hour-keyed, partial map-side) and one ordered window over the
    * hour-bounded frame. Determinism: counts are exact; every share is
    * a single exact-LONG division; burn quantized to 1e-6.
    */
  val sloBurn: GraftQuery = GraftQuery(
    "events_slo_burn",
    s"hourly SLO burn: error share vs $SloTarget target, ${SloPageBurn}x page flag, running budget consumed",
    EventOracle.sloBurnSql) { (s, d) =>
    sloBurnReadout(
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors")))
      .orderBy("hour")
  }

  /** The per-hour derived columns + running budget over an already-hourly
    * frame (hour, n_events, n_errors) — the batch query's tail, shared
    * with the streaming path ([[graft.streaming.EventStreams
    * .sloBurnHourly]]): the stream materializes the hourly aggregate,
    * and THIS readout runs over the model-sized sink table, so the
    * running ratio never needs streaming state.
    */
  def sloBurnReadout(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .withColumn("err_share", col("n_errors") / col("n_events"))
      .withColumn("burn_rate",
        floor(col("err_share") / lit(SloTarget) * lit(1e6) + lit(0.5))
          / lit(1e6))
      .withColumn("page", col("burn_rate") >= SloPageBurn)
      .withColumn("budget_consumed",
        floor(sum(col("n_errors")).over(w) /
          (lit(SloTarget) * sum(col("n_events")).over(w)) * lit(1e6)
          + lit(0.5)) / lit(1e6))
      .select(col("hour"), col("n_events"), col("n_errors"),
        col("err_share"), col("burn_rate"), col("page"),
        col("budget_consumed"))
  }

  /** Cohort LTV triangle — the VALUE dimension [[retention]]'s count
    * matrix lacks (the growth-analytics artifact LTV forecasting and
    * payback-period decisions read): per (first-seen cohort week, weeks
    * since first seen), the active users, the week's event value, the
    * CUMULATIVE value per cohort, and cumulative value per cohort
    * member. Scale shape: one user-keyed shuffle derives first-seen; the
    * (cohort, age) key space is weeks² — model-sized; the running sum
    * windows over age WITHIN a cohort (a few dozen rows per partition).
    * Determinism: value quantized 4dp per (user, week) before every sum;
    * the cumulative window accumulates exact LONGs; per-member division
    * is one exact LONG/LONG.
    */
  val cohortLtv: GraftQuery = GraftQuery(
    "events_cohort_ltv",
    "cohort LTV triangle: cumulative value per first-seen week x age, per member",
    EventOracle.cohortLtvSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"),
        Det.quantize(col("value")).as("vq"))
    val first = e.groupBy(col("user_id")).agg(min(col("aw")).as("cohort_week"))
    val sized = first.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    val cells = e.join(first, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("aw"), col("cohort_week")) / lit(7)).cast("int")
          .as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("vq")).as("wq"))
    val wc = Window.partitionBy(col("cohort_week")).orderBy(col("age_weeks"))
    cells.join(sized, "cohort_week")
      .withColumn("cumq", sum(col("wq")).over(wc))
      .select(col("cohort_week"), col("age_weeks"), col("cohort_size"),
        col("n_active"),
        (col("wq") / lit(Det.pow10(4))).as("week_value"),
        (col("cumq") / lit(Det.pow10(4))).as("cum_value"),
        (col("cumq") / lit(Det.pow10(4)) / col("cohort_size"))
          .as("ltv_per_user"))
      .orderBy("cohort_week", "age_weeks")
  }

  /** Windowed anomaly detection: per event type, the 3 most anomalous
    * 10-minute slots by z-score of the slot's event count against that
    * type's own slot distribution. The z-score is derived from EXACT
    * integer sums (count, sum n, sum n^2), so mean/variance are the same
    * IEEE754 doubles on both engines — no stddev_samp, whose accumulation
    * order varies. Scale shape: the slot aggregate is the streaming
    * tumbling transform; stats collapse to one row per type (broadcast
    * join back); the top-3 filter is a WindowGroupLimit so only K rows
    * per type survive the final exchange.
    */
  val anomaly: GraftQuery = GraftQuery(
    "events_anomaly_zscore",
    "top-3 anomalous 10-min slots per type by z-score over exact count stats",
    EventOracle.anomalySql) { (s, d) =>
    anomalyReadout(EventStreams.tumblingCounts(Tables.events(s, d)))
  }

  /** The anomaly READOUT tail over a [[EventStreams.tumblingCounts]]
    * frame — shared by the batch query and the streaming path (the
    * [[sloBurnReadout]]/[[gapfillReadout]] extraction pattern): the
    * per-type stats, z-scores, and top-3 cut read only the slot
    * aggregate (model-sized; in streaming the materialized sink), never
    * raw events.
    */
  def anomalyReadout(tumbling: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slots = tumbling.select(col("event_type"), col("wstart"), col("n"))
    val stats = slots.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("slots"),
        sum(col("n")).as("s1"),
        // s2 stays an exact (order-insensitive) LONG sum; the integer
        // discipline holds while Σn² < 2^63 — beyond that (≈10^7 events
        // per slot across 10^4 slots) switch the stats to quantized sums
        sum(col("n") * col("n")).as("s2"))
      // s1 widens to DOUBLE before squaring: LONG*LONG wraps silently in
      // Spark past s1 ≈ 3e9 total events per type while DuckDB's
      // BIGINT*BIGINT raises — the two sides would diverge silently. One
      // double multiply is IEEE754-identical on both engines.
      .select(col("event_type").as("st_type"), col("slots"),
        (col("s1") / col("slots")).as("mean_n"),
        sqrt((col("s2") - col("s1").cast("double") * col("s1") / col("slots"))
          / (col("slots") - 1)).as("sd_n"))
      // single-slot types have no variance and constant-count types have
      // sd = 0: both make z a null/NaN that the engines render
      // differently — neither is an anomaly candidate, screen them out
      .filter(col("slots") >= 2 && col("sd_n") > 0)
    val z = slots.join(broadcast(stats), col("event_type") === col("st_type"))
      .select(col("event_type"), col("wstart"), col("n"),
        ((col("n") - col("mean_n")) / col("sd_n")).as("z"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(desc(
        "abs_z"), col("wstart"))
    z.withColumn("abs_z", abs(col("z")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("event_type", "rn", "wstart", "n", "z")
      .orderBy("event_type", "rn")
  }

  /** Per-day active users, exact AND sketched — the DAU dashboard: the
    * exact path needs a (day, user) dedup shuffle that grows with
    * distinct pairs; the HLL++ path shuffles one fixed-size sketch buffer
    * per day whatever the cardinality — the 100 TB contract for windowed
    * distinct counts (sketches merge across executors and across days).
    * Both run here and the output ATTESTS the sketch against its error
    * band (the product_type_approx_distinct convention: sketch bits
    * differ per engine, so the oracle checks the contract, not the bits).
    *
    * Band derivation: HLL++ at rsd=0.02 has relative standard error 2%,
    * so 5% is a 2.5-sigma bound (~1 in 80 per-day tail chance under the
    * Gaussian approximation; with a handful of days per corpus the
    * all-pass probability stays >90%, and the floor of max(5, ...)
    * absorbs the small-cardinality regime where HLL++ switches to exact
    * linear counting and the Gaussian model doesn't apply). The oracle
    * hardcodes users_est_ok = TRUE, so a corpus-generator change that
    * pushes a day past 2.5 sigma surfaces as this band failing — widen
    * toward 6% (3 sigma) before suspecting the sketch itself.
    */
  /** HLL++ relative standard deviation for the DAU sketch — shared with
    * the streaming twin ([[graft.streaming.EventStreams.dailyDistinctUsers]])
    * so batch and stream grade the same sketch configuration.
    */
  val DailyDistinctRsd = 0.02

  val dailyDistinct: GraftQuery = GraftQuery(
    "events_daily_distinct",
    "per-day distinct users: exact vs HLL++ sketch, within-band attestation",
    EventOracle.dailyDistinctSql) { (s, d) =>
    Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), DailyDistinctRsd).as("au"))
      .select(col("day"), col("n_events"), col("exact_users"),
        (abs(col("au") - col("exact_users")) <=
          greatest(lit(5.0), col("exact_users") * lit(0.05)))
          .as("users_est_ok"))
      .orderBy("day")
  }

  /** DataSketches-HLL lgConfigK for [[weeklySketchRollup]] — 2^12 buckets,
    * relative standard error 1.04/sqrt(4096) ~ 1.6%, so the 5%/min-5 band
    * is a ~3-sigma bound.
    */
  val WeeklySketchLgK = 12

  /** Weekly active users by MERGING per-day HLL sketches — the
    * re-aggregability contract that makes sketches the 100 TB answer for
    * distinct counts: a production pipeline materializes one fixed-size
    * sketch per (day) partition as it lands, and every coarser rollup
    * (week, month, arbitrary date range) is a sketch UNION over the
    * stored buffers — no rescan of the raw events, no (week, user)
    * dedup shuffle. Here both stages run in one plan: per-day
    * `hll_sketch_agg` (DataSketches HLL, mergeable across executors AND
    * across days, unlike `approx_count_distinct`'s non-exposed HLL++
    * buffer), then per-week `hll_union_agg` + estimate. The exact weekly
    * distinct is computed alongside and the output ATTESTS the merged
    * estimate against its error band (the [[dailyDistinct]] convention:
    * sketch bits differ per engine, so the oracle checks the contract
    * and the exact columns, not the bits).
    */
  val weeklySketchRollup: GraftQuery = GraftQuery(
    "events_weekly_sketch_rollup",
    "weekly active users via hll_union_agg over per-day DataSketches HLL sketches, graded vs exact",
    EventOracle.weeklySketchRollupSql) { (s, d) =>
    val base = Tables.events(s, d).select(
      date_trunc("week", col("ts")).as("week"),
      date_trunc("day", col("ts")).as("day"),
      col("user_id"))
    val daily = base.groupBy(col("week"), col("day"))
      .agg(count(lit(1)).as("n_ev"),
        hll_sketch_agg(col("user_id"), WeeklySketchLgK).as("sk"))
    val weekly = daily.groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"), sum(col("n_ev")).as("n_events"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = base.groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    weekly.join(exact, "week")
      .select(col("week"), col("n_days"), col("n_events"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          greatest(lit(5.0), col("exact_users") * lit(0.05)))
          .as("merged_est_ok"))
      .orderBy("week")
  }

  /** Audience-overlap matrix from SKETCH ALGEBRA — the segment-overlap
    * dashboard (campaign reach, feature co-usage) computed the way a
    * 100 TB pipeline has to: one fixed-size HLL sketch is materialized
    * per SEGMENT (event type) — the audience index — and every pairwise
    * intersection estimate is pure sketch arithmetic,
    * |A∩B| = |A| + |B| − |A∪B| with the union a binary `hll_union` of
    * the STORED sketches. No per-pair rescan of events, no (pair, user)
    * dedup shuffle: the pair space is |segments|², model-state-sized.
    * The exact intersection and Jaccard are computed alongside (the one
    * corpus-sized path, a distinct-pairs self-join bounded by per-user
    * type combinations) and the estimate is ATTESTED in-band per pair —
    * the [[dailyDistinct]] convention: sketch bits differ per engine, so
    * the oracle verifies the exact columns and pins the attestation.
    * At the tested cardinalities (≤150 users) HLL sits in its sparse
    * exact regime, making the 5-user/5% band a hard check.
    */
  val audienceOverlap: GraftQuery = GraftQuery(
    "events_audience_overlap",
    "audience overlap per event-type pair: HLL inclusion-exclusion vs exact intersection + Jaccard",
    EventOracle.audienceOverlapSql) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val perType = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd"),
        hll_sketch_agg(col("user_id"), WeeklySketchLgK).as("sk"))
    val pairsEst = perType.as("a")
      .join(perType.as("b"), col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.nd").as("users_a"), col("b.nd").as("users_b"),
        (col("a.nd") + col("b.nd") -
          hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
          .as("est_inter"))
    val du = e.distinct()
    val exactInter = du.as("x")
      .join(du.as("y"),
        col("x.user_id") === col("y.user_id")
          && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("exact_inter"))
    pairsEst
      .join(exactInter,
        col("type_a") === col("ta") && col("type_b") === col("tb"), "left")
      .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        col("est_inter"))
      .withColumn("jaccard",
        col("exact_inter") /
          (col("users_a") + col("users_b") - col("exact_inter")))
      .withColumn("est_ok",
        abs(col("est_inter") - col("exact_inter")) <=
          greatest(lit(5.0), col("exact_inter") * lit(0.05)))
      .select("type_a", "type_b", "users_a", "users_b", "exact_inter",
        "jaccard", "est_ok")
      .orderBy("type_a", "type_b")
  }

  /** Per-user behavioral Markov chain: (previous event type -> next event
    * type) transition counts and row-normalized probabilities, from a lag
    * window over each user's timeline. The session-modeling input
    * (predictive prefetch, anomaly priors). Shuffle carries user-keyed
    * events once for the lag sort; the transition matrix itself is a
    * bounded |types|^2 aggregate. Probabilities are single exact
    * BIGINT/BIGINT divisions.
    */
  val markovTransitions: GraftQuery = GraftQuery(
    "events_markov_transitions",
    "per-user event-type Markov transitions: counts + row probabilities",
    EventOracle.markovTransitionsSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("prev").as("tp")).agg(sum(col("n")).as("tn"))
    tr.join(tot, col("prev") === col("tp"))
      .select(col("prev"), col("event_type").as("next"), col("n"),
        (col("n") / col("tn")).as("p"))
      .orderBy("prev", "next")
  }

  /** Sequence pattern mining — the higher-order sibling of
    * [[markovTransitions]]: frequent CONSECUTIVE event-type trigrams over
    * each user's ordered timeline (two leads per event under the same
    * user-keyed window), reporting the top-15 with their share of all
    * trigram instances. The session-template miner (what does a
    * conversion path actually look like) whose output feeds funnel
    * design. One user-keyed shuffle for the window sort; the trigram
    * space is \|types\|³-bounded, so the aggregate and the global-share
    * window both run over a tiny frame at any corpus size.
    */
  val sequenceTrigrams: GraftQuery = GraftQuery(
    "events_sequence_trigrams",
    "frequent consecutive event-type trigrams per user timeline: top-15 + share",
    EventOracle.sequenceTrigramsSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tri = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
    tri
      .withColumn("share",
        col("n") / sum(col("n")).over(Window.partitionBy()))
      .orderBy(desc("n"), col("e1"), col("e2"), col("e3"))
      .limit(15)
  }

  /** Attribution window (microseconds): a click attributes to the latest
    * same-user view STRICTLY less than this long before it.
    */
  val AttributionWindowMicros: Long = 30L * 60 * 1000000

  /** Candidate (click, view) pairs inside the attribution window, mined by
    * a TIME-BUCKETED equi-join: views are duplicated into their own
    * 30-minute bucket and the next one, clicks join on (user, bucket), so
    * any view within the window meets its click in exactly one copy (the
    * copies' buckets differ, a click has one bucket — no pair dedup
    * needed). This is the scale contract [[asOfJoin]] cannot give: the
    * join key carries the time dimension, so a click's candidate set is
    * bounded by the user's views in TWO window-widths, never the user's
    * whole history, and the state/shuffle per key stays O(window) as the
    * stream grows. The streaming twin is the watermarked stream-stream
    * interval join over the same predicate (StreamingSpec asserts the
    * candidate sets match — bucket pruning loses nothing).
    */
  def attributionCandidates(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val W = AttributionWindowMicros
    val e = events.select(col("event_id"), col("user_id"), col("event_type"),
      col("ts"), unix_micros(col("ts")).as("tm"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"), col("tm").as("v_tm"))
      .withColumn("v_bucket",
        explode(array(expr(s"v_tm div ${W}L"), expr(s"v_tm div ${W}L") + 1L)))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("tm").as("c_tm"))
      .withColumn("c_bucket", expr(s"c_tm div ${W}L"))
    clicks.join(views,
      col("user_id") === col("v_user") && col("c_bucket") === col("v_bucket") &&
        col("v_tm") <= col("c_tm") && col("v_tm") > col("c_tm") - W)
      .select(col("click_id"), col("user_id"), col("click_ts"), col("c_tm"),
        col("view_id"), col("view_ts"), col("v_tm"))
  }

  /** Interval as-of attribution — the ad-tech/product-analytics production
    * shape: every click joined to the LATEST same-user view within the
    * last 30 minutes (or null if none). Composed from
    * [[attributionCandidates]] (the bucketed interval join) + a per-click
    * row_number pick + a left join back to all clicks, so unattributed
    * clicks survive. Lags are exact microsecond longs.
    */
  val attribution: GraftQuery = GraftQuery(
    "events_attribution",
    "interval as-of self-join: click -> latest same-user view within 30 min, time-bucket pruned",
    EventOracle.attributionSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("click_id"))
      .orderBy(desc("v_tm"), desc("view_id"))
    val best = attributionCandidates(e)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("click_id").as("b_click"), col("view_id"), col("view_ts"),
        (col("c_tm") - col("v_tm")).as("lag_micros"))
    e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .join(best, col("click_id") === col("b_click"), "left")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("view_id"), col("view_ts"), col("lag_micros"))
      .orderBy("click_id")
  }

  /** Batch twin of the watermarked STREAM-STREAM interval join
    * ([[graft.streaming.EventStreams.attributionJoin]], left_outer): every
    * (click, same-user view within the last 30 min) pair, plus a
    * null-padded row per unattributed click. The IDENTICAL transform runs
    * as two live watermarked streams (the watermarks are no-ops here), so
    * this oracle row-pins the join the streaming side serves continuously;
    * StreamingSpec additionally pins the streaming-only semantics (outer
    * emission at watermark, late-row drop, state eviction).
    *
    * Scale shape: a user-keyed equi-join with the interval as a residual
    * predicate — in batch Catalyst plans the hash join on user_id; the
    * bucketed variant ([[attributionCandidates]]) is the shape for skewed
    * power users. Determinism: exact ids/timestamps/micros, total order
    * (click_id, view_id) — an unmatched click yields exactly one
    * null-view row, so null ordering inside a click never arises.
    */
  val attributionPairs: GraftQuery = GraftQuery(
    "events_attribution_pairs",
    "stream-stream interval join, batch twin: all (click, in-window view) pairs, unattributed clicks null-padded",
    EventOracle.attributionPairsSql) { (s, d) =>
    val ev = Tables.events(s, d)
    graft.streaming.EventStreams.attributionJoin(ev, ev, joinType = "left_outer")
      .orderBy("click_id", "view_id")
  }

  /** Max lag (hours) for [[autocorr]] — two full daily cycles. */
  val AcfMaxLag = 48

  /** |deviation| cap for [[autocorr]]/[[crosscorr]]: the bound must hold
    * for the SUM of quantized products, not one term — n_hours products
    * each ≤ dev² x 1e6 must stay under 2⁶³ (Spark's non-ANSI LONG sum
    * wraps silently where DuckDB widens BIGINT to HUGEINT), so the
    * per-series cap is sqrt(9e12 / n_hours), never above this static
    * single-term ceiling. Past the cap, raise instead of wrapping (the
    * [[abTest]] convention) — the quantum's documented design limit;
    * widen the quantum to go further.
    */
  private val AcfMaxDev = 3.0e6

  /** Column form of the energy-bounded deviation cap: with `nh` dense
    * hours in the series, n·cap²·1e6 ≤ 9e18 < 2⁶³ holds for every sum
    * of 1e-6-quantized pairwise products.
    */
  private def acfDevCap(nh: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    least(lit(AcfMaxDev), sqrt(lit(9.0e12) / nh))

  /** Seasonality detection: the autocorrelation function of the DENSE
    * hourly event-count series at lags 1..[[AcfMaxLag]] — the
    * periodicity detector the monitoring family lacked ([[anomaly]]
    * scores points, [[gapFill]] fills holes, [[sloBurn]] tracks budget;
    * none answers "does this series have a daily/weekly cycle", which
    * decides capacity plans and anomaly BASELINES). A daily cycle peaks
    * at lag 24; the readout is the full ACF so consumers see harmonics
    * (12/24/36/48) rather than one argmax.
    *
    * Scale shape: ONE corpus aggregate to hourly counts; everything
    * after runs on the model-sized dense grid (hours between min and
    * max, missing hours = genuine zeros — ACF over only-observed rows
    * would alias gaps into signal), checkpointed so the lag self-join
    * never rescans the corpus. Determinism: counts are exact; mean is
    * one exact-integer division; each centered product is quantized to
    * a 1e-6 LONG before summing (partition-order free, the [[Det]]
    * recipe); the final ratio is quantized to 1e-6.
    */
  val autocorr: GraftQuery = GraftQuery(
    "events_autocorr",
    s"dense hourly-count autocorrelation at lags 1..$AcfMaxLag — seasonality/harmonics detector",
    EventOracle.autocorrSql) { (s, d) =>
    autocorrFrame(Tables.events(s, d))
  }

  /** Dense hourly series builder shared by the time-series detectors
    * ([[autocorr]], [[cusum]], [[crosscorr]]): one corpus aggregate to
    * per-hour values, left-joined onto the COMPLETE hour range so
    * missing hours surface as nulls for the caller to zero — a
    * detector over only-observed rows would alias gaps into signal.
    */
  private def denseHours(events: org.apache.spark.sql.DataFrame)(
      aggs: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    densify(events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(aggs.head, aggs.tail: _*))

  /** Left-join a sparse per-hour frame onto the complete hour range —
    * the densification half of [[denseHours]], exposed separately so
    * serving-layer readouts ([[cusumReadout]]) can densify a STREAMED
    * hourly sink the same way the batch path densifies its aggregate.
    */
  private def densify(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grid = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
        .as("hour"))
    grid.join(hourly, Seq("hour"), "left")
  }

  /** The ACF derivation over any events frame — shared by the registry
    * query and the synthetic-cycle detector spec (EventQueriesSpec).
    */
  def autocorrFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    acfReadout(events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("hn")))

  /** The ACF serving-layer readout over a SPARSE hourly (hour, hn)
    * frame — the [[cusumReadout]] discipline: the watermarked hourly
    * aggregate the stream materializes
    * ([[graft.streaming.EventStreams.sloBurnHourly]]'s n_events) feeds
    * the detector over the model-sized sink; StreamingSpec asserts
    * full-row parity across a mid-hour micro-batch split.
    */
  def acfReadout(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = hourly.sparkSession
    val x = densify(hourly)
      .select(expr("unix_micros(hour) div 3600000000").as("t"),
        coalesce(col("hn"), lit(0L)).as("n"))
      .localCheckpoint()
    val st = x.agg(
      (sum(col("n")).cast("double") / count(lit(1)).cast("double"))
        .as("mean"),
      count(lit(1)).cast("double").as("nh"))
    val dv = x.crossJoin(broadcast(st))
      .withColumn("dd", col("n").cast("double") - col("mean"))
      .withColumn("d", when(abs(col("dd")) > acfDevCap(col("nh")),
          raise_error(lit("events_autocorr: deviation overflows the 1e-6 " +
            "product quantum — widen the quantum")).cast("double"))
        .otherwise(col("dd")))
      .select(col("t"), col("d"))
    val den = dv.agg(sum(Det.quantize(col("d") * col("d"), 6)).as("den"))
    val lags = s.range(1, AcfMaxLag + 1).select(col("id").as("lag"))
    val pairs = dv.crossJoin(broadcast(lags))
      .select(col("lag"), (col("t") + col("lag")).as("bt"), col("d").as("da"))
      .join(dv.select(col("t").as("t2"), col("d").as("db")),
        col("bt") === col("t2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(Det.quantize(col("da") * col("db"), 6)).as("num"))
    pairs.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        when(col("den") > 0,
          floor(col("num").cast("double") / col("den").cast("double")
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("acf"))
      .orderBy("lag")
  }

  /** Max lead (hours) for [[crosscorr]] — one daily cycle. */
  val CcfMaxLag = 24

  /** Lead-lag analysis: the cross-correlation function between the
    * dense hourly VIEW series and the PURCHASE series at leads
    * 0..[[CcfMaxLag]] — ccf(L) = corr(views_t, purchases_{t+L}), so the
    * argmax answers "purchases lag views by how many hours", the
    * funnel-latency question at the SERIES level ([[funnel]] answers it
    * per user; marketing capacity planning needs the aggregate lead
    * time). Same dense-grid/quantized-product machinery as [[autocorr]]
    * ([[denseHours]]); the denominator is the product of both series'
    * full-length deviation energies, so ccf is a genuine correlation
    * in [-1, 1].
    */
  val crosscorr: GraftQuery = GraftQuery(
    "events_crosscorr",
    s"hourly views-vs-purchases cross-correlation at leads 0..$CcfMaxLag — series-level funnel lead time",
    EventOracle.crosscorrSql) { (s, d) =>
    crosscorrFrame(Tables.events(s, d))
  }

  /** The CCF derivation over any events frame — shared by the registry
    * query and the planted-lead detector spec (EventQueriesSpec).
    */
  def crosscorrFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = events.sparkSession
    val x = denseHours(events)(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nv0"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np0"))
      .select(expr("unix_micros(hour) div 3600000000").as("t"),
        coalesce(col("nv0"), lit(0L)).as("nv"),
        coalesce(col("np0"), lit(0L)).as("np"))
      .localCheckpoint()
    val st = x.agg(
      (sum(col("nv")).cast("double") / count(lit(1)).cast("double"))
        .as("mv"),
      (sum(col("np")).cast("double") / count(lit(1)).cast("double"))
        .as("mp"),
      count(lit(1)).cast("double").as("nh"))
    def guarded(c: org.apache.spark.sql.Column) =
      when(abs(c) > acfDevCap(col("nh")),
        raise_error(lit("events_crosscorr: deviation overflows the 1e-6 " +
          "product quantum — widen the quantum")).cast("double"))
        .otherwise(c)
    val dv = x.crossJoin(broadcast(st))
      .select(col("t"),
        guarded(col("nv").cast("double") - col("mv")).as("dv"),
        guarded(col("np").cast("double") - col("mp")).as("dp"))
    val den = dv.agg(
      sum(Det.quantize(col("dv") * col("dv"), 6)).as("env"),
      sum(Det.quantize(col("dp") * col("dp"), 6)).as("enp"))
    val lags = s.range(0, CcfMaxLag + 1).select(col("id").as("lag"))
    val pairs = dv.crossJoin(broadcast(lags))
      .select(col("lag"), (col("t") + col("lag")).as("bt"), col("dv"))
      .join(dv.select(col("t").as("t2"), col("dp").as("dpb")),
        col("bt") === col("t2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(Det.quantize(col("dv") * col("dpb"), 6)).as("num"))
    pairs.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        when(col("env") > 0 && col("enp") > 0,
          floor(col("num").cast("double")
            / sqrt(col("env").cast("double") * col("enp").cast("double"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("ccf"))
      .orderBy("lag")
  }

  /** CUSUM slack, in sigmas (the classic k = sigma/2 tuning). */
  val CusumSlackSigmas = 0.5

  /** CUSUM alarm threshold, in sigmas (h = 5 sigma). */
  val CusumThresholdSigmas = 5.0

  /** Changepoint detection: two-sided CUSUM over the dense hourly
    * error-RATE series — the monitoring family's level-shift detector
    * ([[anomaly]] flags single outlier points; a deploy that doubles the
    * error rate produces NO 3-sigma point yet pages ops within hours —
    * that is CUSUM's regime). The textbook recursion
    * S_t = max(0, S_{t-1} + (x_t - mean - k)) looks inherently
    * sequential, but it is exactly S_t = P_t - min_{i<=t} P_i for the
    * plain prefix sum P — so the whole detector is TWO stacked window
    * functions (running sum + running min) over the model-sized hourly
    * frame, no recursion, no driver loop; the downward side mirrors it.
    *
    * Determinism: rates quantized to 1e-9 LONGs before any sum; mean
    * and sigma recompose exact LONG sums (sqrt is IEEE
    * correctly-rounded on both engines, unlike ln); the per-hour
    * deviations are quantized LONGs, so prefix sums, running mins, and
    * the threshold compare are EXACT integer arithmetic — the one
    * operator class where drift would compound silently.
    */
  val cusum: GraftQuery = GraftQuery(
    "events_cusum",
    s"two-sided CUSUM (k=${CusumSlackSigmas}s, h=${CusumThresholdSigmas}s) over the dense hourly error-rate series, via prefix-sum minus running-min",
    EventOracle.cusumSql) { (s, d) =>
    cusumFrame(Tables.events(s, d))
  }

  /** The CUSUM derivation over any events frame — shared by the registry
    * query and the planted-shift detector spec (EventQueriesSpec).
    */
  def cusumFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cusumReadout(events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne")))

  /** The CUSUM serving-layer readout over a SPARSE hourly (hour, n, ne)
    * frame — the [[gapfillReadout]]/[[sloBurnReadout]] pattern: the
    * stream materializes the watermarked hourly aggregate
    * ([[graft.streaming.EventStreams.sloBurnHourly]] already carries
    * n_events/n_errors), and this readout densifies + runs the detector
    * over the model-sized sink; StreamingSpec asserts full-row parity
    * with the batch derivation across a mid-hour micro-batch split.
    */
  def cusumReadout(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = densify(hourly)
      .select(col("hour"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("ne").cast("double") / col("n").cast("double"))
          .as("rate"))
      .withColumn("rq", Det.quantize(col("rate"), 9))
      .localCheckpoint()
    val st = x.agg(
        (sum(col("rq")).cast("double") / lit(1e9)
          / count(lit(1)).cast("double")).as("mean"),
        count(lit(1)).as("nh"))
      .select(col("mean"), col("nh"))
    val withMean = x.crossJoin(broadcast(st))
    val varq = withMean
      .select(Det.quantize((col("rate") - col("mean"))
        * (col("rate") - col("mean")), 9).as("sq"), col("nh"))
      .groupBy(col("nh"))
      .agg((sum(col("sq")).cast("double") / lit(1e9)
        / col("nh").cast("double")).as("variance"))
      .select(sqrt(col("variance")).as("sigma"))
    val params = st.crossJoin(broadcast(varq))
      .select(col("mean"), col("sigma"),
        Det.quantize(col("mean") + lit(CusumSlackSigmas) * col("sigma"), 9)
          .as("up_ref"), // quantized (mean + k): subtracted per hour
        Det.quantize(col("mean") - lit(CusumSlackSigmas) * col("sigma"), 9)
          .as("dn_ref"),
        Det.quantize(lit(CusumThresholdSigmas) * col("sigma"), 9).as("hq"))
    val wAll = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x.crossJoin(broadcast(params))
      .withColumn("du", col("rq") - col("up_ref"))
      .withColumn("dd", col("dn_ref") - col("rq"))
      .withColumn("pu", sum(col("du")).over(wAll))
      .withColumn("pd", sum(col("dd")).over(wAll))
      // S_t = P_t - min(0, running min of P): the max(0,...) recursion
      // unrolled — the virtual P_{-1} = 0 floor rides the least(0, ...)
      .withColumn("su", col("pu") - least(lit(0L), min(col("pu")).over(wAll)))
      .withColumn("sd", col("pd") - least(lit(0L), min(col("pd")).over(wAll)))
      .select(col("hour"),
        (col("rq") / lit(1e9)).as("rate"),
        (col("su") / lit(1e9)).as("cusum_up"),
        (col("sd") / lit(1e9)).as("cusum_down"),
        (col("su") > col("hq")).as("alarm_up"),
        (col("sd") > col("hq")).as("alarm_down"))
      .orderBy("hour")
  }

  /** STL-lite trend half-window: trend = the centered mean over
    * [t-12, t+12] hours, a 25-point symmetric moving average (odd width
    * on purpose — no half-weight end terms, so the window mean is one
    * exact LONG-sum division on both engines).
    */
  val StlHalfWindow = 12

  /** STL-lite SEASONAL DECOMPOSITION of the dense hourly count series —
    * the detector the time-series trio still lacked: [[autocorr]] FINDS
    * the daily cycle, but [[cusum]] et al. then treat the swing as
    * noise, inflating sigma until real level shifts hide inside it.
    * Classic STL split, windows all on the model-sized grid:
    *
    *   - TREND: centered 25h moving average ([[StlHalfWindow]]) — the
    *     window shrinks symmetrically at the series edges (both engines
    *     express the same ROWS frame);
    *   - SEASONAL: hour-of-day means of the DETRENDED series (the
    *     detrended values are 1e-6-quantized before the per-hod sums, so
    *     the means are partition-order-free);
    *   - REMAINDER: detrended minus seasonal — the decomposition
    *     readout;
    *   - DETECTOR: two-sided CUSUM ([[cusumOver]], the [[cusum]]
    *     prefix-sum-minus-running-min recipe at 1e-6) over the
    *     DESEASONALIZED series (count - seasonal), NOT the remainder: a
    *     level shift lives in trend + remainder, and the centered MA
    *     absorbs a step within half a window — CUSUM on the remainder
    *     would be blind to exactly the changepoint class it exists for.
    *     Deseasonalizing removes the swing from sigma, so a shift the
    *     raw-series CUSUM masks (drift < k·sigma_raw) fires cleanly.
    *
    * EventQueriesSpec plants a ±45 square daily wave with a +20 shift:
    * the RAW-series CUSUM false-alarms daily from day one AND never
    * isolates the shift, while the deseasonalized detector is silent
    * before the changepoint and fires within hours after it.
    */
  val stlDecompose: GraftQuery = GraftQuery(
    "events_stl_decompose",
    s"STL-lite: centered ${2 * StlHalfWindow + 1}h trend + hour-of-day seasonal + remainder over dense hourly counts; CUSUM on the deseasonalized series",
    EventOracle.stlDecomposeSql) { (s, d) =>
    stlFrame(Tables.events(s, d))
  }

  /** The STL derivation over any events frame — shared by the registry
    * query and the planted cycle+shift spec (EventQueriesSpec).
    */
  def stlFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    stlReadout(events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("hn")))

  /** STL-lite over a SPARSE hourly (hour, hn) frame — the serving-layer
    * readout discipline ([[cusumReadout]]): densify, decompose, detect.
    */
  def stlReadout(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = densify(hourly)
      .select(col("hour"), coalesce(col("hn"), lit(0L)).as("n"))
      .localCheckpoint()
    val wT = Window.orderBy(col("hour"))
      .rowsBetween(-StlHalfWindow, StlHalfWindow)
    val dt = x
      .withColumn("trend", sum(col("n")).over(wT).cast("double")
        / count(lit(1)).over(wT).cast("double"))
      .withColumn("d", col("n").cast("double") - col("trend"))
      .withColumn("dq", Det.quantize(col("d"), 6))
      .withColumn("hod", hour(col("hour")))
    val seas = dt.groupBy(col("hod"))
      .agg((sum(col("dq")).cast("double") / lit(1e6)
        / count(lit(1)).cast("double")).as("seasonal"))
    val r = dt.join(broadcast(seas), "hod")
      .withColumn("remainder",
        (Det.quantize(col("d") - col("seasonal"), 6) / lit(1e6)))
      .withColumn("deseason", col("n").cast("double") - col("seasonal"))
      .select(col("hour"), col("n"), col("trend"), col("seasonal"),
        col("remainder"), col("deseason"))
    cusumOver(r, "deseason", 6,
      carry = Seq("n", "trend", "seasonal", "remainder"))
  }

  /** Replay modulus for [[streamDedup]]'s duplicated slice. */
  val DedupReplayMod = 50

  /** Batch twin of the streaming at-least-once DEDUP
    * ([[graft.streaming.EventStreams.dedupedEvents]],
    * dropDuplicatesWithinWatermark): a 1/[[DedupReplayMod]] slice of the
    * feed is replayed byte-identically (the producer-retry shape) and
    * the dedup must drop exactly it. Output per type: feed rows, unique
    * rows, dropped rows, and the quantized value sum over the SURVIVORS
    * (payloads ride through the dedup untouched). The oracle replays
    * the keep-one-per-id rule relationally over the same replicated
    * feed; StreamingSpec pins the streaming-only semantics (same-batch
    * and cross-batch drops, state eviction at the watermark, and the
    * post-eviction re-admission boundary).
    */
  val streamDedup: GraftQuery = GraftQuery(
    "events_stream_dedup",
    s"at-least-once ingestion dedup: 1/$DedupReplayMod replayed slice dropped by event_id, per-type feed/unique/dropped + survivor value sum",
    EventOracle.streamDedupSql) { (s, d) =>
    val ev = Tables.events(s, d)
    val feed = ev.unionByName(
      ev.filter(col("event_id") % DedupReplayMod === 0))
    val out = EventStreams.dedupedEvents(feed)
    val fin = feed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_feed"))
    val fout = out.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4)))
          .as("sum_value"))
    fin.join(fout, "event_type")
      .select(col("event_type"), col("n_feed"), col("n_unique"),
        (col("n_feed") - col("n_unique")).as("n_dropped"),
        col("sum_value"))
      .orderBy("event_type")
  }

  /** Hours held out for [[forecastBacktest]] — one full seasonal period. */
  val BacktestHours = 24

  /** Holt-Winters level smoothing weight for [[forecastBacktest]]'s third
    * model (the SES-standard alpha).
    */
  val HwAlpha = 0.3

  /** HW level kernel truncation: alpha*(1-alpha)^lag < 5e-10 from lag 57
    * (0.3 * 0.7^57 = 4.4e-10), so every weight beyond [[HwKernelCut]]
    * quantizes to ZERO at the 1e-9 quantum — the truncated level sum is
    * EXACTLY the untruncated one (the [[EwmaKernelCut]] argument at
    * alpha = 0.3).
    */
  val HwKernelCut = 60

  /** Seasonal FORECAST with an honest BACKTEST — the eval harness the
    * forecast family lacked (`revenue_forecast_ses`/`revenue_trend_ols`
    * fit and extrapolate but never grade themselves): the LAST
    * [[BacktestHours]] hours of the dense hourly count series are held
    * out, two standard models forecast them from the TRAIN prefix only
    * (no leakage — the training-pipeline contract every offline eval
    * must honor), and each held-out hour carries both absolute errors
    * plus the global MAEs and the winner:
    *
    *   - seasonal-NAIVE: ŷ(h) = the last train day's value at the same
    *     hour-of-day (the no-skill baseline every forecast must beat);
    *   - seasonal-MEAN: ŷ(h) = the train mean at that hour-of-day (the
    *     [[stlDecompose]] seasonal component as a predictor);
    *   - HOLT-WINTERS (level + seasonal, additive): seasonal(hod) = the
    *     hod-mean minus the grand train mean, level = SES (alpha =
    *     [[HwAlpha]], the `revenue_forecast_ses` closed-form weight
    *     recipe) over the DESEASONALIZED train series evaluated at the
    *     train end; ŷ(h) = level + seasonal(hod). The model production
    *     hourly series actually use: it tracks level shifts the frozen
    *     hod-mean is dragged by, while averaging out the day-to-day
    *     noise the naive copy pays in full. No trend term — hourly ops
    *     series are mean-reverting at this horizon, and a damped trend
    *     would need one more smoothing constant for no planted gain.
    *
    * Scale shape: one corpus aggregate to hourly counts, then train/test
    * splits, 24-row hod models, a ≤ [[HwKernelCut]]+1-row level kernel,
    * and a 24-row scored join — all model-sized. Determinism: naive and
    * hod-mean forecasts are exact (integer counts; hod means are exact
    * LONG-sum divisions); the HW level quantizes each SES weight to 1e-9
    * right after its one pow and each weighted term to 1e-6 before the
    * LONG sum (truncation exact — see [[HwKernelCut]]); absolute errors
    * are exact IEEE subtractions, MAEs quantize each error to 1e-6
    * before the LONG sum. Winner tie-breaks: HW wins ties (the richer
    * model at equal error is the one you'd deploy), then hod-mean.
    */
  val forecastBacktest: GraftQuery = GraftQuery(
    "events_forecast_backtest",
    s"seasonal forecast backtest: last ${BacktestHours}h held out, seasonal-naive vs hod-mean vs Holt-Winters forecasts, per-hour errors + MAE winner",
    EventOracle.forecastBacktestSql) { (s, d) =>
    forecastBacktestFrame(Tables.events(s, d))
  }

  /** The backtest over any events frame (EventQueriesSpec plants a
    * wave + trend where the hod-mean model beats naive and vice versa).
    */
  def forecastBacktestFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val x = densify(events
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("hn")))
      .select(col("hour"), coalesce(col("hn"), lit(0L)).as("n"))
      .localCheckpoint()
    val cut = x.agg((max(col("hour"))
      - expr(s"INTERVAL ${BacktestHours - 1} HOURS")).as("cut"))
    val xc = x.crossJoin(broadcast(cut)).withColumn("hod", hour(col("hour")))
    val train = xc.filter(col("hour") < col("cut"))
    val test = xc.filter(col("hour") >= col("cut"))
    val sm = train.groupBy(col("hod"))
      .agg((sum(col("n")).cast("double") / count(lit(1)).cast("double"))
        .as("fc_smean"))
    val nv = train
      .filter(col("hour") >= col("cut") - expr("INTERVAL 24 HOURS"))
      .select(col("hod"), col("n").cast("double").as("fc_naive"))
    // Holt-Winters level: SES closed form over the deseasonalized train
    // series at the train end — only the last HwKernelCut+1 hours carry
    // non-zero quantized weight (exact truncation, see the constant)
    val g = train.agg(
      (sum(col("n")).cast("double") / count(lit(1)).cast("double"))
        .as("mean_g"),
      count(lit(1)).as("t_train"), max(col("hour")).as("tmax"))
    val decay = lit(1.0 - HwAlpha)
    val lvl = train.join(broadcast(sm), "hod").crossJoin(broadcast(g))
      .withColumn("lag",
        expr("(unix_timestamp(tmax) - unix_timestamp(hour)) div 3600"))
      .filter(col("lag") <= HwKernelCut)
      .withColumn("dz",
        col("n").cast("double") - (col("fc_smean") - col("mean_g")))
      .withColumn("wq",
        floor(when(col("lag") === col("t_train") - 1, pow(decay, col("lag")))
          .otherwise(lit(HwAlpha) * pow(decay, col("lag")))
          * lit(1e9) + lit(0.5)) / lit(1e9))
      .groupBy(col("mean_g"))
      .agg((sum(Det.quantize(col("dz") * col("wq"), 6)) / lit(1e6))
        .as("level"))
    val scored = test
      .join(broadcast(sm), "hod").join(broadcast(nv), "hod")
      .crossJoin(broadcast(lvl))
      .withColumn("fc_hw", col("level") + (col("fc_smean") - col("mean_g")))
      .withColumn("ae_naive", abs(col("n").cast("double") - col("fc_naive")))
      .withColumn("ae_smean", abs(col("n").cast("double") - col("fc_smean")))
      .withColumn("ae_hw", abs(col("n").cast("double") - col("fc_hw")))
      .localCheckpoint()
    val mae = scored.agg(
        (sum(Det.quantize(col("ae_naive"), 6)).cast("double") / lit(1e6)
          / count(lit(1)).cast("double")).as("mae_naive"),
        (sum(Det.quantize(col("ae_smean"), 6)).cast("double") / lit(1e6)
          / count(lit(1)).cast("double")).as("mae_smean"),
        (sum(Det.quantize(col("ae_hw"), 6)).cast("double") / lit(1e6)
          / count(lit(1)).cast("double")).as("mae_hw"))
      .withColumn("winner",
        when(col("mae_hw") <= col("mae_naive")
            && col("mae_hw") <= col("mae_smean"), "holt_winters")
          .when(col("mae_smean") <= col("mae_naive"), "seasonal_mean")
          .otherwise("seasonal_naive"))
    scored.crossJoin(broadcast(mae))
      .select(col("hour"), col("n"), col("fc_naive"), col("fc_smean"),
        col("fc_hw"), col("ae_naive"), col("ae_smean"), col("ae_hw"),
        col("mae_naive"), col("mae_smean"), col("mae_hw"), col("winner"))
      .orderBy("hour")
  }

  /** Miscoverage level for [[forecastConformal]] (90% intervals). */
  val ConformalAlpha = 0.1

  /** Calibration hours for [[forecastConformal]] — one week, disjoint
    * from both the train prefix and the held-out test day.
    */
  val ConformalCalHours = 168

  /** Split-CONFORMAL prediction intervals on the seasonal forecast — the
    * uncertainty-quantification leg the forecast family lacked: a point
    * forecast ([[forecastBacktest]] grades those) says nothing about how
    * wrong it may be, and split conformal turns ANY point model into
    * calibrated intervals with a finite-sample guarantee — no
    * distributional assumption, just exchangeability:
    *
    *   - TRAIN: hours before the calibration window fit the hod-mean
    *     model (exact LONG-sum divisions);
    *   - CALIBRATE: the next [[ConformalCalHours]] hours score absolute
    *     residuals |y - ŷ| against that frozen model; the conformal
    *     radius q is the ceil((n+1)(1-alpha))-th smallest residual —
    *     the finite-sample-valid rank, not the naive (1-alpha) quantile;
    *   - TEST: the last [[BacktestHours]] hours get intervals ŷ ± q, each
    *     graded covered/missed, plus the empirical coverage — which the
    *     guarantee lower-bounds by 1-alpha in expectation.
    *
    * Scale shape: one corpus aggregate to hourly counts, then a 24-row
    * model, a calibration-window rank (model-sized — the window is
    * calendar-bounded), and a 24-row scored join. Determinism: the
    * model and residuals are exact; the rank index is an integer both
    * engines compute from the same ::DOUBLE product; interval bounds
    * are single IEEE adds.
    */
  val forecastConformal: GraftQuery = GraftQuery(
    "events_forecast_conformal",
    s"split-conformal ${(1 - ConformalAlpha) * 100}% forecast intervals: hod-mean model, ${ConformalCalHours}h calibration residual quantile, per-hour coverage on the ${BacktestHours}h holdout",
    EventOracle.forecastConformalSql) { (s, d) =>
    forecastConformalFrame(Tables.events(s, d))
  }

  /** The conformal derivation over any events frame — shared by the
    * registry query and the plain-Scala replay spec (EventQueriesSpec).
    */
  def forecastConformalFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = densify(events
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("hn")))
      .select(col("hour"), coalesce(col("hn"), lit(0L)).as("n"))
      .localCheckpoint()
    val cuts = x.agg(
      (max(col("hour")) - expr(s"INTERVAL ${BacktestHours - 1} HOURS"))
        .as("test_lo"),
      (max(col("hour")) - expr(
        s"INTERVAL ${BacktestHours + ConformalCalHours - 1} HOURS"))
        .as("cal_lo"))
    val xc = x.crossJoin(broadcast(cuts)).withColumn("hod", hour(col("hour")))
    val train = xc.filter(col("hour") < col("cal_lo"))
    val cal = xc.filter(col("hour") >= col("cal_lo")
      && col("hour") < col("test_lo"))
    val test = xc.filter(col("hour") >= col("test_lo"))
    val sm = train.groupBy(col("hod"))
      .agg((sum(col("n")).cast("double") / count(lit(1)).cast("double"))
        .as("fc"))
    val resid = cal.join(broadcast(sm), "hod")
      .withColumn("r", abs(col("n").cast("double") - col("fc")))
    // rank clamped at nc: with ceil((nc+1)(1-alpha)) > nc (tiny calibration
    // windows) the conventional conformal radius is infinite; the clamp
    // degrades to the max residual instead of silently matching no row and
    // returning an empty frame. Unreachable at the pinned 168h/0.1
    // constants (ceil(169*0.9) = 153 <= 168); the guarantee weakens only
    // in the same degenerate case the convention already concedes.
    val q = resid
      .withColumn("rk", row_number().over(Window.orderBy(col("r"))))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rk") === least(
        ceil((col("nc") + 1) * lit(1.0 - ConformalAlpha)), col("nc")))
      .select(col("r").as("q_conf"), col("nc").as("n_cal"))
    val scored = test.join(broadcast(sm), "hod")
      .crossJoin(broadcast(q))
      .withColumn("lo", col("fc") - col("q_conf"))
      .withColumn("hi", col("fc") + col("q_conf"))
      .withColumn("covered",
        col("n").cast("double") >= col("lo")
          && col("n").cast("double") <= col("hi"))
      .localCheckpoint()
    val cov = scored.agg(
      (sum(when(col("covered"), 1L).otherwise(0L)).cast("double")
        / count(lit(1)).cast("double")).as("coverage"))
    scored.crossJoin(broadcast(cov))
      .select(col("hour"), col("n"), col("fc"), col("q_conf"),
        col("n_cal"), col("lo"), col("hi"), col("covered"),
        col("coverage"))
      .orderBy("hour")
  }

  /** Two-sided CUSUM over any (hour, `xCol` double) series at quantum
    * 10^-scale — the [[cusumReadout]] recipe factored so the STL
    * detector (and the spec's raw-vs-deseasonalized comparison) run the
    * IDENTICAL arithmetic: series quantized to LONGs, mean/sigma
    * recomposed from exact sums, k = [[CusumSlackSigmas]]·sigma,
    * h = [[CusumThresholdSigmas]]·sigma, S as prefix sum minus running
    * min in exact integers. `carry` columns ride through to the output.
    */
  private[graft] def cusumOver(xin: org.apache.spark.sql.DataFrame,
      xCol: String, scale: Int, carry: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p10 = Det.pow10(scale).toDouble
    val x = xin
      .select((Seq(col("hour"), col(xCol).as("xv")) ++ carry.map(col)): _*)
      .withColumn("xq", Det.quantize(col("xv"), scale))
      .localCheckpoint()
    val st = x.agg(
      (sum(col("xq")).cast("double") / lit(p10)
        / count(lit(1)).cast("double")).as("mean"),
      count(lit(1)).as("nh"))
    val varq = x.crossJoin(broadcast(st))
      .select(Det.quantize((col("xv") - col("mean"))
        * (col("xv") - col("mean")), scale).as("sq"), col("nh"))
      .groupBy(col("nh"))
      .agg((sum(col("sq")).cast("double") / lit(p10)
        / col("nh").cast("double")).as("variance"))
      .select(sqrt(col("variance")).as("sigma"))
    val params = st.crossJoin(broadcast(varq))
      .select(
        Det.quantize(col("mean") + lit(CusumSlackSigmas) * col("sigma"),
          scale).as("up_ref"),
        Det.quantize(col("mean") - lit(CusumSlackSigmas) * col("sigma"),
          scale).as("dn_ref"),
        Det.quantize(lit(CusumThresholdSigmas) * col("sigma"), scale)
          .as("hq"))
    val wAll = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x.crossJoin(broadcast(params))
      .withColumn("pu", sum(col("xq") - col("up_ref")).over(wAll))
      .withColumn("pd", sum(col("dn_ref") - col("xq")).over(wAll))
      .withColumn("su", col("pu") - least(lit(0L), min(col("pu")).over(wAll)))
      .withColumn("sd", col("pd") - least(lit(0L), min(col("pd")).over(wAll)))
      .select((col("hour") +: carry.map(col)) ++ Seq(
        (col("xq") / lit(p10)).as(xCol),
        (col("su") / lit(p10)).as("cusum_up"),
        (col("sd") / lit(p10)).as("cusum_down"),
        (col("su") > col("hq")).as("alarm_up"),
        (col("sd") > col("hq")).as("alarm_down")): _*)
      .orderBy("hour")
  }

  /** Position-based (U-shaped) MULTI-TOUCH attribution — the marketing
    * model beyond [[attribution]]'s last-touch pick: each purchase's
    * value is credited across ALL its in-window same-user views — a solo
    * touch gets 100%, a two-touch pair 50/50 (no middle pool to absorb
    * the 20%; naive 40/40 would leak value), otherwise first and last
    * get 40% each and the middles split the remaining 20% evenly —
    * credit is CONSERVED at every n. The touch mine is the
    * [[attributionCandidates]] time-bucket equi-join anchored on
    * purchases, so a purchase's touch set is bounded by two
    * window-widths of the user's views — never the whole history — and
    * the per-purchase position windows run over that bounded set.
    *
    * Output per user: attributed purchases, touches, and the credited
    * value by position class (solo/first/last/mid) + total. Determinism:
    * position = (v_tm, view_id) total order; each credited value is
    * quantized to a 1e-4 LONG before the per-user sums (partition-order
    * free), with credit factors computed in the same expression shape on
    * both engines.
    */
  val multitouch: GraftQuery = GraftQuery(
    "events_multitouch",
    "U-shaped multi-touch attribution: purchase value credited 40/20/40 across in-window views, per-user rollup by position class",
    EventOracle.multitouchSql) { (s, d) =>
    multitouchFrame(Tables.events(s, d))
  }

  /** The multi-touch derivation over any events frame — shared by the
    * registry query and the hand-fixture credit-model spec
    * (EventQueriesSpec).
    */
  def multitouchFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = AttributionWindowMicros
    val e = events.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("tm"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("tm").as("v_tm"))
      .withColumn("v_bucket",
        explode(array(expr(s"v_tm div ${W}L"), expr(s"v_tm div ${W}L") + 1L)))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id"), col("value"),
        col("tm").as("b_tm"))
      .withColumn("b_bucket", expr(s"b_tm div ${W}L"))
    val touches = buys.join(views,
        col("user_id") === col("v_user") && col("b_bucket") === col("v_bucket")
          && col("v_tm") <= col("b_tm") && col("v_tm") > col("b_tm") - W)
      .select(col("buy_id"), col("user_id"), col("value"), col("view_id"),
        col("v_tm"))
    val wp = Window.partitionBy(col("buy_id"))
    val credited = touches
      .withColumn("rn", row_number().over(wp.orderBy(col("v_tm"), col("view_id"))))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("credit",
        when(col("n") === 1, lit(1.0))
          .when(col("n") === 2, lit(0.5)) // no middle pool: value-conserving 50/50
          .when(col("rn") === 1, lit(0.4))
          .when(col("rn") === col("n"), lit(0.4))
          .otherwise(lit(0.2) / (col("n") - 2).cast("double")))
      .withColumn("cq", Det.quantize(col("value") * col("credit")))
    val sc = lit(Det.pow10(4))
    def classSum(cond: org.apache.spark.sql.Column) =
      sum(when(cond, col("cq")).otherwise(0L)) / sc
    credited.groupBy(col("user_id"))
      .agg(
        countDistinct(col("buy_id")).as("n_purchases"),
        count(lit(1)).as("n_touches"),
        classSum(col("n") === 1).as("credited_solo"),
        classSum(col("n") > 1 && col("rn") === 1).as("credited_first"),
        classSum(col("n") > 1 && col("rn") === col("n")).as("credited_last"),
        classSum(col("n") > 1 && col("rn") > 1 && col("rn") < col("n"))
          .as("credited_mid"),
        (sum(col("cq")) / sc).as("credited_total"))
      .orderBy("user_id")
  }

  /** SCD Type-2 dimension derivation — the warehouse-standard
    * dimension-maintenance operator (the reference is an ETL pipeline;
    * this is the history side every Load step with mutable entities
    * eventually needs): treat the event stream as a per-user change feed
    * of the `event_type` state and emit one VERSION row per state
    * change — (version, state, valid_from, valid_to, is_current), with
    * half-open validity intervals chained so valid_to equals the next
    * version's valid_from and exactly one open (is_current) version per
    * user. Change detection is lag() != current (consecutive duplicate
    * states collapse into one version — the idempotence a CDC feed with
    * redundant snapshots needs).
    *
    * Scale shape: one shuffle by user_id serves ALL THREE window
    * functions (lag for change detection, row_number for version, lead
    * for interval chaining — same partition key and ordering, Spark
    * plans one Exchange + two Window operators over it); the output is
    * proportional to the number of STATE CHANGES, not events.
    * Determinism: ordering is (ts, event_id) — event_id breaks
    * same-timestamp ties; everything else is exact integers/timestamps.
    */
  val scd2Dimension: GraftQuery = GraftQuery(
    "events_scd2_dimension",
    "SCD2 derivation from the event change feed: per-user state versions with chained validity intervals",
    EventOracle.scd2Sql) { (s, d) =>
    scd2Frame(Tables.events(s, d)).orderBy("user_id", "version")
  }

  /** Delta slice for [[scd2Merge]]: events with
    * event_id % Scd2DeltaMod == 0 are the late-arriving batch (an
    * arbitrary ID slice, the portfolio_incremental_merge convention).
    */
  val Scd2DeltaMod = 10

  /** Warehouse table maintained by [[scd2Merge]]. */
  val Scd2DimTable = "dim_user_state"

  /** SCD2 dimension maintenance END-TO-END through the warehouse MERGE
    * primitive ([[graft.sources.Warehouse.mergeTable]]) — the keyed-upsert
    * Load step [[scd2Dimension]] derives but never persisted:
    *
    *   1. initial publish — the dimension over the 90% "on-time" events,
    *      replace-mode (the v1 deployment);
    *   2. restatement delta — when the late batch lands, every version of
    *      every TOUCHED user is re-derived over the full feed (SCD2
    *      restatement: a late event can re-number and re-bound any of its
    *      user's versions, so the user's whole history is the upsert
    *      unit; version counts never shrink — change points only grow
    *      under insertion — so update+insert covers it with no delete);
    *   3. MERGE INTO on key (user_id, version) — matched versions update
    *      (state/validity bounds), new versions insert, other users'
    *      rows are untouched;
    *   4. attestation — the PERSISTED table is read back and compared
    *      row-for-row (full outer join on the key, null-safe on every
    *      column) against a from-scratch derivation over the full feed.
    *
    * Output per user: version count, current state, and the genuine
    * per-user merge_ok equality bit (the merge-vs-recompute contract).
    *
    * 100 TB shape: the delta costs one touched-user semi join + the SCD2
    * window over touched users only; the merge rewrites only what the
    * key layout allows pruning to (see [[graft.sources.Warehouse.mergeTable]]);
    * the attestation is a key-partitioned equi-join. Determinism:
    * timestamps and version numbers are exact, the comparison is
    * null-safe equality on exact types — no doubles anywhere.
    */
  val scd2Merge: GraftQuery = GraftQuery(
    "events_scd2_merge",
    s"SCD2 dimension maintenance via warehouse MERGE: 1/$Scd2DeltaMod late batch -> keyed upsert, per-user merge-vs-recompute equality",
    EventOracle.scd2MergeSql) { (s, d) =>
    import graft.sources.Warehouse
    val ev = Tables.events(s, d)
    val oldDim = scd2Frame(ev.filter(col("event_id") % Scd2DeltaMod =!= 0))
    Warehouse.replaceTable(oldDim, Scd2DimTable)
    val fullDim = scd2Frame(ev).localCheckpoint(eager = false)
    val touched = ev.filter(col("event_id") % Scd2DeltaMod === 0)
      .select("user_id").distinct()
    val delta = fullDim.join(touched, Seq("user_id"), "left_semi")
    Warehouse.mergeTable(delta, Scd2DimTable, Seq("user_id", "version"))
    val merged = s.table(s"${Warehouse.Schema}.$Scd2DimTable")
    val full = fullDim.select(col("user_id").as("fu"),
      col("version").as("fv"), col("state").as("fs"),
      col("valid_from").as("ff"), col("valid_to").as("ft"),
      col("is_current").as("fc"))
    val cmp = merged.join(full,
        col("user_id") === col("fu") && col("version") === col("fv"), "full")
      .select(coalesce(col("user_id"), col("fu")).as("uid"),
        when(col("user_id").isNull || col("fu").isNull
          || !(col("state") <=> col("fs"))
          || !(col("valid_from") <=> col("ff"))
          || !(col("valid_to") <=> col("ft"))
          || !(col("is_current") <=> col("fc")), 1).otherwise(0).as("bad"))
    val agg = merged.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        max(when(col("is_current"), col("state"))).as("current_state"))
    val ok = cmp.groupBy(col("uid"))
      .agg((sum(col("bad")) === 0).as("merge_ok"))
    agg.join(ok, col("user_id") === col("uid"))
      .select(col("user_id"), col("n_versions"), col("current_state"),
        col("merge_ok"))
      .orderBy("user_id")
  }

  /** Hash-bucket count for the CDC serving table's partition layout. */
  val CdcBuckets = 8

  /** Warehouse table maintained by [[cdcApply]]. */
  val CdcStateTable = "user_state_cdc"

  /** Per-user latest-event picks for [[cdcApply]], ONE corpus pass: the
    * latest over the full feed, the latest over the on-time slice, and
    * the touched flag all come from max(struct) aggregates over the same
    * groupBy — argmax by (tm, event_id) exactly like a row_number pick
    * (the pair is a total order), but partial-aggregable: each map task
    * pre-reduces to one row per user, where the window formulation
    * shuffles EVERY event row twice (once per slice). At 100 TB this is
    * the difference between two full-corpus sort-shuffles and one
    * combine-reduced exchange.
    */
  private def latestPicks(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pick = struct(unix_micros(col("ts")).as("tm"), col("event_id"),
      col("event_type").as("state"), col("ts"))
    events.groupBy(col("user_id")).agg(
        max(pick).as("lf"),
        max(when(col("event_id") % Scd2DeltaMod =!= 0, pick)).as("lo"),
        max((col("event_id") % Scd2DeltaMod === 0).cast("int")).as("touched"))
      .withColumn("u_bucket", col("user_id") % CdcBuckets)
  }

  /** CDC changefeed apply END-TO-END through
    * [[graft.sources.Warehouse.mergeTable]] WITH its delete path — the
    * full CDC-sink story ([[scd2Merge]] covers update+insert only; a real
    * changefeed also retires keys):
    *
    *   1. the serving table is each user's LATEST event state, keyed
    *      (user_id, u_bucket) and PARTITIONED by u_bucket = user_id % 8
    *      (the partition column rides the key, so every apply takes the
    *      partition-pruned path — at 100 TB a CDC batch rewrites only the
    *      buckets it touches);
    *   2. ops derive deterministically from the data: a user whose latest
    *      event is `error` is CHURNED — op=delete; otherwise op=upsert
    *      with the latest state. v1 publishes the rule over the 90%
    *      on-time events;
    *   3. the 1/10 late batch marks its users touched; their rule is
    *      re-evaluated over the full feed — upserts become the delta,
    *      churns become the DELETES frame (a churned user never seen by
    *      v1 is a delete of an absent key: a no-op, the replay contract);
    *   4. one mergeTable call applies insert+update+delete; the PERSISTED
    *      table is read back and compared null-safe per user against the
    *      from-scratch recompute (latest state over the full feed minus
    *      churned users).
    *
    * Output: the served rows + the genuine per-user cdc_ok equality bit.
    * The oracle replays the v1/delta/deletes algebra relationally
    * (the [[scd2Merge]] convention), so the hash match proves the
    * physical merge-with-deletes equals the recompute. Determinism:
    * latest = max(ts, event_id), exact types throughout. All three
    * per-user picks (full latest, on-time latest, touched) come from
    * ONE combine-reduced corpus pass ([[latestPicks]]), checkpointed so
    * the publish, the delta, and the attestation read the per-user
    * frame instead of rescanning events.
    */
  val cdcApply: GraftQuery = GraftQuery(
    "events_cdc_apply",
    s"CDC changefeed apply via warehouse MERGE with deletes: 1/$Scd2DeltaMod late batch -> upsert/delete per user, bucket-pruned, per-user merge-vs-recompute equality",
    EventOracle.cdcApplySql) { (s, d) =>
    import graft.sources.Warehouse
    val picks = latestPicks(Tables.events(s, d)).localCheckpoint()
    val v1 = picks
      .filter(col("lo").isNotNull && col("lo.state") =!= "error")
      .select(col("user_id"), col("u_bucket"),
        col("lo.state").as("state"), col("lo.ts").as("ts"))
    Warehouse.replacePartitioned(v1, CdcStateTable, "u_bucket")
    val tf = picks.filter(col("touched") === 1)
    val delta = tf.filter(col("lf.state") =!= "error")
      .select(col("user_id"), col("u_bucket"),
        col("lf.state").as("state"), col("lf.ts").as("ts"))
    val dels = tf.filter(col("lf.state") === "error")
      .select("user_id", "u_bucket")
    Warehouse.mergeTable(delta, CdcStateTable, Seq("user_id", "u_bucket"),
      Some(dels))
    val merged = s.table(s"${Warehouse.Schema}.$CdcStateTable")
    val want = picks.filter(col("lf.state") =!= "error")
      .select(col("user_id").as("wu"), col("u_bucket").as("wb"),
        col("lf.state").as("ws"), col("lf.ts").as("wt"))
    val cmp = merged.join(want, col("user_id") === col("wu"), "full")
      .select(coalesce(col("user_id"), col("wu")).as("uid"),
        when(col("user_id").isNull || col("wu").isNull
          || !(col("u_bucket") <=> col("wb"))
          || !(col("state") <=> col("ws"))
          || !(col("ts") <=> col("wt")), 1).otherwise(0).as("bad"))
    val ok = cmp.groupBy(col("uid"))
      .agg((sum(col("bad")) === 0).as("cdc_ok"))
    merged.join(ok, col("user_id") === col("uid"))
      .select(col("user_id"), col("u_bucket"), col("state"), col("ts"),
        col("cdc_ok"))
      .orderBy("user_id")
  }

  /** Warehouse table maintained by [[snapshotDiff]]. */
  val SnapDiffTable = "user_state_snapdiff"

  /** TIME-TRAVEL DIFF — [[graft.sources.Warehouse.snapshotTable]]
    * composed into the registry (it carried spec coverage only): two
    * successive PUBLISHES of the per-user latest-state dimension are
    * snapshotted — v1 over the 90% on-time slice, v2 over the full
    * feed (the [[cdcApply]] split) — and the audit every publish
    * pipeline runs ("what did today's load change against yesterday's?")
    * reads BOTH SNAPSHOTS back from the warehouse, never the live table:
    * a full outer join classifies every user as added / removed /
    * changed / unchanged, all four classes explicit (removed is a
    * GENUINE zero here — on-time users are a subset of the full feed —
    * the zeros-are-the-assertion convention).
    *
    * The snapshots survive the v2 overwrite by construction (that is
    * [[graft.sources.Warehouse.snapshotTable]]'s whole contract), so a
    * hash match proves the persisted-version read path end-to-end.
    * Scale shape: snapshot cost is the format layer's concern
    * (metadata-only in Delta/Iceberg; a CTAS copy here attests the
    * semantics); the diff is one id-keyed full outer join of two
    * model-sized dimensions. Determinism: latest = max(ts, event_id)
    * via the one-pass [[latestPicks]] argmax; class counts are exact.
    */
  val snapshotDiff: GraftQuery = GraftQuery(
    "events_snapshot_diff",
    "time-travel diff: two snapshotted publishes full-outer-joined into added/removed/changed/unchanged counts, read from the snapshots",
    EventOracle.snapshotDiffSql) { (s, d) =>
    import graft.sources.Warehouse
    val picks = latestPicks(Tables.events(s, d)).localCheckpoint()
    val v1 = picks.filter(col("lo").isNotNull)
      .select(col("user_id"), col("lo.state").as("state"),
        col("lo.ts").as("ts"))
    val v2 = picks
      .select(col("user_id"), col("lf.state").as("state"),
        col("lf.ts").as("ts"))
    Warehouse.replaceTable(v1, SnapDiffTable)
    val sv1 = Warehouse.snapshotTable(s, SnapDiffTable)
    Warehouse.replaceTable(v2, SnapDiffTable)
    val sv2 = Warehouse.snapshotTable(s, SnapDiffTable)
    val a = Warehouse.readSnapshot(s, SnapDiffTable, sv1)
      .select(col("user_id").as("u1"), col("state").as("st1"),
        col("ts").as("ts1"))
    val b = Warehouse.readSnapshot(s, SnapDiffTable, sv2)
      .select(col("user_id").as("u2"), col("state").as("st2"),
        col("ts").as("ts2"))
    val cnt = a.join(b, col("u1") === col("u2"), "full")
      .select(when(col("u1").isNull, "added")
        .when(col("u2").isNull, "removed")
        .when(!(col("st1") <=> col("st2")) || !(col("ts1") <=> col("ts2")),
          "changed")
        .otherwise("unchanged").as("diff_class"))
      .groupBy(col("diff_class")).agg(count(lit(1)).as("n0"))
    val classes = s.createDataFrame(
      Seq("added", "changed", "removed", "unchanged").map(Tuple1(_)))
      .toDF("diff_class")
    classes.join(cnt, Seq("diff_class"), "left")
      .select(col("diff_class"),
        coalesce(col("n0"), lit(0L)).as("n_users"))
      .orderBy("diff_class")
  }

  /** Retention cutoff for [[scd2Churn]] — a pinned literal (the loan
    * as-of-date convention); the events corpus spans 2024-01.
    */
  val Scd2RetentionCutoff = "2024-01-15 00:00:00"

  /** Warehouse table maintained by [[scd2Churn]]. */
  val Scd2ChurnTable = "dim_user_state_ret"

  /** SCD2 retention churn — the [[scd2Merge]] lifecycle's missing DELETE
    * leg: a retention rule retires CLOSED versions whose validity ended
    * before the pinned cutoff (open versions never purge — every user
    * keeps at least their current row), applied as a pure deletes-frame
    * merge (empty delta) through
    * [[graft.sources.Warehouse.mergeTable]]. Because the delete keys are
    * exact (user_id, version) rows of the published dimension, the
    * relational meaning of the purge IS the retention filter — so the
    * attestation compares the PERSISTED post-purge table null-safe
    * against the from-scratch derivation filtered by the same rule, and
    * the oracle replays that filter.
    *
    * Output per user: retained version count, purge count, current
    * state, and the genuine churn_ok equality bit. Version numbers keep
    * their original values (gaps where history was purged) — numbering
    * is assigned at derivation, not at read.
    *
    * 100 TB shape: the deletes frame is a filter over the dimension (no
    * window work), and the merge rewrites per the table's layout; on a
    * validity-date-partitioned dimension the same call would drop whole
    * expired partitions via the emptied-partition path.
    */
  val scd2Churn: GraftQuery = GraftQuery(
    "events_scd2_churn",
    s"SCD2 retention purge via merge deletes: closed versions ending before $Scd2RetentionCutoff removed, per-user purge-vs-recompute equality",
    EventOracle.scd2ChurnSql) { (s, d) =>
    import graft.sources.Warehouse
    val ev = Tables.events(s, d)
    val fullDim = scd2Frame(ev).localCheckpoint(eager = false)
    Warehouse.replaceTable(fullDim, Scd2ChurnTable)
    val cutoff = lit(Scd2RetentionCutoff).cast("timestamp")
    val dels = s.table(s"${Warehouse.Schema}.$Scd2ChurnTable")
      .filter(col("valid_to").isNotNull && col("valid_to") < cutoff)
      .select("user_id", "version")
      .localCheckpoint() // must outlive the overwrite it feeds
    Warehouse.mergeTable(fullDim.limit(0), Scd2ChurnTable,
      Seq("user_id", "version"), Some(dels))
    val merged = s.table(s"${Warehouse.Schema}.$Scd2ChurnTable")
    val keep = fullDim
      .filter(col("valid_to").isNull || col("valid_to") >= cutoff)
      .select(col("user_id").as("ku"), col("version").as("kv"),
        col("state").as("ks"), col("valid_from").as("kf"),
        col("valid_to").as("kt"), col("is_current").as("kc"))
    val cmp = merged.join(keep,
        col("user_id") === col("ku") && col("version") === col("kv"), "full")
      .select(coalesce(col("user_id"), col("ku")).as("uid"),
        when(col("user_id").isNull || col("ku").isNull
          || !(col("state") <=> col("ks"))
          || !(col("valid_from") <=> col("kf"))
          || !(col("valid_to") <=> col("kt"))
          || !(col("is_current") <=> col("kc")), 1).otherwise(0).as("bad"))
    val ok = cmp.groupBy(col("uid"))
      .agg((sum(col("bad")) === 0).as("churn_ok"))
    val agg = merged.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        max(when(col("is_current"), col("state"))).as("current_state"))
    val purged = dels.groupBy(col("user_id"))
      .agg(count(lit(1)).as("np"))
      .select(col("user_id").as("pu"), col("np"))
    agg.join(ok, col("user_id") === col("uid"))
      .join(purged, col("user_id") === col("pu"), "left")
      .select(col("user_id"), col("n_versions"),
        coalesce(col("np"), lit(0L)).as("n_purged"),
        col("current_state"), col("churn_ok"))
      .orderBy("user_id")
  }

  /** Warehouse table maintained by [[cdcEvolve]]. */
  val EvolveTable = "events_feed_evolved"

  /** [[cdcEvolve]] slice boundaries — pinned literals (the loan
    * as-of-date convention); the events corpus spans 2024-01.
    */
  val EvolveSplitLo = "2024-01-11"
  val EvolveSplitHi = "2024-01-21"

  /** Mid-stream SCHEMA EVOLUTION of an append-only CDC feed, end-to-end
    * through [[graft.sources.Warehouse.appendEvolved]] — the lifecycle
    * leg merge/delete/snapshot/compact don't cover: the PRODUCER's
    * schema changes while the table keeps serving.
    *
    *   1. the feed publishes slice A (before [[EvolveSplitLo]]) with the
    *      original schema, date-partitioned;
    *   2. mid-stream the producer GAINS a column — slice B ships `k`
    *      (the props JSON scalar) — and appendEvolved widens the table
    *      definition via ALTER TABLE ADD COLUMNS; slice A's files are
    *      NOT rewritten, their rows read k as NULL;
    *   3. an OLD-SCHEMA producer keeps publishing after the evolution:
    *      slice C (from [[EvolveSplitHi]]) appends WITHOUT k and gets a
    *      typed-NULL fill — pre-evolution writers keep working.
    *
    * The readout aggregates the PERSISTED table per (slice, event_type):
    * row counts, k coverage (n_k = 0 exactly on the old-schema slices —
    * the NULL backfill attested from the files themselves), sum_k, and
    * the quantized value sum. The oracle replays the evolution
    * relationally (k is NULL outside slice B), so the hash match proves
    * the widened-metadata reads equal the logical feed.
    *
    * 100 TB shape: the evolution itself is O(1) — one catalog edit;
    * appends stay partition-parallel; no historical file is touched.
    */
  val cdcEvolve: GraftQuery = GraftQuery(
    "events_cdc_evolve",
    "mid-stream schema evolution: feed gains a column between appends; old files read NULL, old-schema producers keep publishing",
    EventOracle.cdcEvolveSql) { (s, d) =>
    import graft.sources.Warehouse
    val lo = lit(EvolveSplitLo).cast("date")
    val hi = lit(EvolveSplitHi).cast("date")
    val ev = Tables.events(s, d).withColumn("d", to_date(col("ts")))
    val base = ev.select(col("event_id"), col("user_id"), col("ts"),
      col("event_type"), col("value"), col("d"))
    Warehouse.replacePartitioned(base.filter(col("d") < lo),
      EvolveTable, "d")
    val evolved = ev.filter(col("d") >= lo && col("d") < hi)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"), col("d"))
    Warehouse.appendEvolved(evolved, EvolveTable, Some("d"))
    Warehouse.appendEvolved(base.filter(col("d") >= hi),
      EvolveTable, Some("d"))
    s.table(s"${Warehouse.Schema}.$EvolveTable")
      .withColumn("slice", when(col("d") < lo, "pre")
        .when(col("d") < hi, "evolved").otherwise("post"))
      .groupBy(col("slice"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        (sum(Det.quantize(col("value"))) / lit(Det.pow10(4))).as("sum_value"))
      .orderBy("slice", "event_type")
  }

  /** The SCD2 derivation over any events frame — shared by the batch
    * query and the streaming-parity spec ([[EventStreams.scd2Closed]]).
    */
  def scd2Frame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Deterministic A/B experiment readout — the product-analytics
    * operator event pipelines exist to feed: users are assigned to arms
    * by CONTENT hash of their id (the [[graft.text.TextQueries]] splits
    * convention — assignment survives re-runs/re-shards, and a user's
    * every event lands in one arm, the unit-of-randomization contract),
    * the metric is per-USER total event value (randomization unit =
    * analysis unit, so the variance is honest), and the readout is the
    * standard Welch two-sample comparison: per-arm n/mean/variance,
    * relative uplift, and the t statistic.
    *
    * Scale shape: one partial-agg shuffle to (user, arm, total), then a
    * 2-row conditional aggregate — classic map-side-combine analytics.
    * Determinism: per-user totals are exact 1e-4 LONGs; per-arm sums and
    * sums-of-squares are exact LONG sums; mean/variance/t recompose
    * those LONGs through the same double associations on both engines,
    * t quantized to 1e-6. Degenerate arms are GUARDED identically on
    * both engines (Spark's non-ANSI division yields NULL where DuckDB's
    * IEEE doubles yield ±Inf/NaN, so the guards must be explicit): mean
    * needs n > 0, variance n > 1, uplift a non-zero control mean, t a
    * strictly positive standard error — each NULL otherwise. The uq²
    * term raises explicitly when |uq| would overflow its square
    * (|uq| > floor(sqrt(2⁶³−1))) instead of wrapping silently; the SUM
    * of squares then fits BIGINT through ~1e9 users at these value
    * ranges — past that, scale the quantum.
    */
  val abTest: GraftQuery = GraftQuery.oneRow(
    "events_ab_test",
    "hash-assigned A/B readout: per-arm user-level value stats + Welch t",
    EventOracle.abTestSql) { (s, d) =>
    val perUser = Tables.events(s, d)
      .select(col("user_id"), Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"))
      .agg(sum(col("vq")).as("uq"))
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    val uqSq = when(abs(col("uq")) > lit(MaxSqAbs),
      raise_error(lit("events_ab_test: per-user total overflows the " +
        "ssq quantum — widen the quantum")).cast("long"))
      .otherwise(col("uq") * col("uq"))
    val agg = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("uq")).otherwise(0L)).as("sa"),
      sum(when(col("arm") === 1, col("uq")).otherwise(0L)).as("sb"),
      sum(when(col("arm") === 0, uqSq).otherwise(0L)).as("qa"),
      sum(when(col("arm") === 1, uqSq).otherwise(0L)).as("qb"))
    val sc = lit(Det.pow10(4).toDouble)
    def mean(s0: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      when(n > lit(0L), s0 / sc / n)
    def vr(q: org.apache.spark.sql.Column, s0: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      when(n > lit(1L),
        (q / (sc * sc) - (s0 / sc) * (s0 / sc) / n) / (n - lit(1)))
    agg.select(
        col("n_a"), col("n_b"),
        mean(col("sa"), col("n_a")).as("mean_a"),
        mean(col("sb"), col("n_b")).as("mean_b"),
        vr(col("qa"), col("sa"), col("n_a")).as("var_a"),
        vr(col("qb"), col("sb"), col("n_b")).as("var_b"))
      .withColumn("se2",
        col("var_a") / col("n_a") + col("var_b") / col("n_b"))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("var_a"), col("var_b"),
        when(col("mean_a").isNotNull && col("mean_a") =!= 0 &&
            col("mean_b").isNotNull,
          (col("mean_b") - col("mean_a")) / col("mean_a")).as("uplift"),
        when(col("se2") > 0,
          floor((col("mean_b") - col("mean_a")) / sqrt(col("se2"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("t_stat"))
  }

  /** MM sweep count for [[bradleyTerry]] — the oracle unrolls exactly
    * this many rounds.
    */
  val BtIters = 8

  /** Deterministic (winner, loser) preference pairs from events — the
    * comparison data a Bradley-Terry fit consumes: each user compares
    * every pair of event types they touched, preferring the type with
    * the larger per-user total value (quantized LONGs, so the
    * comparison and the tie filter are exact on both engines; ties
    * carry no preference signal and are skipped). Output per unordered
    * type pair (ta < tb): comparison count n and ta's win count wa.
    *
    * Scale shape: one (user, type) partial-agg shuffle, then a
    * user-keyed self-join whose per-user fan-out is bounded by the
    * type-pair space T², and a pair-keyed agg to the T²-bounded pair
    * table — the RLHF-arena shape (users = raters, types = models).
    */
  def btPairsFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val put = events
      .select(col("user_id"), col("event_type"),
        Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("vq")).as("vq"))
    val a = put.select(col("user_id"), col("event_type").as("ta"),
      col("vq").as("va"))
    val b = put.select(col("user_id"), col("event_type").as("tb"),
      col("vq").as("vb"))
    a.join(b, Seq("user_id"))
      .filter(col("ta") < col("tb") && col("va") =!= col("vb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("va") > col("vb"), 1L).otherwise(0L)).as("wa"))
  }

  /** BRADLEY-TERRY preference-pair ranking — the RLHF reward-data
    * staple: given pairwise comparisons, fit per-item strengths s_i so
    * P(i beats j) = s_i/(s_i+s_j), by [[BtIters]] sweeps of Hunter's MM
    * update s_i ← W_i / Σ_j n_ij/(s_i+s_j), renormalized to Σs = |items|
    * each sweep (pins the scale-invariance direction). Every sweep is a
    * per-item ratio of two partial aggregates over the T²-bounded pair
    * table — the strengths frame stays DISTRIBUTED (items-bounded; at
    * arena scale items are models/documents, never the corpus), each
    * sweep checkpointed, the driver never sees data (the
    * `corpus_bpe_merges_n`/`embedding_kmeans` loop discipline; the one
    * driver scalar is the item COUNT for the normalizer).
    *
    * Determinism: denominators sum 1e-9-quantized LONG terms; the
    * update and the normalization re-quantize each strength to 1e-9 —
    * the DuckDB twin's unrolled CTE chain reproduces every sweep
    * bit-for-bit. Assumes every item wins at least one comparison
    * (true at every SF; a never-winning item's strength correctly
    * decays toward 0 but a fully-degenerate pair graph would need the
    * regularized variant, raised here as a NULL strength, not a wrong
    * number — the dq > 0 guard).
    */
  val bradleyTerry: GraftQuery = GraftQuery(
    "events_bradley_terry",
    s"Bradley-Terry fit of event-type strengths from per-user value comparisons, $BtIters MM sweeps",
    EventOracle.bradleyTerrySql) { (s, d) =>
    btRankFrame(btFit(btPairsFrame(Tables.events(s, d)), BtIters))
  }

  /** The MM loop over any (ta, tb, n, wa) pair frame: returns the final
    * strengths frame (item, wins, n_comps, s). Shared by the registry
    * query and the planted-dominance / replay specs.
    */
  def btFit(pairs0: org.apache.spark.sql.DataFrame, iters: Int)
      : org.apache.spark.sql.DataFrame = {
    val pairs = pairs0.localCheckpoint()
    // ITEM-bounded state frames (T items, T² pairs — model-sized at any
    // corpus scale: items are models/types, never rows), pinned to ONE
    // hash(item) partition. That single partition is what makes every MM
    // sweep EXCHANGE-FREE (guide §2.4 "remove shuffles outright"): the
    // sweep's groupBy("item"), its wins join, and the re-normalization
    // window all see their distribution requirement already satisfied
    // (HashPartitioning(item, 1) ⊨ ClusteredDistribution, and
    // numPartitions==1 ⊨ AllTuples), so each sweep materializes as one
    // narrow stage instead of the 4-exchange chain the unpartitioned
    // shape paid per sweep.
    val comps = pairs
      .select(col("ta").as("item"), col("tb").as("opp"), col("n"))
      .unionByName(pairs
        .select(col("tb").as("item"), col("ta").as("opp"), col("n")))
      .repartition(1, col("item"))
      .localCheckpoint()
    val wins = pairs.select(col("ta").as("item"), col("wa").as("w"))
      .unionByName(pairs
        .select(col("tb").as("item"), (col("n") - col("wa")).as("w")))
      .groupBy(col("item")).agg(sum(col("w")).as("wins"))
      .repartition(1, col("item"))
      .localCheckpoint()
    val nComps = comps.groupBy(col("item"))
      .agg(sum(col("n")).as("n_comps"))
    // the one driver-side scalar: the item count (metadata-sized)
    val nItems = wins.count()
    // the re-normalization total as a single-partition window instead of
    // crossJoin(broadcast(agg)): the SAME quantized-LONG sum (associative,
    // partition-count-independent), minus one broadcast-exchange job per
    // sweep
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    var s = wins.select(col("item"), lit(1.0).as("s")).localCheckpoint()
    for (_ <- 1 to iters) {
      val d = comps
        .join(s.select(col("item"), col("s").as("s_i")), "item")
        // opp-side strength lookup broadcast (items-bounded) so the item
        // partitioning survives the join untouched
        .join(broadcast(s.select(col("item").as("opp"), col("s").as("s_j"))),
          "opp")
        .groupBy(col("item"))
        .agg(sum(Det.quantize(col("n") / (col("s_i") + col("s_j")), 9))
          .as("dq"))
      val raw = wins.join(d, "item")
        .select(col("item"),
          when(col("dq") > 0L,
            Det.quantize(col("wins") / (col("dq") / lit(1e9)), 9)
              / lit(1e9)).as("s"))
      s = raw
        .withColumn("tq", sum(Det.quantize(col("s"), 9)).over(wAll))
        .select(col("item"),
          (Det.quantize(col("s") *
            (lit(nItems) / (col("tq") / lit(1e9))), 9) / lit(1e9)).as("s"))
        .localCheckpoint()
    }
    wins.join(nComps, "item").join(s, "item")
      .select(col("item"), col("wins"), col("n_comps"), col("s"))
  }

  /** Rank readout over the fitted strengths (items-bounded global
    * window).
    */
  def btRankFrame(fit: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    fit.withColumn("rank", row_number()
        .over(Window.orderBy(desc("s"), col("item"))).cast("long"))
      .select(col("item").as("event_type"), col("wins"), col("n_comps"),
        col("s").as("strength"), col("rank"))
      .orderBy("rank")
  }

  /** EWMA smoothing weight (the SPC-standard lambda = 0.2). */
  val EwmaLambda = 0.2

  /** EWMA control-limit width in sigmas (L = 3). */
  val EwmaL = 3.0

  /** 2 - lambda, precomputed so both engines parse the same literal. */
  val EwmaDenom = 1.8

  /** EWMA kernel truncation: weights with lag > this quantize to ZERO at
    * the 1e-9 quantum (lambda * 0.8^lag < 5e-10 from lag 89), so the
    * banded unrolling below this cut is EXACTLY the untruncated sum —
    * a bounded-join rewrite, not an approximation.
    */
  val EwmaKernelCut = 124

  /** EWMA control chart — the third classic SPC detector, completing
    * [[anomaly]] (point outliers) and [[cusum]] (persistent level
    * shifts): the exponentially weighted moving average
    * z_t = lambda*x_t + (1-lambda)*z_{t-1}, z_0 = mean, tracked against
    * TIME-VARYING control limits mean +- L*sigma*sqrt(lambda/(2-lambda)
    * * (1-(1-lambda)^2t)) — the limits widen from zero as the average
    * warms up, the property CUSUM lacks (its sum starts trustworthy,
    * EWMA's average doesn't). Sensitivity sits between the siblings:
    * faster than CUSUM on medium shifts, immune to the single-point
    * noise that pages the z-score detector.
    *
    * The recursion unrolls to z_t = (1-lambda)^t*mean + lambda *
    * sum_j (1-lambda)^(t-j)*x_j; the geometric weights make the naive
    * prefix trick overflow ((1/0.8)^t explodes past ~700 hours), so the
    * engine uses a BANDED self-join over the model-sized dense hourly
    * grid — j in [t-[[EwmaKernelCut]], t] — which is exact at the 1e-9
    * quantum (weights beyond the cut quantize to zero; scaladoc at the
    * constant). O(T * 125) tiny-row work on a calendar-bounded frame,
    * never the corpus. Determinism: the SES weight recipe (each weight
    * quantized to 1e-9 right after its one pow), each weighted term
    * re-quantized to a 1e-9 LONG before the exact sum, limits quantized
    * to LONGs so the alarm compares are integer-exact.
    *
    * BASELINE CAVEAT: mean/sigma are estimated over the WHOLE series —
    * there is no Phase-I in-control reference window — so a large shift
    * occupying much of the window inflates both and dampens the chart's
    * sensitivity to it (the planted-shift spec sizes its shift against
    * exactly this). That is the textbook retrospective-chart limitation,
    * shared by [[cusum]] and deliberate here: a production deployment
    * freezes (mean, sigma) from a vetted in-control prefix — which is
    * exactly [[ewmaFrozen]], the sibling operator; run that one when a
    * shift may occupy a large share of the window.
    */
  val ewmaChart: GraftQuery = GraftQuery(
    "events_ewma_chart",
    s"EWMA control chart (lambda=$EwmaLambda, L=$EwmaL) over the dense hourly error-rate series with warm-up-aware limits",
    EventOracle.ewmaChartSql) { (s, d) =>
    ewmaFrame(Tables.events(s, d))
  }

  /** The EWMA derivation over any events frame — shared by the registry
    * query and the planted-shift spec (EventQueriesSpec).
    */
  def ewmaFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ewmaReadout(hourlyErrorCounts(events))

  private def hourlyErrorCounts(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"))

  /** Phase-I in-control window for [[ewmaFrozen]] (one week of the
    * 30-day corpus).
    */
  val EwmaPhase1Hours = 168

  /** EWMA chart with a FROZEN Phase-I baseline — the production variant
    * the [[ewmaChart]] scaladoc's caveat points at: (mean, sigma) — and
    * the chart's warm-up seed — come from only the first
    * [[EwmaPhase1Hours]] hours, vetted in-control, instead of the whole
    * window. The retrospective chart's known blind spot is a shift that
    * OCCUPIES much of the window: it inflates its own baseline (mean
    * drifts toward it, sigma absorbs it as spread) until the limits
    * swallow the signal; a frozen baseline cannot be polluted by what it
    * is measuring. The planted spec shows exactly that — a shift over
    * 60% of the window that the whole-series chart never flags UP while
    * this one fires within hours. Same banded-kernel arithmetic and
    * model-sized frames as the sibling; the baseline filter is one
    * predicate on the dense grid.
    */
  val ewmaFrozen: GraftQuery = GraftQuery(
    "events_ewma_frozen",
    s"EWMA control chart with frozen Phase-I baseline (first $EwmaPhase1Hours h): lambda=$EwmaLambda, L=$EwmaL, shift-proof limits",
    EventOracle.ewmaFrozenSql) { (s, d) =>
    ewmaFrozenFrame(Tables.events(s, d))
  }

  /** The frozen-baseline derivation over any events frame — shared by
    * the registry query and the majority-shift spec (EventQueriesSpec).
    */
  def ewmaFrozenFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ewmaReadout(hourlyErrorCounts(events), Some(EwmaPhase1Hours))

  /** The EWMA readout over a SPARSE hourly (hour, n, ne) frame — the
    * [[cusumReadout]] serving-layer signature, so the streamed hourly
    * sink can feed it unchanged. `baselineHours = Some(n)` freezes the
    * chart's (mean, sigma) — and the warm-up seed — to the FIRST n
    * hours (the Phase-I in-control window of [[ewmaFrozen]]); None is
    * the classic whole-series retrospective chart.
    */
  def ewmaReadout(hourly: org.apache.spark.sql.DataFrame,
      baselineHours: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = densify(hourly)
      .select(col("hour"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("ne").cast("double") / col("n").cast("double"))
          .as("rate"))
      .withColumn("rq", Det.quantize(col("rate"), 9))
      .withColumn("t", row_number().over(Window.orderBy(col("hour")))
        .cast("long"))
      .localCheckpoint()
    val xb = baselineHours.fold(x)(n => x.filter(col("t") <= n))
    val st = xb.agg(
      (sum(col("rq")).cast("double") / lit(1e9)
        / count(lit(1)).cast("double")).as("mean"),
      count(lit(1)).as("nh"))
    val varq = xb.crossJoin(broadcast(st))
      .select(Det.quantize((col("rate") - col("mean"))
        * (col("rate") - col("mean")), 9).as("sq"), col("nh"))
      .groupBy(col("nh"))
      .agg((sum(col("sq")).cast("double") / lit(1e9)
        / col("nh").cast("double")).as("variance"))
      .select(sqrt(col("variance")).as("sigma"))
    val params = st.select(col("mean")).crossJoin(broadcast(varq))
    val decay = lit(1.0 - EwmaLambda)
    val terms = x.as("a").join(x.as("b"),
        col("b.t") <= col("a.t")
          && col("b.t") >= col("a.t") - lit(EwmaKernelCut.toLong))
      .select(col("a.hour").as("hour"), col("a.t").as("t"),
        col("a.rq").as("rq"), col("b.rate").as("xj"),
        (col("a.t") - col("b.t")).as("lag"))
      .withColumn("wq",
        floor(lit(EwmaLambda) * pow(decay, col("lag")) * lit(1e9) + lit(0.5))
          / lit(1e9))
      .groupBy(col("hour"), col("t"), col("rq"))
      .agg(sum(Det.quantize(col("xj") * col("wq"), 9)).as("zq0"))
    terms.crossJoin(broadcast(params))
      .withColumn("muwq",
        floor(pow(decay, col("t")) * lit(1e9) + lit(0.5)) / lit(1e9))
      .withColumn("zq", col("zq0")
        + when(col("t") <= EwmaKernelCut,
          Det.quantize(col("mean") * col("muwq"), 9)).otherwise(lit(0L)))
      .withColumn("varfac",
        when(col("t") * 2 <= EwmaKernelCut,
          lit(1.0) - floor(pow(decay, col("t") * 2) * lit(1e9) + lit(0.5))
            / lit(1e9))
          .otherwise(lit(1.0)))
      .withColumn("halfw",
        sqrt(lit(EwmaLambda) / lit(EwmaDenom) * col("varfac"))
          * col("sigma") * lit(EwmaL))
      .withColumn("uclq", Det.quantize(col("mean") + col("halfw"), 9))
      .withColumn("lclq", Det.quantize(col("mean") - col("halfw"), 9))
      .select(col("hour"),
        (col("rq") / lit(1e9)).as("rate"),
        (col("zq") / lit(1e9)).as("ewma"),
        (col("uclq") / lit(1e9)).as("ucl"),
        (col("lclq") / lit(1e9)).as("lcl"),
        (col("zq") > col("uclq")).as("alarm_up"),
        (col("zq") < col("lclq")).as("alarm_down"))
      .orderBy("hour")
  }

  /** k-anonymity threshold for [[kAnonymity]]. */
  val AnonK = 10

  /** Value-band width for the k-anonymity quasi-identifier. */
  val AnonBandWidth = 50.0

  /** Week anchor for the k-anonymity generalization lattice (the corpus
    * epoch; any fixed Monday-agnostic anchor works — weeks are just
    * 7-day buckets from it, not ISO weeks, so both engines compute them
    * with the same integer arithmetic).
    */
  val AnonWeekAnchor = "2024-01-01"

  /** k-anonymity audit with a generalization lattice — the privacy screen
    * a training-data release runs over STRUCTURED columns (the PII family
    * covers free text): a row is releasable only if its quasi-identifier
    * class — (event_type, time, value band), the attacker-joinable
    * attributes — contains at least [[AnonK]] rows. Classes too small at
    * day grain generalize time day → week → month (local recoding: each
    * row independently takes the finest level whose class clears k);
    * rows anonymous at no level are suppressed. Output: per (event_type,
    * resolution level) row/class counts + the released row share.
    *
    * Scale shape: ONE corpus-grain groupBy to day-class granularity —
    * the only corpus shuffle — then the week/month lattice levels are
    * re-aggregations of that model-sized class table (a coarser class
    * is a union of finer ones, so sizes roll up without rescanning),
    * as window sums partitioned by the coarser key. Determinism: class
    * sizes are exact longs; the band floor and the released share's
    * long/long division are single IEEE754 ops both engines evaluate
    * identically.
    *
    * Both coarse levels bucket time YEAR-AWARE: weeks are 7-day offsets
    * from [[AnonWeekAnchor]] and months are months-since-anchor
    * (year*12 + month), so a class can never merge rows from the same
    * calendar month of DIFFERENT years — a year-blind month(day) key
    * would overstate anonymity on any corpus spanning a year boundary.
    *
    * KNOWN RESIDUAL-CLASS CAVEAT (mixed-grain local recoding): the
    * week/month class sizes here include rows already released at a
    * finer grain, so an attacker who subtracts the day-level release
    * can face a coarse RESIDUAL class smaller than k. This audit
    * reports the classic lattice walk; [[lDiversity]] implements the
    * strict variant — coarse class sizes counted over ONLY the rows
    * not yet released at a finer level — plus the sensitive-attribute
    * diversity gate, and is the query to run when the day-level
    * release is itself published.
    */
  val kAnonymity: GraftQuery = GraftQuery(
    "events_k_anonymity",
    s"k-anonymity (k=$AnonK) over (event_type, time, value-band) with day->week->month generalization; per-level row/class counts",
    EventOracle.kAnonymitySql) { (s, d) =>
    kAnonFrame(Tables.events(s, d))
  }

  /** The k-anonymity derivation over any events frame — shared by the
    * registry query and the planted-lattice spec (EventQueriesSpec).
    */
  def kAnonFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayCls = events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / lit(AnonBandWidth)).cast("long").as("band"))
      .groupBy(col("event_type"), col("day"), col("band"))
      .agg(count(lit(1)).as("n_day"))
    val keyed = dayCls
      .withColumn("week",
        floor(datediff(col("day"), lit(AnonWeekAnchor).cast("date"))
          / lit(7.0)).cast("long"))
      // year-aware month bucket: months-since-epoch, never just
      // month(day) — January classes of different years must not merge
      .withColumn("mon", (year(col("day")) * 12 + month(col("day"))).cast("long"))
    val wWeek = Window.partitionBy(col("event_type"), col("week"), col("band"))
    val wMon = Window.partitionBy(col("event_type"), col("mon"), col("band"))
    val leveled = keyed
      .withColumn("n_week", sum(col("n_day")).over(wWeek))
      .withColumn("n_mon", sum(col("n_day")).over(wMon))
      .withColumn("level",
        when(col("n_day") >= AnonK, "day")
          .when(col("n_week") >= AnonK, "week")
          .when(col("n_mon") >= AnonK, "month")
          .otherwise("suppressed"))
    val wType = Window.partitionBy(col("event_type"))
    leveled
      .groupBy(col("event_type"), col("level"))
      .agg(sum(col("n_day")).as("n_rows"), count(lit(1)).as("n_day_classes"))
      .withColumn("row_share",
        col("n_rows") / sum(col("n_rows")).over(wType))
      .orderBy("event_type", "level")
  }

  /** l-diversity threshold for [[lDiversity]]. */
  val AnonL = 3

  /** Sensitive-attribute bucket width for [[lDiversity]]: props.k spans
    * 0..99, so floor(k/25) yields four sensitive categories (a missing k
    * coalesces to its own -1 category, deterministic on both engines).
    */
  val AnonSensWidth = 25

  /** l-diversity audit on the k-anonymity release lattice — the screen
    * [[kAnonymity]] leaves open: a class with k rows but ONE sensitive
    * value re-identifies nothing yet still leaks the attribute (every
    * member provably shares it), so a release gate needs BOTH k-many
    * rows AND l-many distinct sensitive values per class. Same
    * (event_type, day, value band) quasi-identifier and day→week→month
    * lattice; sensitive attribute = the props.k bucket
    * ([[AnonSensWidth]]).
    *
    * Unlike [[kAnonymity]]'s classic local recoding, the coarse levels
    * here are RESIDUAL: week class sizes (and diversities) count ONLY
    * rows not already released at day grain, and month counts only rows
    * failing both — so when the finer releases are themselves published,
    * an attacker who subtracts them still faces ≥ k rows and ≥ l values
    * in every released coarse class (the mixed-grain weakness the
    * classic walk carries, closed by construction). The per-level
    * min_k / min_l columns attest the guarantee inside the output.
    *
    * Scale shape: ONE corpus groupBy to (class, sensitive) granularity,
    * then three sequential model-sized aggregations (classes × ≤5
    * sensitive buckets) — the residual chain adds no corpus pass.
    * Determinism: all counts are exact longs; the released share is one
    * long/long division.
    */
  val lDiversity: GraftQuery = GraftQuery(
    "events_l_diversity",
    s"l-diversity (k=$AnonK, l=$AnonL) over the residual-recoded day->week->month lattice; per-level rows/classes + min class k/l",
    EventOracle.lDiversitySql) { (s, d) =>
    lDiversityFrame(Tables.events(s, d))
  }

  /** The l-diversity derivation over any events frame — shared by the
    * registry query and the planted-lattice spec (EventQueriesSpec).
    */
  def lDiversityFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / lit(AnonBandWidth)).cast("long").as("band"),
        coalesce(
          floor(get_json_object(col("props"), "$.k").cast("long")
            / lit(AnonSensWidth.toDouble)).cast("long"),
          lit(-1L)).as("sens"))
      .groupBy(col("event_type"), col("day"), col("band"), col("sens"))
      .agg(count(lit(1)).as("n"))
      .withColumn("week",
        floor(datediff(col("day"), lit(AnonWeekAnchor).cast("date"))
          / lit(7.0)).cast("long"))
      .withColumn("mon",
        (year(col("day")) * 12 + month(col("day"))).cast("long"))
      .localCheckpoint()
    def classStats(rows: org.apache.spark.sql.DataFrame, timeCol: String,
        nName: String, lName: String): org.apache.spark.sql.DataFrame =
      rows.groupBy(col("event_type"), col(timeCol), col("band"))
        .agg(sum(col("n")).as(nName), countDistinct(col("sens")).as(lName))
    val released = (nc: String, lc: String) =>
      col(nc) >= AnonK && col(lc) >= AnonL
    val cd = classStats(b, "day", "n_day", "l_day").localCheckpoint()
    val u1 = b.join(cd, Seq("event_type", "day", "band"))
      .filter(!released("n_day", "l_day"))
    val cw = classStats(u1, "week", "n_week", "l_week").localCheckpoint()
    val u2 = u1.join(cw, Seq("event_type", "week", "band"))
      .filter(!released("n_week", "l_week"))
    val cm = classStats(u2, "mon", "n_mon", "l_mon").localCheckpoint()
    val u3 = u2.join(cm, Seq("event_type", "mon", "band"))
      .filter(!released("n_mon", "l_mon"))
    def levelRow(cls: org.apache.spark.sql.DataFrame, level: String,
        nc: String, lc: String): org.apache.spark.sql.DataFrame =
      cls.filter(released(nc, lc))
        .groupBy(col("event_type"))
        .agg(sum(col(nc)).as("n_rows"), count(lit(1)).as("n_classes"),
          min(col(nc)).as("min_k"), min(col(lc)).as("min_l"))
        .withColumn("level", lit(level))
    val suppressed = u3.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_rows"),
        countDistinct(col("day"), col("band")).as("n_classes"),
        lit(null).cast("long").as("min_k"),
        lit(null).cast("long").as("min_l"))
      .withColumn("level", lit("suppressed"))
    val wType = Window.partitionBy(col("event_type"))
    levelRow(cd, "day", "n_day", "l_day")
      .unionByName(levelRow(cw, "week", "n_week", "l_week"))
      .unionByName(levelRow(cm, "month", "n_mon", "l_mon"))
      .unionByName(suppressed)
      .select(col("event_type"), col("level"), col("n_rows"),
        col("n_classes"), col("min_k"), col("min_l"),
        (col("n_rows") / sum(col("n_rows")).over(wType)).as("row_share"))
      .orderBy("event_type", "level")
  }

  /** Per-user contribution cap for [[contributionCap]]. */
  val ContribCap = 5

  /** Bounded-contribution aggregation — the OTHER half of the privacy
    * screen ([[kAnonymity]] audits re-identifiability; this bounds
    * INFLUENCE): before a per-type aggregate is released (or noised, in
    * a full DP pipeline), each user's contribution is capped at
    * [[ContribCap]] events — the first C by event time, a deterministic
    * keep rule — so no single user can dominate a released statistic.
    * The output puts the raw and capped aggregates side by side with the
    * value mass the cap removed, i.e. the bias the release trades for
    * bounded sensitivity.
    *
    * Scale shape: one window rank per (type, user) — the corpus shuffle
    * an aggregation pays anyway — then conditional partial aggs in the
    * SAME pass (no second scan for the raw side); state per group is a
    * handful of longs. Determinism: the keep rule breaks ties
    * (ts, event_id); value sums quantize to LONGs before summing, and
    * the loss share divides the two exact LONGs.
    */
  val contributionCap: GraftQuery = GraftQuery(
    "events_contribution_cap",
    s"bounded-contribution aggregate: per-user cap $ContribCap by event time; raw vs capped counts/sums + the cap's value-mass loss",
    EventOracle.contributionCapSql) { (s, d) =>
    contributionCapFrame(Tables.events(s, d))
  }

  /** The bounded-contribution derivation over any events frame — shared
    * by the registry query and the hand fixture (EventQueriesSpec).
    */
  def contributionCapFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = events
      .select(col("event_type"), col("user_id"), col("ts"),
        col("event_id"), Det.quantize(col("value")).as("vq"))
      .withColumn("rn", row_number().over(w))
    ranked
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("rn") > ContribCap, col("user_id")))
          .as("n_capped_users"),
        count(lit(1)).as("n_events_raw"),
        sum(when(col("rn") <= ContribCap, 1L).otherwise(0L))
          .as("n_events_capped"),
        sum(col("vq")).as("sq_raw"),
        sum(when(col("rn") <= ContribCap, col("vq")).otherwise(0L))
          .as("sq_capped"))
      .select(col("event_type"), col("n_users"), col("n_capped_users"),
        col("n_events_raw"), col("n_events_capped"),
        (col("sq_raw") / lit(Det.pow10(4))).as("sum_value_raw"),
        (col("sq_capped") / lit(Det.pow10(4))).as("sum_value_capped"),
        when(col("sq_raw") === 0L, lit(null))
          .otherwise((col("sq_raw") - col("sq_capped")) / col("sq_raw"))
          .as("loss_share"))
      .orderBy("event_type")
  }

  /** Per-statistic privacy budget for [[dpRelease]]. */
  val DpEpsilon = 0.5

  /** Per-event value clamp for [[dpRelease]]'s sum release. */
  val DpValueClamp = 500.0

  /** Deterministic Laplace draw on any column (seeded by `tagCol`): the
    * inverse-CDF over the hash60 uniform — u strictly inside (0,1)
    * because (h+1)/(2^60+1) with h in [0, 2^60-1] never reaches either
    * end, so ln(1-2|u-1/2|) is finite. Shared by the engine frame and
    * (shape-for-shape) the DuckDB twin.
    */
  private def laplaceNoise(tagCol: org.apache.spark.sql.Column, b: Double)
      : org.apache.spark.sql.Column = {
    val u = (graft.text.TextFns.hash60(tagCol) + lit(1L)) /
      lit(1152921504606846977.0)
    -lit(b) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
  }

  /** DIFFERENTIALLY-PRIVATE noisy release — the endgame of the privacy
    * family ([[kAnonymity]] audits, [[lDiversity]] hardens,
    * [[contributionCap]] bounds influence, this RELEASES): the capped
    * per-type statistics get Laplace noise calibrated to their exact
    * USER-LEVEL sensitivity, which the upstream bounding makes finite:
    *
    *   - count release: a user contributes <= [[ContribCap]] kept
    *     events, so removing them moves the capped count by at most
    *     Delta_c = [[ContribCap]] -> scale b_c = Delta_c/[[DpEpsilon]];
    *   - sum release: each kept event's value is clamped into
    *     [0, [[DpValueClamp]]] BEFORE aggregation, so
    *     Delta_s = [[ContribCap]]*[[DpValueClamp]] -> b_s =
    *     Delta_s/[[DpEpsilon]]; the total budget over both releases is
    *     2*[[DpEpsilon]] by sequential composition, attested in-band.
    *
    * The noise is DETERMINISTIC — Laplace by inverse CDF over the
    * hash60 uniform (the `corpus_sample_weighted` trick), seeded by
    * (release tag, event_type, statistic) — so the release is
    * oracle-checkable at full value parity; a production deployment
    * swaps the seed column for a secret drawn per release, nothing
    * else changes. (Deterministic noise is NOT private against an
    * adversary who knows the seed — this pins the MECHANISM; the
    * sensitivity bound it relies on is what EventQueriesSpec proves by
    * neighboring-dataset construction.)
    *
    * Scale shape: identical to [[contributionCap]] — one (type, user)
    * rank window, then a bounded per-type aggregate; the noise is one
    * scalar expression per released row. Determinism: capped stats are
    * exact LONGs; u, ln, and the released additions are single IEEE
    * ops in shared shapes.
    */
  val dpRelease: GraftQuery = GraftQuery(
    "events_dp_release",
    s"DP noisy release: cap $ContribCap + clamp $DpValueClamp bound user-level sensitivity; deterministic Laplace at eps=$DpEpsilon per statistic, composition attested",
    EventOracle.dpReleaseSql) { (s, d) =>
    dpReleaseFrame(Tables.events(s, d))
  }

  /** The DP-release derivation over any events frame — shared by the
    * registry query and the neighboring-dataset sensitivity spec
    * (EventQueriesSpec).
    */
  def dpReleaseFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bCount = ContribCap.toDouble / DpEpsilon
    val bSum = ContribCap * DpValueClamp / DpEpsilon
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val kept = events
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"),
        Det.quantize(greatest(least(col("value"), lit(DpValueClamp)),
          lit(0.0))).as("cq"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ContribCap)
    kept.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("count_capped"),
        sum(col("cq")).as("sq"))
      .withColumn("noise_count",
        laplaceNoise(concat_ws(":", lit("dp19"), col("event_type"),
          lit("count")), bCount))
      .withColumn("noise_sum",
        laplaceNoise(concat_ws(":", lit("dp19"), col("event_type"),
          lit("sum")), bSum))
      .select(col("event_type"), col("n_users"), col("count_capped"),
        (col("sq") / lit(Det.pow10(4))).as("sum_clamped"),
        lit(DpEpsilon).as("epsilon_each"),
        lit(2 * DpEpsilon).as("epsilon_total"),
        lit(ContribCap.toLong).as("sens_count"),
        lit(ContribCap * DpValueClamp).as("sens_sum"),
        col("noise_count"),
        (col("count_capped").cast("double") + col("noise_count"))
          .as("released_count"),
        col("noise_sum"),
        (col("sq") / lit(Det.pow10(4)) + col("noise_sum"))
          .as("released_sum"))
      .orderBy("event_type")
  }

  /** Two-proportion z-test on funnel conversion — the experimentation
    * readout for a RATE metric, completing [[abTest]] (value metric,
    * Welch t) and [[abCuped]] (variance-reduced value): did arm B convert
    * view->click->purchase more often than arm A? Population = users who
    * VIEWED (the funnel anchor); conversion = completed the ordered
    * funnel ([[funnelPerUser]] — the same chain every funnel artifact
    * shares); z = (p_b - p_a) / sqrt(p(1-p)(1/n_a + 1/n_b)) under the
    * pooled null.
    *
    * Scale shape: the funnel chain's corpus work, then ONE 4-long
    * aggregate; everything after is scalar math on exact counts.
    */
  val funnelZtest: GraftQuery = GraftQuery.oneRow(
    "events_funnel_ztest",
    "two-proportion z-test: funnel conversion rate per hash arm, pooled-null z",
    EventOracle.funnelZtestSql) { (s, d) =>
    funnelZtestFrame(Tables.events(s, d))
  }

  /** The z-test derivation over any events frame — shared by the registry
    * query and the plain-Scala replay spec (EventQueriesSpec).
    */
  def funnelZtestFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = funnelPerUser(events)
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    base.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0 && col("t_purchase").isNotNull, 1L)
          .otherwise(0L)).as("k_a"),
        sum(when(col("arm") === 1 && col("t_purchase").isNotNull, 1L)
          .otherwise(0L)).as("k_b"))
      .withColumn("rate_a", when(col("n_a") > 0, col("k_a") / col("n_a")))
      .withColumn("rate_b", when(col("n_b") > 0, col("k_b") / col("n_b")))
      .withColumn("p_pool",
        when(col("n_a") + col("n_b") > 0,
          (col("k_a") + col("k_b")) / (col("n_a") + col("n_b"))))
      .withColumn("se",
        sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
          * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .select(col("n_a"), col("n_b"), col("k_a"), col("k_b"),
        col("rate_a"), col("rate_b"),
        when(col("se") > 0, (col("rate_b") - col("rate_a")) / col("se"))
          .as("z_score"))
  }

  /** Pre/post boundary for [[abCuped]] and [[didEstimate]] (mid-corpus,
    * fixed literal — the F12 pinned-date convention). Declared ABOVE both
    * consumers: their GraftQuery vals evaluate the oracle defs at object
    * init, and a later-declared constant would still be null there (the
    * kAnonymity init-order lesson).
    */
  val CupedBoundary = "2024-01-16"

  /** Difference-in-differences — the estimator the experimentation family
    * reaches for when assignment ISN'T randomized: compare each group's
    * pre→post CHANGE, so any level difference between the groups (the
    * confound randomization would have washed out) subtracts away and
    * only the differential trend remains; the identifying assumption
    * (parallel trends) replaces randomization. Per user
    * d = post − pre purchase value; DiD = mean_d(B) − mean_d(A) with a
    * Welch SE over the per-user diffs — on the hash-assigned arms here
    * the estimate coincides with the randomized contrast, which is
    * exactly the property the spec pins (a planted common SHOCK to both
    * groups cancels; a planted differential effect survives).
    *
    * Scale shape: ONE corpus pass to per-user (pre, post) quantized-LONG
    * sums, then a 6-long per-arm aggregate — the [[abTest]] sufficient-
    * statistics discipline, diffs exact longs before any double.
    */
  val didEstimate: GraftQuery = GraftQuery.oneRow(
    "events_did",
    s"difference-in-differences: per-user post-minus-pre purchase value (boundary $CupedBoundary), arm contrast + Welch t",
    EventOracle.didSql) { (s, d) =>
    didFrame(Tables.events(s, d))
  }

  /** The DiD derivation over any events frame — shared by the registry
    * query and the planted shock/effect spec (EventQueriesSpec).
    */
  def didFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val boundary = lit(CupedBoundary).cast("timestamp")
    val vq2 = Det.quantize(col("value"), 2)
    val perUser = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        (sum(when(col("ts") >= boundary, vq2).otherwise(0L))
          - sum(when(col("ts") < boundary, vq2).otherwise(0L))).as("dq"))
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    val dqSq = when(abs(col("dq")) > lit(MaxSqAbs),
      raise_error(lit("events_did: per-user diff overflows the ssq " +
        "quantum — widen the quantum")).cast("long"))
      .otherwise(col("dq") * col("dq"))
    val agg = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("dq")).otherwise(0L)).as("sa"),
      sum(when(col("arm") === 1, col("dq")).otherwise(0L)).as("sb"),
      sum(when(col("arm") === 0, dqSq).otherwise(0L)).as("qa"),
      sum(when(col("arm") === 1, dqSq).otherwise(0L)).as("qb"))
    val sc = lit(Det.pow10(2).toDouble)
    def mean(s0: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      when(n > lit(0L), s0 / sc / n)
    def vr(q: org.apache.spark.sql.Column, s0: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      when(n > lit(1L),
        (q / (sc * sc) - (s0 / sc) * (s0 / sc) / n) / (n - lit(1)))
    agg
      .withColumn("mean_d_a", mean(col("sa"), col("n_a")))
      .withColumn("mean_d_b", mean(col("sb"), col("n_b")))
      .withColumn("var_d_a", vr(col("qa"), col("sa"), col("n_a")))
      .withColumn("var_d_b", vr(col("qb"), col("sb"), col("n_b")))
      .withColumn("did", col("mean_d_b") - col("mean_d_a"))
      .withColumn("se",
        sqrt(col("var_d_a") / col("n_a") + col("var_d_b") / col("n_b")))
      .select(col("n_a"), col("n_b"), col("mean_d_a"), col("mean_d_b"),
        col("did"),
        when(col("se") > 0, col("did") / col("se")).as("t_stat"))
  }

  /** Churn rule for [[survivalKm]]: a user whose last event is more than
    * this many days before the observation end has churned; later users
    * are CENSORED (still active when observation stopped).
    */
  val KmChurnGapDays = 7

  /** ln-factor sentinel for a duration where EVERY at-risk user churns:
    * the true factor is 0 (survival hits exactly zero) and ln(0) is
    * -inf, so the quantized chain carries e^-69 instead — which the
    * 1e-6 output quantum rounds to exactly 0.0, at every later step too.
    */
  val KmZeroLnQ = -69000000000L

  /** Kaplan-Meier survival curve + Nelson-Aalen cumulative hazard — the
    * survival-analysis class the retention cohort table approximates
    * without censoring-awareness: users still active at observation end
    * did NOT churn at their last-seen duration, and counting them as
    * deaths (what a naive retention curve does) biases survival down.
    * Lifetime = days between a user's first and last event; churn vs
    * censored by the [[KmChurnGapDays]] rule against the corpus's last
    * day; at each duration t with d_t churns among n_t at-risk,
    * S(t) = prod(1 - d_u/n_u), H(t) = sum(d_u/n_u).
    *
    * Scale shape: ONE corpus shuffle to per-user lifetimes, immediately
    * re-aggregated to the (duration, last_day) class grain — calendar-
    * bounded, so the at-risk/product windows run over a model-sized
    * frame (the documented global-window class); the observation end
    * derives from the class table, never a second corpus pass.
    * Determinism: d/n ratios and ln factors quantize to 1e-9 LONGs
    * before their prefix sums (the running product is exp of an EXACT
    * integer prefix sum — the doc_lm_perplexity recipe); survival
    * quantizes to 1e-6 after the one exp.
    */
  val survivalKm: GraftQuery = GraftQuery(
    "events_survival_km",
    s"Kaplan-Meier survival + Nelson-Aalen hazard over user lifetimes (censor rule: active within $KmChurnGapDays days of observation end)",
    EventOracle.survivalKmSql) { (s, d) =>
    survivalKmFrame(Tables.events(s, d))
  }

  /** The KM derivation over any events frame — shared by the registry
    * query and the textbook hand fixture (EventQueriesSpec).
    */
  def survivalKmFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cls = events
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(
        datediff(to_date(col("last_ts")), to_date(col("first_ts")))
          .as("dur"),
        to_date(col("last_ts")).as("last_day"))
      .groupBy(col("dur"), col("last_day"))
      .agg(count(lit(1)).as("nu"))
      .localCheckpoint() // model-sized: durations x last-days
    val obs = cls.agg(max(col("last_day")).as("obs_day"))
    val perDur = cls.crossJoin(broadcast(obs))
      .withColumn("churn",
        col("last_day") < date_sub(col("obs_day"), KmChurnGapDays))
      .groupBy(col("dur"))
      .agg(
        sum(when(col("churn"), col("nu")).otherwise(0L)).as("n_events"),
        sum(when(col("churn"), 0L).otherwise(col("nu"))).as("n_censored"))
    val wDesc = Window.orderBy(desc("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDur
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(wDesc))
      .withColumn("lnq",
        when(col("n_events") === 0L, lit(0L))
          .when(col("n_events") < col("n_risk"),
            Det.quantize(log((col("n_risk") - col("n_events"))
              / col("n_risk")), 9).cast("long"))
          .otherwise(lit(KmZeroLnQ)))
      .withColumn("hq", Det.quantize(col("n_events") / col("n_risk"), 9))
      .withColumn("lnsum", sum(col("lnq")).over(wAsc))
      .select(col("dur"), col("n_risk"), col("n_events"), col("n_censored"),
        (floor(exp(col("lnsum") / lit(1e9)) * lit(1e6) + lit(0.5))
          / lit(1e6)).as("survival"),
        (sum(col("hq")).over(wAsc) / lit(1e9)).as("cum_hazard"))
      .orderBy("dur")
  }

  /** Cohort-stratified Kaplan-Meier — [[survivalKm]] sharded by
    * acquisition cohort (first-seen 7-day bucket, the [[kAnonymity]]
    * anchor-relative week), the comparison product teams actually read:
    * is THIS week's intake churning faster than last week's? Each
    * cohort's curve is an independent risk-set walk, so every window
    * partitions BY COHORT — the global-order window class [[survivalKm]]
    * deliberately accepts on its one model-sized frame here shards
    * across executors, the shape that survives arbitrarily many cohorts
    * at 100 TB. Same censor rule, same exact quantized-ln product, same
    * everyone-churns sentinel.
    */
  val survivalCohorts: GraftQuery = GraftQuery(
    "events_survival_cohorts",
    "Kaplan-Meier per acquisition-week cohort: stratified risk sets, per-cohort survival curves",
    EventOracle.survivalCohortsSql) { (s, d) =>
    survivalCohortsFrame(Tables.events(s, d))
  }

  /** The stratified-KM derivation over any events frame — shared by the
    * registry query and the two-cohort fixture (EventQueriesSpec).
    */
  def survivalCohortsFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cls = events
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(
        floor(datediff(to_date(col("first_ts")),
          lit(AnonWeekAnchor).cast("date")) / lit(7.0)).cast("long")
          .as("cohort"),
        datediff(to_date(col("last_ts")), to_date(col("first_ts")))
          .as("dur"),
        to_date(col("last_ts")).as("last_day"))
      .groupBy(col("cohort"), col("dur"), col("last_day"))
      .agg(count(lit(1)).as("nu"))
      .localCheckpoint() // model-sized: cohorts x durations x last-days
    val obs = cls.agg(max(col("last_day")).as("obs_day"))
    val perDur = cls.crossJoin(broadcast(obs))
      .withColumn("churn",
        col("last_day") < date_sub(col("obs_day"), KmChurnGapDays))
      .groupBy(col("cohort"), col("dur"))
      .agg(
        sum(when(col("churn"), col("nu")).otherwise(0L)).as("n_events"),
        sum(when(col("churn"), 0L).otherwise(col("nu"))).as("n_censored"))
    val wDesc = Window.partitionBy(col("cohort")).orderBy(desc("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDur
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(wDesc))
      .withColumn("lnq",
        when(col("n_events") === 0L, lit(0L))
          .when(col("n_events") < col("n_risk"),
            Det.quantize(log((col("n_risk") - col("n_events"))
              / col("n_risk")), 9).cast("long"))
          .otherwise(lit(KmZeroLnQ)))
      .withColumn("lnsum", sum(col("lnq")).over(wAsc))
      .select(col("cohort"), col("dur"), col("n_risk"), col("n_events"),
        col("n_censored"),
        (floor(exp(col("lnsum") / lit(1e9)) * lit(1e6) + lit(0.5))
          / lit(1e6)).as("survival"))
      .orderBy("cohort", "dur")
  }

  /** CUPED-adjusted A/B readout — the variance-reduction step every
    * modern experimentation stack runs on top of the plain Welch readout
    * ([[abTest]]): each user's post-period metric Y is adjusted by their
    * OWN pre-period covariate X, y' = y - theta*(x - xbar) with
    * theta = cov(X,Y)/var(X) pooled across arms — pre-period behavior
    * predicts post-period behavior, so subtracting the predictable part
    * shrinks the variance the t-test divides by (by exactly
    * theta*cov = rho^2 * var(Y)) without biasing the arm difference
    * (theta and xbar are arm-blind). Output per arm: user count, raw and
    * adjusted means, plus the pooled theta / variances / variance
    * reduction riding both rows.
    *
    * Scale shape: ONE corpus pass to per-user (x, y) quantized-LONG
    * sums, then per-arm sufficient statistics (n, Sx, Sy, Sxy, Sxx,
    * Syy — 2 rows); the pooled stats are SUMS of the per-arm sums, so
    * nothing user-sized is read twice and nothing corpus-sized is
    * checkpointed. Determinism: cents-quantized LONG sums (scale 2 keeps
    * the guarded cross-products inside the exact LONG range), every
    * double recomposition in the abTest expression shapes.
    */
  val abCuped: GraftQuery = GraftQuery(
    "events_ab_cuped",
    s"CUPED A/B readout: post-period purchase value adjusted by the pre-$CupedBoundary covariate; per-arm means + pooled variance reduction",
    EventOracle.abCupedSql) { (s, d) =>
    abCupedFrame(Tables.events(s, d))
  }

  /** The CUPED derivation over any events frame — shared by the registry
    * query and the hand fixture (EventQueriesSpec).
    */
  def abCupedFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val boundary = lit(CupedBoundary).cast("timestamp")
    val vq2 = Det.quantize(col("value"), 2)
    val perUser = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < boundary, vq2).otherwise(0L)).as("xq"),
        sum(when(col("ts") >= boundary, vq2).otherwise(0L)).as("yq"))
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    // one guard aborts the whole pass when EITHER factor could overflow a
    // cross-product; past it every square/product fits a LONG
    val xyGuarded =
      when(abs(col("xq")) > lit(MaxSqAbs) || abs(col("yq")) > lit(MaxSqAbs),
        raise_error(lit("events_ab_cuped: per-user sum overflows the " +
          "cross-product quantum — widen the quantum")).cast("long"))
        .otherwise(col("xq") * col("yq"))
    val perArm = perUser.groupBy(col("arm")).agg(
        count(lit(1)).as("n"),
        sum(col("xq")).as("sx"),
        sum(col("yq")).as("sy"),
        sum(xyGuarded).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"),
        sum(col("yq") * col("yq")).as("syy"))
      .localCheckpoint() // 2 rows; read per-arm AND summed into the pool
    val pooled = perArm.agg(
      sum(col("n")).as("pn"), sum(col("sx")).as("psx"),
      sum(col("sy")).as("psy"), sum(col("sxy")).as("psxy"),
      sum(col("sxx")).as("psxx"), sum(col("syy")).as("psyy"))
    val sc = lit(Det.pow10(2).toDouble)
    def varOf(q: org.apache.spark.sql.Column, s0: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      (q / (sc * sc) - (s0 / sc) * (s0 / sc) / n) / (n - lit(1))
    perArm.crossJoin(broadcast(pooled))
      .withColumn("xbar", col("psx") / sc / col("pn"))
      .withColumn("cov_xy",
        (col("psxy") / (sc * sc)
          - (col("psx") / sc) * (col("psy") / sc) / col("pn"))
          / (col("pn") - lit(1)))
      .withColumn("var_x", varOf(col("psxx"), col("psx"), col("pn")))
      .withColumn("var_y", varOf(col("psyy"), col("psy"), col("pn")))
      .withColumn("theta", col("cov_xy") / col("var_x"))
      .withColumn("var_y_cuped", col("var_y") - col("theta") * col("cov_xy"))
      .withColumn("mean_x", col("sx") / sc / col("n"))
      .withColumn("mean_y", col("sy") / sc / col("n"))
      .select(col("arm"), col("n").as("n_users"),
        col("mean_x"), col("mean_y"),
        (col("mean_y") - col("theta") * (col("mean_x") - col("xbar")))
          .as("mean_y_cuped"),
        col("theta"), col("var_y"), col("var_y_cuped"),
        (lit(1.0) - col("var_y_cuped") / col("var_y")).as("var_reduction"))
      .orderBy("arm")
  }

  /** Iglewicz-Hoaglin modified-z scale constant (0.6745 = Phi^-1(0.75),
    * making MAD consistent with sigma under normality).
    */
  val MadC = 0.6745

  /** Modified-z outlier threshold (the Iglewicz-Hoaglin 3.5). */
  val MadZThreshold = 3.5

  /** MAD-0 fallback scale (1.253314 = sqrt(pi/2), making meanAD
    * consistent with sigma under normality — Iglewicz-Hoaglin's
    * alternative when over half the points sit AT the median).
    */
  val MadFallbackC = 1.253314

  /** MAD-based ROBUST anomaly detection — the robust twin of
    * [[anomaly]] (`events_anomaly_zscore`): the classic z-score's mean
    * and std are computed FROM the data they screen, so a couple of
    * giant spikes inflate sigma until a moderate genuine anomaly scores
    * under 1 — the detector is blinded by exactly what it is hunting.
    * The median/MAD pair has a 50% breakdown point: modified
    * z = [[MadC]]·(n − median)/MAD, outlier at |z| ≥ [[MadZThreshold]]
    * (Iglewicz-Hoaglin). Same 10-minute tumbling grain and top-3-per-
    * type readout as the sibling so the two detectors compare row for
    * row; med/MAD ride each row and the outlier flag compares the
    * 1e-9-quantized z against the threshold in exact integers.
    *
    * Scale shape: the corpus aggregates once to slots (the shuffle the
    * sibling pays too); medians are per-type window ranks over the
    * model-sized slot frame. MAD 0 (a majority of slots AT the median —
    * routine for sparse Poisson counts) falls back to the
    * Iglewicz-Hoaglin alternative scale z = (n − med)/(1.253314·meanAD)
    * (meanAD = mean absolute deviation, exact-LONG sum / count), so the
    * detector never degenerates on thin series; a series with meanAD 0
    * too is constant and is screened like the sibling's sd > 0.
    */
  val anomalyMad: GraftQuery = GraftQuery(
    "events_anomaly_mad",
    s"robust anomaly detection: per-type median/MAD modified z over 10-min slots, top-3 by |z|, outlier at ${MadZThreshold}",
    EventOracle.anomalyMadSql) { (s, d) =>
    anomalyMadReadout(EventStreams.tumblingCounts(Tables.events(s, d)))
  }

  /** The MAD readout over a tumbling (event_type, wstart, n) frame —
    * shared by the registry query and the spike-blindness spec.
    */
  def anomalyMadReadout(tumbling: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slots = tumbling.select(col("event_type"), col("wstart"), col("n"))
      .localCheckpoint()
    def medianBy(df: org.apache.spark.sql.DataFrame, vCol: String,
        outName: String): org.apache.spark.sql.DataFrame =
      df.withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col(vCol))))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("rk") === floor((col("cnt") - 1) * lit(0.5)) + 1)
        .select(col("event_type").as(s"${outName}_t"),
          col(vCol).as(outName))
    val med = medianBy(slots, "n", "med")
    val dev = slots.join(broadcast(med), col("event_type") === col("med_t"))
      .withColumn("absdev", abs(col("n") - col("med")))
    val mad = medianBy(dev.select(col("event_type"), col("absdev")),
      "absdev", "mad")
    val meanAd = dev.groupBy(col("event_type").as("ma_t"))
      .agg((sum(col("absdev")).cast("double")
        / count(lit(1)).cast("double")).as("mean_ad"))
    val w3 = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("zq")).desc, col("wstart"))
    dev.join(broadcast(mad), col("event_type") === col("mad_t"))
      .join(broadcast(meanAd), col("event_type") === col("ma_t"))
      .filter(col("mad") > 0 || col("mean_ad") > 0)
      .withColumn("zq",
        when(col("mad") > 0,
          Det.quantize(lit(MadC) * (col("n") - col("med")).cast("double")
            / col("mad").cast("double"), 9))
          .otherwise(Det.quantize(
            (col("n") - col("med")).cast("double")
              / (lit(MadFallbackC) * col("mean_ad")), 9)))
      .withColumn("rk3", row_number().over(w3))
      .filter(col("rk3") <= 3)
      .select(col("event_type"), col("wstart"), col("n"), col("med"),
        col("mad"), col("mean_ad"),
        (col("zq").cast("double") / lit(1e9)).as("z"),
        (abs(col("zq")) >= lit((MadZThreshold * 1e9).toLong)).as("outlier"))
      .orderBy("event_type", "wstart")
  }

  /** Theil-Sen ROBUST trend estimation over the dense hourly count
    * series — the robust-statistics twin of the OLS trend
    * (`revenue_trend_ols`): OLS minimizes squared error, so a handful of
    * outlier hours (an ingest backfill, a bot burst) drag its slope
    * arbitrarily far; the Theil-Sen estimator — the MEDIAN of all
    * pairwise slopes — has a 29.3% breakdown point: up to ~29% of the
    * points can be arbitrarily corrupted before the slope moves at all.
    * Output (one row): both fits side by side — the robust slope and
    * intercept (median of y - b·t), the OLS slope and intercept from
    * exact integer sufficient statistics, and the pair/hour counts.
    *
    * Scale shape: the pair frame is CALENDAR-bounded (hours², never the
    * corpus — one corpus pass aggregates to the grid first; the gate
    * corpus spans ~1 month of hourly grid, so ~260k pairs), and both
    * [[medianOf]] picks run a GLOBAL Window.orderBy over that pair
    * frame — a single-reducer sort that is fine precisely because the
    * frame is grid-sized, and ONLY because of that (the documented
    * global-window class). At multi-year horizons (10k+ grid points,
    * ~10^8+ pairs) the escape hatch is a bucketed two-pass median:
    * pass 1 range-partitions slopes into value buckets and counts per
    * bucket (one shuffle, parallel), pass 2 sorts only the bucket
    * containing the global median rank — or switch to the
    * repeated-median / coarser grid, same downstream columns.
    * Determinism: slopes are single IEEE divisions of exact
    * integer deltas; both medians are exact nearest-rank picks (rank
    * floor((n-1)·0.5)+1 ordered by value — the value at the rank is
    * tie-order-free); OLS sums are exact longs.
    */
  val trendTheilSen: GraftQuery = GraftQuery.oneRow(
    "events_trend_theilsen",
    "Theil-Sen robust trend vs OLS over dense hourly counts: median pairwise slope + median intercept, exact-integer OLS, side by side",
    EventOracle.trendTheilSenSql) { (s, d) =>
    theilSenFrame(Tables.events(s, d))
  }

  /** The Theil-Sen derivation over any events frame — shared by the
    * registry query and the planted-outlier spec (EventQueriesSpec).
    */
  def theilSenFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = densify(events
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("hn")))
      .select(col("hour"), coalesce(col("hn"), lit(0L)).as("n"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("hour"))).cast("long") - 1)
      .localCheckpoint()
    def medianOf(df: org.apache.spark.sql.DataFrame, vCol: String,
        outName: String, cntName: String): org.apache.spark.sql.DataFrame =
      df.withColumn("rk", row_number().over(Window.orderBy(col(vCol))))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
        .filter(col("rk") === floor((col("cnt") - 1) * lit(0.5)) + 1)
        .select(col(vCol).as(outName), col("cnt").as(cntName))
    val slopes = x.as("a").join(x.as("b"), col("b.t") > col("a.t"))
      .select(((col("b.n") - col("a.n")).cast("double")
        / (col("b.t") - col("a.t")).cast("double")).as("sl"))
    val bTs = medianOf(slopes, "sl", "slope_theilsen", "n_pairs")
    val aTs = medianOf(
      x.crossJoin(broadcast(bTs))
        .select((col("n").cast("double")
          - col("slope_theilsen") * col("t").cast("double")).as("ic")),
      "ic", "intercept_theilsen", "nh2")
    val ols = x.agg(count(lit(1)).as("nh"), sum(col("t")).as("st"),
        sum(col("n")).as("sy"), sum(col("t") * col("t")).as("stt"),
        sum(col("t") * col("n")).as("sty"))
      .withColumn("slope_ols",
        (col("nh") * col("sty") - col("st") * col("sy")).cast("double")
          / (col("nh") * col("stt") - col("st") * col("st")).cast("double"))
      .withColumn("intercept_ols",
        (col("sy").cast("double") - col("slope_ols") * col("st").cast("double"))
          / col("nh").cast("double"))
    ols.crossJoin(broadcast(bTs)).crossJoin(broadcast(aTs))
      .select(col("nh").as("n_hours"), col("n_pairs"),
        col("slope_theilsen"), col("intercept_theilsen"),
        col("slope_ols"), col("intercept_ols"))
  }

  /** mSPRT mixing variance for [[abSequential]] (tau^2 on the
    * mean-difference scale; purchase values have sd ~48, so tau = 5
    * weights plausible per-mean effects of a few units).
    */
  val SeqTauSq = 25.0

  /** Always-valid significance level for [[abSequential]]. */
  val SeqAlpha = 0.05

  /** ALWAYS-VALID sequential A/B inference (mixture SPRT) — the
    * experimentation readout [[abTest]] cannot give: a fixed-horizon
    * t-test is only valid at its pre-registered stopping day, but every
    * real dashboard is PEEKED daily, and repeated looks inflate false
    * positives far past alpha. The mSPRT (Johari et al.'s always-valid
    * p-value) closes this: after each day, the likelihood ratio of
    * H1 (effect ~ N(0, tau^2 = [[SeqTauSq]])) vs H0 (no effect) on the
    * cumulative arm-mean difference is
    *
    *   log L = 0.5·ln(V/(V+tau^2)) + d^2·tau^2 / (2·V·(V+tau^2)),
    *
    * with d the cumulative mean difference and V = s^2·(1/n_a + 1/n_b)
    * its variance estimate — s^2 here is the TOTAL variance of the
    * combined sample (no per-arm centering), which under a real effect
    * is inflated by ~d^2/4 relative to the within-arm pooled variance of
    * Johari et al.; the mSPRT stays valid (an overstated V only shrinks
    * L), it is merely CONSERVATIVE — detection lags slightly on large
    * effects, never the reverse; p_t = min(1, 1/max_{s<=t} L_s) is a valid
    * p-value AT EVERY LOOK simultaneously, and is nonincreasing — a
    * rejection can never un-happen, so "stop the first day p <= alpha"
    * is safe. Output: the daily monitoring table (cumulative counts,
    * means, delta, pooled variance, log L, always-valid p, reject).
    *
    * Scale shape: one corpus pass to per-(day) arm sufficient
    * statistics (conditional partial aggs), then windows over the
    * calendar-bounded daily frame. Determinism: sufficient statistics
    * are quantized-LONG exact; ln/exp/sqrt-free chain is single IEEE
    * ops in shared shapes; log L quantizes to 1e-9 LONGs so the running
    * max is integer-exact and p/reject compare deterministically.
    */
  val abSequential: GraftQuery = GraftQuery(
    "events_ab_sequential",
    s"always-valid sequential A/B (mSPRT, tau^2=$SeqTauSq): daily cumulative stats, log likelihood ratio, nonincreasing p, reject at $SeqAlpha",
    EventOracle.abSequentialSql) { (s, d) =>
    abSequentialFrame(Tables.events(s, d))
  }

  /** The sequential-test derivation over any events frame — shared by
    * the registry query and the plain-Scala replay / A-A spec
    * (EventQueriesSpec).
    */
  def abSequentialFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        (graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
          .as("arm"),
        Det.quantize(col("value")).as("vq"),
        Det.quantize(col("value") * col("value")).as("wq"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 0, col("vq")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 1, col("vq")).otherwise(0L)).as("sb"),
        sum(when(col("arm") === 0, col("wq")).otherwise(0L)).as("qa"),
        sum(when(col("arm") === 1, col("wq")).otherwise(0L)).as("qb"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tau2 = lit(SeqTauSq)
    daily
      .select(col("day"),
        sum(col("na")).over(w).as("n_a"), sum(col("nb")).over(w).as("n_b"),
        sum(col("sa")).over(w).as("csa"), sum(col("sb")).over(w).as("csb"),
        sum(col("qa")).over(w).as("cqa"), sum(col("qb")).over(w).as("cqb"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("mean_a",
        when(col("n_a") > 0, col("csa").cast("double") / lit(1e4)
          / col("n_a").cast("double")))
      .withColumn("mean_b",
        when(col("n_b") > 0, col("csb").cast("double") / lit(1e4)
          / col("n_b").cast("double")))
      .withColumn("sx", (col("csa") + col("csb")).cast("double") / lit(1e4))
      .withColumn("sxx", (col("cqa") + col("cqb")).cast("double") / lit(1e4))
      .withColumn("var_pooled",
        when(col("n") > 2,
          (col("sxx") - col("sx") * col("sx") / col("n").cast("double"))
            / (col("n") - 1).cast("double")))
      .withColumn("vv",
        when(col("n_a") > 1 && col("n_b") > 1 && col("var_pooled") > 0,
          col("var_pooled") * (lit(1.0) / col("n_a").cast("double")
            + lit(1.0) / col("n_b").cast("double"))))
      .withColumn("delta", col("mean_b") - col("mean_a"))
      .withColumn("llq",
        Det.quantize(
          lit(0.5) * log(col("vv") / (col("vv") + tau2))
            + col("delta") * col("delta") * tau2
              / (lit(2.0) * col("vv") * (col("vv") + tau2)), 9))
      .withColumn("maxllq", max(col("llq")).over(w))
      .withColumn("log_lambda", col("llq").cast("double") / lit(1e9))
      .withColumn("p_always_valid",
        when(col("maxllq").isNull || col("maxllq") <= 0, lit(1.0))
          .otherwise(exp(-(col("maxllq").cast("double") / lit(1e9)))))
      .withColumn("reject", col("p_always_valid") <= lit(SeqAlpha))
      .select(col("day"), col("n_a"), col("n_b"), col("mean_a"),
        col("mean_b"), col("delta"), col("var_pooled"), col("log_lambda"),
        col("p_always_valid"), col("reject"))
      .orderBy("day")
  }

  /** |z| threshold for [[survivalLogrank]]'s 5% two-sided rejection,
    * pre-quantized to the 1e-9 grid the test statistic compares on.
    */
  val LogrankZCritQ = 1959963985L // 1.959963985 * 1e9

  /** TWO-GROUP LOG-RANK TEST — the inferential piece the survival family
    * lacked: [[survivalKm]] draws the curves, [[survivalCohorts]] shards
    * them, but "are these two churn curves DIFFERENT?" needs the
    * log-rank statistic — the standard nonparametric test that uses
    * every event time and handles censoring correctly (comparing
    * medians or fixed-horizon rates throws information away). Groups
    * are the hash60 user arms (the [[abTest]] convention, so this is
    * the survival leg of the experimentation readouts): at each
    * distinct churn time t, arm A's observed deaths d1 are compared to
    * the hypergeometric expectation E1 = dt·n1/nt with variance
    * V1 = dt·(n1/nt)·(1−n1/nt)·(nt−dt)/(nt−1); z = Σ(d1−E1)/√ΣV1,
    * chi² = z², reject at |z| ≥ 1.96 (compared on the 1e-9-quantized
    * grid — no normal CDF, no transcendentals beyond one sqrt).
    *
    * Scale shape: one corpus pass to per-user lifetimes, then
    * everything runs on the model-sized (arm x duration) frame — the
    * event-time grid join is T x |frame|, both calendar-bounded.
    * Determinism: risk/death counts exact longs; each E1/V1 term
    * quantizes to 1e-9 LONGs before the order-insensitive sum; z is
    * one division + sqrt in a shared shape.
    */
  val survivalLogrank: GraftQuery = GraftQuery.oneRow(
    "events_survival_logrank",
    "two-group log-rank test on user churn (hash arms): O-E, hypergeometric variance, z, chi2, reject at 5%",
    EventOracle.survivalLogrankSql) { (s, d) =>
    survivalLogrankFrame(Tables.events(s, d))
  }

  /** The log-rank derivation over any events frame — shared by the
    * registry query and the textbook hand fixture (EventQueriesSpec).
    */
  def survivalLogrankFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cls = events
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(
        (graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
          .as("grp"),
        datediff(to_date(col("last_ts")), to_date(col("first_ts")))
          .as("dur"),
        to_date(col("last_ts")).as("last_day"))
      .groupBy(col("grp"), col("dur"), col("last_day"))
      .agg(count(lit(1)).as("nu"))
      .localCheckpoint() // model-sized: arms x durations x last-days
    val obs = cls.agg(max(col("last_day")).as("obs_day"))
    val base = cls.crossJoin(broadcast(obs))
      .withColumn("churn",
        col("last_day") < date_sub(col("obs_day"), KmChurnGapDays))
      .groupBy(col("grp"), col("dur"))
      .agg(
        sum(when(col("churn"), col("nu")).otherwise(0L)).as("n_events"),
        sum(col("nu")).as("n_total"))
      .localCheckpoint()
    val times = base.filter(col("n_events") > 0L)
      .select(col("dur").as("t")).distinct()
    val risk = times.join(base, col("dur") >= col("t"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("grp") === 0, col("n_total")).otherwise(0L)).as("n1"),
        sum(col("n_total")).as("nt"))
    val deaths = times.join(base, col("dur") === col("t"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("grp") === 0, col("n_events")).otherwise(0L)).as("d1"),
        sum(col("n_events")).as("dt"))
    val n1nt = col("n1").cast("double") / col("nt").cast("double")
    val terms = risk.join(deaths, Seq("t"))
      .select(col("d1"),
        Det.quantize(col("dt").cast("double") * col("n1").cast("double")
          / col("nt").cast("double"), 9).as("eq"),
        Det.quantize(when(col("nt") > 1L,
          col("dt").cast("double") * n1nt * (lit(1.0) - n1nt)
            * ((col("nt") - col("dt")).cast("double")
              / (col("nt") - 1L).cast("double")))
          .otherwise(lit(0.0)), 9).as("vq"))
      .agg(count(lit(1)).as("n_times"), sum(col("d1")).as("o1"),
        sum(col("eq")).as("eqs"), sum(col("vq")).as("vqs"))
    val tot = base.agg(
      sum(when(col("grp") === 0, col("n_total")).otherwise(0L))
        .as("n_users_a"),
      sum(when(col("grp") === 1, col("n_total")).otherwise(0L))
        .as("n_users_b"),
      sum(when(col("grp") === 0, col("n_events")).otherwise(0L))
        .as("n_churn_a"),
      sum(when(col("grp") === 1, col("n_events")).otherwise(0L))
        .as("n_churn_b"))
    tot.crossJoin(broadcast(terms))
      .withColumn("e1", col("eqs").cast("double") / lit(1e9))
      .withColumn("v1", col("vqs").cast("double") / lit(1e9))
      .withColumn("o_minus_e", col("o1").cast("double") - col("e1"))
      .withColumn("zq", when(col("vqs") > 0L,
        Det.quantize(col("o_minus_e") / sqrt(col("v1")), 9)))
      .select(col("n_users_a"), col("n_users_b"), col("n_churn_a"),
        col("n_churn_b"), col("n_times"), col("o1").as("observed_a"),
        col("e1").as("expected_a"), col("o_minus_e"),
        col("v1").as("var_logrank"),
        (col("zq").cast("double") / lit(1e9)).as("z"),
        (col("zq").cast("double") / lit(1e9)
          * (col("zq").cast("double") / lit(1e9))).as("chi2"),
        (abs(col("zq")) >= lit(LogrankZCritQ)).as("reject_5pct"))
  }

  /** Folds for [[targetEncoding]]'s K-fold scheme. */
  val TeFolds = 5

  /** Smoothing pseudo-count for [[targetEncoding]] (the standard
    * m-estimate: a category's encoding shrinks toward the prior until it
    * has ~m observations).
    */
  val TeSmoothing = 20.0

  /** K-fold LEAKAGE-FREE target encoding — the feature-engineering
    * operator a training pipeline runs before fitting a model on a
    * high-cardinality categorical (here: user_id, target = is-purchase):
    * naive target encoding (category mean of the label over ALL rows)
    * leaks each row's own label into its feature and the model overfits
    * to the leak; the K-fold scheme encodes every row using ONLY the
    * other folds:
    *
    *   - fold f = hash60(event_id) % [[TeFolds]] (content-hash — fold
    *     membership is a pure function of the row, stable across
    *     re-shards and engines, the doc_splits convention);
    *   - prior(f) = out-of-fold global target mean — even the prior is
    *     computed without fold f, so NO statistic a fold-f row sees was
    *     touched by a fold-f label;
    *   - enc(c, f) = (oof_sum(c,f) + m·prior(f)) / (oof_cnt(c,f) + m)
    *     with m = [[TeSmoothing]] — the m-estimate shrink, which also
    *     closes the unseen-category edge: a category living only in
    *     fold f has oof_cnt 0 and encodes to exactly prior(f).
    *
    * Output grain: one row per (category, fold) — the ENCODING TABLE a
    * trainer joins back to its rows by (user_id, fold). Scale shape: ONE
    * corpus groupBy to (category, fold) sufficient statistics, then
    * per-category and per-fold rollups of that model-sized frame;
    * applying the encoding at 100 TB is a shuffle-or-broadcast join of
    * the |categories|×K table against the fact — no second corpus pass.
    * Determinism: targets are 0/1 longs so every sufficient statistic
    * is an exact integer; prior and encoding are single IEEE divisions
    * in the same expression shape on both engines.
    */
  val targetEncoding: GraftQuery = GraftQuery(
    "events_target_encoding",
    s"K-fold leakage-free target encoding of user_id against is-purchase ($TeFolds folds, m=$TeSmoothing m-estimate, out-of-fold prior)",
    EventOracle.targetEncodingSql) { (s, d) =>
    targetEncodingFrame(Tables.events(s, d))
  }

  /** The encoding-table derivation over any events frame — shared by the
    * registry query and the plain-Scala-replay / label-flip leakage spec
    * (EventQueriesSpec).
    */
  def targetEncodingFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = events
      .select(col("user_id"),
        (graft.text.TextFns.hash60(col("event_id").cast("string"))
          % TeFolds).as("fold"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("user_id"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      .localCheckpoint()
    // per-category, per-fold, and global totals (model-sized rollups)
    val perCat = base.groupBy(col("user_id"))
      .agg(sum(col("n")).as("cn"), sum(col("s")).as("cs"))
    val perFold = base.groupBy(col("fold"))
      .agg(sum(col("n")).as("fn"), sum(col("s")).as("fs"))
    val glob = base.agg(sum(col("n")).as("gn"), sum(col("s")).as("gs"))
    // the encoding table must carry EVERY (category, fold) pair — also
    // folds where the category has no rows (a trainer's fold-f rows may
    // hold categories absent from fold f) — so the grid is cat × folds
    val folds = base.sparkSession.range(TeFolds.toLong)
      .select(col("id").as("fold"))
    val grid = perCat.crossJoin(broadcast(folds))
      .join(base, Seq("user_id", "fold"), "left")
      .select(col("user_id"), col("fold"), col("cn"), col("cs"),
        coalesce(col("n"), lit(0L)).as("n_in_fold"),
        coalesce(col("s"), lit(0L)).as("s_in_fold"))
    grid.join(broadcast(perFold), Seq("fold"), "left")
      .crossJoin(broadcast(glob))
      .withColumn("prior",
        (col("gs") - coalesce(col("fs"), lit(0L))).cast("double")
          / (col("gn") - coalesce(col("fn"), lit(0L))).cast("double"))
      .withColumn("oof_cnt", col("cn") - col("n_in_fold"))
      .withColumn("oof_sum", col("cs") - col("s_in_fold"))
      .withColumn("encoding",
        (col("oof_sum").cast("double") + lit(TeSmoothing) * col("prior"))
          / (col("oof_cnt").cast("double") + lit(TeSmoothing)))
      .select(col("user_id"), col("fold"), col("n_in_fold"),
        col("oof_cnt"), col("oof_sum"), col("prior"), col("encoding"))
      .orderBy("user_id", "fold")
  }

  /** POINT-IN-TIME-correct training-set assembly — the feature-store
    * join every ML ETL runs daily, composing the as-of machinery
    * ([[asOfJoin]]'s recipe) with [[targetEncoding]]'s feature table:
    * each LABEL row (a purchase event) is joined to
    *
    *   - the user's latest FEATURE SNAPSHOT strictly BEFORE the label
    *     timestamp — snapshots are the running per-user history (event
    *     count, 1e-4-quantized value sum) written at every event, and
    *     "strictly before" (f_ts < label_ts, not <=) is the leakage
    *     rule: a feature computed from the label's own event (or any
    *     same-instant event) must NOT surface, else the label leaks
    *     into its own feature row and offline metrics lie;
    *   - the K-fold target encoding of its user, picked by the label's
    *     OWN fold (hash60(event_id) % [[TeFolds]]) — the out-of-fold
    *     table, so this join is leakage-free by construction too.
    *
    * A label with no prior history gets NULL feature columns and the
    * encoding's unseen-category behavior — exactly what online serving
    * would produce, which is the point: train-serve skew zero.
    *
    * Scale shape: snapshots are one window pass over the per-user
    * shuffle; the as-of pick is the equi-join + row_number(=1) shape,
    * which the optimizer runs as a WindowGroupLimit (each partition
    * forwards only the latest candidate per label — PlanSpec pins it);
    * the encoding join is the model-sized (|users| x K) table broadcast
    * (the [[graft.streaming.EventStreams.encodedEvents]] size
    * precondition — shuffle it instead past ~10^8 categories).
    * Determinism: snapshot sums are exact quantized LONGs under a
    * total (ts, event_id) order; the as-of tie-break is
    * (f_ts, f_event_id) desc; staleness is exact micros arithmetic.
    */
  val pitTraining: GraftQuery = GraftQuery(
    "events_pit_training",
    s"point-in-time training assembly: label rows joined to the latest feature snapshot strictly before label time + $TeFolds-fold out-of-fold target encoding",
    EventOracle.pitTrainingSql) { (s, d) =>
    pitTrainingFrame(Tables.events(s, d))
  }

  /** The PIT assembly over any events frame — shared by the registry
    * query and the planted-leakage spec (EventQueriesSpec).
    */
  def pitTrainingFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), Det.quantize(col("value")).as("vq"))
      .localCheckpoint()
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val feats = ev
      .withColumn("f_cnt", count(lit(1)).over(wU))
      .withColumn("f_vq", sum(col("vq")).over(wU))
      .select(col("user_id").as("f_user"), col("ts").as("f_ts"),
        col("event_id").as("f_event_id"), col("f_cnt"), col("f_vq"))
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("label_id"), col("user_id"),
        col("ts").as("label_ts"),
        (graft.text.TextFns.hash60(col("event_id").cast("string"))
          % TeFolds).as("fold"),
        (col("vq").cast("double") / lit(Det.pow10(4))).as("label_value"))
    val wPick = Window.partitionBy(col("label_id"))
      .orderBy(desc("f_ts"), desc("f_event_id"))
    val pit = labels
      .join(feats, col("user_id") === col("f_user")
        && col("f_ts") < col("label_ts"), "left")
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
    val enc = targetEncodingFrame(events)
      .select(col("user_id"), col("fold"), col("encoding").as("te_user"))
    pit.join(broadcast(enc), Seq("user_id", "fold"), "left")
      .select(col("label_id"), col("user_id"), col("label_ts"),
        col("fold"), col("label_value"), col("f_ts").as("feat_ts"),
        col("f_cnt").as("feat_cnt"),
        (col("f_vq").cast("double") / lit(Det.pow10(4)))
          .as("feat_value_sum"),
        (unix_micros(col("label_ts")) - unix_micros(col("f_ts")))
          .as("staleness_us"),
        col("te_user"))
      .orderBy("label_id")
  }

  /** Winsorization tail percentiles for [[valueWinsorize]]. */
  val WinsLoPct = 0.01
  val WinsHiPct = 0.99

  /** Winsorized robust scaling — the feature-preprocessing step next to
    * [[targetEncoding]] in a training pipeline: per event_type, the
    * p01/p99 cut points of `value` (exact nearest-rank type-1, the
    * `arrear_percentiles` convention), every value clamped into
    * [p01, p99], and the per-type readout a feature store publishes:
    * row/clamp counts and the raw vs winsorized means — the heavy-tail
    * influence the clamp removed, which is exactly why robust scaling
    * beats plain standardization on telemetry values.
    *
    * Scale shape: one rank window per type (the per-type sort an exact
    * percentile costs; at 100 TB the GK-sketch cutoff path of
    * `rfm_segments_sketch` substitutes, same downstream), then the clamp
    * pass joins the model-sized cutoff frame back broadcast. Determinism:
    * cut points are corpus values (exact); clamp compares and counts are
    * exact; both means quantize to 1e-4 LONGs before summing.
    */
  val valueWinsorize: GraftQuery = GraftQuery(
    "events_value_winsorize",
    s"per-type winsorization at [p$WinsLoPct, p$WinsHiPct]: exact nearest-rank cut points, clamp counts, raw vs winsorized means",
    EventOracle.valueWinsorizeSql) { (s, d) =>
    valueWinsorizeFrame(Tables.events(s, d))
  }

  /** The winsorization derivation over any events frame — shared by the
    * registry query and the planted-outlier spec (EventQueriesSpec).
    */
  def valueWinsorizeFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(col("event_type"), col("value"))
      .localCheckpoint()
    val wT = Window.partitionBy(col("event_type"))
    val ranked = ev
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("value"))))
      .withColumn("nn", count(lit(1)).over(wT))
    val cuts = ranked
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rk") ===
          floor((col("nn") - 1) * lit(WinsLoPct)) + 1, col("value")))
          .as("p_lo"),
        max(when(col("rk") ===
          floor((col("nn") - 1) * lit(WinsHiPct)) + 1, col("value")))
          .as("p_hi"))
    ev.join(broadcast(cuts), "event_type")
      .withColumn("w", least(greatest(col("value"), col("p_lo")), col("p_hi")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        max(col("p_lo")).as("p_lo"), max(col("p_hi")).as("p_hi"),
        sum(when(col("value") < col("p_lo"), 1L).otherwise(0L))
          .as("n_clamped_lo"),
        sum(when(col("value") > col("p_hi"), 1L).otherwise(0L))
          .as("n_clamped_hi"),
        (sum(Det.quantize(col("value"))).cast("double") / lit(1e4)
          / count(lit(1)).cast("double")).as("mean_raw"),
        (sum(Det.quantize(col("w"))).cast("double") / lit(1e4)
          / count(lit(1)).cast("double")).as("mean_winsorized"))
      .withColumn("mean_shift", col("mean_raw") - col("mean_winsorized"))
      .orderBy("event_type")
  }

  /** Splits for [[changepointBinseg]]. */
  val BinsegK = 3

  /** Minimum segment length (hours) for [[changepointBinseg]]. */
  val BinsegMinSeg = 24

  /** CHANGEPOINT LOCATION by binary segmentation — the retrospective
    * complement of the online drift detectors ([[cusum]]/[[ewmaFrozen]]
    * answer "is it drifting NOW"; this answers "when exactly did the
    * level shift, and how many times"): [[BinsegK]] greedy
    * least-squares splits of the dense hourly count series, each chosen
    * to maximize the SSE reduction
    *
    *   gain(i) = cum²/i + (S1−cum)²/(N−i) − S1²/N
    *
    * over its segment (the second moments cancel out of the
    * difference, so the whole search runs on FIRST-moment prefix sums
    * — one cumulative window per sweep, no x² column), with segments
    * shorter than 2·[[BinsegMinSeg]] unsplittable. Output: one row per
    * split in selection order with its location, gain, and the
    * segment-at-selection left/right means — the report a postmortem
    * wants ("level moved from 83/h to 97/h at 14:00 on the 12th").
    *
    * Scale shape: one corpus pass to hourly counts; every sweep is
    * windows over the CALENDAR-bounded dense grid, and the loop state
    * crossing the driver is [[BinsegK]] breakpoint scalars (iteration
    * control, the BPE-argmax precedent). Determinism: counts/prefix
    * sums exact longs; the gain is a shared-shape double quantized to
    * 1e-6 LONGs before the (gq desc, t asc) argmax, so engine and twin
    * pick identical splits.
    */
  val changepointBinseg: GraftQuery = GraftQuery(
    "events_changepoint_binseg",
    s"binary-segmentation changepoints: $BinsegK greedy least-squares splits of hourly counts, min segment ${BinsegMinSeg}h, exact argmax",
    EventOracle.changepointBinsegSql) { (s, d) =>
    changepointBinsegFrame(Tables.events(s, d))
  }

  /** The binseg derivation over any events frame — shared by the
    * registry query and the planted-shift replay spec
    * (EventQueriesSpec).
    */
  def changepointBinsegFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = events.sparkSession
    val x = densify(events
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("hn")))
      .select(col("hour"), coalesce(col("hn"), lit(0L)).as("n"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("hour"))).cast("long") - 1)
      .localCheckpoint()
    var bps = List.empty[Long]
    val found = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, java.sql.Timestamp, Long, Double, Double, Long, Long)]
    var k = 1
    var exhausted = false
    while (k <= BinsegK && !exhausted) {
      val segExpr = bps.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("t") > b, 1).otherwise(0)
      }
      val wSeg = Window.partitionBy(col("seg"))
      val wCum = Window.partitionBy(col("seg")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cand = x.withColumn("seg", segExpr)
        .withColumn("i", row_number().over(
          Window.partitionBy(col("seg")).orderBy(col("t"))).cast("long"))
        .withColumn("cum1", sum(col("n")).over(wCum))
        .withColumn("s1", sum(col("n")).over(wSeg))
        .withColumn("nn", count(lit(1)).over(wSeg))
        .filter(col("i") >= BinsegMinSeg
          && col("nn") - col("i") >= BinsegMinSeg)
        .withColumn("gq", floor((
          col("cum1").cast("double") * col("cum1").cast("double")
            / col("i").cast("double")
          + (col("s1") - col("cum1")).cast("double")
            * (col("s1") - col("cum1")).cast("double")
            / (col("nn") - col("i")).cast("double")
          - col("s1").cast("double") * col("s1").cast("double")
            / col("nn").cast("double")) * lit(1e6) + lit(0.5)))
      val top = cand.orderBy(desc("gq"), asc("t"))
        .select(col("t"), col("hour"), col("gq"),
          (col("cum1").cast("double") / col("i").cast("double"))
            .as("mean_left"),
          ((col("s1") - col("cum1")).cast("double")
            / (col("nn") - col("i")).cast("double")).as("mean_right"),
          col("i").as("n_left"), (col("nn") - col("i")).as("n_right"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        found += ((k.toLong, r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6)))
        bps ::= r.getLong(0)
        k += 1
      }
    }
    graft.api.Checkpoints.release(x)
    import spark.implicits._
    found.toSeq
      .toDF("rank", "t", "hour", "gq", "mean_left", "mean_right",
        "n_left", "n_right")
      .select(col("rank"), col("t"), col("hour"),
        (col("gq").cast("double") / lit(1e6)).as("gain"),
        col("mean_left"), col("mean_right"), col("n_left"), col("n_right"))
      .orderBy("rank")
  }

  /** KPI CONTRIBUTION ANALYSIS — the root-cause decomposition a metrics
    * dashboard runs the morning a KPI moves: the day-over-day change of
    * total value decomposed ADDITIVELY by event_type (contributions sum
    * to the day's delta exactly, because the decomposition is just the
    * distributive law over exact quantized sums — no residual bucket),
    * with each segment's share of the move and a per-day rank by
    * absolute contribution, so "what moved the number" is row 1.
    *
    * Grain: one row per (day, event_type) from the second observed day
    * on; a type absent on a day contributes from/to zero (the grid is
    * observed-days x types, so segments appearing or vanishing are
    * decomposed, not dropped). `share_of_delta` is NULL on a
    * zero-delta day (shares of nothing are undefined; contributions
    * still carry the offsetting moves).
    *
    * Scale shape: one corpus pass to the (day, type) aggregate; grid,
    * lag, and rank windows all run on the calendar-bounded frame.
    * Determinism: contributions are exact quantized-LONG differences;
    * the rank orders by exact |contrib_q| with a type tie-break; the
    * share is one double division of exact longs.
    */
  val kpiContribution: GraftQuery = GraftQuery(
    "events_kpi_contribution",
    "day-over-day KPI delta decomposed per event_type: exact additive contributions, share of move, per-day rank",
    EventOracle.kpiContributionSql) { (s, d) =>
    kpiContributionFrame(Tables.events(s, d))
  }

  /** The contribution decomposition over any events frame — shared by
    * the registry query and the hand fixture (EventQueriesSpec).
    */
  def kpiContributionFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(Det.quantize(col("value"))).as("vq"))
      .localCheckpoint()
    val grid = daily.select(col("day")).distinct()
      .crossJoin(daily.select(col("event_type")).distinct())
      .join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("vq"), lit(0L)).as("vq"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wD = Window.partitionBy(col("day"))
    val wR = Window.partitionBy(col("day"))
      .orderBy(abs(col("contrib_q")).desc, col("event_type"))
    grid
      .withColumn("pvq", lag(col("vq"), 1).over(wT))
      .filter(col("pvq").isNotNull)
      .withColumn("contrib_q", col("vq") - col("pvq"))
      .withColumn("delta_q", sum(col("contrib_q")).over(wD))
      .withColumn("rank_in_day", row_number().over(wR).cast("long"))
      .select(col("day"), col("event_type"),
        (col("vq") / lit(Det.pow10(4))).as("value"),
        (col("pvq") / lit(Det.pow10(4))).as("prev_value"),
        (col("contrib_q") / lit(Det.pow10(4))).as("contribution"),
        (col("delta_q") / lit(Det.pow10(4))).as("day_delta"),
        when(col("delta_q") =!= 0L,
          col("contrib_q").cast("double") / col("delta_q").cast("double"))
          .as("share_of_delta"),
        col("rank_in_day"))
      .orderBy("day", "event_type")
  }

  /** Reducer count [[keySkew]] plans against — the session's pinned
    * spark.sql.shuffle.partitions (SURVEY §7: the builder sets 32).
    */
  val SkewReducers = 32

  /** KEY-SKEW PROFILER — the diagnostic that decides between a plain
    * shuffle, AQE skew handling, and explicit salting
    * ([[saltedRollup]] is the cure; this is the diagnosis): one pass to
    * per-key counts, then the distribution readout a shuffle planner
    * wants. max/top-10 shares say whether one reducer drowns; the Gini
    * coefficient (2·Σ rank·cnt / (n·N) − (n+1)/n over ascending counts
    * — permutation-invariant within count ties, so the tie-break only
    * stabilizes the plan, not the value) grades overall imbalance; and
    * `suggested_salt` = ceil(max_cnt / (N/[[SkewReducers]])) is the
    * split factor that fits the hottest key into an average reducer —
    * exactly the salt a [[saltedRollup]]-style rewrite would use.
    *
    * Scale shape: the per-key aggregate is the shuffle any groupBy pays;
    * the two rank windows run over the KEY frame (cardinality-bounded —
    * the documented global-window class; at extreme key cardinality the
    * GK-sketch cutoff substitutes for the exact ranks, same readout).
    * Determinism: counts and rank sums are exact longs; shares/Gini are
    * double divisions of exact longs in shared shapes.
    */
  val keySkew: GraftQuery = GraftQuery.oneRow(
    "events_key_skew_profile",
    s"key-skew diagnosis of user_id: max/top-10 shares, Gini, suggested salt for $SkewReducers reducers",
    EventOracle.keySkewSql) { (s, d) =>
    keySkewFrame(Tables.events(s, d))
  }

  /** The skew profile over any events frame — shared by the registry
    * query and the planted-hot-key replay spec (EventQueriesSpec).
    */
  def keySkewFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val ranked = counts
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c"), col("user_id"))).cast("long"))
      .withColumn("rkd", row_number().over(
        Window.orderBy(desc("c"), col("user_id"))).cast("long"))
    ranked.agg(
        sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("c")).as("max_cnt"),
        sum(col("rk") * col("c")).as("s_ic"),
        sum(when(col("rkd") <= 10, col("c")).otherwise(0L)).as("top10"))
      .select(
        lit("user_id").as("key_col"),
        col("n_rows"), col("n_keys"), col("max_cnt"),
        (col("max_cnt").cast("double") / col("n_rows").cast("double"))
          .as("max_share"),
        (col("top10").cast("double") / col("n_rows").cast("double"))
          .as("top10_share"),
        (lit(2.0) * col("s_ic").cast("double")
          / (col("n_keys").cast("double") * col("n_rows").cast("double"))
          - (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"))
          .as("gini"),
        (col("n_rows").cast("double") / lit(SkewReducers.toDouble))
          .as("avg_per_reducer"),
        ceil(col("max_cnt").cast("double") * lit(SkewReducers.toDouble)
          / col("n_rows").cast("double")).as("suggested_salt"),
        (col("max_cnt").cast("double") > lit(2.0)
          * (col("n_rows").cast("double") / lit(SkewReducers.toDouble)))
          .as("skewed"))
  }

  /** floor(sqrt(2⁶³−1)): the largest |x| whose square fits a LONG.
    *
    * Aggregate-level headroom: the per-row guard bounds each SQUARE, but
    * the SUM of squares (pcyy here; qa/qb in abTest/abWinsorized/
    * powerCurve) can still exceed 2⁶³ when rows × max(uq²) ≥ 2⁶³ — and
    * there Spark's non-ANSI BIGINT sum WRAPS silently while DuckDB sums
    * into HUGEINT and raises on the BIGINT cast, a latent engine/oracle
    * divergence. The operating envelope is therefore
    * n_groups × (max|uq|)² < 2⁶³: at this corpus's value ranges
    * (|uq| ≲ 3e7 quantized units per user) that holds through ~1e4× the
    * gate SF; a deployment beyond it must widen the quantum (smaller
    * [[Det.pow10]] scale), which shrinks |uq| quadratically in the ssq
    * terms — the same knob the per-row raise message points at.
    */
  private val MaxSqAbs = 3037000499L

  /** chi²(df=1) critical values on [[srmCheck]]'s 1e-9-quantized grid:
    * 3.841458821 (5%) and 10.827566171 (0.1% — the ship-blocking SRM
    * convention: an experiment platform pages at the stricter level
    * because assignment imbalance invalidates EVERY downstream readout).
    */
  val SrmChi2Crit5Q = 3841458821L
  val SrmChi2Crit1PmQ = 10827566171L

  /** SAMPLE-RATIO-MISMATCH GUARDRAIL — the check every experimentation
    * platform runs BEFORE anyone reads [[abTest]]/[[abCuped]]/
    * [[abSequential]]: under 50/50 hash assignment the arm exposure
    * counts must be binomially plausible, and a chi² goodness-of-fit
    * rejection means the logging/assignment path is dropping one arm —
    * every effect estimate downstream is biased and the readouts above
    * are void. Segmented per event_type (real SRM bugs are usually
    * segment-local: one surface's instrumentation drops an arm) plus an
    * 'ALL' row at the distinct-user grain; chi² = (n_a−n_b)²/n for the
    * 2-cell equal-split case, flagged at 5% and at the conventional
    * ship-blocking 0.1%.
    *
    * Scale shape: one distinct shuffle to (event_type, user) exposure
    * grain, a second distinct over its projection for the global row —
    * both partial-aggregated; readout frames are segment-sized.
    * Determinism: counts exact longs; chi² quantizes to 1e-9 before the
    * flag comparisons against the pre-quantized critical literals.
    * On this corpus the hash IS the assignment, so the honest readout is
    * no-mismatch everywhere; the spec plants a dropped-arm segment by
    * searching ids (the fixture convention of [[survivalLogrank]]).
    */
  val srmCheck: GraftQuery = GraftQuery(
    "events_srm_check",
    "sample-ratio-mismatch guardrail: per-segment + overall arm-exposure chi2 vs 50/50, flagged at 5% and 0.1%",
    EventOracle.srmCheckSql) { (s, d) =>
    srmCheckFrame(Tables.events(s, d))
  }

  /** The SRM derivation over any events frame — shared by the registry
    * query and the planted dropped-arm fixture (EventQueriesSpec).
    */
  def srmCheckFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tu = events.select(col("event_type"), col("user_id")).distinct()
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    def counts(g: org.apache.spark.sql.RelationalGroupedDataset) =
      g.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
    val seg = counts(tu.withColumnRenamed("event_type", "segment")
      .groupBy(col("segment")))
    val allRow = counts(tu.select(col("user_id"), col("arm")).distinct()
      .withColumn("segment", lit("ALL")).groupBy(col("segment")))
    val diff = (col("n_a") - col("n_b")).cast("double")
    seg.unionByName(allRow)
      .withColumn("n_users", col("n_a") + col("n_b"))
      .withColumn("chi2q", when(col("n_users") > 0L,
        Det.quantize(diff * diff / col("n_users").cast("double"), 9)))
      .select(col("segment"), col("n_a"), col("n_b"), col("n_users"),
        when(col("n_users") > 0L, col("n_a").cast("double")
          / col("n_users").cast("double")).as("share_a"),
        (col("chi2q").cast("double") / lit(1e9)).as("chi2"),
        (col("chi2q") >= lit(SrmChi2Crit5Q)).as("srm_5pct"),
        (col("chi2q") >= lit(SrmChi2Crit1PmQ)).as("srm_1pm"))
      .orderBy("segment")
  }

  /** FDR level for [[srmFdr]] (the conventional 5%). */
  val BhAlpha = 0.05

  /** Largest segment count the [[bhCritQ]] literal table covers; a wider
    * segmentation raises at run time (regenerate with a larger bound).
    */
  val BhMaxM = 12

  /** Pre-quantized chi²(df=1) BH critical values: for every (rank i,
    * test count m), the 1 − i·α/m quantile, floor(·1e9 + 0.5) LONGs.
    * Generated ONCE driver-side (commons-math3, which Spark already
    * ships) and inlined as literals on BOTH engines — the engines never
    * evaluate an inverse CDF, so parity is structural (the
    * [[SrmChi2Crit5Q]] convention extended to the (i, m) grid; the
    * (m, m) diagonal equals that constant, pinned by spec).
    */
  val bhCritQ: Seq[(Int, Int, Long)] = {
    val chi = new org.apache.commons.math3.distribution
      .ChiSquaredDistribution(1.0)
    for { m <- 1 to BhMaxM; i <- 1 to m } yield
      (i, m, math.floor(chi.inverseCumulativeProbability(
        1.0 - BhAlpha * i / m) * 1e9 + 0.5).toLong)
  }

  /** BENJAMINI-HOCHBERG FDR CORRECTION over the per-segment SRM tests —
    * the multiple-testing discipline [[srmCheck]]'s per-segment 5% flags
    * skip: with m segments each tested at 5%, ~m/20 false alarms page
    * someone weekly; BH orders the chi² statistics (= p-values
    * ascending, exact for a shared df=1 null) and rejects the LARGEST
    * PREFIX whose i-th statistic clears the 1 − i·α/m quantile — a
    * failing rank inside the prefix is still rejected, the property
    * that distinguishes BH from per-test thresholds (pinned by the
    * planted fixture). Critical values come from the [[bhCritQ]]
    * literal grid joined on (rank, m), so the decision is an exact LONG
    * comparison on both engines.
    *
    * Scale shape: rides [[srmCheckFrame]]'s distinct shuffle down to
    * the segment-bounded frame; the rank window and prefix max are
    * global windows over that bounded frame (the documented class).
    */
  val srmFdr: GraftQuery = GraftQuery(
    "events_srm_fdr",
    s"Benjamini-Hochberg FDR at $BhAlpha over the per-segment SRM chi2 battery: rank, BH line, largest-prefix rejections",
    EventOracle.srmFdrSql) { (s, d) =>
    fdrBhFrame(srmCheckFrame(Tables.events(s, d)))
  }

  /** The BH pass over any [[srmCheckFrame]]-shaped frame (segment,
    * n_users, chi2; the 'ALL' row is excluded — it is not one of the m
    * segment hypotheses). Shared by the registry query and the planted
    * prefix fixture.
    */
  def fdrBhFrame(srm: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = srm.sparkSession
    val seg = srm.filter(col("segment") =!= "ALL")
      .select(col("segment"), col("n_users"),
        Det.quantize(col("chi2"), 9).as("chi2q"))
    val w = Window.orderBy(desc("chi2q"), col("segment"))
    val wAll = Window.partitionBy()
    val ranked = seg
      .withColumn("i", row_number().over(w))
      .withColumn("m", count(lit(1)).over(wAll).cast("int"))
    val crit = sess.range(1).select(explode(array(bhCritQ.map {
        case (i, m, q) => struct(lit(i).as("i"), lit(m).as("m"),
          lit(q).as("critq"))
      }: _*)).as("c")).select(col("c.*"))
    val flagged = ranked.join(broadcast(crit), Seq("i", "m"), "left")
      .withColumn("critq", coalesce(col("critq"),
        raise_error(lit("events_srm_fdr: segment count exceeds the " +
          s"BhMaxM=$BhMaxM critical-value table — regenerate with a " +
          "larger bound")).cast("long")))
      .withColumn("pass", col("chi2q") >= col("critq"))
    flagged
      .withColumn("istar", max(when(col("pass"), col("i"))).over(wAll))
      .select(col("segment"), col("n_users"),
        (col("chi2q").cast("double") / lit(1e9)).as("chi2"),
        col("i").cast("long").as("bh_rank"),
        col("m").cast("long").as("m_tests"),
        (col("critq").cast("double") / lit(1e9)).as("bh_crit"),
        col("pass").as("exceeds_bh_line"),
        (col("istar").isNotNull && col("i") <= col("istar"))
          .as("rejected_bh"))
      .orderBy("bh_rank")
  }

  /** Normal quantiles for [[abPower]]: z_{0.025} (5% two-sided) and
    * z_{0.20} (80% power), and their pinned sum — published constants,
    * shared as literals so both engines parse identical doubles.
    */
  val PowerZAlpha = 1.959963985
  val PowerZBeta = 0.841621234
  val PowerZSum = 2.801585219 // PowerZAlpha + PowerZBeta, pre-added
  /** Relative lift the required-n readout is sized for (1%). */
  val PowerMdeRel = 0.01

  /** POST-HOC POWER / MDE READOUT — the sentence a reviewer asks for
    * when [[abTest]] comes back flat: "what lift COULD this experiment
    * have seen?" A non-significant t with an MDE of 8% does not license
    * 'no effect' if the team cares about 2% — the absence-of-evidence
    * trap, answered with numbers: minimum detectable effect at 5%
    * two-sided / 80% power, MDE = (z_a + z_b)·se(Δ) over the observed
    * Welch standard error, both absolute and relative to control; plus
    * the forward-looking design number — users per arm required to
    * detect a 1% relative lift at the observed pooled variance,
    * n = 2(z_a+z_b)²·var_pooled/δ².
    *
    * Scale shape: identical to [[abTest]] — one partial-agg shuffle to
    * per-user totals, a 6-long conditional aggregate, scalar readout.
    * Determinism: the abTest sufficient-statistic recompositions; mde
    * quantizes to 1e-6 (the t_stat convention) and mde_rel derives from
    * the quantized value; n_req guards its double against the BIGINT
    * ceiling before ceil (the Neyman floor(NaN) lesson — DuckDB raises
    * on non-finite casts where Spark nulls).
    */
  val abPower: GraftQuery = GraftQuery.oneRow(
    "events_ab_power",
    "post-hoc A/B power readout: Welch-se MDE (abs + rel) at 5%/80% and required n per arm for a 1% lift",
    EventOracle.abPowerSql) { (s, d) =>
    abPowerFrame(Tables.events(s, d))
  }

  /** The MDE/required-n derivation over any events frame — shared by the
    * registry query and the hand-variance fixture (EventQueriesSpec).
    */
  def abPowerFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val perUser = events
      .select(col("user_id"), Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"))
      .agg(sum(col("vq")).as("uq"))
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    val uqSq = when(abs(col("uq")) > lit(MaxSqAbs),
      raise_error(lit("events_ab_power: per-user total overflows the " +
        "ssq quantum — widen the quantum")).cast("long"))
      .otherwise(col("uq") * col("uq"))
    val agg = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("uq")).otherwise(0L)).as("sa"),
      sum(when(col("arm") === 1, col("uq")).otherwise(0L)).as("sb"),
      sum(when(col("arm") === 0, uqSq).otherwise(0L)).as("qa"),
      sum(when(col("arm") === 1, uqSq).otherwise(0L)).as("qb"))
    val sc = lit(Det.pow10(4).toDouble)
    def vr(q: org.apache.spark.sql.Column, s0: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      when(n > lit(1L),
        (q / (sc * sc) - (s0 / sc) * (s0 / sc) / n) / (n - lit(1)))
    agg.select(
        col("n_a"), col("n_b"),
        when(col("n_a") > 0L, col("sa") / sc / col("n_a")).as("mean_a"),
        vr(col("qa"), col("sa"), col("n_a")).as("var_a"),
        vr(col("qb"), col("sb"), col("n_b")).as("var_b"))
      .withColumn("se2",
        col("var_a") / col("n_a") + col("var_b") / col("n_b"))
      .withColumn("var_pooled",
        when(col("n_a") > 1L && col("n_b") > 1L,
          ((col("n_a") - 1L) * col("var_a") + (col("n_b") - 1L)
            * col("var_b")) / (col("n_a") + col("n_b") - lit(2L))))
      .withColumn("mde_abs", when(col("se2") > 0,
        floor(lit(PowerZSum) * sqrt(col("se2")) * lit(1e6) + lit(0.5))
          / lit(1e6)))
      .withColumn("delta_1pct",
        when(col("mean_a").isNotNull && col("mean_a") =!= 0,
          lit(PowerMdeRel) * col("mean_a")))
      .withColumn("nreq_d",
        lit(2.0) * (lit(PowerZSum) * lit(PowerZSum)) * col("var_pooled")
          / (col("delta_1pct") * col("delta_1pct")))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("var_pooled"),
        sqrt(col("se2")).as("se_delta"), col("mde_abs"),
        (col("mde_abs") / col("mean_a")).as("mde_rel"),
        when(col("nreq_d") < lit(9.0e18), ceil(col("nreq_d")))
          .as("n_req_per_arm_1pct"))
  }

  /** Bootstrap replicate count for [[bootstrapCi]] (B = 200 gives the
    * 95% percentile CI nearest-ranks 5 and 195).
    */
  val BootReps = 200

  /** Poisson(1) CDF thresholds F(0)..F(7) for the bootstrap weights,
    * computed once driver-side and shared as LITERALS so both engines
    * parse identical doubles; the draw truncates at w = 8 (tail mass
    * ~1e-5 — a deterministic truncation both engines apply identically).
    */
  val PoissonCdf: IndexedSeq[Double] = {
    val e1 = StrictMath.exp(-1.0)
    var term = e1
    var cum = e1
    (0 to 7).map { k =>
      if (k > 0) { term = term / k; cum += term }
      cum
    }
  }

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVAL — the scalable bootstrap:
    * classic resampling draws n users WITH replacement per replicate,
    * which needs global coordination; the Poisson approximation gives
    * each user an INDEPENDENT Poisson(1) resample count per replicate,
    * so the whole procedure is one embarrassingly-parallel pass — the
    * construction production experiment platforms use for metrics whose
    * sampling distribution (ratios, heavy tails) makes the normal
    * interval of [[abTest]] suspect. Per replicate b, each user's
    * weight is the inverse-CDF Poisson(1) draw over the hash60 uniform
    * (the [[dpRelease]] seeding trick — deterministic, so the interval
    * is oracle-checkable at full value parity; a deployment swaps the
    * seed per run); replicate mean = Σw·total/Σw; the 95% interval is
    * the exact nearest-rank 2.5%/97.5% percentile over the B replicate
    * means.
    *
    * Scale shape: one corpus shuffle to per-user totals; the ×B explode
    * is a flatMap (no shuffle) and the per-replicate aggregate
    * partial-combines to ≤B rows per partition, so the second shuffle
    * moves B×partitions rows regardless of corpus size; ranking runs on
    * the B-row frame. Determinism: weights and weighted sums are exact
    * LONGs (w·uq fits BIGINT through ~1e14 total quanta — past that,
    * scale the quantum); replicate means recompose through one shared
    * shape; the rank order is (mean, b) — total; degenerate all-zero
    * replicates (possible only at toy n) are EXCLUDED on both engines
    * and the nearest-ranks recompute against the valid count by integer
    * ceiling division, never float multiplication.
    */
  val bootstrapCi: GraftQuery = GraftQuery.oneRow(
    "events_bootstrap_ci",
    s"Poisson-bootstrap 95% CI of mean per-user value: $BootReps deterministic hash-seeded replicates, exact nearest-rank percentile bounds",
    EventOracle.bootstrapCiSql) { (s, d) =>
    bootstrapCiFrame(Tables.events(s, d))
  }

  /** The bootstrap derivation over any events frame — shared by the
    * registry query and the full plain-Scala replay fixture
    * (EventQueriesSpec).
    */
  def bootstrapCiFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .select(col("user_id"), Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"))
      .agg(sum(col("vq")).as("uq"))
    val u = (graft.text.TextFns.hash60(concat_ws(":", lit("boot19"),
      col("user_id").cast("string"), col("b").cast("string"))) + lit(1L)) /
      lit(1152921504606846977.0)
    val w0 = PoissonCdf.zipWithIndex.tail.foldLeft(
      when(col("u") < lit(PoissonCdf(0)), lit(0L))) { case (acc, (t, k)) =>
        acc.when(col("u") < lit(t), lit(k.toLong))
      }.otherwise(lit(PoissonCdf.size.toLong))
    val reps = perUser
      .select(col("user_id"), col("uq"),
        explode(sequence(lit(0), lit(BootReps - 1))).as("b"))
      .withColumn("u", u)
      .withColumn("w", w0)
      .groupBy(col("b"))
      .agg(
        sum(col("w") * col("uq")).as("wq"),
        sum(col("w")).as("sw"),
        sum(col("uq")).as("tq"),
        count(lit(1)).as("nu"))
      .filter(col("sw") > 0L)
      .withColumn("mean_b",
        col("wq").cast("double") / lit(1e4) / col("sw").cast("double"))
    val ranked = reps
      .withColumn("rk",
        row_number().over(Window.orderBy(col("mean_b"), col("b"))))
      .withColumn("bv", count(lit(1)).over(Window.partitionBy()))
      .withColumn("lo", expr("(bv * 5 + 199) div 200"))
      .withColumn("hi", expr("(bv * 195 + 199) div 200"))
    ranked.agg(
        min(col("nu")).as("n_users"),
        min(col("tq")).as("tq"),
        min(col("bv")).as("b_valid"),
        min(when(col("rk") === col("lo"), col("mean_b"))).as("ci_lo"),
        min(when(col("rk") === col("hi"), col("mean_b"))).as("ci_hi"))
      .select(col("n_users"),
        (col("tq").cast("double") / lit(1e4)
          / col("n_users").cast("double")).as("mean_hat"),
        lit(BootReps.toLong).as("b_total"), col("b_valid"),
        col("ci_lo"), col("ci_hi"),
        (col("ci_hi") - col("ci_lo")).as("ci_width"))
      .withColumn("covered",
        col("mean_hat") >= col("ci_lo") && col("mean_hat") <= col("ci_hi"))
  }

  /** KS asymptotic 5% coefficient c(α) = sqrt(-ln(α/2)/2) = 1.3581015...,
    * pinned at the published 4dp convention value.
    */
  val KsCoeff5 = 1.358

  /** TWO-SAMPLE KOLMOGOROV-SMIRNOV TEST — the distribution-level A/B
    * readout that completes the experimentation family: [[abTest]]
    * compares MEANS, [[abSequential]] monitors them, but a treatment
    * that shifts variance, adds a second mode, or fattens a tail moves
    * NO mean and still changes the business — KS tests the whole CDF:
    * D = sup_x |F_A(x) − F_B(x)| over per-user totals in the hash arms,
    * rejected at 5% against the asymptotic critical value
    * c(α)·√((n_A+n_B)/(n_A·n_B)). Also reports WHERE the CDFs diverge
    * most (the smallest total at which the sup is attained) — the
    * actionable half of the answer.
    *
    * Scale shape: one corpus shuffle to per-user totals, one partial-agg
    * groupBy to per-(total, arm) counts; the cumulative window is global
    * over the DISTINCT-totals frame (the quality_nb_auc documented
    * class — two-pass range-partitioned prefix sums at 100 TB). The
    * argmax is (gap desc, total asc) over the same frame.
    * Determinism: counts exact; each CDF gap quantizes to 1e-9 before
    * max/argmax; the critical value quantizes to the same grid and the
    * rejection compares LONGs.
    */
  val ksTest: GraftQuery = GraftQuery.oneRow(
    "events_ks_test",
    "two-sample KS test on per-user value between hash arms: D, asymptotic 5% critical value, rejection, divergence location",
    EventOracle.ksTestSql) { (s, d) =>
    ksTestFrame(Tables.events(s, d))
  }

  /** The KS derivation over any events frame — shared by the registry
    * query and the planted shift/null fixtures (EventQueriesSpec).
    */
  def ksTestFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .select(col("user_id"), Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"))
      .agg(sum(col("vq")).as("uq"))
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
    val counts = perUser.groupBy(col("uq"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("uq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gaps = counts
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .withColumn("na", sum(col("ca")).over(Window.partitionBy()))
      .withColumn("nb", sum(col("cb")).over(Window.partitionBy()))
      .withColumn("gapq", Det.quantize(abs(
        col("cuma").cast("double") / col("na").cast("double")
          - col("cumb").cast("double") / col("nb").cast("double")), 9))
    val top = gaps
      .orderBy(col("gapq").desc, col("uq"))
      .limit(1)
      .select(col("na"), col("nb"), col("gapq"),
        (col("uq").cast("double") / lit(Det.pow10(4))).as("at_value"))
    top
      .withColumn("critq", Det.quantize(lit(KsCoeff5)
        * sqrt((col("na") + col("nb")).cast("double")
          / (col("na") * col("nb")).cast("double")), 9))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        (col("gapq").cast("double") / lit(1e9)).as("d_stat"),
        (col("critq").cast("double") / lit(1e9)).as("d_crit_5pct"),
        (col("gapq") >= col("critq")).as("ks_reject_5pct"),
        col("at_value"))
  }

  /** WINSORIZED A/B READOUT — the robust twin of [[abTest]], and the
    * composition [[valueWinsorize]] (clamps events) and [[tailHill]]
    * (diagnoses the tail) point at: when per-user totals are heavy-
    * tailed, one whale landing in one arm moves the raw mean more than
    * any plausible treatment effect and the Welch t is noise. The
    * standard production fix is the trimmed metric: clamp per-user
    * totals into the POOLED [p1, p99] nearest-rank band (pooled, so the
    * clamp is treatment-independent and introduces no bias between
    * arms), then run the same Welch comparison — both t statistics are
    * reported side by side, so the readout also says how much of the
    * raw signal was tail.
    *
    * Scale shape: one corpus shuffle to per-user totals (checkpointed —
    * the cuts pass and the aggregate share it); the cut ranks are a
    * global window over the user-grain frame (the ksTest documented
    * class); clamping and the 12-sum conditional aggregate are one
    * scan with map-side combine. Determinism: totals and cuts are
    * exact 1e-4 LONGs so the clamp is integer; the Welch recompositions
    * are the abTest shapes; both t statistics quantize to 1e-6; squares
    * carry the abTest overflow raise.
    */
  val abWinsorized: GraftQuery = GraftQuery.oneRow(
    "events_ab_winsorized",
    "robust A/B: per-user totals clamped to the pooled [p1, p99] nearest-rank band, Welch t raw vs winsorized side by side",
    EventOracle.abWinsorizedSql) { (s, d) =>
    abWinsorizedFrame(Tables.events(s, d))
  }

  /** The winsorized-A/B derivation over any events frame — shared by
    * the registry query and the planted-whale fixture
    * (EventQueriesSpec).
    */
  def abWinsorizedFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .select(col("user_id"), Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"))
      .agg(sum(col("vq")).as("uq"))
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
      .localCheckpoint() // user-grain: cuts pass + aggregate share it
    val ranked = perUser
      .withColumn("rk", row_number().over(Window.orderBy(col("uq"))))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
    val cuts = ranked.agg(
      max(when(col("rk") ===
        floor((col("nn") - 1) * lit(WinsLoPct)) + 1, col("uq"))).as("lo"),
      max(when(col("rk") ===
        floor((col("nn") - 1) * lit(WinsHiPct)) + 1, col("uq"))).as("hi"))
    def sq(c: org.apache.spark.sql.Column) =
      when(abs(c) > lit(MaxSqAbs),
        raise_error(lit("events_ab_winsorized: total overflows the " +
          "ssq quantum — widen the quantum")).cast("long"))
        .otherwise(c * c)
    val j = perUser.crossJoin(broadcast(cuts))
      .withColumn("w", least(greatest(col("uq"), col("lo")), col("hi")))
    val agg = j.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      min(col("lo")).as("lo"), min(col("hi")).as("hi"),
      sum(when(col("uq") =!= col("w"), 1L).otherwise(0L)).as("n_clamped"),
      sum(when(col("arm") === 0, col("uq")).otherwise(0L)).as("sa"),
      sum(when(col("arm") === 1, col("uq")).otherwise(0L)).as("sb"),
      sum(when(col("arm") === 0, sq(col("uq"))).otherwise(0L)).as("qa"),
      sum(when(col("arm") === 1, sq(col("uq"))).otherwise(0L)).as("qb"),
      sum(when(col("arm") === 0, col("w")).otherwise(0L)).as("swa"),
      sum(when(col("arm") === 1, col("w")).otherwise(0L)).as("swb"),
      sum(when(col("arm") === 0, sq(col("w"))).otherwise(0L)).as("qwa"),
      sum(when(col("arm") === 1, sq(col("w"))).otherwise(0L)).as("qwb"))
    val sc = lit(Det.pow10(4).toDouble)
    def mean(s0: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      when(n > lit(0L), s0 / sc / n)
    def vr(q: org.apache.spark.sql.Column, s0: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      when(n > lit(1L),
        (q / (sc * sc) - (s0 / sc) * (s0 / sc) / n) / (n - lit(1)))
    def tstat(ma: org.apache.spark.sql.Column, mb: org.apache.spark.sql.Column,
        se2: org.apache.spark.sql.Column) =
      when(se2 > 0,
        floor((mb - ma) / sqrt(se2) * lit(1e6) + lit(0.5)) / lit(1e6))
    agg
      .withColumn("mean_a_raw", mean(col("sa"), col("n_a")))
      .withColumn("mean_b_raw", mean(col("sb"), col("n_b")))
      .withColumn("se2_raw", vr(col("qa"), col("sa"), col("n_a")) / col("n_a")
        + vr(col("qb"), col("sb"), col("n_b")) / col("n_b"))
      .withColumn("mean_a_w", mean(col("swa"), col("n_a")))
      .withColumn("mean_b_w", mean(col("swb"), col("n_b")))
      .withColumn("se2_w", vr(col("qwa"), col("swa"), col("n_a")) / col("n_a")
        + vr(col("qwb"), col("swb"), col("n_b")) / col("n_b"))
      .select(col("n_a"), col("n_b"),
        (col("lo").cast("double") / sc).as("p_lo"),
        (col("hi").cast("double") / sc).as("p_hi"),
        col("n_clamped"),
        col("mean_a_w"), col("mean_b_w"),
        when(col("mean_a_w").isNotNull && col("mean_a_w") =!= 0 &&
            col("mean_b_w").isNotNull,
          (col("mean_b_w") - col("mean_a_w")) / col("mean_a_w"))
          .as("uplift_w"),
        tstat(col("mean_a_raw"), col("mean_b_raw"), col("se2_raw"))
          .as("t_raw"),
        tstat(col("mean_a_w"), col("mean_b_w"), col("se2_w"))
          .as("t_winsorized"))
  }

  /** SPEARMAN RANK CORRELATION — does a user's ACTIVITY predict their
    * SPEND? The Pearson answer is fragile exactly where the question
    * matters (heavy-tailed spend — see [[tailHill]]); Spearman is the
    * robust, monotone-invariant answer: Pearson correlation computed on
    * tie-corrected MIDRANKS (the [[graft.text.TextQueries]] AUC doubled-
    * midrank trick: 2·cum_before + cnt + 1, an exact LONG per distinct
    * value). Both coefficients ship side by side, so a gap between them
    * is itself a readout (nonlinear-but-monotone association, or
    * outliers dragging Pearson).
    *
    * Scale shape: one corpus shuffle to per-user (count, total); each
    * metric's midranks come from a distinct-value groupBy + cumulative
    * window (the ksTest documented global-window class) joined back on
    * the value. Determinism: midranks are exact LONGs; rank-moment
    * sums would grow as n³ and burst BIGINT near 2e6 users, so ranks
    * NORMALIZE to (0,1] (one shared double division by 2n) and every
    * moment term quantizes to 1e-9 before the order-insensitive sums —
    * exact through 1e9 users; the raw-Pearson sufficient statistics
    * stay exact LONGs with the abTest overflow raise; both coefficients
    * and the large-sample z = ρ·√(n−1) quantize to 1e-9, the rejection
    * comparing LONGs against the shared 1.96 literal.
    */
  val spearman: GraftQuery = GraftQuery.oneRow(
    "events_spearman",
    "Spearman rank correlation of per-user activity vs spend (tie-corrected midranks) beside the raw Pearson, with large-sample z",
    EventOracle.spearmanSql) { (s, d) =>
    spearmanFrame(Tables.events(s, d))
  }

  /** The Spearman/Pearson derivation over any events frame — shared by
    * the registry query and the monotone-cubic fixture
    * (EventQueriesSpec).
    */
  def spearmanFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .select(col("user_id"), Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum(col("vq")).as("uq"))
      .localCheckpoint() // user-grain: two rank passes + the moments
    def ranks(metric: String) = {
      val w = Window.orderBy(col(metric))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perUser.groupBy(col(metric)).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        // doubled midrank: 2*(cum-before) + c + 1 — exact LONG
        .select(col(metric),
          (lit(2L) * (col("cum") - col("c")) + col("c") + lit(1L))
            .as(s"r2_$metric"))
    }
    val sq = when(abs(col("uq")) > lit(MaxSqAbs),
      raise_error(lit("events_spearman: per-user total overflows the " +
        "ssq quantum — widen the quantum")).cast("long"))
      .otherwise(col("uq") * col("uq"))
    val nAgg = perUser.agg(count(lit(1)).as("n"))
    val joined = perUser
      .join(ranks("cnt"), Seq("cnt"))
      .join(ranks("uq"), Seq("uq"))
      .crossJoin(broadcast(nAgg))
      .withColumn("ux",
        col("r2_cnt").cast("double") / (lit(2.0) * col("n").cast("double")))
      .withColumn("uy",
        col("r2_uq").cast("double") / (lit(2.0) * col("n").cast("double")))
    val agg = joined.agg(
      min(col("n")).as("n"),
      sum(Det.quantize(col("ux"), 9)).as("sx"),
      sum(Det.quantize(col("ux") * col("ux"), 9)).as("sxx"),
      sum(Det.quantize(col("uy"), 9)).as("sy"),
      sum(Det.quantize(col("uy") * col("uy"), 9)).as("syy"),
      sum(Det.quantize(col("ux") * col("uy"), 9)).as("sxy"),
      sum(col("cnt")).as("pcx"),
      sum(col("cnt") * col("cnt")).as("pcxx"),
      sum(col("uq")).as("pcy"),
      sum(sq).as("pcyy"),
      sum(col("cnt") * col("uq")).as("pcxy"))
    def corr(n: org.apache.spark.sql.Column,
        sx: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column,
        sy: org.apache.spark.sql.Column, syy: org.apache.spark.sql.Column,
        sxy: org.apache.spark.sql.Column) = {
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      when(vx > 0 && vy > 0, (n * sxy - sx * sy) / sqrt(vx * vy))
    }
    val nd = col("n").cast("double")
    agg
      .withColumn("rhoq", Det.quantize(corr(nd,
        col("sx").cast("double") / lit(1e9),
        col("sxx").cast("double") / lit(1e9),
        col("sy").cast("double") / lit(1e9),
        col("syy").cast("double") / lit(1e9),
        col("sxy").cast("double") / lit(1e9)), 9))
      .withColumn("pearsonq", Det.quantize(corr(nd,
        col("pcx").cast("double"),
        col("pcxx").cast("double"),
        col("pcy").cast("double") / lit(1e4),
        col("pcyy").cast("double") / lit(1e8),
        col("pcxy").cast("double") / lit(1e4)), 9))
      .withColumn("zq", when(col("n") > 1L,
        Det.quantize((col("rhoq").cast("double") / lit(1e9))
          * sqrt((col("n") - 1L).cast("double")), 9)))
      .select(col("n").as("n_users"),
        (col("rhoq").cast("double") / lit(1e9)).as("spearman_rho"),
        (col("pearsonq").cast("double") / lit(1e9)).as("pearson_r"),
        (col("zq").cast("double") / lit(1e9)).as("z"),
        (abs(col("zq")) >= lit(LogrankZCritQ)).as("reject_5pct"))
  }

  /** CONTINGENCY ASSOCIATION (chi² + Cramér's V) — the categorical
    * counterpart of [[spearman]]: is the event-type mix day-of-week
    * dependent? The r×c chi² tests it and Cramér's V
    * = √(χ²/(n·min(r−1,c−1))) sizes it on [0,1] — the effect measure
    * that needs NO critical-value table (dof here is 24, past any
    * pinned literal; a platform reads V, not stars). Also reports the
    * top-contributing cell (largest standardized χ² term) — the
    * actionable half, as in [[ksTest]].
    *
    * Day-of-week comes from epoch-day arithmetic ((days since
    * 1970-01-01) % 7; 1970-01-01 was a Thursday → 0 = Thu), never the
    * engines' dayofweek() whose origin conventions differ. Scale: one
    * corpus groupBy to the r×c cell frame; margins/totals are windows
    * over that model-sized frame; the top cell is ORDER BY + LIMIT 1.
    * Determinism: counts exact; per-cell χ² terms quantize to 1e-6
    * before the exact sum; V quantizes to 1e-9; degenerate single-
    * row/column grids yield NULL V identically.
    */
  val typeDowAssociation: GraftQuery = GraftQuery.oneRow(
    "events_type_dow_association",
    "event-type x day-of-week contingency: chi2, dof, Cramer's V effect size, top-contributing cell",
    EventOracle.typeDowAssociationSql) { (s, d) =>
    typeDowFrame(Tables.events(s, d))
  }

  /** The contingency derivation over any events frame — shared by the
    * registry query and the exact-independence / perfect-association
    * fixtures (EventQueriesSpec).
    */
  def typeDowFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = events
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    // DENSE r x c grid: absent cells are O = 0 observations whose
    // (0-E)^2/E terms carry chi-square mass — dropping them understates
    // the statistic exactly where association is strongest
    val grid = obs.select(col("event_type")).distinct()
      .crossJoin(broadcast(obs.select(col("dow")).distinct()))
    val cells = grid.join(obs, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("rt", sum(col("o")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("dow"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .withColumn("e", col("rt").cast("double") * col("ct").cast("double")
        / col("n").cast("double"))
      .withColumn("c2q", Det.quantize(
        (col("o").cast("double") - col("e"))
          * (col("o").cast("double") - col("e")) / col("e"), 6))
    val summary = cells.agg(
      min(col("n")).as("n_events"),
      countDistinct(col("event_type")).as("r"),
      countDistinct(col("dow")).as("c"),
      sum(col("c2q")).as("chi2q"))
    val top = cells.orderBy(col("c2q").desc, col("event_type"), col("dow"))
      .limit(1)
      .select(col("event_type").as("top_type"), col("dow").as("top_dow"),
        (col("c2q").cast("double") / lit(1e6)).as("top_cell_chi2"))
    summary.crossJoin(broadcast(top))
      .withColumn("dof", (col("r") - 1L) * (col("c") - 1L))
      .withColumn("mind",
        when(col("r") - 1L <= col("c") - 1L, col("r") - 1L)
          .otherwise(col("c") - 1L))
      .withColumn("vq", when(col("mind") > 0L, Det.quantize(
        sqrt((col("chi2q").cast("double") / lit(1e6))
          / (col("n_events").cast("double") * col("mind").cast("double"))),
        9)))
      .select(col("n_events"), col("r").as("n_types"), col("c").as("n_dows"),
        col("dof"),
        (col("chi2q").cast("double") / lit(1e6)).as("chi2"),
        (col("vq").cast("double") / lit(1e9)).as("cramers_v"),
        col("top_type"), col("top_dow"), col("top_cell_chi2"))
  }

  /** POWER CURVE OVER RUNTIME — the planning table [[abPower]]'s scalar
    * cannot give: "how long must this experiment run before a 1% lift
    * is detectable?" For each day of the corpus, the audience enrolled
    * SO FAR (cumulative first-seen users per hash arm) is combined with
    * the corpus-level pooled variance into the running MDE at 5%/80%,
    * MDE(d) = (z_a+z_b)·√(var·(1/n_a(d)+1/n_b(d))), absolute and
    * relative to the control mean, plus the reaches-1% flag — the row
    * where it first flips true IS the required runtime.
    *
    * Scale shape: one corpus shuffle to per-user (first day, arm,
    * total); the daily-enrollment counts and cumulative windows are
    * calendar-bounded; variance comes from the same user-grain pass
    * (checkpointed) via the [[abTest]] sufficient statistics.
    * Determinism: enrollment counts exact; the variance recomposition
    * is the abPower shape; per-day MDE quantizes to 1e-6 and the flag
    * compares the quantized value against the exact 1%-of-mean bound
    * through a shared shape.
    */
  val powerCurve: GraftQuery = GraftQuery(
    "events_power_curve",
    "experiment-runtime planning: cumulative enrolled users per arm by day, running MDE at 5%/80%, first day a 1% lift is detectable",
    EventOracle.powerCurveSql) { (s, d) =>
    powerCurveFrame(Tables.events(s, d))
  }

  /** The power-curve derivation over any events frame — shared by the
    * registry query and the hand-arrival fixture (EventQueriesSpec).
    */
  def powerCurveFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .select(col("user_id"), col("ts"), Det.quantize(col("value")).as("vq"))
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"), sum(col("vq")).as("uq"))
      .withColumn("arm",
        graft.text.TextFns.hash60(col("user_id").cast("string")) % 2)
      .localCheckpoint() // user-grain: variance pass + enrollment pass
    val uqSq = when(abs(col("uq")) > lit(MaxSqAbs),
      raise_error(lit("events_power_curve: per-user total overflows " +
        "the ssq quantum — widen the quantum")).cast("long"))
      .otherwise(col("uq") * col("uq"))
    val sc = lit(Det.pow10(4).toDouble)
    val stats = perUser.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("uq")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 0, uqSq).otherwise(0L)).as("qa"),
        sum(when(col("arm") === 1, col("uq")).otherwise(0L)).as("sb"),
        sum(when(col("arm") === 1, uqSq).otherwise(0L)).as("qb"))
      .withColumn("mean_a",
        when(col("n_a") > 0L, col("sa") / sc / col("n_a")))
      .withColumn("var_a", when(col("n_a") > 1L,
        (col("qa") / (sc * sc) - (col("sa") / sc) * (col("sa") / sc)
          / col("n_a")) / (col("n_a") - lit(1))))
      .withColumn("var_b", when(col("n_b") > 1L,
        (col("qb") / (sc * sc) - (col("sb") / sc) * (col("sb") / sc)
          / col("n_b")) / (col("n_b") - lit(1))))
      .withColumn("var_pooled",
        when(col("n_a") > 1L && col("n_b") > 1L,
          ((col("n_a") - 1L) * col("var_a") + (col("n_b") - 1L)
            * col("var_b")) / (col("n_a") + col("n_b") - lit(2L))))
      .select(col("mean_a"), col("var_pooled"))
    val daily = perUser.groupBy(col("first_day"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("da"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("db"))
    val w = Window.orderBy(col("first_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("users_a", sum(col("da")).over(w))
      .withColumn("users_b", sum(col("db")).over(w))
      .crossJoin(broadcast(stats))
      .withColumn("mdeq",
        when(col("users_a") > 0L && col("users_b") > 0L
            && col("var_pooled") > 0,
          Det.quantize(lit(PowerZSum) * sqrt(col("var_pooled")
            * (lit(1.0) / col("users_a").cast("double")
              + lit(1.0) / col("users_b").cast("double"))), 6)))
      .select(col("first_day").as("day"), col("users_a"), col("users_b"),
        (col("mdeq").cast("double") / lit(1e6)).as("mde_abs"),
        (col("mdeq").cast("double") / lit(1e6) / col("mean_a"))
          .as("mde_rel"),
        (col("mdeq").cast("double") / lit(1e6)
          <= lit(PowerMdeRel) * col("mean_a")).as("reaches_1pct"))
      .orderBy("day")
  }

  /** Tail-sample size for [[tailHill]] (top k order statistics). */
  val TailK = 256

  /** HILL TAIL-INDEX ESTIMATOR — the heavy-tail diagnosis behind every
    * capacity/SLO question the quantile family ([[graft.loan
    * .PortfolioQueries]] percentiles, GK cutoffs) cannot answer: those
    * report WHERE the p99 is, this estimates HOW the tail decays.
    * Fitting survival ~ x^(-1/γ) over the top k order statistics:
    * γ̂ = (1/k)·Σ_{i≤k} ln(X_(i)/X_(k+1)) — the Hill estimator, the
    * standard extreme-value tool; α = 1/γ is the tail index (α ≤ 2
    * means infinite variance — the regime where [[abTest]]'s normal
    * interval and mean-based SLOs silently break and
    * [[bootstrapCi]]/medians are the honest tools). Also extrapolates
    * the p99.99 via the inverted fit x_q = X_(k+1)·(k/(n(1−q)))^γ —
    * the quantile the corpus is too small to witness directly.
    *
    * Scale shape: the top-(k+1) cut is an ORDER BY + LIMIT Spark plans
    * as TakeOrderedAndProject — per-partition size-(k+1) heaps merged
    * once, never a global sort (a global row_number window would move
    * the corpus to ONE partition; the rank is assigned AFTER the cut,
    * over the k+1-row frame, which then checkpoints so the three
    * consumers share one corpus pass); n is one pushed-down count;
    * everything after runs on k+1 rows with broadcast scalars.
    * Determinism: the cut's total order is (value desc, event_id) on
    * both engines; per-term ln ratios
    * quantize to 1e-9 LONGs before the order-insensitive sum (the
    * survivalKm ln convention); the extrapolation's ln also quantizes
    * before the multiply so exp sees identical doubles on both engines.
    * Precondition: > k positive values (all gate SFs hold it; the k+1
    * frame going empty would fail the one-row invariant loudly).
    */
  val tailHill: GraftQuery = GraftQuery.oneRow(
    "events_tail_hill",
    s"Hill tail-index over the top $TailK event values: gamma, alpha = 1/gamma, infinite-variance flag, extrapolated p99.99",
    EventOracle.tailHillSql) { (s, d) =>
    tailHillFrame(Tables.events(s, d), TailK)
  }

  /** The Hill derivation over any events frame at tail size `k` —
    * shared by the registry query (k = [[TailK]]) and the hand/planted
    * Pareto fixtures (EventQueriesSpec).
    */
  def tailHillFrame(events: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = events.filter(col("value") > lit(0.0))
      .select(col("value"), col("event_id"))
    val nAgg = pos.agg(count(lit(1)).as("n_events"))
    val top = pos
      .orderBy(col("value").desc, col("event_id")).limit(k + 1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("value").desc, col("event_id"))))
      .localCheckpoint() // k+1 rows: one corpus pass for all 3 consumers
    val thr = top.filter(col("rn") === k + 1).select(col("value").as("thr"))
    val ta = top.filter(col("rn") <= k).crossJoin(broadcast(thr))
      .select(Det.quantize(log(col("value") / col("thr")), 9).as("eq"))
      .agg(count(lit(1)).as("k"), sum(col("eq")).as("sq"))
    nAgg.crossJoin(broadcast(ta)).crossJoin(broadcast(thr))
      .withColumn("gamma", when(col("k") > 0L,
        col("sq").cast("double") / lit(1e9) / col("k").cast("double")))
      .withColumn("lq", Det.quantize(log(col("k").cast("double")
        / (col("n_events").cast("double") * lit(1e-4))), 9))
      .select(col("n_events"), col("k"), col("thr"), col("gamma"),
        when(col("gamma") > 0, lit(1.0) / col("gamma")).as("alpha"),
        when(col("gamma") > 0, lit(1.0) / col("gamma") <= lit(2.0))
          .as("infinite_variance"),
        when(col("gamma") > 0, col("thr")
          * exp(col("gamma") * (col("lq").cast("double") / lit(1e9))))
          .as("p9999_extrapolated"))
  }

  def all: Seq[GraftQuery] =
    Seq(jsonRollup, tumbling, sliding, sessions, asOfJoin, rangeJoin,
      saltedRollup, saltedJoin, bradleyTerry, interarrival, gapFill,
      funnel, funnelLatency,
      conversionPaths, retention, anomaly, anomalyMad,
      attribution, attributionPairs, multitouch, autocorr, crosscorr,
      cusum, stlDecompose, forecastBacktest, forecastConformal,
      streamDedup, dailyDistinct,
      weeklySketchRollup, markovTransitions,
      sequenceTrigrams, scd2Dimension, scd2Merge, cdcApply, scd2Churn,
      cdcEvolve, snapshotDiff, abTest, audienceOverlap, cohortLtv, sloBurn,
      kAnonymity, lDiversity, contributionCap, dpRelease, ewmaChart,
      ewmaFrozen,
      abCuped,
      survivalKm, survivalCohorts, survivalLogrank, funnelZtest,
      didEstimate,
      targetEncoding, valueWinsorize, abSequential, trendTheilSen,
      pitTraining, keySkew, kpiContribution, changepointBinseg,
      srmCheck, srmFdr, abPower, bootstrapCi, tailHill, ksTest,
      abWinsorized,
      spearman, typeDowAssociation, powerCurve)
}
