package graft.relational

import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.{Det, GraftQuery}

/** Core relational coverage on the raw corpus tables — scan + pushed-down
  * filter + multi-measure hash agg, and a star join with broadcast dims.
  * These are the bench headliners: at sf0.1 they touch the 600k-row
  * lineitem; at 100 TB the same plans hold (filter reaches the parquet
  * scan as PushedFilters, dims broadcast, the single shuffle carries
  * partial agg states only).
  */
object RelationalQueries {

  /** Pricing summary (TPC-H Q1 shape): filtered scan + 8-measure hash agg
    * on a 6-value grouping key. Whole-stage-codegen'd end to end; the only
    * shuffle moves ~6 partial-state rows per partition.
    */
  val pricingSummary: GraftQuery = GraftQuery(
    "pricing_summary",
    "filtered scan + multi-measure groupBy on lineitem (TPC-H Q1 shape)",
    RelationalOracle.pricingSummarySql) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.sumQ(col("l_quantity")).as("sum_qty"),
        Det.sumQ(col("l_extendedprice")).as("sum_base_price"),
        Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        Det.avgQ(col("l_quantity")).as("avg_qty"),
        Det.avgQ(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Revenue by nation (TPC-H Q5 shape): lineitem⋈orders shuffle join on the
    * fact keys; customer side joins then the 25-row nation dim is broadcast
    * (explicit hint — at any scale the dim stays driver-sized).
    */
  val revenueByNation: GraftQuery = GraftQuery(
    "revenue_by_nation",
    "star join (broadcast dim) + groupBy revenue per nation",
    RelationalOracle.revenueByNationSql) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** TPC-H Q5 proper: the CYCLIC 6-relation join (the `c_nationkey =
    * s_nationkey` local-supplier edge closes a cycle in the join graph —
    * the planner must pick an order for a non-tree query, the classic
    * join-reorder stress). Region/nation are broadcast dims; the supplier
    * join carries the cycle edge as a second equi-condition, so it stays
    * a plain hash join (no post-filter of a wider join). Revenue through
    * [[Det.sumQ]] for order-insensitive bit parity.
    */
  val localSupplierRevenue: GraftQuery = GraftQuery(
    "local_supplier_revenue",
    "TPC-H Q5: cyclic 6-way join (local supplier), revenue per ASIA nation",
    RelationalOracle.localSupplierRevenueSql) { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey")
          && col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** Order-priority counts with a date-range filter pushed to the scan and a
    * left-semi existence check against lineitem (TPC-H Q4 shape).
    */
  val orderPriority: GraftQuery = GraftQuery(
    "order_priority_counts",
    "range filter + left_semi existence join + groupBy (TPC-H Q4 shape)",
    RelationalOracle.orderPrioritySql) { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d).select("l_orderkey")
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Forecast revenue change (TPC-H Q6 shape): pure filtered scan + one
    * global sum — every predicate reaches the parquet reader as a pushed
    * filter, zero joins, one partial+final agg row per partition.
    */
  val forecastRevenue: GraftQuery = GraftQuery.oneRow(
    "forecast_revenue",
    "pushed-down multi-predicate scan + global sum (TPC-H Q6 shape)",
    RelationalOracle.forecastRevenueSql) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(Det.sumQ(col("l_extendedprice") * col("l_discount"), 6).as("revenue"))
  }

  /** Smoothing constant for [[forecastSes]]. */
  val SesAlpha = 0.3

  /** Simple-exponential-smoothing revenue forecast — the time-series
    * smoothing primitive over the monthly order revenue series: the SES
    * recursion s_t = a x_t + (1-a) s_(t-1), s_1 = x_1, computed by its
    * CLOSED FORM (each month's level is an explicit weighted sum of all
    * earlier months) so there is no sequential dependency to execute —
    * the t x j weight triangle is calendar-bounded (months², never data
    * volume), and each weight quantizes to 1e-9 right after its one
    * `pow`. The level column IS the one-step-ahead forecast for the next
    * month. Monthly revenues and weighted terms are exact quantized-LONG
    * sums.
    */
  val forecastSes: GraftQuery = GraftQuery(
    "revenue_forecast_ses",
    s"exponential smoothing (a=$SesAlpha) of monthly order revenue: level = next-month forecast",
    RelationalOracle.forecastSesSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w0 = Window.orderBy("month")
    val m = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(Det.sumQ(col("o_totalprice"), 4).as("revenue"))
      .withColumn("t", row_number().over(w0))
      .localCheckpoint()
    val decay = lit(1.0 - SesAlpha)
    val wq = floor(
      when(col("j") === 1, pow(decay, col("t") - 1))
        .otherwise(lit(SesAlpha) * pow(decay, col("t") - col("j")))
        * lit(1e9) + lit(0.5)) / lit(1e9)
    m.as("a").join(m.as("b"), col("b.t") <= col("a.t"))
      .select(col("a.month").as("month"), col("a.t").as("t"),
        col("b.t").as("j"), col("b.revenue").as("xj"))
      .withColumn("wq", wq)
      .groupBy(col("month"))
      .agg((sum(Det.quantize(col("xj") * col("wq"), 4)) /
        lit(Det.pow10(4))).as("level"))
      .join(m.select(col("month"), col("revenue")), "month")
      .select(col("month"), col("revenue"), col("level"))
      .orderBy("month")
  }

  /** Shipping-priority top-10 (TPC-H Q3 shape): segment-filtered customer
    * dim joins the date-filtered fact tables; revenue per order; top-10.
    */
  val shippingPriority: GraftQuery = GraftQuery(
    "shipping_priority",
    "3-way join + per-order revenue + top-10 (TPC-H Q3 shape)",
    RelationalOracle.shippingPrioritySql) { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  /** Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER join
    * whose predicates live in the ON clause, then a histogram over the
    * PRESERVED side including the zero bucket. The ON-vs-WHERE distinction
    * is the whole point for an outer join — and the two predicates
    * exercise both sides of it:
    *
    *   - `o_orderstatus <> 'F'` guards the NON-preserved side: Catalyst
    *     may (and must, for scale) push it below the join into the orders
    *     scan — a non-matching order just becomes a null, never drops a
    *     customer.
    *   - `c_acctbal > 0` guards the PRESERVED side: pushing it below the
    *     join would DELETE customers from the result instead of zeroing
    *     their count — it must stay in the join condition. (As a WHERE it
    *     would be a different query.)
    *
    * PlanSpec pins both placements. Scale shape: one shuffle to the
    * per-customer counts (partial-aggregated), one tiny histogram agg.
    */
  val customerOrderDistribution: GraftQuery = GraftQuery(
    "customer_order_distribution",
    "TPC-H Q13: left join with ON-clause predicates + order-count histogram incl. zeros",
    RelationalOracle.customerOrderDistributionSql) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d),
        col("c_custkey") === col("o_custkey")
          && col("o_orderstatus") =!= "F"
          && col("c_acctbal") > 0,
        "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** Multi-correlation on one fact (TPC-H Q21 shape), dialect-shared SQL:
    * the EXISTS becomes a left-semi join and the NOT EXISTS a left-anti
    * join, BOTH against lineitem re-keyed on l_orderkey — chained hash
    * joins, never a per-row subquery probe or a nested loop (PlanSpec pins
    * both join types). The NOT EXISTS correlates through the OUTER orders
    * row (`o_orderdate` bounds l3's shipdate), so its anti join carries a
    * non-equi residual on top of the equi key — the hard decorrelation
    * case. 100 TB shape: three shuffles on l_orderkey (fact⋈orders, semi,
    * anti), each AQE-coalesced, supplier dim broadcast into the tiny
    * post-filter frame.
    */
  val suppliersWaiting: GraftQuery = GraftQuery.shared(
    "suppliers_waiting",
    "EXISTS + NOT EXISTS on one fact -> chained semi/anti joins (TPC-H Q21 shape)",
    RelationalOracle.suppliersWaitingSql) { (s, d) =>
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
  }

  /** Data-validation sweep: referential integrity (anti-join counts),
    * domain checks, and malformed-content counts across the corpus — the
    * profiling/validation operator every ingestion pipeline runs first.
    * Each check is one pruned scan; the result is a tiny tagged union.
    */
  val qualityChecks: GraftQuery = GraftQuery(
    "corpus_quality_checks",
    "data validation: referential/domain/malformed-content checks per table",
    RelationalOracle.qualityChecksSql) { (s, d) =>
    def one(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_bad")).select(lit(name).as("check_name"), col("n_bad"))
    val orders = Tables.orders(s, d)
    val checks = Seq(
      one("documents_empty_text",
        Tables.documents(s, d).filter(length(trim(col("text"))) === 0)),
      one("embeddings_bad_dim",
        Tables.embeddings(s, d).filter(size(col("embedding")) =!= 64)),
      one("events_bad_json",
        Tables.events(s, d)
          .filter(get_json_object(col("props"), "$.k").isNull)),
      one("lineitem_orphan_order",
        Tables.lineitem(s, d).select(col("l_orderkey"))
          .join(orders.select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_anti")),
      one("orders_negative_total",
        orders.filter(col("o_totalprice") <= 0)),
      one("orders_orphan_customer",
        orders.select(col("o_custkey"))
          .join(Tables.customer(s, d).select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_anti")))
    checks.reduce(_ unionByName _).orderBy("check_name")
  }

  /** ONE-PASS COLUMN PROFILER — the ingest-time companion of
    * `corpus_quality_checks` (that one counts rule VIOLATIONS; this
    * publishes the per-column METRICS a catalog page shows): for every
    * orders column in a single aggregate pass — null count, EXACT
    * distinct count, typed min/max (numerics and timestamps surface as
    * doubles — timestamps as epoch micros, exact under 2^53; strings
    * as strings), and the mean over non-null values for the numeric
    * columns. The Deequ/profiler staple, engine-native.
    *
    * Scale shape: one aggregate pass; the exact COUNT(DISTINCT)s expand
    * the pass per distinct-column (Spark's Expand) — the profile is a
    * maintenance query where exactness is the point at gate SF; at
    * 100 TB the HLL path substitutes per column with the error band
    * attested (`product_type_approx_distinct` precedent). Determinism:
    * counts/min/max exact; means are exact-integer divisions (doubles
    * quantized at 1e-4 first).
    */
  val tableProfile: GraftQuery = GraftQuery(
    "orders_table_profile",
    "one-pass column profile of orders: nulls, exact distinct, typed min/max, non-null means",
    RelationalOracle.tableProfileSql) { (s, d) =>
    profileFrame(Tables.orders(s, d))
  }

  /** The profiler over any orders-shaped frame — shared by the registry
    * query and the planted-nulls fixture (RelationalSpec).
    */
  def profileFrame(orders0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // single-row-group input → the Expand×7 partial aggregate otherwise
    // runs on one core (guide §2.5); no-op at real scan parallelism
    val orders = graft.api.Par.spread(orders0)
    val a = orders.agg(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("c_ok"),
      countDistinct(col("o_orderkey")).as("d_ok"),
      min(col("o_orderkey")).as("mn_ok"), max(col("o_orderkey")).as("mx_ok"),
      sum(col("o_orderkey")).as("s_ok"),
      count(col("o_custkey")).as("c_ck"),
      countDistinct(col("o_custkey")).as("d_ck"),
      min(col("o_custkey")).as("mn_ck"), max(col("o_custkey")).as("mx_ck"),
      sum(col("o_custkey")).as("s_ck"),
      count(col("o_orderstatus")).as("c_st"),
      countDistinct(col("o_orderstatus")).as("d_st"),
      min(col("o_orderstatus")).as("mn_st"),
      max(col("o_orderstatus")).as("mx_st"),
      count(col("o_totalprice")).as("c_tp"),
      countDistinct(col("o_totalprice")).as("d_tp"),
      min(col("o_totalprice")).as("mn_tp"), max(col("o_totalprice")).as("mx_tp"),
      sum(Det.quantize(col("o_totalprice"))).as("sq_tp"),
      count(col("o_orderdate")).as("c_dt"),
      countDistinct(col("o_orderdate")).as("d_dt"),
      min(col("o_orderdate")).as("mn_dt"), max(col("o_orderdate")).as("mx_dt"),
      count(col("o_orderpriority")).as("c_pr"),
      countDistinct(col("o_orderpriority")).as("d_pr"),
      min(col("o_orderpriority")).as("mn_pr"),
      max(col("o_orderpriority")).as("mx_pr"))
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    def longRow(ord: Int, name: String, c: String, dd: String, mn: String,
        mx: String, ss: String) =
      struct(lit(ord.toLong).as("ord"), lit(name).as("col_name"),
        lit("bigint").as("kind"), col("n").as("n_rows"),
        (col("n") - col(c)).as("n_nulls"), col(dd).as("n_distinct"),
        col(mn).cast("double").as("min_num"),
        col(mx).cast("double").as("max_num"),
        (col(ss).cast("double") / col(c).cast("double")).as("mean_num"),
        nullS.as("min_str"), nullS.as("max_str"))
    def strRow(ord: Int, name: String, c: String, dd: String, mn: String,
        mx: String) =
      struct(lit(ord.toLong).as("ord"), lit(name).as("col_name"),
        lit("string").as("kind"), col("n").as("n_rows"),
        (col("n") - col(c)).as("n_nulls"), col(dd).as("n_distinct"),
        nullD.as("min_num"), nullD.as("max_num"), nullD.as("mean_num"),
        col(mn).as("min_str"), col(mx).as("max_str"))
    val rows = array(
      longRow(1, "o_orderkey", "c_ok", "d_ok", "mn_ok", "mx_ok", "s_ok"),
      longRow(2, "o_custkey", "c_ck", "d_ck", "mn_ck", "mx_ck", "s_ck"),
      strRow(3, "o_orderstatus", "c_st", "d_st", "mn_st", "mx_st"),
      struct(lit(4L).as("ord"), lit("o_totalprice").as("col_name"),
        lit("double").as("kind"), col("n").as("n_rows"),
        (col("n") - col("c_tp")).as("n_nulls"), col("d_tp").as("n_distinct"),
        col("mn_tp").as("min_num"), col("mx_tp").as("max_num"),
        (col("sq_tp") / lit(Det.pow10(4)) / col("c_tp")).as("mean_num"),
        nullS.as("min_str"), nullS.as("max_str")),
      struct(lit(5L).as("ord"), lit("o_orderdate").as("col_name"),
        lit("timestamp").as("kind"), col("n").as("n_rows"),
        (col("n") - col("c_dt")).as("n_nulls"), col("d_dt").as("n_distinct"),
        // NTZ -> TZ cast under the pinned UTC session = the same instant
        // DuckDB's epoch_us reads from the naive timestamp
        unix_micros(col("mn_dt").cast("timestamp")).cast("double")
          .as("min_num"),
        unix_micros(col("mx_dt").cast("timestamp")).cast("double")
          .as("max_num"),
        nullD.as("mean_num"), nullS.as("min_str"), nullS.as("max_str")),
      strRow(6, "o_orderpriority", "c_pr", "d_pr", "mn_pr", "mx_pr"))
    a.select(inline(rows)).orderBy("ord")
  }

  /** HLL relative-error acceptance band for [[tableProfileApprox]]:
    * 5σ at the requested rsd=0.01, floored at 5 absolute for tiny columns
    * (the `product_type_approx_distinct` convention).
    */
  val ProfileHllBand = 0.05

  /** The profiled orders columns, in catalog order. */
  val ProfileCols: Seq[(Int, String)] = Seq(
    (1, "o_orderkey"), (2, "o_custkey"), (3, "o_orderstatus"),
    (4, "o_totalprice"), (5, "o_orderdate"), (6, "o_orderpriority"))

  /** lgConfigK for the profiler's datasketches HLL: rsd ≈ 1.04/√2^14 ≈
    * 0.8%, so the [[ProfileHllBand]] 5% acceptance band sits at ~6σ.
    */
  val ProfileHllLgK = 14

  /** Injective sketch key per column type — hll_sketch_agg accepts
    * int/long/string/binary only, so doubles ride their (injective)
    * string rendering and timestamps their epoch-micros LONG. Cardinality
    * is preserved exactly; only the hashed representation changes.
    */
  private def sketchKey(df: org.apache.spark.sql.DataFrame, c: String)
      : org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType => col(c).cast("string")
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(c).cast("timestamp"))
      case _ => col(c)
    }

  /** The PROFILE pass a deployment keeps: row/null counts + six HLL
    * buffers in one Expand-free aggregate (every row updates six
    * fixed-size sketches map-side; the shuffle carries sketch bytes).
    * Shared with PlanSpec's Expand-absence pin.
    *
    * Sketch choice (round 21): datasketches HLL ([[ProfileHllLgK]],
    * `hll_sketch_agg`) instead of `approx_count_distinct(rsd = 0.01)` —
    * HLL++ at that precision carries ~1.5k LONG buffer slots PER COLUMN
    * through the aggregate, and six of them made the physical plan
    * ~640 KB with two multi-second single-task stages of codegen/eval
    * overhead (plans/r21/orders_table_profile_approx_before.txt); the
    * datasketches buffer is one binary blob per column, same one-pass
    * no-Expand shape, and the estimate only feeds the est_ok attestation
    * (5% band ≈ 6σ at lgK 14 — strictly tighter than the old 5σ).
    */
  def profileSketchFrame(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // NO [[graft.api.Par.spread]] here, deliberately: the six fixed-size
    // HLL buffers update map-side — cheaper than the exchange an input
    // respread costs — and the scan-shaped one-pass plan IS the artifact
    // (PlanSpec pins Expand absent from it)
    val sketchAggs = Seq(count(lit(1)).as("n")) ++ ProfileCols.flatMap {
      case (i, c) => Seq(count(col(c)).as(s"c_$i"),
        hll_sketch_estimate(
          hll_sketch_agg(sketchKey(orders, c), lit(ProfileHllLgK)))
          .as(s"a_$i"))
    }
    orders.agg(sketchAggs.head, sketchAggs.tail: _*)
  }

  /** The EXECUTABLE 100 TB substitution [[tableProfile]]'s scaladoc
    * promises in prose: the same six-column orders profile with
    * datasketches HLL (`hll_sketch_agg`, lgK [[ProfileHllLgK]] — see
    * [[profileSketchFrame]] for why not `approx_count_distinct`)
    * replacing the exact
    * COUNT(DISTINCT)s. The six HLL buffers all partial-aggregate in ONE
    * pass with NO Expand — each input row updates six fixed-size
    * sketches map-side and the shuffle carries sketch bytes, not values
    * (the plan difference vs the exact profiler is the whole point;
    * PlanSpec pins Expand absent from [[profileSketchFrame]]'s plan and
    * present in [[profileFrame]]'s).
    *
    * Grading: HLL bits differ between engines, so the estimates are
    * attested in-band rather than surfaced — each column row carries the
    * exact distinct count (computed ONLY to ground the attestation, the
    * `product_type_approx_distinct` precedent) and a boolean asserting
    * |est − exact| ≤ max(5, [[ProfileHllBand]]·exact); the oracle
    * recomputes the exact counts and asserts TRUE. A production
    * deployment drops the exact leg and keeps the one-pass sketch plan.
    */
  val tableProfileApprox: GraftQuery = GraftQuery(
    "orders_table_profile_approx",
    "one-pass HLL column profile of orders: nulls + approx distinct per column, 5-sigma attestation vs exact",
    RelationalOracle.tableProfileApproxSql) { (s, d) =>
    val orders = Tables.orders(s, d)
    val cols = ProfileCols
    val sk = profileSketchFrame(orders)
    // the grading-only exact leg, a SEPARATE aggregate so the sketch
    // pass above stays the genuine one-pass plan (this one pays the
    // Expand; production drops it)
    val exactAggs = cols.map { case (i, c) =>
      countDistinct(col(c)).as(s"d_$i")
    }
    val ex = graft.api.Par.spread(orders).agg(exactAggs.head, exactAggs.tail: _*)
    val rows = array(cols.map { case (i, c) =>
      struct(lit(i.toLong).as("ord"), lit(c).as("col_name"),
        col("n").as("n_rows"),
        (col("n") - col(s"c_$i")).as("n_nulls"),
        col(s"d_$i").as("n_distinct"),
        (abs(col(s"a_$i") - col(s"d_$i")).cast("double") <=
          greatest(lit(5.0), col(s"d_$i").cast("double")
            * lit(ProfileHllBand))).as("est_ok"))
    }: _*)
    sk.crossJoin(broadcast(ex)).select(inline(rows)).orderBy("ord")
  }

  /** Correlated scalar subquery (TPC-H Q17 shape), run through the SQL
    * surface: the frame registers the corpus views and executes the SAME
    * text the DuckDB oracle runs. Catalyst decorrelates the per-part
    * `0.2 * AVG(l_quantity)` subquery into one aggregate over lineitem
    * joined back on l_partkey — a per-row subquery probe would be O(n)
    * scans; the decorrelated plan is two scans and one join at any scale
    * (PlanSpec pins the rewrite).
    */
  val smallQtyRevenue: GraftQuery = GraftQuery.shared(
    "part_small_qty_revenue",
    "correlated scalar subquery, decorrelated to agg+join (TPC-H Q17 shape)",
    RelationalOracle.smallQtyRevenueSql) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
  }

  /** Correlated scalar-MIN over a JOIN (TPC-H Q2 shape): cheapest
    * EUROPE supplier per part, the remaining decorrelation classic —
    * unlike Q17's single-table correlated AVG, the subquery here ranges
    * over a four-table join and must STILL decorrelate into one
    * min-aggregate over that join equi-joined back on l_partkey
    * (PlanSpec pins no surviving ScalarSubquery and the agg side's
    * l_partkey join). 100 TB shape: the min-side join shuffles lineitem
    * once on l_suppkey (supplier/nation/region broadcast), aggregates
    * per part (map-side partial MIN), then one equi-join on l_partkey
    * back to the outer join — two fact shuffles total, vs a per-part
    * re-scan of the join for a surviving subquery. Dialect-shared SQL
    * (the Q17/Q18/Q21/Q22 convention).
    */
  val cheapestSupplier: GraftQuery = GraftQuery.shared(
    "cheapest_supplier_per_part",
    "correlated scalar-MIN over a join -> agg+join (TPC-H Q2 shape)",
    RelationalOracle.cheapestSupplierSql) { (s, d) =>
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
  }

  /** Nested correlated IN (TPC-H Q20 shape): the inner IN's filter
    * carries a correlated scalar-SUM referencing TWO outer columns of a
    * grouped derived table — see [[RelationalOracle.surgeSuppliersSql]]
    * for the full decorrelation story. 100 TB shape: one (supp, part)
    * rollup shuffle of lineitem, one more for the 1996-restricted
    * aggregate (filter pushed to the scan), an equi-join between the two
    * model-sized rollups, the part filter a broadcast semi join, and the
    * outer IN a semi join into the supplier dim — a surviving correlated
    * subquery would instead re-scan lineitem once per (supp, part).
    */
  val surgeSuppliers: GraftQuery = GraftQuery.shared(
    "promo_surge_suppliers",
    "nested IN + two-column-correlated scalar SUM -> rollup join + semi joins (TPC-H Q20 shape)",
    RelationalOracle.surgeSuppliersSql) { (s, d) =>
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
  }

  /** IN-over-grouped-HAVING subquery (TPC-H Q18 shape), also dialect-shared
    * SQL: the IN becomes a left-semi join against the re-aggregated
    * lineitem — the 100 TB shape is two shuffles on l_orderkey (one for
    * the HAVING aggregate, one for the semi join), both AQE-coalesced.
    */
  val largeVolumeCustomers: GraftQuery = GraftQuery.shared(
    "large_volume_customers",
    "IN over grouped-HAVING subquery -> semi join (TPC-H Q18 shape)",
    RelationalOracle.largeVolumeCustomersSql) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
  }

  /** TPC-H Q22 shape (adapted to this schema: market segment stands in
    * for the phone country code, "no URGENT order" for "no order" — the
    * corpus gives every customer SOME order): NOT EXISTS against a
    * filtered orders subquery PLUS an uncorrelated scalar-average
    * subquery over a filtered customer set, the remaining classic
    * decorrelation pattern. Dialect-shared SQL (the Q17/Q18 convention);
    * totals and the average threshold are exact quantized-LONG sums so
    * the > comparison is partition-invariant on both engines.
    *
    * 100 TB shape (PlanSpec pins it): the NOT EXISTS must become a
    * LEFT ANTI hash join on o_custkey (never a per-row probe), and the
    * only subquery allowed to survive optimization is the UNCORRELATED
    * scalar aggregate — executed once as an independent job, which is
    * the correct plan (one extra customer-dimension pass), unlike a
    * correlated subquery's per-row re-scan.
    */
  val inactiveHighBalance: GraftQuery = GraftQuery.shared(
    "high_balance_inactive_customers",
    "NOT EXISTS anti join + uncorrelated scalar-avg subquery (TPC-H Q22 shape)",
    RelationalOracle.inactiveHighBalanceSql) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
  }

  /** Top supplier by quarterly revenue (TPC-H Q15 shape): the grouped
    * `revenue` CTE is consumed twice — joined to the supplier dim AND
    * reduced by an uncorrelated scalar MAX that picks the winner. 100 TB
    * shape: ONE lineitem shuffle produces the per-supplier rollup
    * (filter pushed to the scan, map-side partial sums); the scalar MAX
    * runs over that model-sized rollup as an independent one-row job
    * (never a per-row re-aggregation), and the final selection is an
    * equi-join between two supplier-dimension-sized frames. PlanSpec
    * pins that no correlated subquery survives and the winner filter
    * arrives as a scalar-subquery comparison, not a re-scan of
    * lineitem. Dialect-shared SQL (the Q2/Q17..Q22 convention).
    */
  val topSupplier: GraftQuery = GraftQuery.shared(
    "quarterly_top_supplier",
    "grouped CTE + uncorrelated scalar-MAX winner selection (TPC-H Q15 shape)",
    RelationalOracle.topSupplierSql) { (s, d) =>
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
  }

  /** National market share (TPC-H Q8 shape): the 8-relation acyclic star
    * with nation joined TWICE under different roles (customer-side
    * region restriction vs supplier-side measure dimension — the alias
    * disambiguation stress), reduced to a per-year share-of-total CASE
    * ratio. 100 TB shape: region/nation/part/supplier broadcast, the
    * fact chain shuffles once on l_orderkey for the orders join and once
    * for o_custkey⋈customer, then ONE partial-agg shuffle carries two
    * quantized-LONG sums per year — the share division happens on the
    * handful of year rows. Dialect-shared SQL.
    */
  val marketShare: GraftQuery = GraftQuery.shared(
    "nation_market_share",
    "double-role nation join + per-year share-of-total ratio (TPC-H Q8 shape)",
    RelationalOracle.marketShareSql) { (s, d) =>
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
  }

  /** Returned-item losses (TPC-H Q10 shape): quarter-scoped
    * customer⋈orders⋈lineitem(R-flag) rollup, top 20 by lost revenue.
    * 100 TB shape: both date bounds and the returnflag filter reach the
    * scans as PushedFilters, the nation dim broadcasts, and the LIMIT
    * runs as TakeOrderedAndProject over the per-customer aggregate —
    * never a global sort of the fact. c_custkey tiebreak keeps the cut
    * total (revenue alone can tie).
    */
  val returnedItems: GraftQuery = GraftQuery.shared(
    "returned_item_losses",
    "quarter + returnflag rollup, top-20 customers by lost revenue (TPC-H Q10 shape)",
    RelationalOracle.returnedItemSql) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.nation(s, d).createOrReplaceTempView("nation")
  }

  /** Promo revenue share (TPC-H Q14 shape): one-row conditional-aggregate
    * ratio over a month of shipments — the CASE partial sums ride the
    * same single agg pass as the denominator (one scan, zero extra
    * shuffles), the part type arrives via a broadcast join.
    */
  val promoShare: GraftQuery = GraftQuery.shared(
    "promo_revenue_share",
    "one-row conditional-aggregate ratio (TPC-H Q14 shape)",
    RelationalOracle.promoShareSql, oneRowResult = true) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
  }

  /** Brand/size/quantity band revenue (TPC-H Q19 shape): three OR'd
    * conjunctive blocks each spanning BOTH join sides — the classic
    * disjunctive-pushdown stress. The whole disjunction can't be pushed;
    * Catalyst must extract each side's common component (CNF
    * conversion), so the part scan still receives the Or'd brand/size
    * filter and the lineitem scan the Or'd quantity bands — at 100 TB
    * that's the difference between scanning ~3 brands' row groups and
    * all 25. PlanSpec pins the pushed Or on the part scan.
    */
  val brandBandRevenue: GraftQuery = GraftQuery.shared(
    "brand_band_revenue",
    "OR'd two-sided predicate blocks with CNF-extracted pushdown (TPC-H Q19 shape)",
    RelationalOracle.brandBandRevenueSql, oneRowResult = true) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
  }

  /** Product-line profit (TPC-H Q9 shape): nation x order-year profit
    * over the lineitem⋈part⋈supplier⋈orders⋈nation chain, part-name
    * restricted — the last big schema-expressible classic. 100 TB shape:
    * part/supplier/nation broadcast (the p_name LIKE filter reaches the
    * part scan before the broadcast, so the fact join prunes at probe
    * time), the orders join is the one fact-fact shuffle on l_orderkey,
    * and ONE partial-agg shuffle carries the quantized profit per
    * (nation, year) — PlanSpec pins the broadcast dims and the pushed
    * part filter. Dialect-shared SQL with the CAST-AS-DOUBLE contract.
    */
  val profitByNation: GraftQuery = GraftQuery.shared(
    "profit_by_nation",
    "5-relation profit rollup by nation x order year (TPC-H Q9 shape)",
    RelationalOracle.profitByNationSql) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.nation(s, d).createOrReplaceTempView("nation")
  }

  /** Manual runtime-filter join: a Bloom filter built over the SELECTIVE
    * side's join keys (`bloom_filter_agg`) is broadcast and probed
    * (`might_contain`) on the fact side BEFORE the shuffle — at 100 TB
    * this is the difference between shuffling all of lineitem and
    * shuffling only the ~join-surviving fraction. Spark's own
    * InjectRuntimeFilter applies the same rewrite when statistics allow;
    * the explicit form is deliberate control (and works across stages the
    * optimizer won't cross). SEMANTICS-PRESERVING: Bloom false positives
    * are removed by the exact equi-join that follows, so the oracle is the
    * plain join+agg SQL — same contract as the salted rollup.
    */
  val bloomPrefilterJoin: GraftQuery = GraftQuery(
    "urgent_revenue_bloom",
    "bloom_filter_agg/might_contain fact prefilter + exact join (oracle = plain join)",
    RelationalOracle.urgentRevenueSql) { (s, d) =>
    val sel = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"))
    // might_contain demands its filter side be a scalar subquery (the
    // shape InjectRuntimeFilter emits), so the probe goes through SQL
    sel.createOrReplaceTempView("bloom_sel_orders")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .createOrReplaceTempView("bloom_fact_lineitem")
    val pre = s.sql("""
      SELECT l_orderkey, l_extendedprice, l_discount
      FROM bloom_fact_lineitem
      WHERE might_contain(
        (SELECT bloom_filter_agg(xxhash64(o_orderkey), 100000L, 800000L)
         FROM bloom_sel_orders),
        xxhash64(l_orderkey))""")
    pre.join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("o_month"))
      .agg(
        count(lit(1)).as("n_items"),
        Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_month")
  }

  /** Supplier revenue share within nation: fact joins two broadcast dims,
    * one partial-agg shuffle to per-supplier rows, then the share and rank
    * windows run over the tiny aggregated frame partitioned by nation.
    * The nation total re-quantizes the already-exact per-supplier revenues
    * so the window SUM stays order-insensitive.
    */
  val supplierShare: GraftQuery = GraftQuery(
    "supplier_revenue_share",
    "per-supplier revenue + share/rank within nation (broadcast dims + windows)",
    RelationalOracle.supplierShareSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_suppkey"), col("s_name"), col("n_name"))
      .agg(Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
    val byNation = Window.partitionBy(col("n_name"))
    val rk = Window.partitionBy(col("n_name"))
      .orderBy(desc("revenue"), col("s_suppkey"))
    rev
      .withColumn("nation_total",
        sum(Det.quantize(col("revenue"))).over(byNation) / lit(Det.pow10(4)))
      .select(
        col("s_suppkey"), col("s_name"), col("n_name"), col("revenue"),
        (col("revenue") / col("nation_total")).as("nation_share"),
        rank().over(rk).as("rank_in_nation"))
      .orderBy(col("n_name"), col("rank_in_nation"), col("s_suppkey"))
  }

  /** The two trading nations for [[tradeVolume]] (TPC-H Q7's
    * FRANCE/GERMANY slot, mapped onto the synthetic nation names).
    */
  val TradeNationA = "NATION_3"
  val TradeNationB = "NATION_7"

  /** Cross-nation trade volume (TPC-H Q7 shape) — the SELF-ALIASED
    * dimension pattern: `nation` joins the fact twice under different
    * roles (supplier's nation via supplier, customer's nation via
    * orders->customer), with the disjunctive pair predicate
    * (A->B or B->A) applied across BOTH aliases at the join. Both
    * nation sides broadcast; the year extraction groups the revenue into
    * the (supp_nation, cust_nation, year) matrix. The shape matters at
    * scale because a single mis-aliased dim silently halves the pair
    * space — the oracle's symmetric rows are the check.
    */
  val tradeVolume: GraftQuery = GraftQuery(
    "nation_trade_volume",
    s"TPC-H Q7: $TradeNationA <-> $TradeNationB shipping volume per (supp nation, cust nation, year)",
    RelationalOracle.tradeVolumeSql) { (s, d) =>
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2),
        col("c_nationkey") === col("ck") &&
          ((col("supp_nation") === TradeNationA &&
            col("cust_nation") === TradeNationB) ||
            (col("supp_nation") === TradeNationB &&
              col("cust_nation") === TradeNationA)))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Det.sumQ(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Buckets for [[replicaDiff]]'s reconciliation partition; declared
    * before the GraftQuery val (oracle interpolation — the init-order
    * rule). 64 here; at 100 TB you'd size this so each bucket's scan is
    * one task's worth of data.
    */
  val DiffBuckets = 64

  /** Orderkey modulus whose multiples are "lost" from the simulated
    * replica — a deterministic ~0.1% discrepancy that must surface.
    */
  val DiffDropModulus = 997

  /** Replica integrity diff — how a 100 TB copy is verified WITHOUT
    * moving data: both sides compute per-bucket (hash60(PK) mod
    * [[DiffBuckets]]) row counts and an order-independent BIT_XOR
    * checksum of the per-row PK hash, and only the two tiny
    * bucket-summary frames meet. A lost/duplicated/corrupted row flips
    * its bucket's count or checksum; matching buckets are PROVEN equal
    * on the hashed columns without a row-level join. The replica here is
    * the primary minus rows with l_orderkey % [[DiffDropModulus]] = 0 —
    * a planted ~0.1% loss the diff must localize to its buckets. XOR is
    * the right fold: commutative/associative (partition-order-free, no
    * quantization needed), no overflow, and sensitive to any single-row
    * change; only exact integer columns enter the hash so both engines
    * render identical pre-images.
    */
  val replicaDiff: GraftQuery = GraftQuery(
    "replica_integrity_diff",
    s"replication reconciliation: per-bucket counts + BIT_XOR row-hash checksums, primary vs replica with a planted 1/$DiffDropModulus loss",
    RelationalOracle.replicaDiffSql) { (s, d) =>
    val pk = graft.text.TextFns.hash60(concat_ws("|",
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber")))
    def summarize(df: org.apache.spark.sql.DataFrame, side: String) =
      df.select((pk % DiffBuckets).as("bucket"), pk.as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"rows_$side"),
          expr("bit_xor(h)").as(s"xor_$side"))
    val li = Tables.lineitem(s, d)
    val primary = summarize(li, "primary")
    val replica = summarize(
      li.filter(col("l_orderkey") % DiffDropModulus =!= 0), "replica")
    primary.join(replica, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("rows_primary"), lit(0L)).as("rows_primary"),
        coalesce(col("rows_replica"), lit(0L)).as("rows_replica"),
        (coalesce(col("rows_primary"), lit(0L)) ===
          coalesce(col("rows_replica"), lit(0L)) &&
          coalesce(col("xor_primary"), lit(0L)) ===
            coalesce(col("xor_replica"), lit(0L))).as("bucket_match"))
      .orderBy("bucket")
  }

  /** RFM as-of date, pinned (max order date in the corpus) so recency is
    * reproducible. The banding CUTOFFS are no longer constants: they are
    * DATA-DERIVED terciles (p = 1/3, 2/3) of the per-customer metrics by
    * the exact nearest-rank recipe ([[graft.loan.PortfolioQueries
    * .arrearPercentiles]]): rank with a custkey tie-break, pick the
    * value at floor((n−1)·p)+1 — value PICKS, never interpolation, so
    * both engines derive bit-identical cutoffs from the same scan and
    * the segmentation adapts to the data as real CRM scoring does.
    */
  val RfmAsOf = "2001-08-01"

  /** RFM customer segmentation — the standard CRM/warehouse operator over
    * the orders fact: per customer recency (days since last order at the
    * pinned as-of), frequency (order count) and monetary (total price),
    * each banded 1-3 by the DERIVED tercile cutoffs (see [[RfmAsOf]]),
    * customers rolled into the classic score-sum segments (champion 8-9,
    * loyal 6-7, at_risk 4-5, hibernating 3). One partial-aggregated
    * groupBy by customer (the only corpus-sized shuffle), then three
    * single-partition ranking windows over the PER-CUSTOMER frame to
    * pick the six cutoffs, broadcast back into a per-row banding.
    * Scale note: the cutoff ranking sorts the customer DIMENSION, not
    * the fact table — at a 1e9-customer extreme the exact ranks swap for
    * the GK sketch (`arrear_approx_quantiles` is the attested sketch
    * path) and banding inherits the sketch's rank error at the
    * cutpoints. Determinism: recency/frequency are exact integers,
    * monetary quantized 4dp per customer before banding and summing;
    * cutoffs are picked values under a (metric, custkey) total order.
    */
  val rfmSegments: GraftQuery = GraftQuery(
    "customer_rfm_segments",
    s"RFM segmentation: data-derived tercile cutoffs at as-of $RfmAsOf, score-sum segments + per-segment rollup",
    RelationalOracle.rfmSegmentsSql) { (s, d) =>
    // checkpointed: the frame feeds three ranking windows + the banding —
    // without the cut each consumer re-runs the orders scan + shuffle
    val per = rfmPerCustomer(s, d).localCheckpoint()
    // exact nearest-rank terciles of one metric: (metric_t1, metric_t2)
    def cuts(metric: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(metric), col("o_custkey"))
      per.select(col(metric), col("o_custkey"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .agg(
          max(when(col("rk") ===
              floor((col("n") - 1) / lit(3.0)) + 1, col(metric)))
            .as(s"${metric}_t1"),
          max(when(col("rk") ===
              floor((col("n") - 1) * lit(2.0) / lit(3.0)) + 1, col(metric)))
            .as(s"${metric}_t2"))
    }
    val cut = broadcast(
      cuts("rec_days").crossJoin(cuts("freq")).crossJoin(cuts("mon")))
    val banded = per.crossJoin(cut)
      // recency: LOWER is better -> bottom tercile bands 3
      .withColumn("r", when(col("rec_days") <= col("rec_days_t1"), 3)
        .when(col("rec_days") <= col("rec_days_t2"), 2).otherwise(1))
      // frequency/monetary: HIGHER is better -> top tercile bands 3
      .withColumn("f", when(col("freq") > col("freq_t2"), 3)
        .when(col("freq") > col("freq_t1"), 2).otherwise(1))
      .withColumn("m", when(col("mon") > col("mon_t2"), 3)
        .when(col("mon") > col("mon_t1"), 2).otherwise(1))
      .withColumn("score", col("r") + col("f") + col("m"))
      .withColumn("segment",
        when(col("score") >= 8, "champion")
          .when(col("score") >= 6, "loyal")
          .when(col("score") >= 4, "at_risk")
          .otherwise("hibernating"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    banded.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("rec_days")) / count(lit(1))).as("avg_recency_days"),
        (sum(col("freq")) / count(lit(1))).as("avg_orders"),
        (sum(Det.quantize(col("mon"), 4)) / lit(Det.pow10(4)))
          .as("total_monetary"))
      .withColumn("customer_share",
        col("n_customers") / sum(col("n_customers")).over(wAll))
      .orderBy("segment")
  }

  /** approx_percentile accuracy for [[rfmSketchCutoffs]]: relative rank
    * error <= 1/accuracy, sketch memory O(accuracy * log n) — constant
    * per metric whatever the customer count.
    */
  val RfmSketchAccuracy = 10000

  /** The SKETCH path of [[rfmSegments]]' cutoff derivation, wired and
    * attested — the size switch the exact path documents: exact
    * nearest-rank terciles rank the FULL customer dimension through one
    * window (fine to ~1e8 customers; the ranking shuffle carries every
    * row), while at 1e9 customers the cutoffs come from a GK sketch
    * (`approx_percentile` at [[RfmSketchAccuracy]]) whose state is
    * O(accuracy * log n) per metric and whose partials merge in one
    * partial-agg pass — no ranking shuffle at all. This query runs BOTH
    * and attests the sketch inside the exact +-2% rank band (the
    * `arrear_approx_quantiles` convention: sketch internals are
    * engine-local, so the oracle grades the contract — the `_ok`
    * booleans must come out true and the exact cutoffs must match
    * bit-for-bit — rather than the sketch bits). The t1/t2 outputs use
    * the [[rfmSegments]] cutoff arithmetic verbatim, so this artifact
    * also certifies which cutoffs the segmentation would see on either
    * path.
    */
  val rfmSketchCutoffs: GraftQuery = GraftQuery(
    "customer_rfm_sketch_cutoffs",
    "GK-sketch RFM tercile cutoffs attested in a +-2% rank band vs the exact nearest-rank terciles",
    RelationalOracle.rfmSketchCutoffsSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val per = rfmPerCustomer(s, d).localCheckpoint(eager = false)
    val band = 0.02
    def one(metric: String, short: String) = {
      val w = Window.orderBy(col(metric), col("o_custkey"))
      def pickAt(frac: Double, name: String) =
        max(when(col("rk") === floor((col("n") - 1) * lit(frac)) + 1,
          col(metric))).as(name)
      per.select(col(metric), col("o_custkey"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .agg(
          max(col("n")).as(s"n_$short"),
          // exact cutoffs: the rfmSegments arithmetic verbatim
          max(when(col("rk") === floor((col("n") - 1) / lit(3.0)) + 1,
            col(metric))).as(s"${short}_t1"),
          max(when(col("rk") ===
              floor((col("n") - 1) * lit(2.0) / lit(3.0)) + 1,
            col(metric))).as(s"${short}_t2"),
          pickAt(1.0 / 3.0 - band, "lo1"), pickAt(1.0 / 3.0 + band, "hi1"),
          pickAt(2.0 / 3.0 - band, "lo2"), pickAt(2.0 / 3.0 + band, "hi2"),
          expr(s"approx_percentile($metric, array(${1.0 / 3}, ${2.0 / 3}), " +
            s"$RfmSketchAccuracy)").as("ap"))
        .select(col(s"n_$short"), col(s"${short}_t1"), col(s"${short}_t2"),
          element_at(col("ap"), 1).between(col("lo1"), col("hi1"))
            .as(s"${short}_t1_ok"),
          element_at(col("ap"), 2).between(col("lo2"), col("hi2"))
            .as(s"${short}_t2_ok"))
    }
    one("rec_days", "rec").crossJoin(one("freq", "frq"))
      .crossJoin(one("mon", "mon"))
      .select(col("n_rec").as("n_customers"),
        // datediff yields INT; widen to BIGINT to match the oracle's
        // date_diff, value unchanged
        col("rec_t1").cast("long").as("rec_t1"),
        col("rec_t2").cast("long").as("rec_t2"),
        col("rec_t1_ok"), col("rec_t2_ok"),
        col("frq_t1"), col("frq_t2"), col("frq_t1_ok"), col("frq_t2_ok"),
        col("mon_t1"), col("mon_t2"), col("mon_t1_ok"), col("mon_t2_ok"))
  }

  /** The per-customer RFM metric frame (o_custkey, rec_days, freq, mon)
    * — shared with RelationalSpec's derivation pin.
    */
  private[relational] def rfmPerCustomer(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit(RfmAsOf).cast("timestamp"), max(col("o_orderdate")))
          .as("rec_days"),
        count(lit(1)).as("freq"),
        (sum(Det.quantize(col("o_totalprice"), 4)) / lit(Det.pow10(4)))
          .as("mon"))

  /** KMV sketch size (k smallest distinct hash values kept per group). */
  val KmvK = 64

  /** KMV relative-error acceptance band: 4σ at σ ≈ 1/sqrt(k−2). */
  val KmvBand: Double = 4.0 / math.sqrt(KmvK - 2.0)

  /** K-minimum-values distinct sketch — the ONE cardinality sketch whose
    * bits both engines can agree on: unlike HLL++ (`product_type_
    * approx_distinct`, graded by contract attestation because DuckDB's
    * HLL differs bit-wise), KMV's state is just the [[KmvK]] smallest
    * distinct hash values, so the ORACLE REPLAYS THE SKETCH ITSELF and
    * the estimate gets full value parity: est = (k−1)/u_k with u_k the
    * k-th distinct smallest hash60 normalized to [0,1) (Beyer et al.'s
    * unbiased KMV estimator). Groups with fewer than k distinct hashes
    * fall back to the exact kept count (the sketch IS the set there).
    *
    * Scale shape: the dense_rank ≤ k cut plans as a WindowGroupLimit —
    * each input partition forwards at most its k smallest per group
    * BEFORE the exchange, which is exactly the per-partition k-min merge
    * a distributed KMV performs; no distinct-shuffle of the raw key
    * space on the sketch path. The exact count_distinct exists only to
    * ground the attestation (the `arrear_approx_quantiles` convention).
    * The estimate must land within ±[[KmvBand]] (4σ) of exact — and the
    * VALUES, not just the booleans, hash-match the oracle.
    */
  val kmvDistinct: GraftQuery = GraftQuery(
    "orders_kmv_distinct",
    s"KMV (k=$KmvK) distinct-custkey sketch per order priority: full-parity estimate + 4-sigma attestation",
    RelationalOracle.kmvDistinctSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val post = o.select(col("o_orderpriority"),
      graft.text.TextFns.hash60(col("o_custkey").cast("string")).as("h"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("h"))
    val kept = post.withColumn("dr", dense_rank().over(w))
      .filter(col("dr") <= KmvK)
    val sk = kept.groupBy(col("o_orderpriority"))
      .agg(
        max(when(col("dr") === KmvK, col("h"))).as("u_k"),
        count_distinct(col("h")).as("n_kept"))
    val exact = o.groupBy(col("o_orderpriority"))
      .agg(count_distinct(col("o_custkey")).as("exact_custkeys"))
    sk.join(exact, "o_orderpriority")
      .withColumn("kmv_estimate",
        when(col("u_k").isNull, col("n_kept").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) /
            (col("u_k") / lit(1152921504606846976.0))))
      .select(col("o_orderpriority"), col("exact_custkeys"),
        col("kmv_estimate"),
        (abs(col("kmv_estimate") / col("exact_custkeys") - lit(1.0))
          <= lit(KmvBand)).as("within_band"))
      .orderBy("o_orderpriority")
  }

  /** The two audiences [[kmvOverlap]] compares. */
  val KmvAudienceA = "1-URGENT"
  val KmvAudienceB = "5-LOW"

  /** KMV set-overlap estimation — the sketch-composition trick behind
    * audience overlap at scale, with FULL value parity (the
    * `events_audience_overlap` HLL inclusion-exclusion twin is graded by
    * contract; this one's estimator replays bit-for-bit): keep the k
    * smallest distinct hashes of the UNION with per-hash membership
    * flags; then union_est = (k−1)/u_k (the [[kmvDistinct]] estimator),
    * jaccard_est = |kept ∩ both| / min(k, kept) (the k-min signature is
    * a uniform sample of the union), inter_est = jaccard_est ×
    * union_est. One row; the exact counts ground the 4σ attestations.
    *
    * Scale shape: the union k-min is one global row_number ≤ k cut —
    * WindowGroupLimit forwards k rows per input partition, the same
    * merge discipline as [[kmvDistinct]]; the per-hash membership flags
    * are a (hash)-keyed partial agg. The exact side exists only for the
    * attestation.
    */
  val kmvOverlap: GraftQuery = GraftQuery.oneRow(
    "orders_kmv_overlap",
    s"KMV (k=$KmvK) union/Jaccard/intersection estimates for $KmvAudienceA vs $KmvAudienceB custkey audiences, 4-sigma attested",
    RelationalOracle.kmvOverlapSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin(KmvAudienceA, KmvAudienceB))
      .select(col("o_custkey"),
        when(col("o_orderpriority") === KmvAudienceA, 1).otherwise(0).as("ia"),
        when(col("o_orderpriority") === KmvAudienceB, 1).otherwise(0).as("ib"))
    val ph = o
      .select(graft.text.TextFns.hash60(col("o_custkey").cast("string"))
        .as("h"), col("ia"), col("ib"))
      .groupBy(col("h"))
      .agg(max(col("ia")).as("in_a"), max(col("ib")).as("in_b"))
    val w = Window.orderBy(col("h"))
    val sk = ph.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KmvK)
      .agg(
        max(when(col("rn") === KmvK, col("h"))).as("u_k"),
        count(lit(1)).as("n_kept"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("inter_k"))
    val exact = o.groupBy(col("o_custkey"))
      .agg(max(col("ia")).as("a"), max(col("ib")).as("b"))
      .agg(
        sum(col("a")).cast("long").as("exact_a"),
        sum(col("b")).cast("long").as("exact_b"),
        count(lit(1)).as("exact_union"),
        sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
          .as("exact_inter"))
    sk.crossJoin(broadcast(exact))
      .withColumn("kmv_union_est",
        when(col("u_k").isNull, col("n_kept").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) /
            (col("u_k") / lit(1152921504606846976.0))))
      .withColumn("kmv_jaccard_est",
        col("inter_k") / least(lit(KmvK.toLong), col("n_kept")))
      .withColumn("kmv_inter_est",
        col("kmv_jaccard_est") * col("kmv_union_est"))
      .select(
        col("exact_a"), col("exact_b"), col("exact_union"),
        col("exact_inter"),
        col("kmv_union_est"), col("kmv_jaccard_est"), col("kmv_inter_est"),
        (abs(col("kmv_union_est") / col("exact_union") - lit(1.0))
          <= lit(KmvBand)).as("union_ok"),
        (abs(col("kmv_inter_est") - col("exact_inter")) / col("exact_union")
          <= lit(2.0 / math.sqrt(KmvK.toDouble))).as("inter_ok"))
  }

  /** Bottom-k quantile-sketch sample size (rows kept per group). */
  val QsK = 256

  /** The quantiles [[bottomkQuantiles]] serves, with column tags. */
  val QsPairs: Seq[(Double, String)] =
    Seq((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))

  /** Rank-space acceptance half-width at quantile q: 4σ of the sample
    * quantile's rank, σ = sqrt(q(1−q)/k) (conservative — the bottom-k
    * sample is WITHOUT replacement, whose variance is strictly smaller).
    */
  def qsBand(q: Double): Double = 4.0 * math.sqrt(q * (1.0 - q) / QsK)

  /** BOTTOM-K-HASH QUANTILE SKETCH — the quantile analogue of
    * [[kmvDistinct]]'s full-value-parity cardinality sketch, closing the
    * gap that GK quantiles (`arrear_approx_quantiles`) are graded by
    * attestation only: keep the [[QsK]] rows with the SMALLEST key
    * hashes per group (hash60 of the unique o_orderkey = a uniform
    * row sample without replacement, deterministic and order-free), and
    * serve quantile q as the ceil(q·m)-th smallest sampled value. The
    * state is mergeable exactly like KMV — the k smallest of a union
    * are the k smallest of the merged k-min sets — which is what
    * [[graft.streaming.SketchStreams.bottomkQuantiles]] maintains
    * incrementally (StreamingSpec asserts bit-parity with this batch
    * sketch). A KLL sketch buys a better space-vs-ε trade at the cost
    * of rank-dependent compaction state; the bottom-k sample is the
    * full-parity baseline both engines can replay bit-for-bit, which no
    * randomized-compaction sketch allows.
    *
    * Grading: FULL value parity — the oracle replays the hash cut, the
    * sample ranking, and the rank arithmetic, so the served estimates
    * (not just booleans) hash-match. The exact side exists only to
    * ground the attestation (the GK convention): each estimate must lie
    * inside the exact value bracket
    * [exact(q−band), exact(q+band)] at the 4σ [[qsBand]].
    *
    * Scale shape: the hash cut plans as a WindowGroupLimit — each input
    * partition forwards at most k rows per group BEFORE the exchange
    * (the distributed bottom-k merge), so the sketch path never
    * shuffles the raw corpus; sample ranking runs on k-bounded frames.
    * The exact legs (full rank window) are the grading-only cost a
    * deployment drops. Determinism: ranks are exact row_numbers under
    * (value, o_orderkey) total order; ceil(q·m) evaluates the same
    * IEEE product on both engines; estimates are data values.
    */
  val bottomkQuantiles: GraftQuery = GraftQuery(
    "orders_bottomk_quantiles",
    s"bottom-$QsK-hash quantile sketch of o_totalprice per priority: full-parity p50/p90/p99 + 4-sigma bracket attestation",
    RelationalOracle.bottomkQuantilesSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("p"),
      col("o_orderkey").as("ok"), col("o_totalprice").as("v"))
    val wCut = Window.partitionBy(col("p")).orderBy(col("h"), col("ok"))
    val wSVal = Window.partitionBy(col("p")).orderBy(col("v"), col("ok"))
    val wSN = Window.partitionBy(col("p"))
    val sample = o
      .withColumn("h", graft.text.TextFns.hash60(col("ok").cast("string")))
      .withColumn("rn", row_number().over(wCut))
      .filter(col("rn") <= QsK)
      .withColumn("vr", row_number().over(wSVal).cast("long"))
      .withColumn("m", count(lit(1)).over(wSN))
    val sAggs = Seq(max(col("m")).as("m")) ++ QsPairs.map { case (q, t) =>
      max(when(col("vr") === ceil(lit(q) * col("m")), col("v")))
        .as(s"est_$t")
    }
    val sAgg = sample.groupBy(col("p")).agg(sAggs.head, sAggs.tail: _*)
    val full = o
      .withColumn("vr", row_number().over(wSVal).cast("long"))
      .withColumn("n", count(lit(1)).over(wSN))
    val fAggs = Seq(max(col("n")).as("n")) ++ QsPairs.flatMap { case (q, t) =>
      Seq(
        max(when(col("vr") === ceil(lit(q) * col("n")), col("v")))
          .as(s"exact_$t"),
        max(when(col("vr") === greatest(lit(1L),
          ceil(lit(q - qsBand(q)) * col("n"))), col("v"))).as(s"lo_$t"),
        max(when(col("vr") === least(col("n"),
          ceil(lit(q + qsBand(q)) * col("n"))), col("v"))).as(s"hi_$t"))
    }
    val fAgg = full.groupBy(col("p")).agg(fAggs.head, fAggs.tail: _*)
    val outCols = Seq(col("p").as("o_orderpriority"), col("n"), col("m")) ++
      QsPairs.flatMap { case (_, t) =>
        Seq(col(s"est_$t"), col(s"exact_$t"),
          (col(s"est_$t") >= col(s"lo_$t") &&
            col(s"est_$t") <= col(s"hi_$t")).as(s"ok_$t"))
      }
    sAgg.join(fAgg, "p").select(outCols: _*).orderBy("o_orderpriority")
  }

  /** Month-index base for [[revenueTrendOls]] (the corpus date floor). */
  val OlsBaseYear = 1995

  /** Per-nation revenue-trend OLS — model fitting as ONE partial-agg
    * pass, the pattern every distributed regression uses at 100 TB:
    * the fit needs only the sufficient statistics (n, Σt, Σt², Σy,
    * Σt·y), which sum associatively per group, so the plan is scan →
    * per-(nation, month) revenue agg → per-nation stats agg → per-row
    * closed form. No iteration, no driver-side data, state per group =
    * five longs.
    *
    * Determinism: t is an integer month index; monthly revenue goes
    * through [[Det.sumQ]] then quantizes to a scale-2 LONG y (keeping
    * Σt·y and the n·Σty − Σt·Σy numerator exactly representable); slope
    * and intercept are single double divisions of exact longs with
    * identical association on both engines. Slope/intercept land in
    * revenue-units-per-month — the number a capacity dashboard trends.
    */
  val revenueTrendOls: GraftQuery = GraftQuery(
    "revenue_trend_ols",
    "per-nation OLS revenue trend (slope/intercept) via one-pass sufficient statistics",
    RelationalOracle.revenueTrendOlsSql) { (s, d) =>
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        ((year(col("o_orderdate")) - OlsBaseYear) * 12 +
          month(col("o_orderdate")) - 1).cast("long").as("t"))
      .agg(Det.sumQ(col("o_totalprice"), 4).as("rev"))
      .withColumn("y", floor(col("rev") * lit(100.0) + lit(0.5)).cast("long"))
    monthly.groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_months"),
        sum(col("t")).as("st"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("y")).as("sy"),
        sum(col("t") * col("y")).as("sty"))
      .withColumn("slope_q",
        (col("n_months") * col("sty") - col("st") * col("sy")) /
          (col("n_months") * col("stt") - col("st") * col("st")))
      .select(col("n_name"), col("n_months"),
        (col("slope_q") / lit(100.0)).as("rev_slope_per_month"),
        (((col("sy") - col("slope_q") * col("st")) / col("n_months"))
          / lit(100.0)).as("rev_intercept"),
        (col("sy") / lit(100.0)).as("total_rev"))
      .orderBy("n_name")
  }

  /** Order-to-first-shipment latency distribution per priority class —
    * the operational SLA readout `suppliers_waiting` (late counts) only
    * thresholds: HOW LATE is each priority class, as exact rank-based
    * (type-1) p50/p90/p99 plus the mean, the `events_funnel_latency`
    * quantile recipe on relational data. Lag = days from order date to
    * the order's FIRST shipped line; orders with no lines never shipped
    * and stay out of the latency population (they are `suppliers_waiting`'s
    * subject). Rank windows partition by priority — five bounded strata,
    * shard-friendly at any scale; the q*n product is forced through
    * DOUBLE on both engines (the decimal-vs-double ceil trap).
    */
  val fulfillmentLag: GraftQuery = GraftQuery(
    "orders_fulfillment_lag",
    "order-to-first-ship latency per priority: exact type-1 p50/p90/p99 + mean",
    RelationalOracle.fulfillmentLagSql) { (s, d) =>
    fulfillmentLagFrame(Tables.orders(s, d), Tables.lineitem(s, d))
  }

  /** The latency derivation over any (orders, lineitem) frames — shared
    * by the registry query and the hand-quantile fixture (RelationalSpec).
    */
  def fulfillmentLagFrame(orders: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstShip = lineitem
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_shipdate")).as("first_ship"))
    val lag = orders
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(to_date(col("first_ship")), to_date(col("o_orderdate")))
          .as("lag"))
    val wp = Window.partitionBy(col("priority"))
    val ranked = lag
      .withColumn("rn", row_number().over(wp.orderBy(col("lag"))).cast("long"))
      .withColumn("n", count(lit(1)).over(wp))
    def pick(q: Double, name: String) =
      max(when(col("rn") === ceil(lit(q) * col("n")), col("lag"))).as(name)
    ranked
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        pick(0.5, "p50_days"), pick(0.9, "p90_days"), pick(0.99, "p99_days"),
        (sum(col("lag")) / count(lit(1))).as("mean_days"))
      .orderBy("priority")
  }

  /** Minimum pair-support count for [[associationRules]]. */
  val BasketMinSupport = 2

  /** Market-basket association rules — the classic co-occurrence analytics
    * class (frequent itemsets at the pairwise grain + confidence/lift
    * rules): which parts ship together in the same order more often than
    * their popularity predicts? Pair mining is an ORDER-keyed equi
    * self-join — candidate space is bounded by per-basket item count
    * squared (TPC-H orders hold ~4 lines), never corpus-quadratic, the
    * same bound A-Priori's first pass exploits — then a support filter
    * cuts the rule table before any ranking. Both rule directions emit
    * (lift is symmetric, confidence is not). Top-20 by (lift, confidence,
    * keys) — a TakeOrdered over the support-bounded rule table.
    *
    * Determinism: supports are exact long counts; confidence and lift
    * divide them in the same expression shape on both engines
    * (lift = conf / (n_cons / N), evaluated left-to-right).
    */
  val associationRules: GraftQuery = GraftQuery(
    "basket_association_rules",
    s"market-basket rules: same-order part pairs (support >= $BasketMinSupport), confidence + lift, top-20",
    RelationalOracle.associationRulesSql) { (s, d) =>
    associationRulesFrame(Tables.lineitem(s, d))
  }

  /** The rule-mining derivation over any lineitem frame — shared by the
    * registry query and the hand-arithmetic fixture (RelationalSpec).
    * ONE basket-grain aggregate (collect_set dedupes repeat lines), then
    * pairs expand WITHIN each row from the sorted part array — bounded by
    * basket size squared, with no order-keyed self-join (the naive
    * distinct + self-join formulation costs a third shuffle and
    * re-materializes the fact table twice).
    */
  def associationRulesFrame(lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val baskets = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .localCheckpoint(eager = false) // read by items, pairs, and the total
    val totals = baskets.agg(count(lit(1)).as("n_orders"))
    val items = baskets
      .select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> " +
          "transform(slice(parts, i + 2, size(parts)), " +
          "y -> struct(x AS pa, y AS pb))))")).as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= BasketMinSupport)
    val directed = pairs
      .select(col("pa").as("antecedent"), col("pb").as("consequent"),
        col("n_pair"))
      .unionByName(pairs.select(col("pb").as("antecedent"),
        col("pa").as("consequent"), col("n_pair")))
    directed
      .join(items.select(col("l_partkey").as("antecedent"),
        col("n_item").as("n_ant")), "antecedent")
      .join(items.select(col("l_partkey").as("consequent"),
        col("n_item").as("n_cons")), "consequent")
      .crossJoin(broadcast(totals))
      .withColumn("confidence", col("n_pair") / col("n_ant"))
      .withColumn("lift",
        col("confidence") / (col("n_cons") / col("n_orders")))
      .select(col("antecedent"), col("consequent"), col("n_pair"),
        col("n_ant"), col("n_cons"), col("confidence"), col("lift"))
      .orderBy(desc("lift"), desc("confidence"), col("antecedent"),
        col("consequent"))
      .limit(20)
  }

  /** 1-in-N corruption rate for the entity-resolution replica. */
  val ErDirtyModulus = 3

  /** Entity resolution / record linkage — the capability the loan fuzzy
    * cleaner (a 4-entry dictionary argmin) only gestures at: match a
    * DIRTY second-source replica of the customer dimension back to the
    * master by blocked fuzzy join. The replica is derived
    * deterministically (every hash-picked third of names gets ONE digit
    * of its 9-digit suffix substituted at a hash-picked position — the
    * planted-signal convention, and the oracle re-derives it so a
    * corruption bug cannot cancel out). Blocking emits TWO keys per
    * record — the suffix's first-4 and last-5 digit halves, nation-
    * scoped: a single-character corruption damages at most one half, so
    * the true pair ALWAYS shares a key (provable candidate recall under
    * 1 edit — the multi-pass blocking guarantee real ER systems buy with
    * phonetic/minhash keys). Candidates dedupe, levenshtein <= 1 scores,
    * argmin (dist, custkey) picks the survivor; correct = matched key
    * equals the true source, so the per-nation precision is the
    * artifact's own grade (ties at distance 1 CAN pick the wrong master
    * — the classic ER precision story, reported rather than hidden).
    *
    * Scale shape: candidate space is bounded by block occupancy (half-id
    * keys spread ~uniformly; no all-pairs join anywhere); the match is
    * two hash joins + one per-record window argmin. At 100 TB both
    * sides partition by the blocking key at write time.
    */
  val entityResolution: GraftQuery = GraftQuery(
    "customer_entity_resolution",
    s"entity resolution: dirty replica (1/$ErDirtyModulus names corrupted) matched to master via 2-pass half-key blocking + levenshtein argmin; per-nation precision",
    RelationalOracle.entityResolutionSql) { (s, d) =>
    entityResolutionFrame(Tables.customer(s, d))
  }

  /** The ER derivation over any customer frame — shared by the registry
    * query and the plain-Scala full-replay spec (RelationalSpec).
    */
  def entityResolutionFrame(customer: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clean = customer.select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val h = graft.text.TextFns.hash60(col("c_name"))
    val pos = (h % 9).cast("int") + lit(10)
    val dirty = clean.select(
      col("c_custkey").as("true_key"),
      col("c_nationkey").as("d_nation"),
      when(h % ErDirtyModulus === 0,
        concat(col("c_name").substr(lit(1), pos - 1), lit("x"),
          col("c_name").substr(pos + 1, lit(18))))
        .otherwise(col("c_name")).as("dirty_name"))
    val dk = dirty.select(col("true_key"), col("d_nation"), col("dirty_name"),
      explode(array(substring(col("dirty_name"), 10, 4),
        concat(lit("R"), substring(col("dirty_name"), 14, 5)))).as("bk"))
    val ck = clean.select(col("c_custkey"), col("c_name"),
      col("c_nationkey").as("d_nation"),
      explode(array(substring(col("c_name"), 10, 4),
        concat(lit("R"), substring(col("c_name"), 14, 5)))).as("bk"))
    val cand = dk.join(ck, Seq("bk", "d_nation"))
      .select(col("true_key"), col("d_nation"), col("dirty_name"),
        col("c_custkey"), col("c_name"))
      .distinct() // a pair found by both key passes scores once
      .withColumn("dist", levenshtein(col("dirty_name"), col("c_name")))
      .filter(col("dist") <= 1)
    val w = Window.partitionBy(col("true_key"))
      .orderBy(col("dist"), col("c_custkey"))
    val best = cand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("true_key"), col("c_custkey").as("matched_key"),
        col("dist"))
    dirty
      .join(best, Seq("true_key"), "left") // unmatched records stay visible
      .groupBy(col("d_nation").as("nationkey"))
      .agg(
        count(lit(1)).as("n_records"),
        count(col("matched_key")).as("n_matched"),
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("matched_key") === col("true_key"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("nationkey"), col("n_records"), col("n_matched"),
        col("n_exact"), col("n_correct"),
        when(col("n_matched") === 0L, lit(null))
          .otherwise(col("n_correct") / col("n_matched")).as("precision"))
      .orderBy("nationkey")
  }

  /** Holt smoothing constants (level / trend). */
  val HoltAlpha = 0.2
  val HoltBeta = 0.1

  /** Lag-indexed impulse responses of the Holt recursion, 1e-9-quantized
    * and truncated where all four components quantize to zero — the
    * [[forecastSes]]/EWMA kernel trick lifted to a TWO-state recursion:
    * l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) +
    * (1−β)b_{t−1} is linear, so with init l_1 = x_1, b_1 = 0 the
    * coefficient of x_j in (l_t, b_t) depends ONLY on the lag t−j:
    * (wl, wb) for j ≥ 2 (impulse through the αx_t port), (ul, ub) for
    * the j = 1 init column (impulse through l_1). The homogeneous
    * iteration's spectral radius is √((1−α)(β(1−α)+1−β)+αβ(1−α)) ≈ 0.894,
    * so the quantized kernel dies by lag ~190. Computed once driver-side
    * and shared with the oracle as a VALUES literal table; quantizing
    * the WEIGHTS (not the truncation) is the model definition, so the
    * banded sum below the cut is exactly the full quantized-kernel sum.
    */
  val HoltKernel: IndexedSeq[(Int, Double, Double, Double, Double)] = {
    def q(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    val raw = Iterator
      .iterate((HoltAlpha, HoltBeta * HoltAlpha, 1.0, 0.0)) {
        case (l2, b2, l1, b1) =>
          def step(l: Double, b: Double): (Double, Double) = {
            val ln = (1.0 - HoltAlpha) * (l + b)
            (ln, HoltBeta * (ln - l) + (1.0 - HoltBeta) * b)
          }
          val (l2n, b2n) = step(l2, b2)
          val (l1n, b1n) = step(l1, b1)
          (l2n, b2n, l1n, b1n)
      }
      .take(2000)
      .map { case (l2, b2, l1, b1) => (q(l2), q(b2), q(l1), q(b1)) }
      .toIndexedSeq
    val cut = raw.lastIndexWhere(r =>
      r._1 != 0.0 || r._2 != 0.0 || r._3 != 0.0 || r._4 != 0.0)
    raw.take(cut + 1).zipWithIndex.map { case ((wl, wb, ul, ub), lag) =>
      (lag, wl, wb, ul, ub)
    }
  }

  /** HOLT LINEAR-TREND FORECAST — what [[forecastSes]] structurally
    * cannot do: simple exponential smoothing lags a trending series by
    * a constant offset (its forecast is flat), while Holt's second
    * state tracks the slope and the h-step forecast is level + h·trend.
    * The sequential two-state recursion becomes one BANDED JOIN against
    * the driver-computed lag kernel ([[HoltKernel]]): level_t =
    * Σ_j k_l(t−j)·x_j, trend_t = Σ_j k_b(t−j)·x_j, with the j = 1
    * column taking the init-impulse weights. Readout per month: level,
    * trend, and the 1-/3-month-ahead forecasts.
    *
    * Scale shape: ONE corpus shuffle to the calendar-bounded monthly
    * frame (partial-aggregated); the T × ~190-lag band join and both
    * kernel sums run on that model-sized frame with the kernel
    * broadcast. Determinism: per-term products quantize to 1e-4 LONGs
    * before the order-insensitive sums; the kernel weights are ALREADY
    * 1e-9-quantized literals shared with the oracle; forecasts
    * recompose through shared double shapes.
    */
  val forecastHolt: GraftQuery = GraftQuery(
    "revenue_forecast_holt",
    s"Holt linear-trend smoothing (a=$HoltAlpha, b=$HoltBeta) of monthly revenue via a lag-kernel band join: level, trend, 1/3-month forecasts",
    RelationalOracle.forecastHoltSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(Det.sumQ(col("o_totalprice"), 4).as("revenue"))
      .withColumn("t", row_number().over(Window.orderBy("month")))
    holtFrame(m)
  }

  /** The Holt derivation over any (month, revenue, t) frame — shared by
    * the registry query and the planted linear-trend fixture
    * (RelationalSpec).
    */
  def holtFrame(monthly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = monthly.localCheckpoint() // calendar-bounded monthly frame
    val kernel = m.sparkSession.createDataFrame(HoltKernel)
      .toDF("lag", "wl", "wb", "ul", "ub")
    val sums = m.as("a").join(m.as("b"), col("b.t") <= col("a.t"))
      .select(col("a.month").as("month"), col("b.t").as("j"),
        col("b.revenue").as("xj"), (col("a.t") - col("b.t")).as("lag"))
      .join(broadcast(kernel), Seq("lag"))
      .withColumn("wlv", when(col("j") === 1, col("ul")).otherwise(col("wl")))
      .withColumn("wbv", when(col("j") === 1, col("ub")).otherwise(col("wb")))
      .groupBy(col("month"))
      .agg(
        (sum(Det.quantize(col("xj") * col("wlv"), 4))
          / lit(Det.pow10(4))).as("level"),
        (sum(Det.quantize(col("xj") * col("wbv"), 4))
          / lit(Det.pow10(4))).as("trend"))
    m.select(col("month"), col("revenue"))
      .join(sums, Seq("month"))
      .select(col("month"), col("revenue"), col("level"), col("trend"),
        (col("level") + col("trend")).as("forecast_1mo"),
        (col("level") + lit(3.0) * col("trend")).as("forecast_3mo"))
      .orderBy("month")
  }

  /** OPEN-ORDER BACKLOG TIMELINE — the operational interval question
    * (how many orders were placed but not yet shipped on each day?)
    * answered WITHOUT an interval join: a naive day-grid × open-interval
    * stab is O(days · orders); the sweep-line encoding is two
    * independent corpus aggregates — orders placed per day (+1 deltas)
    * and orders FIRST-shipped per day (−1 deltas, min l_shipdate per
    * order) — and backlog(d) = cum_placed(d) − cum_shipped(d) on the
    * dense calendar grid. No join between the fact tables at all.
    *
    * Scale shape: one partial-agg pass per table (per-day counts; the
    * first-ship pass is one l_orderkey groupBy); the grid explode,
    * left joins, and cumulative windows are all calendar-bounded
    * (~2.4k days). Determinism: pure exact-LONG counts and prefix
    * sums; the dense grid carries zero-activity days so the level
    * holds through gaps.
    */
  val backlogTimeline: GraftQuery = GraftQuery(
    "orders_backlog_timeline",
    "daily open-order backlog by sweep-line delta prefix sums: placed, first-shipped, cumulative backlog on the dense day grid",
    RelationalOracle.backlogTimelineSql) { (s, d) =>
    backlogFrame(Tables.orders(s, d), Tables.lineitem(s, d))
  }

  /** The backlog derivation over any (orders, lineitem) pair — shared by
    * the registry query and the hand interval fixture (RelationalSpec).
    */
  def backlogFrame(orders: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val placed = orders
      .select(to_date(col("o_orderdate")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_placed"))
    val shipped = lineitem
      .groupBy(col("l_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_first_shipped"))
    val bounds = placed.select(col("day"))
      .unionByName(shipped.select(col("day")))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = bounds.select(explode(sequence(col("d0"), col("d1"),
      expr("interval 1 day"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(placed, Seq("day"), "left")
      .join(shipped, Seq("day"), "left")
      .withColumn("n_placed", coalesce(col("n_placed"), lit(0L)))
      .withColumn("n_first_shipped", coalesce(col("n_first_shipped"), lit(0L)))
      .withColumn("backlog",
        sum(col("n_placed")).over(w) - sum(col("n_first_shipped")).over(w))
      .select(col("day"), col("n_placed"), col("n_first_shipped"),
        col("backlog"))
      .orderBy(col("day"))
  }

  /** REVENUE CONCENTRATION (Pareto/Lorenz deciles) — the "do 20% of
    * customers pay 80% of revenue" table that [[graft.loan
    * .PortfolioQueries]]'s HHI compresses to one number and the events
    * key-skew profiler frames as a shuffle problem; here it is the
    * BUSINESS readout: customers ranked by revenue into deciles
    * (ntile over the total order (revenue desc, custkey) — the tiebreak
    * makes the assignment identical on both engines), per decile the
    * customer count, exact revenue, share, and cumulative share.
    *
    * Scale shape: one partial-agg shuffle to per-customer revenue; the
    * ntile is a global window over the customer-grain frame (the ksTest
    * documented class — at 100 TB the decile cuts come from the GK
    * sketch and a range partition); everything after runs on 10 rows.
    * Determinism: revenue is exact 1e-4 LONGs end to end; shares are
    * single LONG/LONG-derived double divisions in shared shapes.
    */
  val revenuePareto: GraftQuery = GraftQuery(
    "customer_revenue_pareto",
    "customer revenue concentration: ntile-10 deciles by spend, exact revenue, share and cumulative share per decile",
    RelationalOracle.revenueParetoSql) { (s, d) =>
    revenueParetoFrame(Tables.orders(s, d)
      .select(col("o_custkey").as("k"), col("o_totalprice").as("v")))
  }

  /** The concentration derivation over any (k, v) frame — shared by the
    * registry query and the hand-decile fixture (RelationalSpec).
    */
  def revenueParetoFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.select(col("k"), Det.quantize(col("v")).as("vq"))
      .groupBy(col("k")).agg(sum(col("vq")).as("rq"))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("rq").desc, col("k"))).cast("long"))
    val dec = per.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rq")).as("dq"))
      .withColumn("tq", sum(col("dq")).over(Window.partitionBy()))
      .withColumn("cq", sum(col("dq")).over(Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    dec.select(col("decile"), col("n_customers"),
        (col("dq").cast("double") / lit(Det.pow10(4))).as("revenue"),
        (col("dq").cast("double") / col("tq").cast("double")).as("share"),
        (col("cq").cast("double") / col("tq").cast("double"))
          .as("cum_share"))
      .orderBy("decile")
  }

  /** z critical value shared by [[discountElasticity]]'s slope test
    * (two-sided 5%), pre-quantized to the 1e-9 statistic grid.
    */
  val ElasticityZCritQ = 1959963985L

  /** DISCOUNT-QUANTITY ELASTICITY SCREEN — the pricing question behind
    * TPC-H Q6's revenue-at-risk arithmetic: do deeper discounts actually
    * move MORE units? Simple OLS of quantity on discount from five
    * exact-LONG sufficient statistics (discount quantizes to 1e-2 —
    * its native grid — and quantity to integers, so Σx, Σx², Σxy are
    * all exact through ~10¹⁰ rows), closed-form slope/intercept, r²,
    * and the large-sample slope test t = r·√((n−2)/(1−r²)) against the
    * shared 1.96 literal. One pushed-down two-column scan into ONE
    * aggregate — the cheapest possible corpus pass. (An honest screen,
    * not a causal claim: discounts are not randomized; the scaladoc of
    * record for elasticity is the A/B family.)
    */
  val discountElasticity: GraftQuery = GraftQuery.oneRow(
    "lineitem_discount_elasticity",
    "OLS of quantity on discount from exact sufficient statistics: slope, intercept, r2, large-sample slope z-test",
    RelationalOracle.discountElasticitySql) { (s, d) =>
    discountElasticityFrame(Tables.lineitem(s, d)
      .select(col("l_discount").as("x"), col("l_quantity").as("y")))
  }

  /** The elasticity derivation over any (x, y) frame (x at the 1e-2
    * grid, y integral) — shared by the registry query and the exact
    * line / flat-cloud fixtures (RelationalSpec).
    */
  def discountElasticityFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val q = df.select(
      Det.quantize(col("x"), 2).as("xq"),
      Det.quantize(col("y"), 0).as("yq"))
    val agg = q.agg(
      count(lit(1)).as("n"),
      sum(col("xq")).as("sx"),
      sum(col("xq") * col("xq")).as("sxx"),
      sum(col("yq")).as("sy"),
      sum(col("yq") * col("yq")).as("syy"),
      sum(col("xq") * col("yq")).as("sxy"))
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double") / lit(1e2)
    val sxx = col("sxx").cast("double") / lit(1e4)
    val sy = col("sy").cast("double")
    val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double") / lit(1e2)
    val vx = nd * sxx - sx * sx
    val vy = nd * syy - sy * sy
    val cov = nd * sxy - sx * sy
    agg
      .withColumn("slope", when(vx > 0, cov / vx))
      .withColumn("intercept",
        when(vx > 0, (sy - (cov / vx) * sx) / nd))
      .withColumn("r2q", when(vx > 0 && vy > 0,
        Det.quantize(cov * cov / (vx * vy), 9)))
      .withColumn("zq", when(col("n") > 2L && col("r2q").isNotNull
          && col("r2q") < lit(1000000000L),
        Det.quantize(
          signum(col("slope")) * sqrt(col("r2q").cast("double") / lit(1e9))
            * sqrt((col("n") - 2L).cast("double")
              / (lit(1.0) - col("r2q").cast("double") / lit(1e9))), 9)))
      .select(col("n").as("n_rows"), col("slope"), col("intercept"),
        (col("r2q").cast("double") / lit(1e9)).as("r2"),
        (col("zq").cast("double") / lit(1e9)).as("slope_z"),
        (abs(col("zq")) >= lit(ElasticityZCritQ)).as("slope_reject_5pct"))
  }

  /** chi²(df) 95th percentiles for df = 1..8; [[anovaFrame]]'s asymptotic
    * F critical value at large df2 is chi²_95(df1)/df1, emitted as
    * per-df1 literals on the 1e-6 F quantum.
    */
  val Chi2Crit95: IndexedSeq[Double] = IndexedSeq(
    3.841458821, 5.991464547, 7.814727903, 9.487729037,
    11.07049769, 12.59158724, 14.06714045, 15.50731306)

  /** F critical values (5%, df2 → ∞) on the 1e-6 quantum, per df1. */
  val AnovaFCrit5Q: IndexedSeq[Long] = Chi2Crit95.zipWithIndex.map {
    case (c, i) => math.floor(c / (i + 1) * 1e6 + 0.5).toLong
  }

  /** ONE-WAY ANOVA — the k-sample generalization the two-arm family
    * ([[graft.events.EventQueries.abTest]] Welch t) cannot give: does
    * order value differ ACROSS the priority classes, tested once, not
    * k² pairwise t-tests with inflated false-positive rate. Decomposes
    * SST = SSB + SSW from per-group sufficient statistics (n, Σx, Σx²);
    * F = (SSB/(k−1))/(SSW/(n−k)), rejected against the asymptotic
    * critical value chi²_95(df1)/df1 (df2 > 10⁴ at every gate SF — the
    * exact F quantile is within 1e-3 of the limit there; df1-indexed
    * literals cover k ≤ 9, NULL verdict beyond). Also reports η² =
    * SSB/SST, the effect size the F number alone hides.
    *
    * Scale shape: one pushed-down scan into a k-group partial aggregate
    * (three longs per group move per partition); everything after runs
    * on the k-row frame. Determinism: values quantize to INTEGER
    * dollars so Σx² keeps BIGINT headroom (~2.5e7 rows at these
    * magnitudes — past that, scale the quantum); the per-group
    * between-term S_g²/n_g quantizes to the INTEGER grid before the
    * order-insensitive sum (the terms sit at ~1e14, so a finer quantum
    * would overflow BIGINT and the integer grid already carries ~1e-10
    * relative precision; headroom ~1e8 rows per group — past that,
    * center the values first); F quantizes to 1e-6 and the rejection
    * compares LONGs. Degenerate frames (SSW = 0, k < 2) yield NULL
    * statistics identically on both engines.
    */
  val anovaPriority: GraftQuery = GraftQuery.oneRow(
    "orders_anova_priority",
    "one-way ANOVA of order value across priority classes: SSB/SSW, F vs asymptotic 5% critical value, eta-squared",
    RelationalOracle.anovaPrioritySql) { (s, d) =>
    anovaFrame(Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        col("o_totalprice").as("v")))
  }

  /** The ANOVA derivation over any (grp, v) frame — shared by the
    * registry query and the hand-decomposition fixtures
    * (RelationalSpec).
    */
  def anovaFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = df.select(col("grp"), Det.quantize(col("v"), 0).as("q"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("ng"), sum(col("q")).as("sg"),
        sum(col("q") * col("q")).as("qg"))
    val critCase = AnovaFCrit5Q.zipWithIndex.tail.foldLeft(
      when(col("df1") === 1L, lit(AnovaFCrit5Q(0)))) { case (acc, (c, i)) =>
        acc.when(col("df1") === (i + 1).toLong, lit(c))
      }
    g.agg(
        count(lit(1)).as("k_groups"),
        sum(col("ng")).as("n_total"),
        sum(col("sg")).as("s"),
        sum(col("qg")).as("qq"),
        sum(Det.quantize(col("sg").cast("double") * col("sg").cast("double")
          / col("ng").cast("double"), 0)).as("tq"))
      .withColumn("grand_mean",
        col("s").cast("double") / col("n_total").cast("double"))
      .withColumn("sst", col("qq").cast("double")
        - col("s").cast("double") * col("s").cast("double")
          / col("n_total").cast("double"))
      .withColumn("ssb", col("tq").cast("double")
        - col("s").cast("double") * col("s").cast("double")
          / col("n_total").cast("double"))
      .withColumn("ssw",
        col("qq").cast("double") - col("tq").cast("double"))
      .withColumn("df1", col("k_groups") - 1L)
      .withColumn("df2", col("n_total") - col("k_groups"))
      .withColumn("fq",
        when(col("df1") > 0L && col("df2") > 0L && col("ssw") > 0,
          Det.quantize((col("ssb") / col("df1").cast("double"))
            / (col("ssw") / col("df2").cast("double")), 6)))
      .withColumn("critq", critCase)
      .select(col("k_groups"), col("n_total"), col("grand_mean"),
        col("ssb"), col("ssw"), col("df1"), col("df2"),
        (col("fq").cast("double") / lit(1e6)).as("f_stat"),
        (col("critq").cast("double") / lit(1e6)).as("f_crit_5pct"),
        (col("fq") >= col("critq")).as("anova_reject_5pct"),
        when(col("sst") > 0, col("ssb") / col("sst")).as("eta_sq"))
  }

  /** Benford first-digit expectations log10(1 + 1/d), d = 1..9 — computed
    * once driver-side and shared as literals with the oracle.
    */
  val BenfordP: IndexedSeq[Double] =
    (1 to 9).map(d => StrictMath.log10(1.0 + 1.0 / d))

  /** chi²(df=8) 5% critical value on the 1e-6 chi² quantum. */
  val BenfordChi2Crit5Q = 15507313L

  /** Nigrini MAD conformity bands (0.006 / 0.012 / 0.015), pre-multiplied
    * by the 9 digits on the 1e-9 deviation quantum so the verdict compares
    * exact LONG sums — close / acceptable / marginal / nonconformity.
    */
  val BenfordMadCloseQ9 = 54000000L
  val BenfordMadAcceptQ9 = 108000000L
  val BenfordMadMarginQ9 = 135000000L

  /** BENFORD'S-LAW CONFORMITY CHECK — the forensic data-quality staple
    * for financial columns (`orders_table_profile` publishes ranges and
    * nulls; this asks whether the VALUES look organic): naturally
    * occurring multiplicative amounts follow P(first digit = d) =
    * log10(1+1/d), and fabricated, capped, or unit-mangled data does
    * not. Readout per digit: count, share, expectation, |deviation|;
    * corpus verdicts: chi² GOF against the df=8 5% critical value and
    * Nigrini's mean-absolute-deviation bands (the auditing convention —
    * chi² over-rejects at large n, MAD is n-free).
    *
    * The first digit comes from INTEGER arithmetic, not log10: amounts
    * quantize to exact cents (the money columns are 2dp by
    * construction) and the digit is the first character of the LONG's
    * decimal string — integer-to-string is exact and identical on both
    * engines, where floor(log10(x)) flips at powers of ten by one ULP.
    *
    * Scale shape: one pushed-down scan to a 9-group partial aggregate
    * (map-side combine to ≤9 rows per partition); the digit grid joins
    * and every summary window runs on the 9-row frame. Determinism:
    * counts exact; per-digit deviations quantize to 1e-9, chi² terms to
    * 1e-6, both summed as LONGs; verdicts compare the LONG sums against
    * pre-scaled literal bands.
    */
  val benfordCheck: GraftQuery = GraftQuery(
    "lineitem_benford_check",
    "Benford first-digit audit of extended price: per-digit share vs log10(1+1/d), chi2 GOF + Nigrini MAD verdict",
    RelationalOracle.benfordCheckSql) { (s, d) =>
    benfordFrame(Tables.lineitem(s, d)
      .select(col("l_extendedprice").as("v")))
  }

  /** The Benford derivation over any positive 2dp money column `v` —
    * shared by the registry query and the planted conforming/uniform
    * fixtures (RelationalSpec).
    */
  def benfordFrame(values: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = values.filter(col("v") > lit(0.0))
      .select(substring(floor(col("v") * lit(100.0) + lit(0.5))
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val grid = values.sparkSession.range(1, 10).select(col("id").as("digit"))
    val pCol = BenfordP.zipWithIndex.tail.foldLeft(
      when(col("digit") === 1L, lit(BenfordP(0)))) { case (acc, (p, i)) =>
        acc.when(col("digit") === (i + 1).toLong, lit(p))
      }
    val w = Window.partitionBy()
    grid.join(counts, Seq("digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .withColumn("n", sum(col("n_d")).over(w))
      .withColumn("p_benford", pCol)
      .withColumn("share",
        col("n_d").cast("double") / col("n").cast("double"))
      .withColumn("devq",
        Det.quantize(abs(col("share") - col("p_benford")), 9))
      .withColumn("e_d", col("n").cast("double") * col("p_benford"))
      .withColumn("c2q", Det.quantize(
        (col("n_d").cast("double") - col("e_d"))
          * (col("n_d").cast("double") - col("e_d")) / col("e_d"), 6))
      .withColumn("chi2q", sum(col("c2q")).over(w))
      .withColumn("madq9", sum(col("devq")).over(w))
      .select(col("digit"), col("n_d"), col("share"), col("p_benford"),
        (col("devq").cast("double") / lit(1e9)).as("abs_dev"),
        (col("chi2q").cast("double") / lit(1e6)).as("chi2"),
        (col("chi2q") >= lit(BenfordChi2Crit5Q)).as("chi2_reject_5pct"),
        (col("madq9").cast("double") / lit(1e9) / lit(9.0)).as("mad"),
        when(col("madq9") < lit(BenfordMadCloseQ9), "close")
          .when(col("madq9") < lit(BenfordMadAcceptQ9), "acceptable")
          .when(col("madq9") < lit(BenfordMadMarginQ9), "marginal")
          .otherwise("nonconformity").as("conformity"))
      .orderBy("digit")
  }

  def all: Seq[GraftQuery] = Seq(
    kmvDistinct, kmvOverlap, bottomkQuantiles, revenueTrendOls,
    entityResolution,
    associationRules, fulfillmentLag,
    pricingSummary, revenueByNation, orderPriority,
    forecastRevenue, shippingPriority, qualityChecks,
    smallQtyRevenue, largeVolumeCustomers, inactiveHighBalance,
    cheapestSupplier, surgeSuppliers, topSupplier,
    marketShare, returnedItems, promoShare, brandBandRevenue,
    profitByNation, bloomPrefilterJoin,
    supplierShare, localSupplierRevenue, customerOrderDistribution,
    suppliersWaiting, forecastSes, replicaDiff, tradeVolume, rfmSegments,
    rfmSketchCutoffs, tableProfile, tableProfileApprox, benfordCheck,
    forecastHolt,
    anovaPriority, backlogTimeline, discountElasticity, revenuePareto)
}
