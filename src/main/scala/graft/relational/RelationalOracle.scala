package graft.relational

/** DuckDB twins of [[RelationalQueries]]. Timestamps: the corpus stores
  * l_shipdate/o_orderdate as TIMESTAMP — literals are TIMESTAMP on both
  * sides. Sums mirror Det.sumQ (integer-quantization route).
  */
object RelationalOracle {

  import graft.text.TextFns.hash60Sql

  /** KMV twin — a `def` (not `val`): it interpolates KmvK/KmvBand, and
    * this object initializes at the FIRST RelationalQueries GraftQuery
    * val, before constants declared further down are set (the
    * layout_append_degradation init-order lesson). Unlike the HLL/GK
    * twins, this replays the sketch itself: same hashes, same k-th
    * distinct minimum, same estimator arithmetic — full value parity.
    */
  def kmvDistinctSql: String = {
    import RelationalQueries.{KmvBand, KmvK}
    val h60 = hash60Sql("CAST(o_custkey AS VARCHAR)")
    s"""
    WITH post AS (
      SELECT o_orderpriority, $h60 AS h FROM orders),
    kept AS (
      SELECT * FROM (
        SELECT o_orderpriority, h,
          dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY h) AS dr
        FROM post)
      WHERE dr <= $KmvK),
    sk AS (
      SELECT o_orderpriority,
        max(CASE WHEN dr = $KmvK THEN h END) AS u_k,
        COUNT(DISTINCT h) AS n_kept
      FROM kept GROUP BY 1),
    exact AS (
      SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_custkeys
      FROM orders GROUP BY 1),
    est AS (
      SELECT s.o_orderpriority, e.exact_custkeys,
        CASE WHEN s.u_k IS NULL THEN CAST(s.n_kept AS DOUBLE)
             ELSE ${(KmvK - 1).toDouble}::DOUBLE /
                  (s.u_k / 1152921504606846976.0) END AS kmv_estimate
      FROM sk s JOIN exact e USING (o_orderpriority))
    SELECT o_orderpriority, exact_custkeys, kmv_estimate,
      (abs(kmv_estimate / exact_custkeys - 1.0::DOUBLE) <= $KmvBand::DOUBLE)
        AS within_band
    FROM est
    ORDER BY o_orderpriority"""
  }

  /** Bottom-k quantile twin — FULL value parity: replays the hash cut,
    * the (value, key) sample ranking, and the ceil(q·m) rank arithmetic
    * (same DOUBLE literals, same IEEE product), so the served estimates
    * hash-match; the exact brackets ground the 4σ attestation. A `def`
    * (interpolates QsK/QsPairs — init-order rule).
    */
  def bottomkQuantilesSql: String = {
    import RelationalQueries.{QsK, QsPairs, qsBand}
    val h60 = hash60Sql("CAST(ok AS VARCHAR)")
    val sCols = QsPairs.map { case (q, t) =>
      s"""MAX(CASE WHEN vr = CAST(ceil($q::DOUBLE * m) AS BIGINT)
          THEN v END) AS est_$t"""
    }.mkString(",\n        ")
    val fCols = QsPairs.flatMap { case (q, t) => Seq(
      s"""MAX(CASE WHEN vr = CAST(ceil($q::DOUBLE * n) AS BIGINT)
          THEN v END) AS exact_$t""",
      s"""MAX(CASE WHEN vr = GREATEST(1,
          CAST(ceil(${q - qsBand(q)}::DOUBLE * n) AS BIGINT))
          THEN v END) AS lo_$t""",
      s"""MAX(CASE WHEN vr = LEAST(n,
          CAST(ceil(${q + qsBand(q)}::DOUBLE * n) AS BIGINT))
          THEN v END) AS hi_$t""")
    }.mkString(",\n        ")
    val outCols = QsPairs.map { case (_, t) =>
      s"est_$t, exact_$t, (est_$t >= lo_$t AND est_$t <= hi_$t) AS ok_$t"
    }.mkString(",\n      ")
    s"""
    WITH base AS (
      SELECT o_orderpriority AS p, o_orderkey AS ok, o_totalprice AS v
      FROM orders),
    hashed AS (
      SELECT p, ok, v, $h60 AS h FROM base),
    cut AS (
      SELECT p, ok, v,
        ROW_NUMBER() OVER (PARTITION BY p ORDER BY h, ok) AS rn
      FROM hashed),
    samp AS (
      SELECT p, v,
        CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY v, ok) AS BIGINT)
          AS vr,
        CAST(COUNT(*) OVER (PARTITION BY p) AS BIGINT) AS m
      FROM cut WHERE rn <= $QsK),
    sagg AS (
      SELECT p, MAX(m) AS m,
        $sCols
      FROM samp GROUP BY p),
    fullr AS (
      SELECT p, v,
        CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY v, ok) AS BIGINT)
          AS vr,
        CAST(COUNT(*) OVER (PARTITION BY p) AS BIGINT) AS n
      FROM base),
    fagg AS (
      SELECT p, MAX(n) AS n,
        $fCols
      FROM fullr GROUP BY p)
    SELECT s.p AS o_orderpriority, n, m,
      $outCols
    FROM sagg s JOIN fagg f ON s.p = f.p
    ORDER BY o_orderpriority"""
  }

  /** KMV overlap twin — `def` for the same init-order reason as
    * [[kmvDistinctSql]]; replays the union k-min signature, membership
    * flags, and all three estimators value-for-value.
    */
  def kmvOverlapSql: String = {
    import RelationalQueries.{KmvAudienceA, KmvAudienceB, KmvBand, KmvK}
    val h60 = hash60Sql("CAST(o_custkey AS VARCHAR)")
    s"""
    WITH o AS (
      SELECT o_custkey,
        CASE WHEN o_orderpriority = '$KmvAudienceA' THEN 1 ELSE 0 END AS ia,
        CASE WHEN o_orderpriority = '$KmvAudienceB' THEN 1 ELSE 0 END AS ib
      FROM orders
      WHERE o_orderpriority IN ('$KmvAudienceA', '$KmvAudienceB')),
    ph AS (
      SELECT h, max(ia) AS in_a, max(ib) AS in_b FROM (
        SELECT $h60 AS h, ia, ib FROM o)
      GROUP BY h),
    sk AS (
      SELECT
        max(CASE WHEN rn = $KmvK THEN h END) AS u_k,
        COUNT(*) AS n_kept,
        CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS inter_k
      FROM (SELECT *, row_number() OVER (ORDER BY h) AS rn FROM ph)
      WHERE rn <= $KmvK),
    exact AS (
      SELECT
        CAST(SUM(a) AS BIGINT) AS exact_a,
        CAST(SUM(b) AS BIGINT) AS exact_b,
        COUNT(*) AS exact_union,
        CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS exact_inter
      FROM (SELECT o_custkey, max(ia) AS a, max(ib) AS b FROM o GROUP BY 1)),
    est AS (
      SELECT s.*, e.*,
        CASE WHEN s.u_k IS NULL THEN CAST(s.n_kept AS DOUBLE)
             ELSE ${(KmvK - 1).toDouble}::DOUBLE /
                  (s.u_k / 1152921504606846976.0) END AS kmv_union_est,
        s.inter_k / LEAST($KmvK, s.n_kept) AS kmv_jaccard_est
      FROM sk s CROSS JOIN exact e)
    SELECT exact_a, exact_b, exact_union, exact_inter,
      kmv_union_est, kmv_jaccard_est,
      kmv_jaccard_est * kmv_union_est AS kmv_inter_est,
      (abs(kmv_union_est / exact_union - 1.0::DOUBLE) <= $KmvBand::DOUBLE)
        AS union_ok,
      (abs(kmv_jaccard_est * kmv_union_est - exact_inter) / exact_union
        <= ${2.0 / math.sqrt(KmvK.toDouble)}::DOUBLE) AS inter_ok
    FROM est"""
  }

  /** OLS-trend twin — `def` (interpolates OlsBaseYear; init-order rule).
    * Replays the sufficient statistics and the closed form exactly: all
    * sums are BIGINT-exact, slope/intercept are the same single double
    * divisions of exact longs.
    */
  def revenueTrendOlsSql: String = {
    import RelationalQueries.OlsBaseYear
    s"""
    WITH monthly AS (
      SELECT n_name,
        CAST((year(o_orderdate) - $OlsBaseYear) * 12
          + month(o_orderdate) - 1 AS BIGINT) AS t,
        ${sumDec("o_totalprice")} AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    ym AS (
      SELECT n_name, t, CAST(floor(rev * 100.0 + 0.5) AS BIGINT) AS y
      FROM monthly),
    stats AS (
      SELECT n_name, COUNT(*) AS n_months,
        CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(t * t) AS BIGINT) AS stt,
        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(t * y) AS BIGINT) AS sty
      FROM ym GROUP BY 1),
    fit AS (
      SELECT *,
        (n_months * sty - st * sy) / (n_months * stt - st * st) AS slope_q
      FROM stats)
    SELECT n_name, n_months,
      slope_q / 100.0::DOUBLE AS rev_slope_per_month,
      ((sy - slope_q * st) / n_months) / 100.0::DOUBLE AS rev_intercept,
      sy / 100.0::DOUBLE AS total_rev
    FROM fit
    ORDER BY n_name"""
  }

  private def sumDec(c: String, scale: Int = 4): String = {
    val p = "1" + ("0" * scale) + ".0"
    s"SUM(CAST(floor(($c) * $p + 0.5) AS BIGINT)) / $p"
  }

  val pricingSummarySql: String = s"""
    SELECT l_returnflag, l_linestatus,
      ${sumDec("l_quantity")} AS sum_qty,
      ${sumDec("l_extendedprice")} AS sum_base_price,
      ${sumDec("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
      ${sumDec("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
      ${sumDec("l_quantity")} / COUNT(l_quantity) AS avg_qty,
      ${sumDec("l_discount", 6)} / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  val revenueByNationSql: String = s"""
    SELECT n_name,
      ${sumDec("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  /** Q5 twin: same cyclic join predicate set; DuckDB's optimizer picks its
    * own order, the result is order-independent through the quantized sum.
    */
  val localSupplierRevenueSql: String = s"""
    SELECT n_name,
      ${sumDec("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  def tradeVolumeSql: String = {
    import RelationalQueries.{TradeNationA, TradeNationB}
    s"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(year(l_shipdate) AS INTEGER) AS l_year,
      ${sumDec("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = '$TradeNationA' AND n2.n_name = '$TradeNationB')
       OR (n1.n_name = '$TradeNationB' AND n2.n_name = '$TradeNationA')
    GROUP BY 1, 2, 3
    ORDER BY supp_nation, cust_nation, l_year"""
  }

  val forecastRevenueSql: String = s"""
    SELECT ${sumDec("l_extendedprice * l_discount", 6)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24"""

  val shippingPrioritySql: String = s"""
    SELECT o_orderkey, o_orderdate,
      ${sumDec("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10"""

  val qualityChecksSql: String = s"""
    SELECT * FROM (
      SELECT 'documents_empty_text' AS check_name, COUNT(*) AS n_bad
      FROM documents WHERE length(trim(text)) = 0
      UNION ALL
      SELECT 'embeddings_bad_dim', COUNT(*)
      FROM embeddings WHERE len(embedding) <> 64
      UNION ALL
      SELECT 'events_bad_json', COUNT(*)
      FROM events WHERE json_extract_string(props, '$$.k') IS NULL
      UNION ALL
      SELECT 'lineitem_orphan_order', COUNT(*)
      FROM lineitem WHERE NOT EXISTS
        (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      UNION ALL
      SELECT 'orders_negative_total', COUNT(*)
      FROM orders WHERE o_totalprice <= 0
      UNION ALL
      SELECT 'orders_orphan_customer', COUNT(*)
      FROM orders WHERE NOT EXISTS
        (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    )
    ORDER BY check_name"""

  val orderPrioritySql: String = s"""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** Dialect-shared SQL (TPC-H Q17 shape): parses identically in Spark SQL
    * and DuckDB, so the Spark side runs THIS string via `spark.sql` and the
    * oracle is the byte-identical text. The correlated scalar subquery is
    * the point — Catalyst must decorrelate it into an aggregate + join
    * (PlanSpec pins that shape). AVG(l_quantity) is exact on both engines
    * (quantities are integral doubles, sums stay far below 2^53), and the
    * revenue sum takes the Det.sumQ integer-quantization route — spelled
    * with `1e4` literals: Spark SQL parses `10000.0` as DECIMAL (DataFrame
    * `lit(10000.0)` is DOUBLE), and a DECIMAL divisor drags the whole
    * expression into decimal arithmetic with different rounding; `1e4` is
    * DOUBLE in both dialects.
    */
  val smallQtyRevenueSql: String = s"""
    SELECT p_brand,
      SUM(CAST(floor(l_extendedprice * 1e4 + 0.5) AS BIGINT)) / 1e4 / 7.0
        AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4', 'Brand#5')
      AND l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    GROUP BY p_brand
    ORDER BY p_brand"""

  /** Q2-shape twin — dialect-shared: the exact string Spark executes.
    * The correlated scalar-MIN subquery ranges over a JOIN (lineitem x
    * supplier x nation x region, lineitem standing in for partsupp —
    * this schema has no ps_supplycost, so unit price
    * l_extendedprice / l_quantity is the cost) and references the outer
    * part key — the classic Q2 decorrelation class: Catalyst must
    * rewrite it into a min-aggregate over the same join, equi-joined
    * back on l_partkey (PlanSpec pins no surviving ScalarSubquery + the
    * agg-join shape). MIN over doubles needs no quantization (it is
    * order-independent and both engines pick the identical IEEE754
    * minimum of identical division results), and the = comparison then
    * selects identical rows. DISTINCT collapses tied lineitems of the
    * same (part, supplier); (s_name, p_partkey) makes the ORDER BY a
    * total order, so LIMIT 100 is deterministic.
    */
  val cheapestSupplierSql: String = s"""
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type,
      l.l_extendedprice / l.l_quantity AS unit_cost
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND p.p_size IN (5, 15, 25, 35, 45)
      AND l.l_quantity > 0
      AND l.l_extendedprice / l.l_quantity = (
        SELECT MIN(l2.l_extendedprice / l2.l_quantity)
        FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE l2.l_partkey = p.p_partkey
          AND l2.l_quantity > 0
          AND r2.r_name = 'EUROPE')
    GROUP BY ALL
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100"""

  /** Q20-shape twin — dialect-shared: nested IN over a grouped derived
    * table whose filter carries a CORRELATED scalar-SUM referencing TWO
    * outer columns (the last decorrelation classic after Q2/Q17/Q21/Q22):
    * "surge suppliers" — suppliers for whom some multi-shipment PROMO
    * part's Q1-1996 shipments exceed half of their all-time volume of
    * that part
    * (partsupp's availqty role played by the all-time (supp, part)
    * quantity rollup; this schema ships no partsupp). Catalyst must
    * rewrite the inner correlated SUM into an aggregate left-joined back
    * on (l_partkey, l_suppkey) — COALESCE keeps pairs with no 1996
    * shipments comparable — and both INs into semi joins (PlanSpec pins
    * all three + no nested loop). SUM(l_quantity) is exact on both
    * engines (integral doubles, far below 2^53), so the 2.0x comparison
    * is order- and engine-invariant; s_name is unique, so the ORDER BY
    * is total.
    */
  val surgeSuppliersSql: String = s"""
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT sp.l_suppkey
      FROM (
        SELECT l_suppkey, l_partkey, SUM(l_quantity) AS total_qty,
          COUNT(*) AS n_ship
        FROM lineitem
        GROUP BY l_suppkey, l_partkey
      ) sp
      WHERE sp.l_partkey IN
          (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND sp.n_ship >= 2
        AND sp.total_qty < 2.0 * (
          SELECT COALESCE(SUM(l2.l_quantity), 0.0)
          FROM lineitem l2
          WHERE l2.l_partkey = sp.l_partkey
            AND l2.l_suppkey = sp.l_suppkey
            AND l2.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l2.l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
    )
    ORDER BY s.s_name"""

  /** Q22-shape twin — dialect-shared: the exact string Spark executes.
    * Quantized-LONG account-balance sums make the scalar-average
    * threshold and the totals bit-identical across engines.
    */
  val inactiveHighBalanceSql: String = s"""
    SELECT c_mktsegment AS segment,
      COUNT(*) AS numcust,
      SUM(CAST(floor(c_acctbal * 1e4 + 0.5) AS BIGINT)) / 1e4 AS totacctbal
    FROM customer c
    WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
      AND c_acctbal > (
        SELECT SUM(CAST(floor(c2.c_acctbal * 1e4 + 0.5) AS BIGINT)) / 1e4
                 / COUNT(*)
        FROM customer c2
        WHERE c2.c_acctbal > 0.0
          AND c2.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY'))
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""

  /** Q15-shape twin — dialect-shared: a grouped derived table (the Q15
    * `revenue` view) referenced TWICE — once as the join input, once
    * inside an UNCORRELATED scalar-MAX subquery that selects the
    * winner(s). The remaining classic after Q2/Q17/Q18/Q20/Q21/Q22:
    * view + scalar-aggregate-over-the-view. Quantized-LONG revenue makes
    * the MAX and the `=` selection bit-identical across engines and
    * partitionings (a raw double SUM would tie-break differently run to
    * run); s_suppkey is unique so the ORDER BY is total.
    */
  val topSupplierSql: String = s"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        CAST(${sumDec("l_extendedprice * (1 - l_discount)")} AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey"""

  /** Q8-shape twin — dialect-shared: national market share. The 8-relation
    * join (nation joined TWICE — customer-side region filter and the
    * supplier's nation as a measure dimension) feeds a share-of-total
    * CASE ratio per order year. Both sums are quantized LONGs; the ratio
    * divides their exact doubles AFTER an explicit CAST to DOUBLE on
    * both engines (a decimal-typed division would round by
    * engine-specific precision rules). EXTRACT(YEAR) is cast to BIGINT
    * so the grouping key's physical type matches across engines.
    */
  val marketShareSql: String = s"""
    SELECT o_year,
      CAST(${sumDec("CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0.0 END")} AS DOUBLE)
        / CAST(${sumDec("volume")} AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
        l.l_extendedprice * (1 - l.l_discount) AS volume,
        n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type = 'STANDARD'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year"""

  /** Q10-shape twin — dialect-shared: returned-item losses. Output
    * columns adapted to this schema (no c_address/c_phone/c_comment);
    * ORDER BY quantized revenue DESC with the unique c_custkey as
    * tiebreak makes the LIMIT 20 total and engine-invariant.
    */
  val returnedItemSql: String = s"""
    SELECT c.c_custkey, c.c_name,
      CAST(${sumDec("l.l_extendedprice * (1 - l.l_discount)")} AS DOUBLE) AS revenue,
      c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""

  /** Q14-shape twin — dialect-shared: promo revenue share, a one-row
    * conditional-aggregate ratio over a month of shipments. Same
    * CAST-to-DOUBLE division contract as [[marketShareSql]]; the 100.0
    * scaling multiplies the already-identical double.
    */
  val promoShareSql: String = s"""
    SELECT 100.0 * CAST(${sumDec(
      "CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")} AS DOUBLE)
      / CAST(${sumDec("l.l_extendedprice * (1 - l.l_discount)")} AS DOUBLE)
      AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'"""

  /** Q19-shape twin — dialect-shared: three OR'd conjunctive predicate
    * blocks, each referencing BOTH join sides (brand+size on part,
    * quantity on lineitem — shipmode/shipinstruct don't exist in this
    * schema, so the bands carry the whole disjunction). The planner
    * cannot push the disjunction whole; it must extract each side's
    * common disjunctive component (CNF conversion) so the part scan
    * still receives an Or'd brand/size filter — PlanSpec pins that.
    */
  val brandBandRevenueSql: String = s"""
    SELECT CAST(${sumDec("l.l_extendedprice * (1 - l.l_discount)")} AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE
      (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        AND l.l_quantity >= 1 AND l.l_quantity <= 11)
      OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        AND l.l_quantity >= 10 AND l.l_quantity <= 20)
      OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        AND l.l_quantity >= 20 AND l.l_quantity <= 30)"""

  /** Q9-shape twin — dialect-shared: product-line profit by nation and
    * order year over the 5-relation chain (this schema has no partsupp,
    * so supply cost is a fixed 0.6 cost ratio on p_retailprice — the 0.6
    * DECIMAL literal promotes to the same double against a DOUBLE
    * operand on both engines, the Q17 `0.2 *` precedent). Profit amounts
    * go NEGATIVE, which the quantized-LONG sum handles exactly
    * (floor(x*1e4+0.5) rounds identically for negatives on both
    * engines), and the output sum carries the CAST-AS-DOUBLE
    * dialect-shared contract from day one. EXTRACT(YEAR) is cast to
    * BIGINT so the grouping key's physical type matches (the Q8
    * convention).
    */
  val profitByNationSql: String = s"""
    SELECT n_name, o_year,
      CAST(${sumDec("amount")} AS DOUBLE) AS profit
    FROM (
      SELECT n.n_name,
        CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
        l.l_extendedprice * (1 - l.l_discount)
          - 0.6 * p.p_retailprice * l.l_quantity AS amount
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%bolt%'
    ) profit
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC"""

  /** Oracle for the BLOOM-PREFILTERED join is the PLAIN join+agg — the
    * prefilter must be exactly semantics-preserving (false positives die
    * in the equi-join; there are no false negatives).
    */
  val urgentRevenueSql: String = s"""
    SELECT date_trunc('month', o_orderdate) AS o_month,
      COUNT(*) AS n_items,
      ${sumDec("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    ORDER BY o_month"""

  /** Supplier share twin: per-supplier revenue is the quantized sum; the
    * nation total re-quantizes those exact multiples of 1e-4, so the
    * window SUM is order-insensitive on both engines.
    */
  val supplierShareSql: String = s"""
    WITH rev AS (
      SELECT s_suppkey, s_name, n_name,
        ${sumDec("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY s_suppkey, s_name, n_name
    ),
    t AS (
      SELECT s_suppkey, s_name, n_name, revenue,
        SUM(CAST(floor(revenue * 10000.0 + 0.5) AS BIGINT))
          OVER (PARTITION BY n_name) / 10000.0 AS nation_total,
        RANK() OVER (PARTITION BY n_name ORDER BY revenue DESC, s_suppkey)
          AS rank_in_nation
      FROM rev
    )
    SELECT s_suppkey, s_name, n_name, revenue,
      revenue / nation_total AS nation_share,
      rank_in_nation
    FROM t
    ORDER BY n_name, rank_in_nation, s_suppkey"""

  /** Dialect-shared SQL (TPC-H Q18 shape): IN over a grouped-HAVING
    * subquery — planned as a semi-join against the re-aggregated lineitem,
    * never a per-row probe. SUM(l_quantity) is exact (integral doubles).
    */
  val largeVolumeCustomersSql: String = s"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      SUM(l_quantity) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100"""

  /** Dialect-shared SQL (TPC-H Q21 shape): EXISTS + NOT EXISTS correlated
    * on the SAME fact table — the last common decorrelation pattern. This
    * corpus has no receipt/commit dates, so "late" is shipdate more than
    * 60 days after the order date (same row-level predicate class as
    * Q21's l_receiptdate > l_commitdate, but correlated through the outer
    * orders row, which makes the NOT EXISTS carry a non-equi outer
    * reference — the harder rewrite). Both engines run this exact text;
    * `INTERVAL 60 DAY` parses identically in Spark SQL and DuckDB.
    */
  val suppliersWaitingSql: String = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100"""

  /** Q13 twin: both predicates in the ON clause — `o_orderstatus` guards
    * the null-producing side, `c_acctbal` the preserved side (as a WHERE
    * either would be a different query). COUNT(o_orderkey) counts
    * non-null matches, so unmatched customers land in the zero bucket.
    */
  val customerOrderDistributionSql: String = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey
          AND o_orderstatus <> 'F'
          AND c_acctbal > 0
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

  /** SES twin: the same closed-form weight triangle, per-weight 1e-9
    * quantization after the pow, exact quantized term sums.
    */
  def forecastSesSql: String = {
    import RelationalQueries.SesAlpha
    s"""
    WITH mo AS (
      SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
        SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT)) / 10000.0
          AS revenue
      FROM orders GROUP BY 1
    ),
    mt AS (
      SELECT month, revenue,
        CAST(ROW_NUMBER() OVER (ORDER BY month) AS INTEGER) AS t
      FROM mo
    ),
    p AS (
      SELECT a.month AS month, b.revenue AS xj,
        floor((CASE WHEN b.t = 1
            THEN pow(1.0::DOUBLE - $SesAlpha::DOUBLE, a.t - 1)
            ELSE $SesAlpha::DOUBLE
              * pow(1.0::DOUBLE - $SesAlpha::DOUBLE, a.t - b.t) END)
          * 1000000000.0 + 0.5) / 1000000000.0 AS wq
      FROM mt a JOIN mt b ON b.t <= a.t
    ),
    lv AS (
      SELECT month,
        SUM(CAST(floor(xj * wq * 10000.0 + 0.5) AS BIGINT)) / 10000.0
          AS level
      FROM p GROUP BY month
    )
    SELECT m.month, m.revenue, l.level
    FROM mt m JOIN lv l USING (month)
    ORDER BY month"""
  }

  /** Replica-diff twin: the same hash60-of-PK bucketing and BIT_XOR
    * checksums on both sides of the planted loss; only exact integer
    * columns enter the concat so pre-images render identically.
    */
  def replicaDiffSql: String = {
    import RelationalQueries.{DiffBuckets, DiffDropModulus}
    val h = "CAST(('0x' || substr(md5(concat_ws('|', l_orderkey, " +
      "l_partkey, l_suppkey, l_linenumber)),1,15))::UBIGINT AS BIGINT)"
    s"""
    WITH rp AS (SELECT $h AS h FROM lineitem),
    rr AS (
      SELECT $h AS h FROM lineitem WHERE l_orderkey % $DiffDropModulus <> 0
    ),
    gp AS (
      SELECT h % $DiffBuckets AS bucket,
        CAST(COUNT(*) AS BIGINT) AS rows_primary,
        bit_xor(h) AS xor_primary
      FROM rp GROUP BY 1
    ),
    gr AS (
      SELECT h % $DiffBuckets AS bucket,
        CAST(COUNT(*) AS BIGINT) AS rows_replica,
        bit_xor(h) AS xor_replica
      FROM rr GROUP BY 1
    )
    SELECT COALESCE(gp.bucket, gr.bucket) AS bucket,
      COALESCE(rows_primary, 0) AS rows_primary,
      COALESCE(rows_replica, 0) AS rows_replica,
      (COALESCE(rows_primary, 0) = COALESCE(rows_replica, 0)
        AND COALESCE(xor_primary, 0) = COALESCE(xor_replica, 0))
        AS bucket_match
    FROM gp FULL OUTER JOIN gr ON gp.bucket = gr.bucket
    ORDER BY bucket"""
  }

  /** RFM twin: date-granularity recency diff (both sides cast to DATE,
    * matching Spark's datediff semantics), 4dp-quantized monetary, the
    * identical DATA-DERIVED nearest-rank tercile cutoffs (one
    * ROW_NUMBER ranking per metric with the same custkey tie-break and
    * the same floor((n-1)*p)+1 rank picks) and score-sum segment
    * mapping.
    */
  /** Sketch-cutoff attestation twin ([[RelationalQueries.rfmSketchCutoffs]]):
    * the per/cut CTEs shared with [[rfmSegmentsSql]] give the exact t1/t2
    * values (bit-for-bit), and the in-band booleans are `true` literals —
    * the approx-quantile attestation convention: GK sketch internals are
    * engine-local, so the oracle grades the contract (the Spark side must
    * genuinely compute the band checks and they must all hold for the
    * row hash to match).
    */
  def rfmSketchCutoffsSql: String = {
    import RelationalQueries.RfmAsOf
    def cutCte(name: String, metric: String): String = s"""
    rk_$name AS (
      SELECT $metric AS v,
        ROW_NUMBER() OVER (ORDER BY $metric, o_custkey) AS rk,
        COUNT(*) OVER () AS n
      FROM per
    ),
    c_$name AS (
      SELECT
        MAX(CASE WHEN rk = floor((n - 1) / 3.0) + 1 THEN v END)
          AS ${name}_t1,
        MAX(CASE WHEN rk = floor((n - 1) * 2.0 / 3.0) + 1 THEN v END)
          AS ${name}_t2
      FROM rk_$name
    )"""
    s"""
    WITH per AS (
      SELECT o_custkey,
        date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '$RfmAsOf')
          AS rec_days,
        COUNT(*) AS freq,
        CAST(SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT))
          AS BIGINT) / 10000.0 AS mon
      FROM orders GROUP BY o_custkey
    ),
    ${cutCte("rec", "rec_days")},
    ${cutCte("frq", "freq")},
    ${cutCte("mon", "mon")}
    SELECT (SELECT COUNT(*) FROM per) AS n_customers,
      rec_t1, rec_t2, true AS rec_t1_ok, true AS rec_t2_ok,
      frq_t1, frq_t2, true AS frq_t1_ok, true AS frq_t2_ok,
      mon_t1, mon_t2, true AS mon_t1_ok, true AS mon_t2_ok
    FROM c_rec, c_frq, c_mon"""
  }

  def rfmSegmentsSql: String = {
    import RelationalQueries.RfmAsOf
    def cutCte(name: String, metric: String): String = s"""
    rk_$name AS (
      SELECT $metric AS v,
        ROW_NUMBER() OVER (ORDER BY $metric, o_custkey) AS rk,
        COUNT(*) OVER () AS n
      FROM per
    ),
    c_$name AS (
      SELECT
        MAX(CASE WHEN rk = floor((n - 1) / 3.0) + 1 THEN v END)
          AS ${name}_t1,
        MAX(CASE WHEN rk = floor((n - 1) * 2.0 / 3.0) + 1 THEN v END)
          AS ${name}_t2
      FROM rk_$name
    )"""
    s"""
    WITH per AS (
      SELECT o_custkey,
        date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '$RfmAsOf')
          AS rec_days,
        COUNT(*) AS freq,
        CAST(SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT))
          AS BIGINT) / 10000.0 AS mon
      FROM orders GROUP BY o_custkey
    ),
    ${cutCte("rec", "rec_days")},
    ${cutCte("frq", "freq")},
    ${cutCte("mon", "mon")},
    cut AS (SELECT * FROM c_rec, c_frq, c_mon),
    sc AS (
      SELECT per.*,
        CASE WHEN rec_days <= cut.rec_t1 THEN 3
             WHEN rec_days <= cut.rec_t2 THEN 2 ELSE 1 END +
        CASE WHEN freq > cut.frq_t2 THEN 3
             WHEN freq > cut.frq_t1 THEN 2 ELSE 1 END +
        CASE WHEN mon > cut.mon_t2 THEN 3
             WHEN mon > cut.mon_t1 THEN 2 ELSE 1 END AS score
      FROM per CROSS JOIN cut
    ),
    seg AS (
      SELECT *,
        CASE WHEN score >= 8 THEN 'champion'
             WHEN score >= 6 THEN 'loyal'
             WHEN score >= 4 THEN 'at_risk'
             ELSE 'hibernating' END AS segment
      FROM sc
    ),
    g AS (
      SELECT segment, COUNT(*) AS n_customers,
        CAST(SUM(rec_days) AS BIGINT) / COUNT(*) AS avg_recency_days,
        CAST(SUM(freq) AS BIGINT) / COUNT(*) AS avg_orders,
        CAST(SUM(CAST(floor(mon * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
          / 10000.0 AS total_monetary
      FROM seg GROUP BY segment
    )
    SELECT segment, n_customers, avg_recency_days, avg_orders,
      total_monetary,
      n_customers / (SELECT CAST(SUM(n_customers) AS BIGINT) FROM g)
        AS customer_share
    FROM g ORDER BY segment"""
  }

  /** Fulfillment-lag twin: same first-ship join, priority-partitioned
    * rank, type-1 picks at CEIL(q::DOUBLE * n), exact mean.
    */
  def fulfillmentLagSql: String = {
    def pick(q: String, name: String) =
      s"MAX(CASE WHEN rn = CAST(CEIL($q::DOUBLE * n) AS BIGINT) " +
        s"THEN lag END) AS $name"
    s"""
    WITH fs AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship
      FROM lineitem GROUP BY 1
    ),
    lg AS (
      SELECT o_orderpriority AS priority,
        CAST(date_diff('day', CAST(o_orderdate AS DATE),
          CAST(first_ship AS DATE)) AS INTEGER) AS lag
      FROM orders JOIN fs ON o_orderkey = l_orderkey
    ),
    rk AS (
      SELECT priority, lag,
        CAST(ROW_NUMBER() OVER (PARTITION BY priority ORDER BY lag)
          AS BIGINT) AS rn,
        CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      FROM lg
    )
    SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      ${pick("0.5", "p50_days")},
      ${pick("0.9", "p90_days")},
      ${pick("0.99", "p99_days")},
      CAST(SUM(lag) AS BIGINT) / COUNT(*) AS mean_days
    FROM rk
    GROUP BY priority
    ORDER BY priority"""
  }

  /** Association-rules twin: same distinct (order, part) base, order-keyed
    * pair self-join, support filter, both directions, identical division
    * shapes for confidence and lift, (lift, conf, keys) top-20.
    */
  def associationRulesSql: String = {
    val ms = RelationalQueries.BasketMinSupport
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
    items AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_pair
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= $ms
    ),
    directed AS (
      SELECT pa AS antecedent, pb AS consequent, n_pair FROM pairs
      UNION ALL
      SELECT pb AS antecedent, pa AS consequent, n_pair FROM pairs
    ),
    rules AS (
      SELECT d.antecedent, d.consequent, d.n_pair,
        ia.n_item AS n_ant, ic.n_item AS n_cons,
        d.n_pair / ia.n_item AS confidence,
        (d.n_pair / ia.n_item)
          / (ic.n_item / (SELECT n_orders FROM tot)) AS lift
      FROM directed d
      JOIN items ia ON d.antecedent = ia.l_partkey
      JOIN items ic ON d.consequent = ic.l_partkey
    )
    SELECT antecedent, consequent, n_pair, n_ant, n_cons, confidence, lift
    FROM rules
    ORDER BY lift DESC, confidence DESC, antecedent, consequent
    LIMIT 20"""
  }

  /** ER twin: re-derives the dirty replica from the same hash60 rule
    * (position = h%9 + 10, prefix length h%9 + 9, suffix from h%9 + 11 —
    * a corruption bug on either side cannot cancel), the same two
    * half-key blocking passes, DISTINCT candidate pairs, and the
    * (dist, custkey) argmin. NULL-safe CASE comparisons mirror Spark's
    * null-propagating `when`.
    */
  def entityResolutionSql: String = {
    val m = RelationalQueries.ErDirtyModulus
    val h = hash60Sql("c_name")
    s"""
    WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer),
    dpre AS (SELECT c_custkey, c_nationkey, c_name, $h AS h FROM c),
    d AS (
      SELECT c_custkey AS true_key, c_nationkey AS d_nation,
        CASE WHEN h % $m = 0 THEN
          substr(c_name, 1, CAST(h % 9 AS INT) + 9) || 'x' ||
            substr(c_name, CAST(h % 9 AS INT) + 11, 18)
        ELSE c_name END AS dirty_name
      FROM dpre
    ),
    dk AS (
      SELECT true_key, d_nation, dirty_name,
        unnest([substr(dirty_name, 10, 4),
          'R' || substr(dirty_name, 14, 5)]) AS bk
      FROM d
    ),
    ck AS (
      SELECT c_custkey, c_name, c_nationkey,
        unnest([substr(c_name, 10, 4), 'R' || substr(c_name, 14, 5)]) AS bk
      FROM c
    ),
    cand AS (
      SELECT DISTINCT dk.true_key, dk.d_nation, dk.dirty_name,
        ck.c_custkey, ck.c_name
      FROM dk JOIN ck ON dk.bk = ck.bk AND dk.d_nation = ck.c_nationkey
    ),
    scored AS (
      SELECT true_key, c_custkey,
        levenshtein(dirty_name, c_name) AS dist
      FROM cand
      WHERE levenshtein(dirty_name, c_name) <= 1
    ),
    best AS (
      SELECT true_key, c_custkey AS matched_key, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY true_key
          ORDER BY dist, c_custkey) AS rn
        FROM scored)
      WHERE rn = 1
    ),
    agg AS (
      SELECT d.d_nation AS nationkey,
        COUNT(*) AS n_records,
        COUNT(b.matched_key) AS n_matched,
        CAST(SUM(CASE WHEN b.dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_exact,
        CAST(SUM(CASE WHEN b.matched_key = d.true_key THEN 1 ELSE 0 END)
          AS BIGINT) AS n_correct
      FROM d LEFT JOIN best b ON d.true_key = b.true_key
      GROUP BY 1
    )
    SELECT nationkey, n_records, n_matched, n_exact, n_correct,
      CASE WHEN n_matched = 0 THEN NULL
        ELSE n_correct / n_matched END AS precision
    FROM agg ORDER BY nationkey"""
  }

  /** Profiler twin: the same one-pass aggregate, typed min/max surfaced
    * identically (timestamps as epoch micros, BIGINT means as exact
    * divisions, doubles via the 1e-4 quantized sum).
    */
  val tableProfileSql: String = s"""
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(o_orderkey) AS BIGINT) AS c_ok,
        CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_ok,
        MIN(o_orderkey) AS mn_ok, MAX(o_orderkey) AS mx_ok,
        CAST(SUM(o_orderkey) AS BIGINT) AS s_ok,
        CAST(COUNT(o_custkey) AS BIGINT) AS c_ck,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_ck,
        MIN(o_custkey) AS mn_ck, MAX(o_custkey) AS mx_ck,
        CAST(SUM(o_custkey) AS BIGINT) AS s_ck,
        CAST(COUNT(o_orderstatus) AS BIGINT) AS c_st,
        CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d_st,
        MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st,
        CAST(COUNT(o_totalprice) AS BIGINT) AS c_tp,
        CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS d_tp,
        MIN(o_totalprice) AS mn_tp, MAX(o_totalprice) AS mx_tp,
        CAST(SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT))
          AS BIGINT) AS sq_tp,
        CAST(COUNT(o_orderdate) AS BIGINT) AS c_dt,
        CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_dt,
        MIN(o_orderdate) AS mn_dt, MAX(o_orderdate) AS mx_dt,
        CAST(COUNT(o_orderpriority) AS BIGINT) AS c_pr,
        CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_pr,
        MIN(o_orderpriority) AS mn_pr, MAX(o_orderpriority) AS mx_pr
      FROM orders
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS ord, 'o_orderkey' AS col_name,
        'bigint' AS kind, n AS n_rows, n - c_ok AS n_nulls,
        d_ok AS n_distinct,
        CAST(mn_ok AS DOUBLE) AS min_num, CAST(mx_ok AS DOUBLE) AS max_num,
        CAST(s_ok AS DOUBLE) / CAST(c_ok AS DOUBLE) AS mean_num,
        CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM a
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'o_custkey', 'bigint', n, n - c_ck, d_ck,
        CAST(mn_ck AS DOUBLE), CAST(mx_ck AS DOUBLE),
        CAST(s_ck AS DOUBLE) / CAST(c_ck AS DOUBLE),
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM a
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'o_orderstatus', 'string', n, n - c_st,
        d_st, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        CAST(NULL AS DOUBLE), mn_st, mx_st
      FROM a
      UNION ALL
      SELECT CAST(4 AS BIGINT), 'o_totalprice', 'double', n, n - c_tp,
        d_tp, mn_tp, mx_tp, sq_tp / 10000.0 / c_tp,
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM a
      UNION ALL
      SELECT CAST(5 AS BIGINT), 'o_orderdate', 'timestamp', n, n - c_dt,
        d_dt, CAST(epoch_us(mn_dt) AS DOUBLE),
        CAST(epoch_us(mx_dt) AS DOUBLE), CAST(NULL AS DOUBLE),
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM a
      UNION ALL
      SELECT CAST(6 AS BIGINT), 'o_orderpriority', 'string', n, n - c_pr,
        d_pr, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        CAST(NULL AS DOUBLE), mn_pr, mx_pr
      FROM a
    ) ORDER BY ord"""

  /** Approx-profiler twin: HLL bits differ between engines, so the
    * estimates are graded as in-band ATTESTATIONS — the oracle recomputes
    * the exact counts and asserts the booleans TRUE (the
    * `product_type_approx_distinct` convention).
    */
  def tableProfileApproxSql: String = {
    val cols = RelationalQueries.ProfileCols
    val aggs = cols.map { case (i, c) =>
      s"""CAST(COUNT($c) AS BIGINT) AS c_$i,
        CAST(COUNT(DISTINCT $c) AS BIGINT) AS d_$i"""
    }.mkString(",\n        ")
    val rows = cols.map { case (i, c) =>
      s"""SELECT CAST($i AS BIGINT) AS ord, '$c' AS col_name,
        n AS n_rows, n - c_$i AS n_nulls, d_$i AS n_distinct,
        true AS est_ok FROM a"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        $aggs
      FROM orders
    )
    SELECT * FROM (
      $rows
    ) ORDER BY ord"""
  }

  /** Twin of [[RelationalQueries.benfordFrame]] over l_extendedprice:
    * the same exact-cents integer-string first digit, shared Benford
    * expectation literals, 1e-9/1e-6 quantized deviation and chi² term
    * sums, and the pre-scaled LONG verdict bands.
    */
  def benfordCheckSql: String = {
    import RelationalQueries._
    val pCase = BenfordP.zipWithIndex
      .map { case (p, i) => s"WHEN digit = ${i + 1} THEN $p::DOUBLE" }
      .mkString("CASE ", " ", " END")
    s"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5)
        AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM lineitem WHERE l_extendedprice > 0.0::DOUBLE
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_d FROM d GROUP BY 1),
    g AS (SELECT unnest(generate_series(1, 9)) AS digit),
    j AS (
      SELECT g.digit, COALESCE(c.n_d, 0) AS n_d,
        CAST(SUM(COALESCE(c.n_d, 0)) OVER () AS BIGINT) AS n
      FROM g LEFT JOIN c ON g.digit = c.digit
    ),
    b AS (
      SELECT *, $pCase AS p_benford,
        CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE) AS share
      FROM j
    ),
    q AS (
      SELECT *,
        CAST(floor(abs(share - p_benford) * 1e9 + 0.5) AS BIGINT) AS devq,
        CAST(floor((CAST(n_d AS DOUBLE) - CAST(n AS DOUBLE) * p_benford)
          * (CAST(n_d AS DOUBLE) - CAST(n AS DOUBLE) * p_benford)
          / (CAST(n AS DOUBLE) * p_benford) * 1e6 + 0.5) AS BIGINT) AS c2q
      FROM b
    ),
    s AS (
      SELECT *,
        CAST(SUM(c2q) OVER () AS BIGINT) AS chi2q,
        CAST(SUM(devq) OVER () AS BIGINT) AS madq9
      FROM q
    )
    SELECT digit, n_d, share, p_benford,
      CAST(devq AS DOUBLE) / 1e9 AS abs_dev,
      CAST(chi2q AS DOUBLE) / 1e6 AS chi2,
      chi2q >= $BenfordChi2Crit5Q AS chi2_reject_5pct,
      CAST(madq9 AS DOUBLE) / 1e9 / 9.0::DOUBLE AS mad,
      CASE WHEN madq9 < $BenfordMadCloseQ9 THEN 'close'
        WHEN madq9 < $BenfordMadAcceptQ9 THEN 'acceptable'
        WHEN madq9 < $BenfordMadMarginQ9 THEN 'marginal'
        ELSE 'nonconformity' END AS conformity
    FROM s ORDER BY digit"""
  }

  /** Twin of [[RelationalQueries.forecastHolt]]: the identical monthly
    * frame, the [[RelationalQueries.HoltKernel]] lag table inlined as a
    * VALUES literal (every weight ::DOUBLE so nothing parses DECIMAL),
    * the same j = 1 init-column switch, and 1e-4-quantized term sums.
    */
  def forecastHoltSql: String = {
    val rows = RelationalQueries.HoltKernel
      .map { case (lag, wl, wb, ul, ub) =>
        s"($lag, $wl::DOUBLE, $wb::DOUBLE, $ul::DOUBLE, $ub::DOUBLE)"
      }
      .mkString(",\n      ")
    s"""
    WITH mo AS (
      SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
        SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT)) / 10000.0
          AS revenue
      FROM orders GROUP BY 1
    ),
    mt AS (
      SELECT month, revenue,
        CAST(ROW_NUMBER() OVER (ORDER BY month) AS INTEGER) AS t
      FROM mo
    ),
    k(lag, wl, wb, ul, ub) AS (VALUES
      $rows
    ),
    p AS (
      SELECT a.month AS month, b.revenue AS xj,
        CASE WHEN b.t = 1 THEN k.ul ELSE k.wl END AS wlv,
        CASE WHEN b.t = 1 THEN k.ub ELSE k.wb END AS wbv
      FROM mt a JOIN mt b ON b.t <= a.t
      JOIN k ON a.t - b.t = k.lag
    ),
    lv AS (
      SELECT month,
        SUM(CAST(floor(xj * wlv * 10000.0 + 0.5) AS BIGINT)) / 10000.0
          AS level,
        SUM(CAST(floor(xj * wbv * 10000.0 + 0.5) AS BIGINT)) / 10000.0
          AS trend
      FROM p GROUP BY month
    )
    SELECT m.month, m.revenue, l.level, l.trend,
      l.level + l.trend AS forecast_1mo,
      l.level + 3.0::DOUBLE * l.trend AS forecast_3mo
    FROM mt m JOIN lv l USING (month)
    ORDER BY month"""
  }

  /** Twin of [[RelationalQueries.anovaFrame]] over order priority:
    * identical integer-dollar quanta, per-group sufficient statistics,
    * 1e-6-quantized between-terms and F, and the df1-indexed asymptotic
    * critical-value literals.
    */
  def anovaPrioritySql: String = {
    val critCase = RelationalQueries.AnovaFCrit5Q.zipWithIndex
      .map { case (c, i) => s"WHEN df1 = ${i + 1} THEN $c" }
      .mkString("CASE ", " ", " END")
    s"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
        CAST(COUNT(*) AS BIGINT) AS ng,
        CAST(SUM(CAST(floor(o_totalprice * 1.0 + 0.5) AS BIGINT))
          AS BIGINT) AS sg,
        CAST(SUM(CAST(floor(o_totalprice * 1.0 + 0.5) AS BIGINT)
          * CAST(floor(o_totalprice * 1.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS qg
      FROM orders GROUP BY 1
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        CAST(SUM(ng) AS BIGINT) AS n_total,
        CAST(SUM(sg) AS BIGINT) AS s,
        CAST(SUM(qg) AS BIGINT) AS qq,
        CAST(SUM(CAST(floor(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
          / CAST(ng AS DOUBLE) * 1.0 + 0.5) AS BIGINT)) AS BIGINT) AS tq
      FROM g
    ),
    b AS (
      SELECT *,
        CAST(s AS DOUBLE) / CAST(n_total AS DOUBLE) AS grand_mean,
        CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
          / CAST(n_total AS DOUBLE) AS sst,
        CAST(tq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
          / CAST(n_total AS DOUBLE) AS ssb,
        CAST(qq AS DOUBLE) - CAST(tq AS DOUBLE) AS ssw,
        k_groups - 1 AS df1, n_total - k_groups AS df2
      FROM a
    ),
    f AS (
      SELECT *,
        CASE WHEN df1 > 0 AND df2 > 0 AND ssw > 0 THEN
          CAST(floor((ssb / CAST(df1 AS DOUBLE))
            / (ssw / CAST(df2 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) END
          AS fq,
        $critCase AS critq
      FROM b
    )
    SELECT k_groups, n_total, grand_mean, ssb, ssw, df1, df2,
      CAST(fq AS DOUBLE) / 1e6 AS f_stat,
      CAST(critq AS DOUBLE) / 1e6 AS f_crit_5pct,
      fq >= critq AS anova_reject_5pct,
      CASE WHEN sst > 0 THEN ssb / sst END AS eta_sq
    FROM f"""
  }

  /** Twin of [[RelationalQueries.discountElasticityFrame]]: identical
    * 1e-2/integer quanta, exact-LONG sufficient statistics, and the
    * shared closed-form slope / r² / z shapes.
    */
  def discountElasticitySql: String = s"""
    WITH q AS (
      SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS xq,
        CAST(floor(l_quantity * 1.0 + 0.5) AS BIGINT) AS yq
      FROM lineitem
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(xq) AS BIGINT) AS sx,
        CAST(SUM(xq * xq) AS BIGINT) AS sxx,
        CAST(SUM(yq) AS BIGINT) AS sy,
        CAST(SUM(yq * yq) AS BIGINT) AS syy,
        CAST(SUM(xq * yq) AS BIGINT) AS sxy
      FROM q
    ),
    d AS (
      SELECT n,
        CAST(n AS DOUBLE) AS nd,
        CAST(sx AS DOUBLE) / 1e2 AS sxd,
        CAST(sxx AS DOUBLE) / 1e4 AS sxxd,
        CAST(sy AS DOUBLE) AS syd,
        CAST(syy AS DOUBLE) AS syyd,
        CAST(sxy AS DOUBLE) / 1e2 AS sxyd
      FROM a
    ),
    f AS (
      SELECT n,
        nd * sxxd - sxd * sxd AS vx,
        nd * syyd - syd * syd AS vy,
        nd * sxyd - sxd * syd AS cov,
        nd, sxd, syd
      FROM d
    ),
    g AS (
      SELECT n,
        CASE WHEN vx > 0 THEN cov / vx END AS slope,
        CASE WHEN vx > 0 THEN (syd - (cov / vx) * sxd) / nd END
          AS intercept,
        CASE WHEN vx > 0 AND vy > 0 THEN
          CAST(floor(cov * cov / (vx * vy) * 1e9 + 0.5) AS BIGINT) END
          AS r2q
      FROM f
    ),
    h AS (
      SELECT g.*,
        CASE WHEN n > 2 AND r2q IS NOT NULL AND r2q < 1000000000 THEN
          CAST(floor(sign(slope)
            * sqrt(CAST(r2q AS DOUBLE) / 1e9)
            * sqrt(CAST(n - 2 AS DOUBLE)
              / (1.0::DOUBLE - CAST(r2q AS DOUBLE) / 1e9))
            * 1e9 + 0.5) AS BIGINT) END AS zq
      FROM g
    )
    SELECT n AS n_rows, slope, intercept,
      CAST(r2q AS DOUBLE) / 1e9 AS r2,
      CAST(zq AS DOUBLE) / 1e9 AS slope_z,
      abs(zq) >= ${RelationalQueries.ElasticityZCritQ}
        AS slope_reject_5pct
    FROM h"""

  /** Twin of [[RelationalQueries.revenueParetoFrame]]: identical
    * quantized per-customer revenue, the same (rq desc, custkey)-ordered
    * NTILE(10) assignment, and exact LONG decile sums.
    */
  def revenueParetoSql: String = s"""
    WITH per AS (
      SELECT o_custkey AS k,
        CAST(SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT))
          AS BIGINT) AS rq
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT rq, NTILE(10) OVER (ORDER BY rq DESC, k) AS decile FROM per
    ),
    dec AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(rq) AS BIGINT) AS dq
      FROM t GROUP BY 1
    ),
    w AS (
      SELECT *,
        CAST(SUM(dq) OVER () AS BIGINT) AS tq,
        CAST(SUM(dq) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) AS BIGINT) AS cq
      FROM dec
    )
    SELECT decile, n_customers,
      CAST(dq AS DOUBLE) / 10000.0 AS revenue,
      CAST(dq AS DOUBLE) / CAST(tq AS DOUBLE) AS share,
      CAST(cq AS DOUBLE) / CAST(tq AS DOUBLE) AS cum_share
    FROM w ORDER BY decile"""

  /** Twin of [[RelationalQueries.backlogFrame]]: the same two delta
    * aggregates, dense generate_series day grid, and exact cumulative
    * prefix sums.
    */
  def backlogTimelineSql: String = s"""
    WITH placed AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(COUNT(*) AS BIGINT) AS n_placed
      FROM orders GROUP BY 1
    ),
    shipped AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_first_shipped FROM (
        SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS day
        FROM lineitem GROUP BY 1
      ) GROUP BY 1
    ),
    bounds AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1 FROM (
        SELECT day FROM placed UNION ALL SELECT day FROM shipped
      )
    ),
    grid AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        AS day
      FROM bounds
    ),
    j AS (
      SELECT g.day,
        COALESCE(p.n_placed, 0) AS n_placed,
        COALESCE(s.n_first_shipped, 0) AS n_first_shipped
      FROM grid g
      LEFT JOIN placed p ON g.day = p.day
      LEFT JOIN shipped s ON g.day = s.day
    )
    SELECT day, n_placed, n_first_shipped,
      CAST(SUM(n_placed) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) AS BIGINT)
        - CAST(SUM(n_first_shipped) OVER (ORDER BY day ROWS BETWEEN
          UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
    FROM j ORDER BY day"""
}
