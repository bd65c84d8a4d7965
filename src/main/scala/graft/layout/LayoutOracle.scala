package graft.layout

/** DuckDB twins of [[LayoutQueries]]. The bit-interleave and Hilbert term
  * trees come from the SAME generators as the Spark side
  * ([[LayoutQueries.interleaveExpr]]/[[LayoutQueries.hilbertStep]]); the
  * only dialect difference is integer division (`//` vs `div`). All
  * layout/skipping arithmetic is BIGINT-exact; the lone double op is the
  * final read-amplification division of two exact longs.
  */
object LayoutOracle {

  import LayoutQueries._
  import graft.text.TextFns.hash60Sql

  private def duckIdiv(a: String, b: String): String = s"($a) // ($b)"

  /** mx/base/enriched: the row-level grid frame (x, pk, y, z, bands);
    * with `ingest` the content-hash split residues ih/ihf ride along
    * (the [[LayoutQueries.gridRows]] withIngestKey twin).
    */
  private def commonCtes(ingest: Boolean = false): String = {
    val z = interleaveExpr("x", "y", duckIdiv)
    val h60 = hash60Sql(
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")
    val (liCols, baseCols, thruCols) =
      if (ingest)
        (s", $h60 AS h",
          s", (h % $IngestMod) AS ih, ((h // $IngestMod) % $AppendFiles) AS ihf",
          ", ih, ihf")
      else ("", "", "")
    s"""mx AS (
      SELECT CAST(max(l_partkey) AS BIGINT) AS maxpk FROM lineitem),
    base AS (
      SELECT
        CAST(LEAST(GREATEST(
          date_diff('day', TIMESTAMP '$BaseDate 00:00:00', l_shipdate),
          0), ${DimCells - 1}) AS BIGINT) AS x,
        CAST(l_partkey AS BIGINT) AS pk,
        maxpk$baseCols
      FROM (SELECT l_shipdate, l_partkey$liCols FROM lineitem), mx),
    enriched AS (
      SELECT x, pk, y, $z AS z,
        ((maxpk + 1) * $PredPkLoPct) // 100 AS plo,
        ((maxpk + 1) * $PredPkHiPct) // 100 AS phi,
        date_diff('day', TIMESTAMP '$BaseDate 00:00:00',
                  TIMESTAMP '$PredDateLo 00:00:00') AS xlo,
        date_diff('day', TIMESTAMP '$BaseDate 00:00:00',
                  TIMESTAMP '$PredDateHi 00:00:00') AS xhi$thruCols
      FROM (SELECT x, pk, (pk * $DimCells) // (maxpk + 1) AS y, maxpk$thruCols
            FROM base))"""
  }

  /** files/per/final over an `assigned(layout, file_id, x, pk, ...)`
    * relation: the per-file min/max skipping index and per-layout rollup.
    */
  private def summarySql(assignedCte: String): String = s"""
    files AS (
      SELECT layout, file_id,
        count(*) AS n_rows,
        min(x) AS min_x, max(x) AS max_x,
        min(pk) AS min_pk, max(pk) AS max_pk,
        SUM(CASE WHEN x BETWEEN xlo AND xhi AND pk BETWEEN plo AND phi
                 THEN 1 ELSE 0 END) AS n_matched,
        max(plo) AS plo, max(phi) AS phi,
        max(xlo) AS xlo, max(xhi) AS xhi
      FROM $assignedCte
      GROUP BY layout, file_id),
    per AS (
      SELECT layout,
        CAST(COUNT(*) AS BIGINT) AS n_files,
        CAST(SUM(CASE WHEN max_x >= xlo AND min_x <= xhi
                       AND max_pk >= plo AND min_pk <= phi
                 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
        CAST(SUM(n_rows) AS BIGINT) AS rows_total,
        CAST(SUM(CASE WHEN max_x >= xlo AND min_x <= xhi
                       AND max_pk >= plo AND min_pk <= phi
                 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        CAST(SUM(n_matched) AS BIGINT) AS rows_matched
      FROM files
      GROUP BY layout)
    SELECT layout, n_files, files_touched, rows_total, rows_scanned,
      rows_matched,
      CASE WHEN rows_matched = 0 THEN NULL
           ELSE rows_scanned / rows_matched END AS read_amp
    FROM per
    ORDER BY layout"""

  val zorderPruningSql: String = {
    val cellShift = 1L << (2 * DimBits - FilePrefixBits)
    val linWidth = DimCells / (1L << FilePrefixBits)
    s"""
    WITH ${commonCtes()},
    assigned AS (
      SELECT 'zorder' AS layout, z // $cellShift AS file_id, * FROM enriched
      UNION ALL
      SELECT 'linear' AS layout, x // $linWidth AS file_id, * FROM enriched),
    ${summarySql("assigned")}"""
  }

  val hilbertPruningSql: String = {
    // chained CTEs h1..h{DimBits}, each carrying every prior column, so
    // the final hd sum can reference all per-step x$k/y$k — the exact
    // unrolled loop the Spark side evaluates per row
    val steps = (0 until DimBits).map { k =>
      val (xN, yN, _) = hilbertStep(k, duckIdiv)
      s"h${k + 1} AS (SELECT *, $xN AS x${k + 1}, $yN AS y${k + 1} FROM h$k)"
    }.mkString(",\n    ")
    val dSum = (0 until DimBits).map(k => hilbertStep(k, duckIdiv)._3)
      .mkString(" + ")
    s"""
    WITH ${commonCtes()},
    h0 AS (SELECT *, x AS x0, y AS y0 FROM enriched),
    $steps,
    hh AS (SELECT *, $dSum AS hd FROM h$DimBits),
    assigned AS (
      SELECT 'hilbert' AS layout, hd // $HilbertFileWidth AS file_id, *
      FROM hh
      UNION ALL
      SELECT 'zorder' AS layout, z // $HilbertFileWidth AS file_id, *
      FROM hh),
    ${summarySql("assigned")}"""
  }

  val appendDegradationSql: String = {
    val cellShift = 1L << (2 * DimBits - FilePrefixBits)
    val cellFiles = 1L << FilePrefixBits
    s"""
    WITH ${commonCtes(ingest = true)},
    assigned AS (
      SELECT 'appended' AS layout,
        CASE WHEN ih = $IngestBatch THEN $cellFiles + ihf
             ELSE z // $cellShift END AS file_id,
        * FROM enriched
      UNION ALL
      SELECT 'clustered' AS layout, z // $cellShift AS file_id, *
      FROM enriched),
    ${summarySql("assigned")}"""
  }

  /** Twin of [[LayoutQueries.optimizeZorder]]: the placement key of the
    * persisted table is a pure function of the data (recent-ship-date
    * rows in append slots before the rewrite, Z-cell after), so the
    * relational assignment predicts the physical layout exactly and the
    * before/after measurement over the real table must hash-match this
    * synthetic replay. A `def`, not a `val`: LayoutOracle initializes
    * while LayoutQueries is mid-init (its first query val touches this
    * object), and the Optimize* string constants are declared after
    * that point — a val here would capture them as null (the
    * kAnonymity init-order lesson).
    */
  def optimizeZorderSql: String = {
    val cellShift = 1L << (2 * DimBits - FilePrefixBits)
    val cellFiles = 1L << FilePrefixBits
    val xbcut = s"""date_diff('day', TIMESTAMP '$BaseDate 00:00:00',
                  TIMESTAMP '$OptimizeSinceDate 00:00:00')"""
    s"""
    WITH ${commonCtes(ingest = true)},
    en2 AS (
      SELECT x, pk, y, z, plo, phi,
        date_diff('day', TIMESTAMP '$BaseDate 00:00:00',
                  TIMESTAMP '$OptPredDateLo 00:00:00') AS xlo,
        date_diff('day', TIMESTAMP '$BaseDate 00:00:00',
                  TIMESTAMP '$OptPredDateHi 00:00:00') AS xhi,
        ih, ihf
      FROM enriched),
    assigned AS (
      SELECT 'appended' AS layout,
        CASE WHEN x >= $xbcut THEN $cellFiles + ihf
             ELSE z // $cellShift END AS file_id,
        * FROM en2
      UNION ALL
      SELECT 'clustered' AS layout, z // $cellShift AS file_id, *
      FROM en2),
    ${summarySql("assigned")}"""
  }
}
