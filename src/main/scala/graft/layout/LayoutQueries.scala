package graft.layout

import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftQuery

/** Physical data-layout operators: multi-dimensional clustering (Z-order,
  * Hilbert), the file-skipping effectiveness it buys, and what append
  * fragmentation takes away.
  *
  * At 100 TB the dominant cost of a selective query is the scan, and the
  * scan is bounded by FILE-LEVEL min/max statistics (parquet row-group /
  * Delta-Iceberg file stats): a file whose [min,max] range misses the
  * predicate is never opened. A layout clustered on ONE dimension prunes
  * one predicate; a Z-ORDER layout interleaves the bits of two dimensions
  * so every file covers a small rectangle of BOTH, and a 2-D predicate
  * prunes on both at once.
  *
  * [[zorderPruning]] measures exactly that trade, end to end, inside one
  * deterministic query: assign every lineitem row to a file under (a) a
  * linear ship-date layout and (b) a Z-order (ship-date × partkey) layout,
  * build each file's min/max skipping index, evaluate a fixed 2-D
  * predicate against the index, and report files touched / rows scanned /
  * read amplification per layout. The file id is a fixed-width Z-value
  * prefix (a grid cell), so the assignment is pure per-row arithmetic —
  * no global sort, no single-partition funnel; the only shuffle is the
  * ≤ ~512-group partial agg that builds the index. At cluster scale the
  * same cell id is the range-partition key a writer would use
  * (`repartitionByRange(zcell)` + `sortWithinPartitions(z)`), and the
  * per-file stats here are byte-for-byte the decisions parquet row-group
  * pruning would make.
  *
  * Everything is integer-exact on both engines: day offsets and partkey
  * grid positions are BIGINT arithmetic, the bit interleave is a generated
  * sum of (div / mod / multiply) terms shared with the DuckDB twin, and
  * the single double division (read amplification) divides two exact
  * longs — deterministic under any partitioning.
  */
object LayoutQueries {

  /** Grid: 12 bits per dimension (4096 cells/dim), 24-bit Z-values. */
  val DimBits = 12
  val DimCells: Long = 1L << DimBits // 4096

  /** File id = top [[FilePrefixBits]] of the Z-value → a 16×16 cell grid
    * (256 file slots). Fixed here for determinism; a writer would pick the
    * prefix length so rows/cell ≈ the target file size.
    */
  val FilePrefixBits = 8

  /** Day-dimension base: the corpus ship-date floor (TESTDATA.md corpus
    * spans 1995-01-02 .. 2001-11-04 — 2498 days < 4096).
    */
  val BaseDate = "1995-01-01"

  /** Bit-interleave of two [[DimBits]]-bit non-negative ints as a generated
    * integer-arithmetic expression (no engine-specific bit operators):
    * z = Σᵢ ((x div 2ⁱ) mod 2)·2^(2i) + ((y div 2ⁱ) mod 2)·2^(2i+1).
    * `idiv` renders integer division in the target dialect (Spark `div`,
    * DuckDB `//`) — the ONLY dialect difference, so both engines evaluate
    * the identical term tree.
    */
  private[layout] def interleaveExpr(
      x: String, y: String, idiv: (String, String) => String): String =
    (0 until DimBits).map { i =>
      val xb = s"((${idiv(x, (1L << i).toString)}) % 2) * ${1L << (2 * i)}"
      val yb = s"((${idiv(y, (1L << i).toString)}) % 2) * ${1L << (2 * i + 1)}"
      s"$xb + $yb"
    }.mkString(" + ")

  private[layout] def sparkIdiv(a: String, b: String): String = s"($a) div ($b)"

  /** Ingest-split modulus and batch residue: rows with
    * hash60(orderkey:linenumber) % [[IngestMod]] == [[IngestBatch]] (10%)
    * are "the batch appended since the last clustering run" — the
    * `doc_splits` content-hash convention, so the split is stable under
    * re-shards and identical in the oracle.
    */
  val IngestMod = 10
  val IngestBatch = 9

  /** Append files the un-clustered batch lands in (one per ingest
    * partition), numbered after the cell file space.
    */
  val AppendFiles = 8

  /** The 2-D predicate under test: a 3-month ship-date window × the middle
    * [45%,55%] partkey band (data-derived from max(l_partkey), so the band
    * is the same fraction of the key space at every scale factor).
    */
  val PredDateLo = "1996-06-01"
  val PredDateHi = "1996-08-31"
  val PredPkLoPct = 45
  val PredPkHiPct = 55

  /** Per-step fragments of the standard Hilbert xy→d transform (the
    * Wikipedia/Warren loop, unrolled [[DimBits]] levels): at level s the
    * quadrant bits are rx = (x div s) mod 2, ry = (y div s) mod 2, the
    * distance gains s²·((3·rx) xor ry), and (x, y) rotate into the
    * subsquare's frame. All integer arithmetic; the xor-of-bits collapses
    * to a 4-way CASE, so the generated text is dialect-shared except
    * `idiv`. Returns (xNext, yNext, dTerm) expression texts for step k,
    * reading columns `x$k`/`y$k`.
    */
  private[layout] def hilbertStep(
      k: Int, idiv: (String, String) => String): (String, String, String) = {
    val s = 1L << (DimBits - 1 - k)
    val x = s"x$k"; val y = s"y$k"
    val rx = s"((${idiv(x, s.toString)}) % 2)"
    val ry = s"((${idiv(y, s.toString)}) % 2)"
    // (3*rx) xor ry over bits: rx=0 -> ry; rx=1,ry=0 -> 3; rx=1,ry=1 -> 2
    val q = s"(CASE WHEN $rx = 1 THEN (CASE WHEN $ry = 1 THEN 2 ELSE 3 END) ELSE $ry END)"
    val dTerm = s"${s * s} * $q"
    // if ry==0: (if rx==1 reflect both) then swap x/y; else unchanged.
    // The reflection MUST be n-1-v (the full grid, the canonical rot):
    // with s-1-v the carried high bits drive intermediates negative, and
    // SQL div/mod on negatives diverges from two's-complement bit tests.
    val n1 = DimCells - 1
    val xN = s"(CASE WHEN $ry = 1 THEN $x WHEN $rx = 1 THEN $n1 - $y ELSE $y END)"
    val yN = s"(CASE WHEN $ry = 1 THEN $y WHEN $rx = 1 THEN $n1 - $x ELSE $x END)"
    (xN, yN, dTerm)
  }

  /** File width (curve units) for the Hilbert-vs-Z comparison: equal-WIDTH
    * curve ranges, deliberately NOT a power of two. At power-of-2-aligned
    * prefixes both curves carve the identical 16×16 aligned squares (every
    * space-filling curve visits an aligned subsquare contiguously) and the
    * skipping index comes out the same — the curves only differ on ranges
    * that STRADDLE block boundaries, which is exactly what a real writer
    * produces when it range-partitions the curve value into equal-size
    * files. 1e5 curve units ≈ 168 file slots over the 2^24 key space.
    */
  val HilbertFileWidth = 100000L

  /** Z-order vs linear layout file-skipping effectiveness (see object doc).
    * One scan: per-row (x, pk, z, matched) → explode into the two layout
    * assignments → per-(layout, file) min/max/count partial agg → per-layout
    * rollup of the skip decisions. `rows_matched` comes out identical for
    * both layouts by construction (it is the true predicate count) — an
    * internal consistency check the spec pins.
    */
  val zorderPruning: GraftQuery = GraftQuery(
    "layout_zorder_pruning",
    "Z-order vs linear clustering: file min/max skipping index + read amplification for a 2-D predicate",
    LayoutOracle.zorderPruningSql) { (s, d) =>
    // zorder: top FilePrefixBits of the 2·DimBits z → 16×16 grid cells;
    // linear: same 256-slot file space carved from the day axis alone.
    val cellShift = 1L << (2 * DimBits - FilePrefixBits)
    val linWidth = DimCells / (1L << FilePrefixBits)
    pruneSummary(assignLayouts(gridRows(s, d), Seq(
      "zorder" -> s"z div $cellShift",
      "linear" -> s"x div $linWidth")))
  }

  /** Hilbert vs Z-order under equal-WIDTH (unaligned) curve-range files —
    * the comparison that actually separates the two curves (see
    * [[HilbertFileWidth]]): a range-partitioning writer slices the curve
    * into equal spans, those spans straddle block boundaries, and the
    * bounding box of a straddling span is where Hilbert's no-jump
    * locality beats Z-order's discontinuities. Same one-scan / ≤
    * ~2·168-group partial-agg shape as [[zorderPruning]]; the Hilbert
    * transform is [[DimBits]] unrolled integer steps computed per row in
    * codegen, shared text with the oracle's chained CTEs.
    */
  val hilbertPruning: GraftQuery = GraftQuery(
    "layout_hilbert_pruning",
    "Hilbert vs Z-order clustering under unaligned equal-width curve-range files: skipping index + read amplification",
    LayoutOracle.hilbertPruningSql) { (s, d) =>
    val rows0 = gridRows(s, d)
      .withColumn("x0", col("x")).withColumn("y0", col("y"))
    val (rows, dTerms) =
      (0 until DimBits).foldLeft((rows0, Seq.empty[String])) {
        case ((df, terms), k) =>
          val (xN, yN, dT) = hilbertStep(k, sparkIdiv)
          (df.withColumn(s"x${k + 1}", expr(xN))
             .withColumn(s"y${k + 1}", expr(yN)), terms :+ dT)
      }
    val withH = rows.withColumn("hd", expr(dTerms.mkString(" + ")))
    pruneSummary(assignLayouts(withH, Seq(
      "hilbert" -> s"hd div $HilbertFileWidth",
      "zorder" -> s"z div $HilbertFileWidth")))
  }

  /** Append-fragmentation degradation — the maintenance story behind
    * `Warehouse.compactPartition`, measured as a layout artifact: the
    * 'clustered' state has every row in its Z-cell file; the 'appended'
    * state has 90% of rows clustered and the latest 10% ingest batch in
    * [[AppendFiles]] append files written in ARRIVAL order (each spans
    * the whole key space, so its min/max prune nothing and every probe
    * touches all of them). The output quantifies exactly what compaction
    * buys: at sf0.01 the appended state's read amplification is ~4x the
    * clustered state's, and re-clustering the batch (the compactPartition
    * rewrite) restores the 'clustered' row by construction — the spec
    * asserts that equivalence by recomputing 'clustered' from base+batch.
    *
    * Same single-scan explode shape as the other layout queries; the
    * ingest hash is the `doc_splits` content hash, shared with the twin.
    */
  val appendDegradation: GraftQuery = GraftQuery(
    "layout_append_degradation",
    "file-skipping degradation from unclustered appends (10% content-hash batch) vs the fully Z-clustered state",
    LayoutOracle.appendDegradationSql) { (s, d) =>
    val cellShift = 1L << (2 * DimBits - FilePrefixBits)
    val cellFiles = 1L << FilePrefixBits
    pruneSummary(assignLayouts(gridRows(s, d, withIngestKey = true), Seq(
      "appended" -> (s"CASE WHEN ih = $IngestBatch THEN " +
        s"$cellFiles + ihf ELSE z div $cellShift END"),
      "clustered" -> s"z div $cellShift")))
  }

  /** Managed-table name for [[optimizeZorder]]'s persisted lifecycle. */
  val LayoutTable = "lineitem_layout"

  /** "Last OPTIMIZE run" date for [[optimizeZorder]]: rows shipped on or
    * after this date are the append batch (~3.5% of the corpus — the last
    * ~90 days of the 1995..2001-11-04 range). A RECENT-data batch, unlike
    * [[appendDegradation]]'s content-hash one, is both the realistic
    * ingest shape and the property that keeps the rewrite INCREMENTAL:
    * the batch's cluster cells concentrate in one x-stripe of the 16×16
    * grid, so OPTIMIZE touches the 8 append slots + ~16 destination
    * cells, never the table.
    */
  val OptimizeSinceDate = "2001-08-07"

  /** The 2-D predicate [[optimizeZorder]] grades pruning with: a 2-month
    * window INSIDE the append batch's date range × the standard partkey
    * band — the dashboards-over-recent-data query class that unclustered
    * appends actually poison (the corpus-middle [[PredDateLo]] window
    * never touches an append file, so it can't see the degradation).
    */
  val OptPredDateLo = "2001-08-15"
  val OptPredDateHi = "2001-10-15"

  /** OPTIMIZE ZORDER on a REAL persisted table — [[appendDegradation]]
    * measures the appended-vs-clustered trade on synthetic per-row file
    * assignments; this runs the actual lakehouse maintenance verb and
    * attests the same trade from the table's OWN partitions:
    *
    *   1. PUBLISH the appended state as a managed table PARTITIONED BY
    *      the placement key `file_id` (each "file" is a real partition
    *      directory — the row's Z-cell for the clustered base, an
    *      arrival-order append slot for the recent-ship-date ingest
    *      batch, see [[OptimizeSinceDate]]), one physical file per slot
    *      (hash-repartitioned by file_id);
    *   2. MEASURE the skipping index from the table's own layout
    *      (per-partition min/max → files touched / rows scanned / read
    *      amplification for the fixed 2-D predicate), materialized
    *      BEFORE the rewrite;
    *   3. OPTIMIZE via [[graft.sources.Warehouse.compactClustered]] —
    *      every misplaced row moves to its Z-cell partition; only
    *      partitions losing or gaining rows rewrite, emptied append
    *      slots drop through the catalog;
    *   4. MEASURE again: the output is the before/after pair; the
    *      oracle replays both placements relationally — the placement
    *      key is a pure function of the data, which is exactly what
    *      makes a real table's physical layout oracle-checkable.
    *
    * At 100 TB this is the weekly maintenance job behind every
    * Delta/Iceberg `OPTIMIZE ZORDER BY`: the rewrite moves
    * O(batch + touched cells), never the table, and the read-amp drop
    * (15.1 -> 4.3 at sf0.01) is the scan cost the next thousand recent-
    * window 2-D queries stop paying. LayoutSpec pins the physical half:
    * partition
    * directories match the index file counts, untouched cells keep
    * their files byte-identical, and a second OPTIMIZE is a no-op.
    */
  val optimizeZorder: GraftQuery = GraftQuery(
    "layout_optimize_zorder",
    "OPTIMIZE ZORDER lifecycle: persist the appended state as a file_id-partitioned table, clustered rewrite, before/after skipping index from the table's own partitions",
    LayoutOracle.optimizeZorderSql) { (s, d) =>
    import graft.sources.Warehouse
    val cellShift = 1L << (2 * DimBits - FilePrefixBits)
    val cellFiles = 1L << FilePrefixBits
    val bounds = Seq("plo", "phi", "xlo", "xhi")
    val graded = gridRows(s, d, withIngestKey = true)
      .withColumn("zcell", expr(s"z div $cellShift"))
      .withColumn("xbcut",
        datediff(lit(OptimizeSinceDate).cast("timestamp"),
          lit(BaseDate).cast("timestamp")).cast("long"))
      .withColumn("file_id", expr(
        s"CASE WHEN x >= xbcut THEN $cellFiles + ihf ELSE zcell END"))
      // the RECENT 2-D predicate replaces gridRows' corpus-middle one
      .withColumn("xlo", datediff(lit(OptPredDateLo).cast("timestamp"),
        lit(BaseDate).cast("timestamp")).cast("long"))
      .withColumn("xhi", datediff(lit(OptPredDateHi).cast("timestamp"),
        lit(BaseDate).cast("timestamp")).cast("long"))
      .withColumn("matched",
        col("x").between(col("xlo"), col("xhi"))
          && col("pk").between(col("plo"), col("phi")))
    // plo/phi/xlo/xhi are row-CONSTANT predicate bounds: the table
    // persists only per-row facts (4 dead longs per row would ride the
    // repartition shuffle and both rewrites, guide §2.3), so the bounds
    // are read once off the graded frame — one limit-1 row — and
    // measure() attaches them as literals
    val b = graded.select(bounds.map(col): _*).head()
    val rows = graded
      .select(col("file_id"), col("x"), col("pk"), col("zcell"),
        col("matched"))
      .repartition(col("file_id"))
    Warehouse.replacePartitioned(rows, LayoutTable, "file_id")
    def measure(state: String) = pruneSummary(
      s.table(s"${Warehouse.Schema}.$LayoutTable")
        .select(Seq(lit(state).as("layout"), col("file_id"), col("x"),
          col("pk"), col("matched")) ++
          bounds.map(c => lit(b.getAs[Long](c)).as(c)): _*))
    val before = measure("appended").localCheckpoint()
    Warehouse.compactClustered(s, LayoutTable, "file_id", "zcell")
    before.unionByName(measure("clustered")).orderBy("layout")
  }

  /** The shared row-level grid frame: day offset `x`, raw `pk`, grid `y`,
    * Morton `z`, the data-derived predicate band `plo`/`phi`, the
    * date-window bounds `xlo`/`xhi`, and the true per-row `matched` bit.
    * One projected scan + a broadcast 1-row max(l_partkey) aggregate.
    */
  private[graft] def gridRows(s: org.apache.spark.sql.SparkSession, d: String,
      withIngestKey: Boolean = false): org.apache.spark.sql.DataFrame = {
    val liAll = Tables.lineitem(s, d)
    // the ingest split key rides along only when asked for — the plain
    // layout queries keep their 2-column scan (LayoutSpec pins it)
    val li =
      if (withIngestKey)
        liAll.select(col("l_shipdate"), col("l_partkey"),
          graft.text.TextFns.hash60(concat_ws(":",
            col("l_orderkey"), col("l_linenumber"))).as("h"))
          // h is up to 2^60: integer div only (a double detour loses
          // low bits above 2^53 and the residues with them)
          .withColumn("ih", expr(s"h % $IngestMod"))
          .withColumn("ihf", expr(s"(h div $IngestMod) % $AppendFiles"))
          .drop("h")
      else liAll.select(col("l_shipdate"), col("l_partkey"))
    val mx = liAll.agg(max(col("l_partkey")).cast("long").as("maxpk"))
    li.crossJoin(broadcast(mx))
      .withColumn("x",
        least(greatest(datediff(col("l_shipdate"),
          lit(BaseDate).cast("timestamp")), lit(0)),
          lit(DimCells - 1)).cast("long"))
      .withColumn("pk", col("l_partkey").cast("long"))
      .withColumn("y", expr(s"(pk * $DimCells) div (maxpk + 1)"))
      .withColumn("z", expr(interleaveExpr("x", "y", sparkIdiv)))
      .withColumn("plo", expr(s"((maxpk + 1) * $PredPkLoPct) div 100"))
      .withColumn("phi", expr(s"((maxpk + 1) * $PredPkHiPct) div 100"))
      .withColumn("xlo", datediff(lit(PredDateLo).cast("timestamp"),
        lit(BaseDate).cast("timestamp")).cast("long"))
      .withColumn("xhi", datediff(lit(PredDateHi).cast("timestamp"),
        lit(BaseDate).cast("timestamp")).cast("long"))
      .withColumn("matched",
        col("x").between(col("xlo"), col("xhi"))
          && col("pk").between(col("plo"), col("phi")))
  }

  /** Explode each row into its per-layout file assignment: one scan feeds
    * every layout; the downstream agg keys stay ≤ layouts × file slots.
    */
  private def assignLayouts(rows: org.apache.spark.sql.DataFrame,
      layouts: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    rows.select(
      col("x"), col("pk"), col("matched"),
      col("plo"), col("phi"), col("xlo"), col("xhi"),
      explode(array(layouts.map { case (name, fid) =>
        struct(lit(name).as("layout"), expr(fid).as("file_id"))
      }: _*)).as("f"))
      .select(col("f.layout").as("layout"), col("f.file_id").as("file_id"),
        col("x"), col("pk"), col("matched"),
        col("plo"), col("phi"), col("xlo"), col("xhi"))

  /** Per-(layout, file) min/max skipping index → per-layout scan summary:
    * files touched, rows scanned, true matches, read amplification.
    */
  private def pruneSummary(assigned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val files = assigned
      .groupBy(col("layout"), col("file_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
        max(col("plo")).as("plo"), max(col("phi")).as("phi"),
        max(col("xlo")).as("xlo"), max(col("xhi")).as("xhi"))
      .withColumn("touched",
        col("max_x") >= col("xlo") && col("min_x") <= col("xhi")
          && col("max_pk") >= col("plo") && col("min_pk") <= col("phi"))
    files.groupBy(col("layout"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(when(col("touched"), 1L).otherwise(0L)).as("files_touched"),
        sum(col("n_rows")).as("rows_total"),
        sum(when(col("touched"), col("n_rows")).otherwise(0L))
          .as("rows_scanned"),
        sum(col("n_matched")).as("rows_matched"))
      .withColumn("read_amp",
        when(col("rows_matched") === 0, lit(null).cast("double"))
          .otherwise(col("rows_scanned") / col("rows_matched")))
      .orderBy("layout")
  }

  def all: Seq[GraftQuery] =
    Seq(zorderPruning, hilbertPruning, appendDegradation, optimizeZorder)
}
