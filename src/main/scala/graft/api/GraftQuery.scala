package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability, wired to the driver's correctness gate.
  *
  * Each implemented operator from SURVEY.md §2 (plus the extension surface)
  * registers exactly one `GraftQuery`:
  *   - `frame` builds the lazy Spark plan over the parquet tables in `sfDir`;
  *   - `oracle`, when present, is the ANSI-SQL twin the driver executes in
  *     DuckDB over the same tables (bare table names: region, nation,
  *     customer, supplier, part, orders, lineitem, events, documents,
  *     embeddings). Column names/types and row order must match the Spark
  *     result exactly — the driver hash-compares.
  *
  * Determinism contract (see SURVEY.md §5.2, §7.4): every query ends in a
  * total-order ORDER BY; double arithmetic keeps the same expression shape
  * on both sides (IEEE754 ops are deterministic given identical operand
  * order); order-sensitive double SUMs go through integer quantization
  * (exact, associative — see [[Det.sumQ]]; NOT a DECIMAL cast, whose
  * rounding differs between Spark and DuckDB).
  */
trait GraftQuery {
  def name: String

  /** One-line description for SURVEY §2 traceability. */
  def doc: String

  def frame(spark: SparkSession, sfDir: String): DataFrame

  /** DuckDB twin; None → driver records a weaker rows-only check. */
  def oracle: Option[String]

  /** True when the result is a single-row aggregate, which is exempt from
    * the "oracle ends in a total-order ORDER BY" structural invariant
    * (SmokeSpec) — a 1-row frame can't hash-flake on row order. Queries
    * self-declare via [[GraftQuery.oneRow]] so the exemption list can't
    * drift from the registry.
    */
  def singleRow: Boolean = false

  /** True when the Spark frame executes the oracle string VERBATIM
    * (`spark.sql(oracle.get)`). Dialect-shared queries carry an extra
    * type contract: every literal in the text must parse to the SAME
    * type in Spark SQL and DuckDB — in particular `x / 10000.0` stays
    * DECIMAL in Spark but becomes DOUBLE in DuckDB, so quantized-sum
    * outputs must be wrapped in CAST(... AS DOUBLE) (or use `1e4`
    * literals). RelationalSpec enforces the observable half of the
    * contract mechanically: no DecimalType may appear in a shared
    * query's analyzed output schema. Queries self-declare via
    * [[GraftQuery.shared]] so the spec's list can't drift.
    */
  def dialectShared: Boolean = false
}

object GraftQuery {

  /** Every registry query: `frame` first puts the native functions
    * ([[graft.functions.GraftFunctions.register]]) into whatever session
    * it is handed — a no-op once the session holds them — so no query
    * body, and no helper it calls, registers anything itself.
    */
  private final class Query(
      val name: String,
      val doc: String,
      val oracle: Option[String],
      override val singleRow: Boolean,
      override val dialectShared: Boolean,
      body: (SparkSession, String) => DataFrame) extends GraftQuery {
    def frame(spark: SparkSession, sfDir: String): DataFrame = {
      graft.functions.GraftFunctions.register(spark)
      body(spark, sfDir)
    }
  }

  def apply(n: String, d: String, sql: String)(
      f: (SparkSession, String) => DataFrame): GraftQuery =
    new Query(n, d, Option(sql), false, false, f)

  /** A 1-row aggregate query: exempt from the ORDER-BY invariant (and
    * SmokeSpec asserts the frame really is 1 row, so the flag can't lie).
    */
  def oneRow(n: String, d: String, sql: String)(
      f: (SparkSession, String) => DataFrame): GraftQuery =
    new Query(n, d, Option(sql), true, false, f)

  /** A dialect-shared query: ONE SQL string is both the Spark frame and
    * the DuckDB oracle. `views` registers the temp views the text reads;
    * the frame is then literally `spark.sql(sql)`, so Spark-vs-oracle
    * divergence can only come from dialect semantics, never from a
    * drifted re-implementation. `oneRow` marks 1-row aggregates (same
    * exemption as [[oneRow]]).
    */
  def shared(n: String, d: String, sql: String, oneRowResult: Boolean = false)(
      views: (SparkSession, String) => Unit): GraftQuery =
    new Query(n, d, Option(sql), oneRowResult, true,
      (spark, sfDir) => { views(spark, sfDir); spark.sql(sql) })

  /** A query with no SQL-expressible oracle (driver does rows-only check). */
  def rowsOnly(n: String, d: String)(
      f: (SparkSession, String) => DataFrame): GraftQuery =
    new Query(n, d, None, false, false, f)
}
