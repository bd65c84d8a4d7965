package graft.loan

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.Det

/** The reference's loan data model mapped deterministically onto the driver
  * parquet corpus (FIXTURES.md §B mapping):
  *
  *   orders   → loans            (/root/reference/main.py:21-39)
  *   customer → customers        (/root/reference/main.py:20-38)
  *   lineitem → loan_extensions  (the MongoDB side, /root/reference/main.py:51-55):
  *              per-order revenue (scaled) plays `emi_collected`; 257 orders
  *              at sf0.01 have no lineitems, exercising the left-join null
  *              path (/root/reference/main.py:62, 87).
  *
  * Every derived expression here has an exact ANSI-SQL twin in
  * [[LoanOracle]]: identical operand order keeps IEEE754 doubles
  * bit-identical between Spark and the DuckDB oracle.
  */
object LoanDomain {

  /** The reference captures `datetime.today()` ONCE and reuses it
    * (/root/reference/main.py:80). We pin it for determinism (SURVEY.md F12);
    * chosen mid-corpus (orders span 1995..2001) so months_due/dpd_bucket
    * cover all branches.
    */
  val AsOf = "1999-06-15"
  def asOf: Column = to_date(lit(AsOf))

  val ValidCities: Seq[String] = Seq("Bangalore", "Mumbai", "Delhi", "Kolkata")

  /** loans view. duration 6..60 months, rate 5.0..14.5%, region dirtied with
    * deterministic misspellings (fuzzy-cleaner input, main.py:67-75), null
    * region every 37th loan (null passthrough, main.py:70-71).
    */
  def loans(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val dirtyRegions = Seq(
      "Bangalore", "Bangalre", "Mumbai", "Mumbaii",
      "Delhi", "Dehli", "Kolkata", "Kolkatta")
    val regionCase = dirtyRegions.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (name, i)) => when(col("o_orderkey") % 8 === i, lit(name)).otherwise(acc)
    }
    o.select(
      col("o_orderkey").as("loan_id"),
      col("o_custkey").as("customer_id"),
      col("o_totalprice").as("disbursement_amount"),
      to_date(col("o_orderdate")).as("disbursement_date"),
      add_months(to_date(col("o_orderdate")),
        (lit(6) + col("o_orderkey") % 55).cast("int")).as("due_date"),
      when(col("o_orderkey") % 37 === 0, lit(null).cast("string"))
        .otherwise(regionCase).as("region"),
      (lit(5.0) + (col("o_orderkey") % 20) * lit(0.5)).as("interest_rate"),
      col("o_orderstatus").as("pos"))
  }

  /** loan_extensions view (the Mongo side of the reference). Revenue summed
    * through integer quantization ([[graft.api.Det]]): the quantized-long
    * aggregate is exact and associative, so it is deterministic regardless
    * of partial-aggregation order — required for hash parity with DuckDB and
    * stable at any partition count.
    */
  def loanExtensions(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    l.groupBy(col("l_orderkey"))
      .agg(sum(Det.quantize(
        col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev_i"))
      .select(
        col("l_orderkey").as("loan_id"),
        concat(lit("PT-"), (col("l_orderkey") % 5).cast("string")).as("product_type"),
        (col("rev_i") / lit(Det.pow10(4)) *
          (lit(0.1) + (col("l_orderkey") % 10) * lit(0.1))).as("emi_collected"))
  }

  def customers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("customer_name"))

  /** J1 (inner equi-join, main.py:36-38) + J2 (left outer on loan_id,
    * main.py:62). Catalyst broadcast-joins the customer side automatically
    * at these sizes; at 100 TB the orders⨝lineitem-agg side shuffles on its
    * natural key only once.
    *
    * Both inputs route through the config-gated connectors, so the
    * flagship itself runs source-swapped end-to-end: with `graft.jdbc.url`
    * set the J1 join executes INSIDE the database (the reference's S1
    * shape, main.py:25-41) and only result rows reach Spark; with
    * `graft.docs.path` set the extensions come from the document
    * collection (S2, main.py:51-55). Unset, the connectors fall back to
    * [[customers]]⨝[[loans]] / [[loanExtensions]] — plan-identical to
    * building the joins here directly.
    */
  def joined(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Connectors.relationalSource(spark, sfDir)
      .join(graft.sources.Connectors.loanExtensionsSource(spark, sfDir),
        Seq("loan_id"), "left")

  // ---- F1..F12 metric columns (SURVEY.md §2.4), reusable + unit-testable ----

  /** F1 — fuzzy region cleaner (main.py:67-75). Semantics defined as argmin
    * Levenshtein over the 4-city dictionary (case-insensitive), ties broken
    * by dictionary order; null passthrough. Pure built-ins: codegen'd, no UDF.
    *
    * The argmin is `least` over (distance, index, city) structs — struct
    * ordering is lexicographic, so the min struct IS the argmin with the
    * dictionary-order tie-break. Each levenshtein evaluates exactly once
    * (a when-chain over a shared `least(d...)` looks cheaper but re-runs
    * the distances per branch — codegen subexpression elimination does not
    * reach into conditional branches), and unlike the array_sort form
    * there is no per-row array allocation or sort: measured 0.74 -> 0.50 s
    * on the region agg at sf0.1 across every loan_final consumer.
    */
  def cleanRegion(region: Column): Column = {
    val scored = ValidCities.zipWithIndex.map { case (city, i) =>
      struct(
        // Locale.ROOT: a tr-TR default locale would upcase "Delhi" to
        // "DELHİ" here while Spark's upper() and DuckDB stay locale-free
        levenshtein(upper(region),
          lit(city.toUpperCase(java.util.Locale.ROOT))).as("d"),
        lit(i).as("i"),
        lit(city).as("c"))
    }
    when(region.isNull, lit(null).cast("string"))
      .otherwise(least(scored: _*).getField("c"))
  }

  /** F2 — calendar-month diff, exactly `(Δyear)*12 + (Δmonth)` (main.py:90).
    * NOT months_between (fractional/day-aware).
    */
  def monthDiff(d2: Column, d1: Column): Column =
    (year(d2) - year(d1)) * lit(12) + (month(d2) - month(d1))

  /** F6 — `row.get("emi_collected", 0) or 0` (main.py:87). */
  def ec(emiCollected: Column): Column = coalesce(emiCollected, lit(0.0))

  /** F3 — simple-interest total payable, loan_final shape `P + P*R*T`
    * (main.py:94-95). The schedule uses the algebraically-equal but
    * float-different `P*(1+R*T)` (main.py:155) — kept distinct on purpose.
    */
  def totalPayable(p: Column, ratePct: Column, durationMonths: Column): Column =
    p + p * (ratePct / lit(100.0)) * (durationMonths / lit(12.0))

  def totalPayableScheduleShape(p: Column, ratePct: Column, durationMonths: Column): Column =
    p * (lit(1) + (ratePct / lit(100.0)) * (durationMonths / lit(12.0)))

  /** F3 — EMI with div-by-zero guard → 0 (main.py:96). */
  def emiAmount(totalPayable: Column, durationMonths: Column): Column =
    when(durationMonths > 0, totalPayable / durationMonths).otherwise(lit(0.0))

  /** F4 — months due till as-of, clamped to [0, duration] (main.py:99-100). */
  def monthsDue(asOfD: Column, disb: Column, durationMonths: Column): Column =
    greatest(lit(0), least(monthDiff(asOfD, disb), durationMonths))

  /** F5 — arrear / target / returned (main.py:111-115). */
  def arrear(totalDemand: Column, ec: Column): Column =
    greatest(lit(0.0), totalDemand - ec)

  /** F8 — DPD days: 0 unless in arrears (main.py:118-119). */
  def dpdDays(arrear: Column, asOfD: Column, emiDueDate: Column): Column =
    when(arrear > 0, greatest(lit(0), datediff(asOfD, emiDueDate))).otherwise(lit(0))

  /** F9 — DPD bucket, loan_final label set with U+2013 en-dashes
    * (main.py:122-131). The schedule uses a DIFFERENT label set
    * (main.py:167-176) — both preserved byte-for-byte (bugs-as-spec).
    */
  def dpdBucketFinal(dpdDays: Column): Column =
    when(dpdDays === 0, "Current")
      .when(dpdDays <= 30, "1–30 DPD")
      .when(dpdDays <= 60, "31–60 DPD")
      .when(dpdDays <= 90, "61–90 DPD")
      .otherwise("90+ DPD")

  def dpdBucketSchedule(dpdDays: Column): Column =
    when(dpdDays === 0, "Current")
      .when(dpdDays <= 30, "0–30")
      .when(dpdDays <= 60, "30–60")
      .when(dpdDays <= 90, "60–90")
      .otherwise("90+")

  /** The full loan_final derivation (main.py:82-141) over any frame with the
    * joined schema — used by the flagship query and by unit tests on literal
    * fixtures. One output row per input row (NOT an aggregation, SURVEY §2.5).
    */
  def loanFinal(base: DataFrame, asOfD: Column = asOf): DataFrame = {
    base
      .withColumn("duration_months", monthDiff(col("due_date"), col("disbursement_date")))
      .withColumn("ec0", ec(col("emi_collected")))
      .withColumn("total_payable",
        totalPayable(col("disbursement_amount"), col("interest_rate"), col("duration_months")))
      .withColumn("months_due", monthsDue(asOfD, col("disbursement_date"), col("duration_months")))
      .withColumn("emi_amount", emiAmount(col("total_payable"), col("duration_months")))
      .withColumn("total_demand", col("emi_amount") * col("months_due"))
      .withColumn("arrear", arrear(col("total_demand"), col("ec0")))
      .withColumn("target_amount", greatest(lit(0.0), col("arrear") + col("emi_amount") - col("ec0")))
      .withColumn("amount_to_be_returned",
        greatest(lit(0.0), -(col("arrear") + col("emi_amount") - col("ec0"))))
      .withColumn("emi_due_date",
        when(col("arrear") > 0, add_months(col("disbursement_date"), col("months_due")))
          .otherwise(col("disbursement_date")))
      .withColumn("dpd_days", dpdDays(col("arrear"), asOfD, col("emi_due_date")))
      .withColumn("dpd_bucket", dpdBucketFinal(col("dpd_days")))
      .withColumn("total_to_be_collected", col("total_payable") - col("ec0"))
      .withColumn("region_cleaned", cleanRegion(col("region")))
  }

  /** Output projection of loan_final (column set per main.py:204-210: all
    * input columns + region_cleaned + the 9 derived metrics).
    */
  val loanFinalColumns: Seq[String] = Seq(
    "loan_id", "customer_id", "customer_name", "disbursement_amount",
    "disbursement_date", "due_date", "region", "region_cleaned",
    "interest_rate", "pos", "product_type", "emi_collected",
    "emi_amount", "total_demand", "arrear", "target_amount",
    "amount_to_be_returned", "months_due", "dpd_days", "dpd_bucket",
    "total_to_be_collected")

  /** loan_final's output rows over any frame with the joined schema, with
    * no presentation sort: input to the rollups and the warehouse load.
    */
  def loanFinalRows(base: DataFrame): DataFrame =
    loanFinal(base).select(loanFinalColumns.map(col): _*)

  def loanFinalUnordered(spark: SparkSession, sfDir: String): DataFrame =
    loanFinalRows(joined(spark, sfDir))

  def loanFinalFrame(spark: SparkSession, sfDir: String): DataFrame =
    loanFinalUnordered(spark, sfDir).orderBy("loan_id")

  /** F10 — 2dp presentation rounding (main.py:182-185). Spelled out as
    * `floor(x*100 + 0.5)/100` (valid for the non-negative money values here)
    * because engine-native round() differs at half boundaries: Spark rounds
    * the exact binary value HALF_UP, DuckDB rounds x*100 — ~30/500k cells
    * diverge by a full cent. One explicit IEEE754 formula on both sides is
    * bit-deterministic. (Deviation note: Python round() is banker's.)
    */
  def round2(x: Column): Column = floor(x * lit(100) + lit(0.5)) / lit(100.0)

  /** The number of a loan's instalments due by `asOfD`, clamped to
    * [0, duration]: `add_months(disb, m)` is strictly increasing in `m`
    * (each month lands in its own calendar month), so the due months are
    * exactly `1..k`. With `M` the calendar-month distance from `disb` to
    * `asOfD`, every month before `M` falls in an earlier calendar month and
    * is due, every month after it is not, and month `M` itself is due iff
    * its date is not after `asOfD`.
    */
  def monthsPaid(asOfD: Column, disb: Column, durationMonths: Column): Column = {
    val m = monthDiff(asOfD, disb)
    least(durationMonths, greatest(lit(0),
      when(add_months(disb, m) <= asOfD, m).otherwise(m - lit(1))))
  }

  /** G1 — month-wise repayment schedule (main.py:146-193), the reference's
    * most complex operator. The pandas version is an iterrows loop building
    * one mini-DataFrame per loan + concat; here it is a single vectorized
    * `explode(sequence(1, duration))` followed by pure column expressions —
    * fully distributed, no driver-side loop, no shuffle, scales linearly in
    * loans × months.
    *
    * Quirks preserved (bugs-as-spec, SURVEY.md §7.4): the FULL cumulative
    * `emi_collected` is credited to EVERY elapsed month (main.py:162), and
    * the schedule's DPD label set differs from loan_final's (main.py:167-176).
    *
    * The reference's running `total_collected += collected` is
    * `ec * (due months among 1..month)`. That running count is closed-form:
    * the due months are a prefix `1..k` ([[monthsPaid]], computed once per
    * loan before the explode), so at `month` it is `least(month, k)` — an
    * integer times a constant, exactly the value a running window count
    * gives, without the window's shuffle and sort. The DuckDB twin in
    * [[LoanOracle]] keeps the window (`SUM(...) OVER (PARTITION BY loan_id
    * ORDER BY month)`), so the oracle still checks this argument
    * independently, and LoanPropertySpec pins the two forms equal.
    */
  def monthlySchedule(base: DataFrame, asOfD: Column = asOf): DataFrame =
    base
      .withColumn("duration_months", monthDiff(col("due_date"), col("disbursement_date")))
      .filter(col("duration_months") >= 1)
      .withColumn("ec0", ec(col("emi_collected")))
      .withColumn("total_payable", totalPayableScheduleShape(
        col("disbursement_amount"), col("interest_rate"), col("duration_months")))
      .withColumn("emi_raw", emiAmount(col("total_payable"), col("duration_months")))
      .withColumn("months_paid",
        monthsPaid(asOfD, col("disbursement_date"), col("duration_months")))
      .withColumn("month", explode(sequence(lit(1), col("duration_months"))))
      .withColumn("emi_due_date_d", add_months(col("disbursement_date"), col("month")))
      .withColumn("demand", col("emi_raw") * col("month"))
      .withColumn("collected",
        when(col("emi_due_date_d") <= asOfD, col("ec0")).otherwise(lit(0.0)))
      .withColumn("total_collected",
        col("ec0") * least(col("month"), col("months_paid")))
      .withColumn("arrear_raw", greatest(lit(0.0), col("demand") - col("total_collected")))
      .withColumn("dpd_days", dpdDays(col("arrear_raw"), asOfD, col("emi_due_date_d")))
      .select(
        col("loan_id"),
        col("month"),
        date_format(col("emi_due_date_d"), "dd-MMM-yyyy").as("emi_due_date"),
        round2(col("emi_raw")).as("emi_amount"),
        round2(col("collected")).as("emi_collected"),
        round2(col("demand")).as("total_demand_till_month"),
        round2(col("arrear_raw")).as("arrear"),
        col("dpd_days"),
        dpdBucketSchedule(col("dpd_days")).as("dpd_bucket"))

  /** Schedule without the presentation sort — what SQL views register (a
    * view with an embedded global ORDER BY would pay a full sort on every
    * downstream query).
    */
  def monthlyScheduleUnordered(spark: SparkSession, sfDir: String): DataFrame =
    monthlySchedule(joined(spark, sfDir))

  def monthlyScheduleFrame(spark: SparkSession, sfDir: String): DataFrame =
    monthlyScheduleUnordered(spark, sfDir).orderBy("loan_id", "month")
}
