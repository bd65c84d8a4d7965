package graft.loan

import java.sql.Date
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import graft.SparkSpec

/** Property-based invariants of the loan derivations (SURVEY.md §5.2.4):
  * scalacheck generators drive the fixtures, each property is checked over
  * the whole generated set in one batched Spark pass.
  */
class LoanPropertySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("loan_id", LongType),
    StructField("customer_id", LongType),
    StructField("customer_name", StringType),
    StructField("disbursement_amount", DoubleType),
    StructField("disbursement_date", DateType),
    StructField("due_date", DateType),
    StructField("region", StringType, nullable = true),
    StructField("interest_rate", DoubleType),
    StructField("pos", StringType),
    StructField("product_type", StringType, nullable = true),
    StructField("emi_collected", DoubleType, nullable = true)))

  private val loanGen: Gen[Row] = for {
    amount <- Gen.choose(100.0, 1000000.0)
    startDay <- Gen.choose(0L, 3650L)
    durMonths <- Gen.choose(0, 72)
    rate <- Gen.choose(0.0, 25.0)
    ec <- Gen.option(Gen.choose(0.0, 2000000.0))
    region <- Gen.option(Gen.oneOf("Bangalore", "Bombay", "delhi ", "xx", ""))
  } yield {
    val disb = Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(startDay))
    val due = Date.valueOf(disb.toLocalDate.plusMonths(durMonths))
    // loan_id is assigned by index AFTER generation (uniqueness is a
    // precondition of the per-loan schedule property)
    Row(0L, 0L, "c", amount, disb, due, region.orNull, rate, "O",
      null, ec.map(Double.box).orNull)
  }

  private def loans(n: Int, seed: Long): org.apache.spark.sql.DataFrame = {
    val rows = Gen.listOfN(n, loanGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
      .getOrElse(Nil)
      .zipWithIndex.map { case (r, i) =>
        Row((i + 1).toLong, (i + 1).toLong, s"c${i + 1}",
          r.get(3), r.get(4), r.get(5), r.get(6), r.get(7), r.get(8),
          r.get(9), r.get(10))
      }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("invariants: arrear>=0, clamp bounds, one-sided target/returned, bucket set") {
    val lf = LoanDomain.loanFinal(loans(300, 42L), to_date(lit("2023-06-15")))
    val bad = lf.filter(
      col("arrear") < 0 ||
        col("months_due") < 0 || col("months_due") > col("duration_months") ||
        (col("target_amount") > 0 && col("amount_to_be_returned") > 0) ||
        !col("dpd_bucket").isin(
          "Current", "1–30 DPD", "31–60 DPD", "61–90 DPD", "90+ DPD") ||
        col("dpd_days") < 0)
    assert(bad.count() === 0)
  }

  test("region_cleaned is null iff region is null, else one of the 4 cities") {
    val lf = LoanDomain.loanFinal(loans(200, 7L), to_date(lit("2023-06-15")))
    assert(lf.filter(col("region").isNull =!= col("region_cleaned").isNull).count() === 0)
    assert(lf.filter(col("region").isNotNull &&
      !col("region_cleaned").isin(LoanDomain.ValidCities: _*)).count() === 0)
  }

  test("schedule: exactly duration_months contiguous rows per loan (duration>=1)") {
    val base = loans(200, 99L)
    val sched = LoanDomain.monthlySchedule(base, to_date(lit("2023-06-15")))
    val perLoan = sched.groupBy("loan_id")
      .agg(count(lit(1)).as("n"), min("month").as("mn"), max("month").as("mx"))
    val durations = LoanDomain.loanFinal(base, to_date(lit("2023-06-15")))
      .filter(col("duration_months") >= 1)
      .select(col("loan_id"), col("duration_months"))
    val joined = perLoan.join(durations, "loan_id")
    assert(joined.count() === durations.count())
    assert(joined.filter(
      col("n") =!= col("duration_months") ||
        col("mn") =!= 1 || col("mx") =!= col("duration_months")).count() === 0)
    // schedule arrears non-negative, buckets from the schedule label set
    assert(sched.filter(col("arrear") < 0 ||
      !col("dpd_bucket").isin("Current", "0–30", "30–60", "60–90", "90+"))
      .count() === 0)
  }

  /** The schedule with its running count as a window: the form the DuckDB
    * twin keeps, and the reference the closed form is checked against.
    */
  private def windowSchedule(base: DataFrame, asOfD: Column): DataFrame = {
    import LoanDomain._
    val w = Window.partitionBy(col("loan_id")).orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("duration_months", monthDiff(col("due_date"), col("disbursement_date")))
      .filter(col("duration_months") >= 1)
      .withColumn("ec0", ec(col("emi_collected")))
      .withColumn("total_payable", totalPayableScheduleShape(
        col("disbursement_amount"), col("interest_rate"), col("duration_months")))
      .withColumn("emi_raw", emiAmount(col("total_payable"), col("duration_months")))
      .withColumn("month", explode(sequence(lit(1), col("duration_months"))))
      .withColumn("emi_due_date_d", add_months(col("disbursement_date"), col("month")))
      .withColumn("demand", col("emi_raw") * col("month"))
      .withColumn("collected",
        when(col("emi_due_date_d") <= asOfD, col("ec0")).otherwise(lit(0.0)))
      .withColumn("paid_months",
        sum(when(col("emi_due_date_d") <= asOfD, 1).otherwise(0)).over(w))
      .withColumn("total_collected", col("ec0") * col("paid_months"))
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
  }

  test("schedule: the closed-form running count equals the window, row for row") {
    // as-of dates on month-ends, Feb 28/29, the 1st, mid-month, and before
    // (2019) or after (2036) every generated loan's schedule
    val asOfs = Seq("2019-06-15", "2020-01-01", "2021-02-28", "2022-04-30",
      "2023-01-31", "2024-02-28", "2024-02-29", "2024-03-01", "2025-06-15",
      "2027-12-31", "2036-01-01")
    Seq(99L, 2024L).foreach { seed =>
      val base = loans(300, seed)
      def all(f: (DataFrame, Column) => DataFrame) = asOfs.map { d =>
        f(base, to_date(lit(d))).withColumn("as_of", lit(d))
      }.reduce(_ unionByName _)
      val closed = all(LoanDomain.monthlySchedule)
      val window = all(windowSchedule)
      val n = window.count()
      assert(n > 0 && closed.count() === n)
      assert(closed.exceptAll(window).isEmpty, s"seed $seed: rows only in the closed form")
      assert(window.exceptAll(closed).isEmpty, s"seed $seed: rows only in the window form")
    }
  }
}
