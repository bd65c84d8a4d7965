package graft

import org.apache.spark.sql.SparkSession

/** SQL surface of the engine: registers every corpus table, the loan-domain
  * views, and the native functions as session temp views/functions, so the
  * whole capability set is reachable from `spark.sql(...)` — e.g.
  *
  *   GraftCatalog.register(spark, sfDir)
  *   spark.sql("SELECT dpd_bucket, sum(arrear) FROM loan_final GROUP BY 1")
  *   spark.sql("SELECT hash60(text) % 100 AS bucket FROM documents")
  *
  * Views are lazy logical plans (the first registration per sfDir reads
  * the parquet footers once for [[Tables.schema]], later ones read
  * nothing; no data moves until a query runs), and every Catalyst
  * optimization applies across view boundaries. Views are registered
  * UNORDERED — a view with an embedded global ORDER BY would pay a full
  * sort on every downstream query.
  *
  * Note: [[Tables.events]] normalizes `ts` to TimestampType whichever
  * way the corpus stores it (TIMESTAMP(NANOS)-as-long under the
  * session's nanosAsLong flag, TIMESTAMP_NTZ, or plain TIMESTAMP) — the
  * registered view's schema is stable across testdata generations.
  */
object GraftCatalog {

  def register(spark: SparkSession, sfDir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Tables.loaders.foreach { case (name, load) =>
      load(spark, sfDir).createOrReplaceTempView(name)
    }
    loan.LoanDomain.loans(spark, sfDir).createOrReplaceTempView("loans")
    loan.LoanDomain.loanExtensions(spark, sfDir)
      .createOrReplaceTempView("loan_extensions")
    loan.LoanDomain.customers(spark, sfDir).createOrReplaceTempView("customers")
    loan.LoanDomain.loanFinalUnordered(spark, sfDir)
      .createOrReplaceTempView("loan_final")
    loan.LoanDomain.monthlyScheduleUnordered(spark, sfDir)
      .createOrReplaceTempView("loan_monthly_schedule")
  }
}
