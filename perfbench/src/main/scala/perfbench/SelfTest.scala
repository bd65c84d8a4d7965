package perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions.{col, lit, when}

import graft.api.{Checkpoints, GraftQuery}
import graft.sources.Warehouse

/** Shows that the output checks catch a corrupted result: a registry
  * query whose output has one value changed fails its digest check, and an
  * etl_load read-back of a table with one duplicated row fails against the
  * registry frames. Exits non-zero if a check misses its corruption.
  *
  *   selftest --data <mix corpus> --book <small loan book> --work DIR
  *            --query <registry query> --expected <digests.json>
  */
object SelfTest {
  def run(opts: Map[String, String], work: Path): Unit = {
    val spark = Main.session(work)
    val spans = new Spans(false)
    val name = opts("query")
    val expected = Json.parse(java.nio.file.Paths.get(opts("expected"))) \ name match {
      case org.json4s.JString(v) => Some(v)
      case _ => None
    }
    val q = Main.registry(name)
    // rows sharing the first row's first-column value get null there
    val corrupted = new GraftQuery {
      val name = q.name
      val doc = "corrupted copy"
      val oracle = None
      def frame(s: org.apache.spark.sql.SparkSession, d: String) = {
        val df = q.frame(s, d)
        val c = df.columns.head
        val first = df.head().get(0)
        df.withColumn(c, when(col(c) === lit(first), lit(null)).otherwise(col(c)))
      }
    }
    val good = Workload.query(spark, opts("data"), 0, q, write = false, expected, spans)
    Checkpoints.releaseAll(spark)
    val bad = Workload.query(spark, opts("data"), 1, corrupted, write = false, expected, spans)
    Checkpoints.releaseAll(spark)
    println(s"[selftest] $name intact: ok=${good.ok}; corrupted: ok=${bad.ok} (${bad.error})")

    val book = opts("book")
    Warehouse.loadAll(spark, book)
    val want = Workload.loanExpected(spark, book)
    val intact = Workload.readBack(spark)
    spark.sql(s"INSERT INTO ${Warehouse.Schema}.loan_final " +
      s"SELECT * FROM ${Warehouse.Schema}.loan_final LIMIT 1")
    val dup = Workload.readBack(spark)
    println(s"[selftest] etl read-back intact matches: ${intact == want}; " +
      s"with a duplicated row matches: ${dup == want}")
    Main.stop(spark)
    val passed = good.ok && !bad.ok && intact == want && dup != want
    println(s"[selftest] ${if (passed) "PASS" else "FAIL"}")
    if (!passed) sys.exit(1)
  }
}
