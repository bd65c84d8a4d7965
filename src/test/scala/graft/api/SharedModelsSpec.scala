package graft.api

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.SparkSpec

/** The artifact memo itself: build once per (SparkContext, sfDir,
  * artifact), one table per full sfDir, a reset that forces a rebuild,
  * and nested builds requested concurrently. Builds are tiny one-row
  * frames tagged with a build counter, so a read shows which build
  * published the table it serves.
  */
class SharedModelsSpec extends SparkSpec {

  private def tagged(n: Int): DataFrame =
    spark.range(1).select(lit(n).as("build"))

  private def buildOf(df: DataFrame): Int = df.collect()(0).getInt(0)

  test("a second request in the same session reads the table without rebuilding") {
    SharedModels.resetAll()
    val builds = new AtomicInteger
    def get() = SharedModels.table(spark, "/a/sf0.1", "smspec_once")(
      tagged(builds.incrementAndGet()))
    assert(buildOf(get()) === 1)
    assert(buildOf(get()) === 1)
    assert(builds.get === 1)
  }

  test("two sfDirs sharing a basename get distinct tables and independent builds") {
    SharedModels.resetAll()
    val builds = new AtomicInteger
    def get(d: String) = SharedModels.table(spark, d, "smspec_basename")(
      tagged(builds.incrementAndGet()))
    val a = buildOf(get("/a/sf0.1"))
    val b = buildOf(get("/b/sf0.1"))
    assert(builds.get === 2)
    assert(a !== b)
    // B's build must not have overwritten A's table
    assert(buildOf(get("/a/sf0.1")) === a)
    assert(buildOf(get("/b/sf0.1")) === b)
    assert(builds.get === 2)
    val names = spark.catalog.listTables(graft.sources.Warehouse.Schema)
      .collect().map(_.name).filter(_.startsWith("smspec_basename__sf0_1_"))
    assert(names.length === 2, names.mkString(", "))
  }

  test("resetAll forces the next request to rebuild") {
    SharedModels.resetAll()
    val builds = new AtomicInteger
    def get() = SharedModels.table(spark, "/a/sf0.1", "smspec_reset")(
      tagged(builds.incrementAndGet()))
    val w = new AtomicInteger
    def weights() = SharedModels.value(spark, "/a/sf0.1", "smspec_weights")(
      IndexedSeq(w.incrementAndGet().toDouble))
    assert(buildOf(get()) === 1)
    assert(weights() === IndexedSeq(1.0))
    SharedModels.resetAll()
    assert(buildOf(get()) === 2)
    assert(weights() === IndexedSeq(2.0))
    assert(builds.get === 2 && w.get === 2)
  }

  test("concurrent requests of an artifact whose build requests another build each once") {
    SharedModels.resetAll()
    val d = "/a/sf0.1"
    val innerBuilds, outerBuilds = new AtomicInteger
    def inner(): (DataFrame, Int) = {
      val (Seq(t), k) = SharedModels.tables(spark, d, "smspec_inner") {
        Thread.sleep(200) // hold the inner build while the outer callers pile up
        (Seq(tagged(innerBuilds.incrementAndGet())), 7)
      }
      (t, k)
    }
    def outer(): DataFrame = SharedModels.table(spark, d, "smspec_outer") {
      outerBuilds.incrementAndGet()
      val (t, k) = inner()
      t.select((t("build") * k).as("build"))
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val reads = Seq[() => DataFrame](() => outer(), () => outer(),
      () => inner()._1).map(f => Future { start.await(); buildOf(f()) })
    start.countDown()
    val got = Await.result(Future.sequence(reads), 2.minutes)
    assert(innerBuilds.get === 1)
    assert(outerBuilds.get === 1)
    assert(got === Seq(7, 7, 1))
  }
}
