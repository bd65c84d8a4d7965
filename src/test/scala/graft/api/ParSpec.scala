package graft.api

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import org.apache.spark.{GraftBus, SparkException, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkSpec

/** Par.all: sub-jobs carry the caller's job group, a failing thunk
  * cancels its siblings before the call returns, a cancelled caller group
  * cancels the sub-jobs, and calls nest. Slow jobs poll their kill flag
  * so a cancelled task frees its core at once.
  */
class ParSpec extends SparkSpec {

  private val sc = spark.sparkContext

  /** One job of two tasks, each ~`seconds` long unless killed. */
  private def slowJob(seconds: Int): Long =
    sc.parallelize(1 to 2, 2).map { x =>
      var ticks = seconds * 20
      while (ticks > 0 && !TaskContext.get().isInterrupted()) {
        Thread.sleep(50)
        ticks -= 1
      }
      x
    }.count()

  private def quickJob(): Long = sc.parallelize(1 to 4, 2).count()

  private def awaitActiveJobs(n: Int): Unit =
    while (sc.statusTracker.getActiveJobIds().length < n) Thread.sleep(10)

  // the status tracker reads the listener bus's store: drain it first
  private def assertNoActiveJobs(): Unit = {
    GraftBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  test("sub-jobs carry the job group of the caller that launched them") {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("parspec-op-")).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      (0 until 3).foreach { i =>
        sc.setJobGroup(s"parspec-op-$i", s"op $i")
        try Par.all(quickJob(), quickJob()) finally sc.clearJobGroup()
      }
      GraftBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val byGroup = groups.asScala.groupBy(identity).map { case (g, js) => g -> js.size }
    assert(byGroup === (0 until 3).map(i => s"parspec-op-$i" -> 2).toMap)
  }

  test("a failing thunk cancels its sibling's running job and its error is rethrown") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.all({
        awaitActiveJobs(1)
        throw new IllegalStateException("boom")
      }, slowJob(30))
    }
    assert(e.getMessage === "boom")
    assertNoActiveJobs()
    assert(secondsSince(t0) < 15)
  }

  test("a sibling's job submitted after the failure is cancelled too") {
    val failed = new CountDownLatch(1)
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      Par.all({
        failed.countDown()
        throw new IllegalStateException("boom")
      }, {
        // driver-side work between jobs: the first cancel finds no job
        failed.await()
        Thread.sleep(200)
        slowJob(30)
      })
    }
    assertNoActiveJobs()
    assert(secondsSince(t0) < 15)
  }

  test("cancelling the caller's job group cancels the sub-jobs") {
    @volatile var outcome: Either[Throwable, Any] = null
    val caller = new Thread(() => {
      sc.setJobGroup("parspec-cancel", "caller")
      outcome = try Right(Par.all(slowJob(30), slowJob(30)))
        catch { case t: Throwable => Left(t) }
    })
    val t0 = System.nanoTime()
    caller.start()
    awaitActiveJobs(2)
    sc.cancelJobGroup("parspec-cancel")
    caller.join()
    assert(outcome.left.exists(_.isInstanceOf[SparkException]), outcome)
    assertNoActiveJobs()
    assert(secondsSince(t0) < 15)
  }

  test("nested calls complete and return results in argument order") {
    val r = Par.all(
      { Thread.sleep(200); "slow" },
      Par.all(quickJob(), { Thread.sleep(100); 'x' }, Par.all(1, quickJob() + 1)),
      quickJob())
    assert(r === (("slow", (4L, 'x', (1, 5L)), 4L)))
  }
}
