package graft.api

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Parallelism policy: scan-parallelism repair for unsplittably-read
  * inputs (guide §2.5 "input skew: one huge unsplittable file →
  * repartition immediately after the read") and independent sub-jobs run
  * side by side (guide §2.6 "overlap independent jobs").
  */
object Par {

  /** Spread `df` across the session's default parallelism before a
    * CPU-heavy aggregate/per-row pipeline, IF AND ONLY IF the scan
    * yields fewer partitions than that. The driver corpus stores each
    * table as a single parquet row group, so every scan is one task and
    * a heavy partial aggregate runs on one core of local[32]; at
    * cluster scale the same table is thousands of splits and this is a
    * no-op — the exchange exists exactly where the input layout, not
    * the data size, is the parallelism bottleneck.
    *
    * Determinism: round-robin repartition sorts its input first
    * (SPARK-23207, `spark.sql.execution.sortBeforeRepartition` default
    * on), and every consumer is partition-order-agnostic (associative
    * quantized-LONG sums, min/max, exact/HLL distincts), so results are
    * bit-identical at any partition count.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Run the thunks concurrently and return their results in argument
    * order. Each thunk runs with the caller's Spark local properties
    * (job group, job tags, scheduler pool) and active session, so its
    * jobs are attributed to — and cancelled with — the caller's query.
    * All jobs of one call carry one job tag: on the first failure the
    * tag is cancelled, every sibling is waited for, and the first error
    * is rethrown, so no job outlives the call. Results are deterministic
    * frames or values; only wall-clock depends on the overlap.
    */
  def all[A, B](a: => A, b: => B): (A, B) = {
    val r = run(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def all[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = run(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  def all[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    val r = run(Seq(() => a, () => b, () => c, () => d))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D])
  }

  // a thread per running thunk: a bounded pool starves when a thunk
  // nests Par.all or waits on a SharedModels slot a sibling is building
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  }

  private def run(thunks: Seq[() => Any]): IndexedSeq[Any] = {
    val s = SparkSession.active
    val sc = s.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    // the tag joins the caller's properties only for the capture
    sc.addJobTag(tag)
    val fs = try thunks.map(t => SQLExecution.withThreadLocalCaptured(s, pool)(t()))
      finally sc.removeJobTag(tag)
    val first = new AtomicReference[Throwable]
    // supplyAsync wraps a thunk's throw in a CompletionException
    fs.foreach(_.whenComplete { (_, e) =>
      if (e != null && first.compareAndSet(null, e.getCause)) sc.cancelJobsWithTag(tag)
    })
    val done = CompletableFuture.allOf(fs: _*)
    while (!done.isDone) {
      // re-cancel after a failure: a sibling that was between two jobs
      // when the cancel landed submits its next job afterwards
      if (first.get != null) sc.cancelJobsWithTag(tag)
      try done.get(50, TimeUnit.MILLISECONDS) catch {
        case _: TimeoutException | _: ExecutionException =>
      }
    }
    Option(first.get).foreach(e => throw e)
    fs.map(_.join()).toIndexedSeq
  }
}
