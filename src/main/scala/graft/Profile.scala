package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Plan inspection and stage-level profiling harness (guide §1/§7:
  * measure first, empirically):
  *   runMain graft.Profile <sfDir>                        every registry query
  *   runMain graft.Profile <sfDir> <queryName> [queryName ...]
  * Runs each query twice (cold, warm), each driving the full output
  * through the `noop` sink (a `count()` would let Catalyst prune the
  * columns a consumer pays for), and prints both times. For named
  * queries it also prints explain("formatted") and the warm run's stage
  * table — every stage's wall time, task count and shuffle bytes, from a
  * listener — so the per-operator cost breakdown is visible without the
  * UI (spark.ui is disabled here; this is the CLI equivalent of the
  * Stages tab the guide starts from).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = LocalSession.builder().getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    // warm the session once so timings exclude JVM/codegen cold start
    spark.range(1 << 20).selectExpr("sum(id)").collect()

    case class St(id: Int, name: String, ms: Long, tasks: Int,
        shufRead: Long, shufWrite: Long, input: Long)
    val stages = scala.collection.mutable.ListBuffer[St]()
    var jobs = 0
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {
          c <- si.completionTime; s <- si.submissionTime
        } yield c - s).getOrElse(-1L)
        stages += St(si.stageId, si.name.takeWhile(_ != '\n'), ms,
          si.numTasks, si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.inputMetrics.bytesRead)
      }
    })
    // one timed full-output run. Bench's inter-run hygiene: checkpoint
    // blocks released and garbage collected OUTSIDE the timed region, so
    // one query's scratch never inflates the next measurement; the bus is
    // drained so every event of this run is counted before the next
    def run(q: api.GraftQuery): Double = {
      val t0 = System.nanoTime()
      q.frame(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(sc)
      api.Checkpoints.releaseAll(spark)
      System.gc()
      sec
    }
    val targets =
      if (names.isEmpty) SparkEntry.registry
      else SparkEntry.registry.filter(q => names.contains(q.name))
    targets.foreach { q =>
      val cold = run(q)
      stages.clear(); jobs = 0
      val warm = run(q)
      if (names.nonEmpty) println(s"\n========== ${q.name} ==========")
      println(f"[time] ${q.name}%-28s cold=$cold%6.2fs warm=$warm%6.2fs")
      if (names.nonEmpty) {
        println(f"warm: jobs=$jobs stages=${stages.size} " +
          f"stage-ms total=${stages.map(_.ms).sum} (wall includes driver planning gaps)")
        stages.sortBy(-_.ms).take(25).foreach { s =>
          println(f"  ${s.ms}%6dms tasks=${s.tasks}%3d in=${s.input}%9d " +
            f"sr=${s.shufRead}%8d sw=${s.shufWrite}%8d  ${s.name.take(90)}")
        }
        // after the stage table: building the frame runs its eager jobs
        q.frame(spark, sfDir).explain("formatted")
        api.Checkpoints.releaseAll(spark)
      }
    }
    spark.stop()
  }
}
