package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level profiling harness (guide §1/§7: measure first, empirically):
  *   runMain graft.Profile <sfDir> <queryName> [queryName ...]
  * Runs each query twice (cold, warm), each driving the full output
  * through the `noop` sink (a `count()` would let Catalyst prune the
  * columns a consumer pays for), with a listener that records every
  * stage's wall time, task count, and shuffle bytes; prints the warm run's
  * stage table so the per-operator cost breakdown is visible without the UI
  * (spark.ui is disabled in this sandbox; this is the CLI equivalent of the
  * Stages tab the guide starts from).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = LocalSession.builder()
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1 << 20).selectExpr("sum(id)").collect()

    case class St(id: Int, name: String, ms: Long, tasks: Int,
        shufRead: Long, shufWrite: Long, input: Long)
    val stages = scala.collection.mutable.ListBuffer[St]()
    val jobs = scala.collection.mutable.ListBuffer[(Int, Long)]()
    var jobStart = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs += ((j.jobId, j.time))
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
    }
    val targets = SparkEntry.registry.filter(q => names.contains(q.name))
    targets.foreach { q =>
      // cold run
      val t0 = System.nanoTime()
      q.frame(spark, sfDir).write.format("noop").mode("overwrite").save()
      val cold = (System.nanoTime() - t0) / 1e9
      graft.api.Checkpoints.releaseAll(spark)
      System.gc()
      // warm run, instrumented
      stages.clear(); jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t1 = System.nanoTime()
      q.frame(spark, sfDir).write.format("noop").mode("overwrite").save()
      val warm = (System.nanoTime() - t1) / 1e9
      // drain the async listener bus BEFORE removing the listener —
      // removal first drops still-queued stage-completion events and
      // undercounts the warm run (ADVICE r20); the bus API is
      // private[spark], so drain with a grace sleep
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      graft.api.Checkpoints.releaseAll(spark)
      System.gc()
      println(f"\n===== ${q.name} cold=$cold%6.2fs warm=$warm%6.2fs " +
        f"jobs=${jobs.size} stages=${stages.size} =====")
      val tot = stages.map(_.ms).sum
      println(f"stage-ms total=$tot (wall includes driver planning gaps)")
      stages.sortBy(-_.ms).take(25).foreach { s =>
        println(f"  ${s.ms}%6dms tasks=${s.tasks}%3d in=${s.input}%9d " +
          f"sr=${s.shufRead}%8d sw=${s.shufWrite}%8d  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
