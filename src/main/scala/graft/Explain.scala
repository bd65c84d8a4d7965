package graft

/** Plan inspection / profiling harness:
  *   runMain graft.Explain <sfDir> [queryName ...]
  * Prints explain("formatted") and two timed runs (cold, warm) for each
  * named query (default: all registry queries, timing only). Each run
  * drives the full output through the `noop` sink: a `count()` lets
  * Catalyst prune the columns a consumer pays for.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session once so timings exclude JVM/codegen cold start
    spark.range(1000).selectExpr("sum(id)").collect()
    val targets =
      if (names.isEmpty) SparkEntry.registry
      else SparkEntry.registry.filter(q => names.contains(q.name))
    targets.foreach { q =>
      if (names.nonEmpty) {
        println(s"\n========== ${q.name} ==========")
        q.frame(spark, sfDir).explain("formatted")
      }
      // same inter-run hygiene as Bench: checkpoint blocks released and
      // garbage collected OUTSIDE the timed region, so one query's scratch
      // never inflates the next measurement
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        q.frame(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.api.Checkpoints.releaseAll(spark)
        System.gc()
        sec
      }
      println(f"[time] ${q.name}%-28s cold=${t.head}%6.2fs warm=${t.last}%6.2fs")
    }
    spark.stop()
  }
}
