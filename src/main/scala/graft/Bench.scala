package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registry query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line. The line goes to stdout AND to a bare file
  * (SPARK_GRAFT_BENCH_OUT, default ./BENCH.json) so the driver can parse
  * it even when sbt prefixes stdout with "[info] ". Failing queries are
  * recorded in a "failed" list and excluded from the timings — a failure
  * must never masquerade as a fast success.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (JVM/codegen/parquet-footer caches) so the first
    // measured query doesn't carry ~5s of one-time startup cost
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    // Host-speed calibration: a FIXED CPU-bound workload timed min-of-3,
    // reported as "calib_sec" so every snapshot is self-describing about
    // the window it ran in (this box shows intermittent multi-minute
    // 1.5-7x slowdowns; a raw total is uninterpretable without knowing
    // the window). Consumers compare two snapshots' calib_sec to
    // separate host drift from plan drift instead of trusting prose
    // notes about "a slow window". INTERLEAVED: measured at sweep start,
    // mid-sweep, and after the main sweep, each phase recorded in the
    // JSON ("calib_phases") and "calib_sec" the min-of-all — a transient
    // caught by any single phase can no longer poison the denominator of
    // every cross-round claim (BENCH_r13 committed a 0.387 start-only
    // calib its own query timings contradicted).
    def calibOnce(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 26).selectExpr("sum(id * (id % 7))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val calibPhases = scala.collection.mutable.ListBuffer(calibOnce())
    // Warm-up is failure-isolated per table: a single broken loader must
    // fail only the queries that read that table, never zero the whole
    // bench artifact (BENCH_r07/r08 both died rc=1 here when the driver
    // regenerated events.parquet with a new ts dtype).
    Tables.loaders.foreach { case (name, load) =>
      try load(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name FAILED: ${e.getMessage}")
      }
    }
    // Each query is executed twice back-to-back (three times when it looks
    // expensive) and the MIN is reported: a single JIT/GC stall can inflate
    // one execution ~4x on an unchanged plan. Back-to-back (rather than
    // interleaved full passes) keeps the warm-codegen minimum — a full
    // registry pass between samples evicts the generated classes (the
    // codegen cache holds fewer plans than the registry) and re-measured
    // every query ~0.5-1 s slower. The residual risk of adjacency is a
    // MULTI-MINUTE machine-contention window covering every sample of one
    // query (BENCH_r04 recorded an unchanged query at 35 s that re-measures
    // at 1.6 s; this box shows intermittent 5-7x slowdown windows) — so
    // after the main sweep the slowest queries are RE-SAMPLED at the end of
    // the run, ~20 minutes later, and the min is merged. A contention
    // window must now span the whole bench to survive into the report.
    // Optional args restrict the run — a local iterate-on-a-few-queries
    // loop so A/B work never pays the full registry sweep; the driver
    // passes none and times all. Each arg matches by exact name OR by
    // `--only <prefix>` (e.g. `--only dedup_` times the dedup family).
    // Every arg must match at least one query: a typo'd restriction
    // failing silently would masquerade as "nothing regressed".
    val argv = args.toList
    val (prefixArgs, nameArgs) = {
      val i = argv.indexOf("--only")
      val (post, pre) = if (i >= 0) (argv.drop(i + 1), argv.take(i)) else (Nil, argv)
      val inline = pre.collect { case a if a.startsWith("--only=") =>
        a.stripPrefix("--only=") }
      // a bare `--only` with no operand must fail loudly, not silently
      // fall through to timing ALL queries (the same typo'd-restriction
      // contract the unmatched-name require below enforces)
      require(i < 0 || post.nonEmpty || inline.nonEmpty,
        "`--only` given with no prefix operand; usage: --only <prefix> " +
          "[or --only=<prefix>]")
      ((post ++ inline).toSet, pre.filterNot(_.startsWith("--only=")).toSet)
    }
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val queryNames = all.map(_._1).toSet
    val names = all.filter { case (n, _) =>
      (prefixArgs.isEmpty && nameArgs.isEmpty) ||
        nameArgs(n) || prefixArgs.exists(n.startsWith)
    }
    val unmatched = (nameArgs -- queryNames) ++
      prefixArgs.filterNot(p => queryNames.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"no query matches: ${unmatched.toSeq.sorted.mkString(", ")}")
    // Release checkpoint/persist blocks AFTER the timer stops: scratch
    // blocks (localCheckpoint posting tables, CC sweeps) must not linger
    // into the next query's run — BENCH_r03 measured 2-3x inflation on
    // unchanged queries that merely ran after the dedup block. The
    // explicit GC then forces the accumulated garbage of the finished
    // run to be collected OUTSIDE the next run's timed region.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] =
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name%-28s run=$sec%6.2f")
        Some(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); None
      } finally {
        graft.api.Checkpoints.releaseAll(spark)
        System.gc()
      }
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (((name, fn), i) <- names.zipWithIndex) {
      if (names.size >= 4 && i == names.size / 2) {
        calibPhases += calibOnce() // mid-sweep host-speed sample
        System.err.println(f"[bench] calib mid-sweep=${calibPhases.last}%6.3f")
      }
      once(name, fn).foreach(sec => samples(name) ::= sec)
      once(name, fn).foreach(sec => samples(name) ::= sec)
      if (samples(name).nonEmpty && samples(name).min > 1.0)
        once(name, fn).foreach(sec => samples(name) ::= sec)
    }
    calibPhases += calibOnce() // post-sweep host-speed sample
    // end-of-run outlier resample: two more back-to-back samples for the
    // slowest queries, taken after the rest of the bench has moved the
    // clock past any transient stall window
    val resample = names.filter { case (n, _) =>
      samples(n).nonEmpty && samples(n).min > 2.0
    }
    for ((name, fn) <- resample; _ <- 1 to 2) {
      System.err.println(s"[bench] resample $name")
      once(name, fn).foreach(sec => samples(name) ::= sec)
    }
    val timed = names.map { case (name, _) =>
      val runs = samples(name)
      (name, if (runs.isEmpty) 0.0 else runs.min, runs.nonEmpty)
    }
    val passed = timed.filter(_._3)
    // 3-decimal (1 ms) formatting: full-precision doubles made the line
    // ~2.5 KB at 69 queries and BENCH_r04's driver tail-capture cut off the
    // head of the line -> "parsed": null. ~26 bytes/entry keeps the whole
    // line inside the capture window with room for registry growth.
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = passed.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = timed.filterNot(_._3).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val total = passed.map(_._2).sum
    val calib = calibPhases.min
    val calibJson = calibPhases.map(fmt).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","calib_sec":${fmt(calib)},"calib_phases":$calibJson,"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    println(json)
    // The driver captures only the LAST ~2000 chars of stdout. At 78
    // queries the full line is >2100 bytes, so its HEAD (metric/value) is
    // clipped out of the capture no matter the precision — BENCH_r04
    // recorded "parsed": null exactly this way. Emit a second, COMPACT
    // line that always fits (total + the slowest queries that fit a 1200-
    // byte budget): any line-oriented parse of the tail finds a complete
    // object, and the full per-query detail still lands in BENCH_OUT.
    val slowest = passed.sortBy(-_._2)
    val compactEntries = new StringBuilder
    var taken = 0
    for ((k, v, _) <- slowest) {
      val e = (if (taken == 0) "" else ",") + "\"" + k + "\":" + fmt(v)
      if (compactEntries.length + e.length <= 1200) {
        compactEntries.append(e); taken += 1
      }
    }
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","calib_sec":${fmt(calib)},"calib_phases":$calibJson,"queries_total":${passed.size},"queries_shown":$taken,"queries":{$compactEntries},"failed":$failed,"sf":"$sfDir"}"""
    println(compact)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try Files.writeString(Paths.get(out), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }
}
