package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.api.{Checkpoints, GraftQuery, SharedModels}
import graft.sources.Warehouse

/** One completed (or failed) operation of the closed loop. */
final case class Op(id: Int, name: String, module: String, write: Boolean,
    latency: Double, ok: Boolean, error: String)

/** Runs one workload: set-up (repeated, median reported), then a closed
  * loop with one client that issues operations back to back for the given
  * seconds, then the output checks, then the metrics.
  */
object Workload {

  val SetupReps = 3
  val EtlLoad = "etl_load"
  val LoanTables = Seq("loan_final", "loan_monthly_schedule")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(opts: Map[String, String], work: Path): Unit = {
    val wl = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val data = Paths.get(opts("data")).toAbsolutePath.toString
    val pool = Json.parse(Paths.get(opts("pools"))) \ wl
    val writes = (pool \ "writes").extract[Seq[String]](DefaultFormats, implicitly).toSet
    val setupQueries = (pool \ "setup").extract[Seq[String]](DefaultFormats, implicitly)
    // one pass of operation names; the client repeats it until the run
    // ends. etl_load's pass is three loads, each read back; it outlasts
    // run_seconds, so every run measures the same three loads.
    val pass: Seq[String] =
      if (wl == EtlLoad) Seq.fill(3)(Seq("loadAll", "read_back")).flatten
      else Files.readAllLines(Paths.get(opts("sequence"))).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    val expected: Map[String, String] =
      if (wl == EtlLoad) Map.empty
      else Json.parse(Paths.get(opts("expected"))) match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
    if (wl != EtlLoad) (pass ++ setupQueries).distinct.foreach(n =>
      require(Main.registry.contains(n), s"no registry query named $n"))

    // ---- set-up: session start and a JVM warm-up, three times; then the
    // one-time work: etl_load loads a small book drawn from the same seed,
    // query_mix builds the SharedModels artifacts its reads consume.
    // setup_s = median start + the one-time work.
    val starts = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 1 to SetupReps) {
      if (spark != null) Main.stop(spark)
      val t0 = System.nanoTime()
      spark = Main.session(work)
      val t1 = System.nanoTime()
      spark.range(1 << 20).selectExpr("sum(id)").collect()
      starts += secs(t0)
      println(f"[perfbench] set-up ${starts.size}: session ${(t1 - t0) / 1e9}%.3f s, warm-up ${secs(t1)}%.3f s")
    }
    SharedModels.resetAll()
    val b0 = System.nanoTime()
    opts.get("warm").foreach { w => Warehouse.loadAll(spark, w); readBack(spark) }
    setupQueries.foreach { n =>
      Main.registry(n).frame(spark, data).collect()
      Checkpoints.releaseAll(spark)
    }
    val builds = secs(b0)
    println(f"[perfbench] one-time set-up $builds%.3f s " +
      s"(${(opts.get("warm").map(_ => "warm-up load") ++ setupQueries).mkString(", ")})")
    val setupS = Stats.median(starts.toSeq) + builds
    val sc = spark.sparkContext
    val counters = new LayerCounters
    sc.addSparkListener(counters)
    if (trace) spark.listenerManager.register(counters)
    val spans = new Spans(trace)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs

    // ---- the closed loop ----
    val ops = ArrayBuffer[Op]()
    val readBacks = ArrayBuffer[(Int, String)]()
    var releaseNs = 0L
    var drainNs = 0L
    val t0 = System.nanoTime()
    var i = 0
    // the window always ends on a whole pass
    while (secs(t0) < seconds || i % pass.size != 0) {
      val group = s"op-$i"
      counters.current = group
      spans.op = i
      sc.setJobGroup(group, s"perfbench op $i")
      val startMs = System.currentTimeMillis()
      val op = spans("op") {
        val op =
          pass(i % pass.size) match {
            case "loadAll" => timed(i, "loadAll", write = true) {
              spans("sources.load")(Warehouse.loadAll(spark, data))
            }
            case "read_back" => timed(i, "read_back", write = false) {
              readBacks += i -> spans("sources.read")(readBack(spark))
            }
            case name =>
              query(spark, data, i, Main.registry(name), writes(name), expected.get(name), spans)
          }
        sc.clearJobGroup()
        val r0 = System.nanoTime()
        spans("api.release")(Checkpoints.releaseAll(spark))
        releaseNs += System.nanoTime() - r0
        if (trace) {
          val d0 = System.nanoTime()
          spans("trace.drain")(PerfbenchBus.drain(sc))
          drainNs += System.nanoTime() - d0
          if (op.write) counters.acc(group).filesWritten = filesSince(work, startMs)
        }
        op
      }
      counters.current = "idle"
      println(f"[perfbench] op ${op.id}%4d ${if (op.write) "write" else "read "} ${op.latency}%8.3f s  ${op.name}")
      ops += op
      i += 1
    }
    val window = secs(t0)
    val gcWindowMs = gcMs - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    // ---- after the window: etl_load checks every read-back against the
    // same digest of the registry frames over the same input ----
    var checked = ops.toSeq
    if (wl == EtlLoad) {
      sc.setJobGroup("check", "perfbench check")
      val want = loanExpected(spark, data)
      val bad = readBacks.collect { case (id, got) if got != want => id }.toSet
      checked = ops.map(o => if (bad(o.id)) o.copy(ok = false,
        error = s"read-back digest differs from the registry frames (want $want)") else o).toSeq
      sc.clearJobGroup()
    }
    PerfbenchBus.drain(sc)
    val rssMb = vmHwmMb()

    val failedOps = checked.filterNot(_.ok)
    failedOps.take(20).foreach(o =>
      println(s"[perfbench] FAILED op ${o.id} ${o.name}: ${o.error}"))
    val good = checked.filter(_.ok)
    val reads = good.filterNot(_.write).map(_.latency)
    val wrs = good.filter(_.write).map(_.latency)
    val groups = counters.groups
    val written = good.filter(_.write).map(o => groups.getOrElse(s"op-${o.id}", new Acc))
    val writtenRows = written.map(_.outRecords).sum
    val writtenBytes = written.map(_.outBytes).sum
    val writeTime = good.filter(_.write).map(_.latency).sum

    val (readTail, readPct) = Stats.tail(reads)
    val (writeTail, writePct) = Stats.tail(wrs)
    val e2e = Seq(
      ("setup_s", setupS, "s", starts.size),
      ("load_rows_per_s", writtenRows / math.max(writeTime, 1e-9), "rows/s", wrs.size),
      ("stored_bytes_per_row", writtenBytes.toDouble / math.max(writtenRows, 1L), "B/row", wrs.size),
      ("read_p50_s", Stats.median(reads), "s", reads.size),
      ("read_tail_s", readTail, "s", reads.size),
      ("write_p50_s", Stats.median(wrs), "s", wrs.size),
      ("write_tail_s", writeTail, "s", wrs.size),
      ("ops_per_s", checked.size / window, "ops/s", checked.size),
      ("peak_rss_mb", rssMb, "MB", 1))

    // ---- workload properties and the human-readable report ----
    val inputs = Json.parse(Paths.get(data, "_inputs.json"))
    val spill = groups.values.map(_.spillDisk).sum
    val seen = scala.collection.mutable.Set[String]()
    val repeats = checked.count(o => !seen.add(o.name))
    println(s"[perfbench] workload=$wl seconds=$seconds trace=${if (trace) 1 else 0} nproc=${Main.Nproc} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory / 1048576}")
    println("[perfbench] settings " + Main.settings(work).filterNot(_._1.endsWith(".dir"))
      .map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(s"[perfbench] inputs rows_in=${(inputs \ "rows").extract[Long](DefaultFormats, implicitly)} " +
      s"bytes_in=${(inputs \ "bytes").extract[Long](DefaultFormats, implicitly)} spill_bytes=$spill " +
      f"repeat_share=${repeats.toDouble / math.max(checked.size, 1)}%.3f " +
      f"write_share=${checked.count(_.write).toDouble / math.max(checked.size, 1)}%.3f " +
      s"attempted=${checked.size} failed=${failedOps.size} " +
      f"failed_ratio=${failedOps.size.toDouble / math.max(checked.size, 1)}%.4f")
    println(s"[perfbench] tails read=p$readPct (n=${reads.size}) write=p$writePct (n=${wrs.size})")
    e2e.foreach { case (n, v, u, k) => println(f"[perfbench] $n%-22s $v%14.4f $u%-7s n=$k") }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e.map { case (n, v, u, _) => (n, v, u) }
      else layerMetrics(checked, groups, spans, releaseNs, drainNs, gcWindowMs,
        heapPeakMb, window)
    if (trace) {
      spans.write(work.resolve(s"spans-$wl.tsv"))
      metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-32s $v%16.6f $u") }
    }
    val result = s"""{"correct":${failedOps.isEmpty && checked.nonEmpty},"attempted":${checked.size},""" +
      s""""failed":${failedOps.size},"metrics":{""" + metrics.map { case (n, v, u) =>
        s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",") + "}}"
    Files.writeString(Paths.get(opts("result")), result + "\n")
    Main.stop(spark)
  }

  /** An etl_load operation of the `sources` layer. */
  def timed(id: Int, name: String, write: Boolean)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try { body; Op(id, name, "sources", write, secs(t0), ok = true, "") }
    catch { case e: Throwable =>
      Op(id, name, "sources", write, secs(t0), ok = false, String.valueOf(e.getMessage).take(300))
    }
  }

  /** One registry query driven to its full output: every row and column,
    * in the frame's declared order, then checked against its expected
    * digest. A missing expected digest fails the operation.
    */
  def query(spark: SparkSession, data: String, id: Int, q: GraftQuery,
      write: Boolean, expected: Option[String], spans: Spans): Op = {
    val m = Main.modules.getOrElse(q.name, "other")
    val t0 = System.nanoTime()
    try {
      val df = spans(s"$m.frame")(q.frame(spark, data))
      val rows = spans(s"$m.action")(df.collect())
      val latency = secs(t0)
      val digest = Digest.ordered(rows)
      val ok = expected.contains(digest)
      Op(id, q.name, m, write, latency, ok,
        if (ok) "" else s"digest $digest, expected ${expected.getOrElse("none recorded")}")
    } catch { case e: Throwable =>
      Op(id, q.name, m, write, secs(t0), ok = false, String.valueOf(e.getMessage).take(300))
    }
  }

  /** Reads both loaded tables back in full: the etl_load read operation. */
  def readBack(spark: SparkSession): String =
    LoanTables.map(t => Digest.unordered(spark.table(s"${Warehouse.Schema}.$t"))).mkString(" ")

  /** The same digests over the registry frames, over the same input. */
  def loanExpected(spark: SparkSession, data: String): String =
    Seq(graft.loan.LoanQueries.loanFinal, graft.loan.LoanQueries.monthlySchedule)
      .map(q => Digest.unordered(q.frame(spark, data))).mkString(" ")

  /** Data files under the warehouse modified at or after `ms`. */
  def filesSince(work: Path, ms: Long): Long = {
    val wh = work.resolve("warehouse")
    if (!Files.exists(wh)) 0L
    else Files.walk(wh).iterator().asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
        Files.getLastModifiedTime(p).toMillis >= ms
    }.toLong
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Per-layer metrics of the traced run: per-operation means unless the
    * name is a count of operations.
    */
  def layerMetrics(ops: Seq[Op], groups: Map[String, Acc], spans: Spans,
      releaseNs: Long, drainNs: Long, gcWindowMs: Long, heapPeakMb: Double,
      window: Double): Seq[(String, Double, String)] = {
    val n = math.max(ops.size, 1).toDouble
    val accs = ops.map(o => o -> groups.getOrElse(s"op-${o.id}", new Acc))
    def total(f: Acc => Long) = accs.map(a => f(a._2)).sum.toDouble
    def perOp(f: Acc => Long) = total(f) / n
    val self = spans.selfSeconds
    val perModule = Main.Modules.flatMap { m =>
      val mo = ops.filter(_.module == m)
      val k = math.max(mo.size, 1).toDouble
      Seq((s"$m.frame_s", self.getOrElse(s"$m.frame", 0.0) / k, "s"),
        (s"$m.action_s", self.getOrElse(s"$m.action", 0.0) / k, "s"),
        (s"$m.ops", mo.size.toDouble, "count"),
        (s"$m.failed", mo.count(!_.ok).toDouble, "count"))
    }
    val writeAccs = accs.filter(_._1.write).map(_._2)
    val w = math.max(writeAccs.size, 1).toDouble
    val loads = ops.count(_.name == "loadAll")
    val opTime = ops.map(_.latency).sum
    perModule ++ Seq(
      ("sources.load_s", self.getOrElse("sources.load", 0.0) / math.max(loads, 1), "s"),
      ("sources.rows_written", writeAccs.map(_.outRecords).sum / w, "rows"),
      ("sources.bytes_written", writeAccs.map(_.outBytes).sum / w, "B"),
      ("sources.files_written", writeAccs.map(_.filesWritten).sum / w, "count"),
      ("sources.write_actions", writeAccs.map(_.writeCommands).sum / w, "count"),
      ("api.release_s", releaseNs / 1e9 / n, "s"),
      ("api.artifact_writes_on_read", accs.filterNot(_._1.write).map(_._2.writeCommands).sum.toDouble, "count"),
      ("catalyst.analysis_s", perOp(_.analysisMs) / 1e3, "s"),
      ("catalyst.optimizer_s", perOp(_.optimizerMs) / 1e3, "s"),
      ("catalyst.planning_s", perOp(_.planningMs) / 1e3, "s"),
      ("catalyst.queries", perOp(_.queries), "count"),
      ("scheduler.jobs", perOp(_.jobs), "count"),
      ("scheduler.stages", perOp(_.stages), "count"),
      ("scheduler.tasks", perOp(_.tasks), "count"),
      ("scheduler.task_wait_s", perOp(_.taskWaitMs) / 1e3, "s"),
      ("scheduler.core_busy_ratio", total(_.runMs) / 1e3 / math.max(opTime * Main.Nproc, 1e-9), "ratio"),
      ("executor.run_s", perOp(_.runMs) / 1e3, "s"),
      ("executor.cpu_s", perOp(_.cpuNs) / 1e9, "s"),
      ("executor.gc_s", perOp(_.gcMs) / 1e3, "s"),
      ("executor.input_bytes", perOp(_.inputBytes), "B"),
      ("executor.task_failed", total(_.taskFailed), "count"),
      ("shuffle.write_bytes", perOp(_.shuffleWrite), "B"),
      ("shuffle.read_bytes", perOp(_.shuffleRead), "B"),
      ("shuffle.fetch_wait_s", perOp(_.fetchWaitMs) / 1e3, "s"),
      ("shuffle.spill_disk_bytes", perOp(_.spillDisk), "B"),
      ("jvm.gc_s", gcWindowMs / 1e3 / n, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.op_p50_s", Stats.median(ops.filter(_.ok).map(_.latency)), "s"),
      ("trace.ops_per_s", ops.size / window, "ops/s"),
      ("trace.drain_s", drainNs / 1e9 / n, "s"),
      ("bench.self_s", self.getOrElse("op", 0.0) / n, "s"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val k = s.size
      if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it (nearest
    * rank), with that percentile. Under 11 samples: the maximum, p100.
    */
  def tail(xs: Seq[Double]): (Double, Int) =
    if (xs.isEmpty) (Double.NaN, 100)
    else if (xs.size < 11) (xs.max, 100)
    else {
      val s = xs.sorted
      val k = s.size - 11
      (s(k), math.floor(100.0 * (k + 1) / s.size).toInt)
    }
}
