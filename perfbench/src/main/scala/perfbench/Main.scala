package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.api.{Checkpoints, GraftQuery}

/** The benchmark's JVM side. `run.py` builds it, generates the inputs and
  * starts it; see README.md for the workloads and metrics.
  *
  *   run      --workload W --seconds S --trace 0|1 --data D --work DIR
  *            --pools F --expected F --result F [--sequence F | --warm D]
  *   record   --data D --work DIR --names a,b,... [--reps N] [--dump DIR]
  *   selftest --data D --book D --work DIR --query Q --expected F
  */
object Main {

  val Nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Session settings, fixed for every workload and recorded in each run's
    * output. The program has no session factory of its own.
    */
  def settings(work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Nproc]",
    "spark.sql.shuffle.partitions" -> Nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.local.dir" -> work.resolve("spark-local").toString)

  def session(work: Path): SparkSession = {
    val b = SparkSession.builder()
    settings(work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Registry query -> the graft module that defines it. */
  lazy val modules: Map[String, String] = Seq(
    "loan" -> (graft.loan.LoanQueries.all ++ graft.loan.PortfolioQueries.all),
    "relational" -> graft.relational.RelationalQueries.all,
    "text" -> graft.text.TextQueries.all,
    "dedup" -> graft.dedup.DedupQueries.all,
    "sim" -> graft.sim.SimQueries.all,
    "events" -> graft.events.EventQueries.all,
    "multimodal" -> graft.multimodal.MultimodalQueries.all,
    "layout" -> graft.layout.LayoutQueries.all,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  lazy val registry: Map[String, GraftQuery] =
    graft.SparkEntry.registry.map(q => q.name -> q).toMap

  val Modules: Seq[String] = Seq("loan", "relational", "events", "layout",
    "text", "dedup", "sim", "multimodal")

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val opts = argv.tail.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    mode match {
      case "run" => Workload.run(opts, work)
      case "record" => record(opts, work)
      case "selftest" => SelfTest.run(opts, work)
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Runs the named queries `reps` times each in one session and prints,
    * per execution, the timings, row count, ordered digest and warehouse
    * writes seen. With --dump, also writes each result as parquet for
    * tools/check_oracle.py. This is how expected/digests.json and the
    * per-query costs behind pools.json were obtained (README.md).
    */
  def record(opts: Map[String, String], work: Path): Unit = {
    val data = opts("data")
    val names = opts("names").split(',').filter(_.nonEmpty).toSeq
    val reps = opts.getOrElse("reps", "2").toInt
    val spark = session(work)
    val counters = new LayerCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val oracle = ArrayBuffer[(String, String)]()
    for (name <- names; rep <- 1 to reps) {
      val q = registry(name)
      counters.current = s"$name#$rep"
      spark.sparkContext.setJobGroup(counters.current, name)
      val t0 = System.nanoTime()
      val line = try {
        val df = q.frame(spark, data)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        if (rep == 1) opts.get("dump").foreach { d =>
          spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
            .write.mode("overwrite").parquet(s"$d/$name")
          q.oracle.foreach(sql => oracle += name -> sql)
        }
        PerfbenchBus.drain(spark.sparkContext)
        val a = counters.acc(counters.current)
        f"""{"name":"$name","module":"${modules.getOrElse(name, "other")}","rep":$rep,"frame_s":${(t1 - t0) / 1e9}%.4f,"action_s":${(t2 - t1) / 1e9}%.4f,"rows":${rows.length},"digest":"${Digest.ordered(rows)}","writes":${a.writeCommands},"jobs":${a.jobs}}"""
      } catch { case e: Throwable =>
        s"""{"name":"$name","rep":$rep,"error":${Json.str(String.valueOf(e.getMessage).take(300))}}"""
      } finally {
        spark.sparkContext.clearJobGroup()
        Checkpoints.releaseAll(spark)
      }
      println(line)
    }
    opts.get("dump").foreach { d =>
      Files.writeString(Paths.get(d, "oracle_sql.json"),
        oracle.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    }
    stop(spark)
  }
}

/** Minimal JSON writing and reading (json4s ships with Spark). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def parse(path: Path): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(Files.readString(path))
}
