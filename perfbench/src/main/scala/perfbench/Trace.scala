package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the client thread. `parent` is the enclosing
  * span's id (-1 at the root); every span of one operation carries its id.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Long)

/** Spans kept in memory and written out when the run ends. Disabled, it
  * only evaluates the body.
  */
final class Spans(enabled: Boolean) {
  private val buf = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var op: Long = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        buf += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }

  /** Seconds per span name of self time: each span's duration minus the
    * part its child spans cover (children of one thread never overlap).
    */
  def selfSeconds: Map[String, Double] = {
    val covered = buf.groupBy(_.parent).view
      .mapValues(_.map(s => s.end - s.start).sum).toMap
    buf.groupBy(_.name).view.mapValues { ss =>
      ss.map(s => s.end - s.start - covered.getOrElse(s.id, 0L)).sum / 1e9
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id\tname\tstart_ns\tend_ns\tparent\top\n")
      buf.sortBy(_.start).foreach { s =>
        w.write(s"${s.id}\t${s.name}\t${s.start}\t${s.end}\t${s.parent}\t${s.op}\n")
      }
    } finally w.close()
  }
}

/** Counters of the Spark layers beneath the program, per operation. */
final class Acc {
  var jobs, stages, tasks, taskFailed = 0L
  var taskWaitMs, runMs, cpuNs, gcMs, inputBytes = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  var outRecords, outBytes, filesWritten = 0L
  var analysisMs, optimizerMs, planningMs, queries, writeCommands = 0L
}

/** Spark listener plus query-execution listener registered by the
  * benchmark. Job, stage and task events are attributed to an operation
  * through the job group the client sets before it; query-execution events
  * go to the operation that is current when they are delivered (the traced
  * run drains the bus after every operation).
  */
final class LayerCounters extends SparkListener with QueryExecutionListener {
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), Long]()
  @volatile var current: String = "none"

  def acc(group: String): Acc = accs.computeIfAbsent(group, _ => new Acc)
  def groups: Map[String, Acc] = accs.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    val a = acc(g); a.synchronized { a.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, "none"))
    val m = e.taskMetrics
    val submitted = stageSubmitted.getOrDefault((e.stageId, e.stageAttemptId),
      e.taskInfo.launchTime)
    a.synchronized {
      a.tasks += 1
      if (!e.taskInfo.successful) a.taskFailed += 1
      a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDisk += m.diskBytesSpilled
        a.outRecords += m.outputMetrics.recordsWritten
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    query(qe)

  private def query(qe: QueryExecution): Unit = {
    val a = acc(current)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    a.synchronized {
      a.queries += 1
      a.analysisMs += ms("analysis")
      a.optimizerMs += ms("optimization")
      a.planningMs += ms("planning")
      if (LayerCounters.publishes(qe)) a.writeCommands += 1
    }
  }
}

object LayerCounters {
  private val WriteNodes = Seq("InsertInto", "AsSelect", "AppendData",
    "OverwriteByExpression", "OverwritePartitions", "SaveIntoDataSource")

  /** True when the executed command publishes rows to a table or path. */
  def publishes(qe: QueryExecution): Boolean =
    qe.logical.exists(n => WriteNodes.exists(n.getClass.getSimpleName.contains))
}
