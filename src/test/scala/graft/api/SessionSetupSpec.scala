package graft.api

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import graft.{SparkEntry, SparkSpec, Tables}

/** Per-session setup happens once, in its owner: a registry frame puts
  * the native functions into any session it is handed (and leaves a
  * session that holds them alone), and a corpus table's schema is
  * resolved once, not on every read.
  */
class SessionSetupSpec extends SparkSpec {

  private val sc = spark.sparkContext

  /** Messages `SimpleFunctionRegistry` logs while `body` runs. */
  private def registryLog(body: => Unit): Seq[String] = {
    val lines = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("session-setup-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[SimpleFunctionRegistry].getName)
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    lines.asScala.toSeq
  }

  test("a fresh session runs native-function queries with no manual register") {
    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("shingles")))
    Seq("dedup_minhash_lsh", "multimodal_features").foreach { name =>
      withClue(name) {
        assert(SparkEntry.queries(name)(fresh, sf).collect().nonEmpty)
      }
    }
  }

  test("a second frame() in a session re-registers no function") {
    val fresh = spark.newSession()
    val frame = SparkEntry.queries("dedup_minhash_lsh")
    frame(fresh, sf)
    val replaced = registryLog(frame(fresh, sf))
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n", "\n", ""))
  }

  test("a second read of a corpus table launches no Spark job") {
    Tables(spark, sf, "lineitem")
    val group = "session-setup-tables"
    val jobs = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(j.jobId)
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "second lineitem read")
      try Tables(spark, sf, "lineitem") finally sc.clearJobGroup()
      GraftBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.isEmpty, s"jobs launched: ${jobs.asScala.mkString(", ")}")
  }
}
