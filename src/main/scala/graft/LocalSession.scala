package graft

import org.apache.spark.sql.SparkSession

/** The session every main starts from: `local[SPARK_GRAFT_CPUS]` (all
  * available processors when unset) with one shuffle partition per core,
  * UTC session time, nanosecond parquet timestamps read as longs and no
  * UI. Mains add their own settings before `getOrCreate()`.
  */
object LocalSession {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }
}
