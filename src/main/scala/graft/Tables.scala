package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import graft.api.SharedModels

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst's vectorized
  * reader, predicate pushdown and column pruning apply. At cluster scale
  * the same views would be external tables (or JDBC sources, as in the
  * reference — /root/reference/main.py:25-41 pushes a join+projection to
  * Postgres; /root/reference/main.py:51-55 pushes a projection to Mongo).
  *
  * Each file's schema is resolved once per (SparkContext, sfDir, table)
  * ([[schema]]) and every read supplies it, so a read plans without the
  * schema-inference job a bare `parquet(path)` launches. The contract: a
  * corpus path is immutable within a JVM. [[graft.api.SharedModels]]
  * holds the schemas, so `SharedModels.resetAll()` forgets them too.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** name -> loader for every table of [[all]] (events through
    * [[events]], whose `ts` needs normalizing).
    */
  def loaders: Seq[(String, (SparkSession, String) => DataFrame)] =
    all.map(n => n -> ((s: SparkSession, d: String) =>
      if (n == "events") events(s, d) else apply(s, d, n)))

  /** The schema of `sfDir/name.parquet`, inferred by the first call per
    * (SparkContext, sfDir, name) and remembered after.
    */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    SharedModels.value(spark, sfDir, s"schema:$name")(
      spark.read.parquet(s"$sfDir/$name.parquet").schema)

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** events.parquet has stored `ts` two different ways across testdata
    * generations, so [[normalizeTs]] branches on the resolved schema
    * rather than assuming either.
    */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(apply(s, d, "events"))

  /** Makes an events frame's `ts` TimestampType — the one normalizer for
    * the batch loader and the file stream (a streaming frame carries the
    * same schema, so the same branch applies):
    *
    *  - TIMESTAMP(NANOS) (pre-2026-08-13 corpus): Spark 4 rejects it by
    *    default ([PARQUET_TYPE_ILLEGAL]); with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by every session
    *    builder in this repo) it arrives as LongType → convert via
    *    `timestamp_micros(ts div 1000)` (corpus has at most microsecond
    *    resolution, so lossless).
    *  - timestamp[us] without UTC adjustment (current corpus): Spark 4
    *    reads it as TIMESTAMP_NTZ → `cast("timestamp")`, which under the
    *    pinned UTC session timezone preserves wall-clock values and the
    *    downstream TimestampType schema the oracles expect.
    */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.parquet: unsupported dtype for column ts: $other " +
          "(expected TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
