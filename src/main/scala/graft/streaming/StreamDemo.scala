package graft.streaming

/** End-to-end Structured Streaming run over the events corpus as a FILE
  * source (the production shape: a directory that keeps receiving files):
  *
  *   runMain graft.streaming.StreamDemo <sfDir>
  *
  * readStream(parquet, explicit schema) -> watermark + tumbling window ->
  * writeStream(memory, availableNow trigger) — processes the whole
  * directory as one bounded stream, prints the result, and asserts it
  * matches the batch run of the SAME transform (the parity contract the
  * DuckDB oracle checks at sf0.01).
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession.builder()
      // fresh warehouse per run: a stale spark-warehouse dir + fresh
      // in-memory catalog fails managed-table CREATE with
      // LOCATION_ALREADY_EXISTS (same discipline as the test fixture)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-stream-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // file-source streaming wants a DIRECTORY it can watch for new files —
    // stage the corpus file into one (in production this is the landing dir)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))

    // the batch loader's schema and ts normalizer, so both legs read the
    // corpus the same way whichever dtype it stores ts as
    def events(): org.apache.spark.sql.DataFrame =
      graft.Tables.normalizeTs(spark.readStream
        .schema(graft.Tables.schema(spark, sfDir, "events"))
        .parquet(dir.toString))

    val q = EventStreams.tumblingCounts(events())
      .writeStream
      .format("memory")
      .queryName("stream_tumbling")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("stream_tumbling")
      .orderBy("wstart", "event_type").collect()
    val batch = EventStreams.tumblingCounts(graft.Tables.events(spark, sfDir))
      .orderBy("wstart", "event_type").collect()
    val ok = streamed.toSeq == batch.toSeq
    println(s"[stream-demo] windows=${streamed.length} batchParity=$ok")
    assert(ok, "streaming result != batch result")

    // second leg: the same stream delivered EXACTLY-ONCE into a warehouse
    // table via the idempotent foreachBatch sink (StreamSinks), then
    // parity-checked against the memory-sink result
    val q2 = StreamSinks.toWarehouse(
      EventStreams.tumblingCounts(events()), "stream_tumbling_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val sunk = spark.table("test.stream_tumbling_sink")
      .orderBy("wstart", "event_type").collect()
    val sinkOk = sunk.toSeq == streamed.toSeq
    println(s"[stream-demo] sinkRows=${sunk.length} sinkParity=$sinkOk " +
      s"committedBatch=${StreamSinks.committedBatchId(spark, "stream_tumbling_sink")}")
    assert(sinkOk, "warehouse sink result != memory sink result")
    spark.stop()
  }
}
