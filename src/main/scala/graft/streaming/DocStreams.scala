package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.DedupQueries

/** Ingest-time (streaming) near-dup screening for documents — the shape a
  * 100 TB training-data pipeline actually runs: the corpus's MinHash LSH
  * band index is maintained as a STATIC table (at scale: bucketed by
  * (b, bk) and refreshed by the batch dedup job), and each ARRIVING
  * document is checked against it with a stream-static equi-join before
  * being admitted.
  *
  * The whole per-document path is stateless and per-row — signatures are
  * array expressions (no aggregation), band keys an explode — so the
  * stream needs no watermark and runs in append mode; the only join is
  * stream-static on (b, bk), which Spark executes as a per-batch lookup
  * against the static side. The SAME transform runs on a batch frame
  * (spark.read) bit-for-bit, which is how [[StreamingSpec]] asserts
  * batch/stream parity. The signatures use the native `shingles`
  * function, so a caller outside a registry frame runs
  * [[graft.functions.GraftFunctions.register]] on its session first.
  */
object DocStreams {

  /** The static corpus band index: one (doc_id, b, bk) row per document
    * per LSH band. At cluster scale this is written bucketed by (b, bk)
    * so the ingest join never shuffles the index.
    */
  def bandIndex(corpus: DataFrame): DataFrame =
    DedupQueries.bandKeys(DedupQueries.rowMinhashSigs(corpus))

  /** Flag arriving docs whose LSH band keys collide with the corpus index:
    * (doc_id, corpus_doc_id, b) — one row per colliding band. `incoming`
    * may be a streaming OR batch (doc_id, text) frame; the plan is
    * identical. Collisions on multiple bands emit multiple rows (the
    * downstream exact-verify dedups them; keeping the operator
    * aggregation-free is what keeps it watermark-free on the stream).
    */
  def dupCandidates(incoming: DataFrame, index: DataFrame): DataFrame =
    DedupQueries.bandKeys(DedupQueries.rowMinhashSigs(incoming))
      .join(index
        .select(col("doc_id").as("corpus_doc_id"), col("b").as("cb"),
          col("bk").as("cbk")),
        col("b") === col("cb") && col("bk") === col("cbk") &&
          col("doc_id") =!= col("corpus_doc_id"))
      .select(col("doc_id"), col("corpus_doc_id"), col("b"))
}
