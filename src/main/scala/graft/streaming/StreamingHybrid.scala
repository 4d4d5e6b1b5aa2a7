package graft.streaming

import graft.operators.Retrieval
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dense+lexical search against BOTH persisted indexes — the
  * serving-time shape of `text_hybrid_multi`: each micro-batch of
  * queries `(query_id, terms, qv)` pays one static bucket prune on the
  * BM25 inverted index and one cell prune on the IVF vector index
  * ([[graft.operators.Retrieval.hybridBatch]] — the identical fused
  * arithmetic the batch gate certifies), and the per-query RRF top-k
  * lands batchId-keyed. Read-only like [[StreamingRetrieval.start]],
  * so replay idempotence needs no ledger: a redelivered batchId
  * rewrites its own output directory wholesale. Empty batches are
  * suppressed (K3). Index GROWTH stays with the per-index ingest
  * streams (`StreamingRetrieval.startIngest(Retrieval.Bm25, ...)`,
  * `StreamingSimilarity.startIngest`) — the next search batch
  * automatically fuses over whatever both ledgers have committed.
  */
object StreamingHybrid {

  def start(queries: DataFrame, bmIndex: String, ivfIndex: String,
      outPath: String, checkpoint: String, k: Int = 10): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishBatch(batch, batchId, bmIndex, ivfIndex, outPath, k)
      }
      .start()

  /** One micro-batch publish — the replay-idempotent unit (also invoked
    * directly by the spec to simulate a redelivered batch).
    */
  def publishBatch(batch: DataFrame, batchId: Long, bmIndex: String,
      ivfIndex: String, outPath: String, k: Int = 10): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    Retrieval.hybridBatch(batch.sparkSession, bmIndex, ivfIndex, batch, k)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }
}
