package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Lm

/** Streaming training ingest into a persisted order-k n-gram LM
  * ([[graft.llm.Lm.lmBuildIndexK]] family): each micro-batch's counts
  * land as a committed increment (counts are additive — reads fold
  * with sum, so no read-modify-write), with an optional compaction
  * cadence folding increments back to one row per gram. Scoring
  * (`lmScoreIndexK`) runs against the model between or after batches;
  * model state lives ON DISK, never in executor state stores, so the
  * training horizon is unbounded — the "keep the reference LM fresh as
  * the trusted corpus grows" loop of a CCNet-style curation pipeline.
  *
  * Bootstrap: when `indexDir` holds no complete model yet (recover
  * demands meta AND every count slice — the [[StreamingBm25Ingest]]
  * half-built-index lesson), the first non-empty batch BUILDS it and
  * later batches append.
  */
object StreamingLmIngest {

  /** Run the ingest loop over a streaming (idCol, textCol) frame with
    * Trigger.AvailableNow, blocking until drained, with EXACTLY-ONCE
    * batch application. foreachBatch alone is at-least-once, so
    * batches flow through the [[graft.llm.IncLog]] protocol: the first
    * batch bootstraps via `lmBuildIndexBatchK` (marker-before-meta,
    * rebuild-safe), later batches land as committed increment
    * directories (`lmIndexAppendBatchK`), and a REDELIVERED batch —
    * foreachBatch replaying after a crash between side effect and
    * checkpoint commit — is detected by its commit marker (or the fold
    * summary watermark) and skipped, so its counts never double.
    *
    * @param compactEvery compact the count slices after every N batches
    *                     (0 = never)
    * @param onBatch      callback with (batchId, docs, applied) after
    *                     each non-empty batch — applied=false is the
    *                     redelivery skip
    *
    * ONE INDEX <-> ONE CHECKPOINTED STREAM (see [[graft.llm.IncLog]]):
    * restarting with a fresh checkpoint restarts batchId at 0 and old
    * markers would skip the new batches — use a fresh index directory
    * with a fresh checkpoint. */
  def runExactlyOnceK(docs: DataFrame, textCol: String, idCol: String,
                      indexDir: String, order: Int,
                      compactEvery: Int = 0,
                      onBatch: (Long, Long, Boolean) => Unit =
                        (_, _, _) => (),
                      streamId: String = ""): StreamingQuery =
    Streams.runForeachBatch(docs.toDF(), (raw, batchId) => {
      val spark = raw.sparkSession
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      val n = batch.count()
      if (n > 0) {
        val applied =
          if (Lm.lmIndexRecoverK(spark, indexDir))
            Lm.lmIndexAppendBatchK(batch, textCol, idCol, indexDir, batchId,
              streamId)
          else {
            Lm.lmBuildIndexBatchK(batch, textCol, idCol, indexDir, order,
              batchId, streamId)
            true
          }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Lm.lmIndexCompactK(spark, indexDir)
        onBatch(batchId, n, applied)
      }
    })
}
