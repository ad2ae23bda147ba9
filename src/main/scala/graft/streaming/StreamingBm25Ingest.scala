package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Retrieval

/** Streaming corpus ingest into a persisted BM25 inverted index
  * ([[graft.llm.Retrieval.bm25BuildIndex]] family): each micro-batch's
  * postings land in their term buckets via `bm25IndexAppend`, with an
  * optional compaction cadence folding the append generations back to
  * fresh-build layout — the retrieval twin of
  * [[StreamingIndexDedup]]'s disk-resident admission loop. Searches
  * (`bm25SearchIndex`) run against the index between or after batches;
  * index state lives ON DISK, never in executor state stores, so the
  * corpus horizon is unbounded.
  *
  * Bootstrap: when `indexDir` holds no index yet, the first non-empty
  * batch BUILDS it (meta + postings) and later batches append — a
  * drop-zone-to-index pipeline needs no separate seeding job.
  *
  * Delivery note: foreachBatch is at-least-once — under [[run]] a
  * redelivered batch (crash between side effect and checkpoint commit)
  * would append its postings twice and inflate tf/df for its terms.
  * [[runExactlyOnce]] closes that window via the [[graft.llm.IncLog]]
  * batchId-keyed increment protocol.
  */
object StreamingBm25Ingest {

  /** Run the ingest loop over a streaming (idCol, textCol) frame with
    * Trigger.AvailableNow, blocking until drained.
    *
    * @param compactEvery compact the postings after every N batches
    *                     (0 = never)
    * @param onBatch      callback with (batchId, rows appended) after
    *                     each non-empty batch is committed
    */
  def run(docs: DataFrame, textCol: String, idCol: String, indexDir: String,
          compactEvery: Int = 0,
          onBatch: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    Streams.runForeachBatch(docs.toDF(), (raw, batchId) => {
      val spark = raw.sparkSession
      // rebuild the lineage before mixing with parquet reads (see
      // StreamingIndexDedup: foreachBatch frames carry origin
      // constraints with foreign attribute ids)
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      val n = batch.count()
      if (n > 0) {
        // bm25IndexRecover heals any interrupted compaction and
        // demands meta AND postings before append — meta existence
        // alone could be a half-built or gutted index, and appending
        // to one silently overcounts lost documents forever
        if (Retrieval.bm25IndexRecover(spark, indexDir))
          Retrieval.bm25IndexAppend(batch, textCol, idCol, indexDir)
        else
          Retrieval.bm25BuildIndex(batch, textCol, idCol, indexDir)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Retrieval.bm25IndexCompact(spark, indexDir)
        onBatch(batchId, n)
      }
    })

  /** [[run]] with EXACTLY-ONCE batch application — the at-least-once
    * caveat above, closed via the [[graft.llm.IncLog]] protocol (see
    * [[StreamingLmIngest.runExactlyOnceK]], the template): the first
    * batch bootstraps marker-before-meta, later batches land as
    * committed increment directories, and a REDELIVERED batch is
    * detected by its commit marker (or the fold summary watermark) and
    * skipped — its postings never double, tf/df never inflate.
    * `onBatch` receives (batchId, rows, applied); applied=false is the
    * redelivery skip.
    * RESTARTS: batchId is unique only within one checkpoint lineage, so
    * pass a `streamId` that changes with the checkpoint (the Delta
    * `txnAppId` discipline, [[graft.llm.IncLog]]) — markers are scoped
    * per stream, so a restart under a FRESH checkpoint + fresh streamId
    * appends correctly instead of colliding with the old lineage's
    * markers; a restart that KEEPS the checkpoint keeps its streamId
    * and redelivery is still skipped. The default empty streamId is the
    * legacy single-lineage contract. */
  def runExactlyOnce(docs: DataFrame, textCol: String, idCol: String,
                     indexDir: String, compactEvery: Int = 0,
                     onBatch: (Long, Long, Boolean) => Unit =
                       (_, _, _) => (),
                     streamId: String = "",
                     checkpointDir: String = ""): StreamingQuery =
    Streams.runForeachBatch(docs.toDF(), (raw, batchId) => {
      val spark = raw.sparkSession
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      val n = batch.count()
      if (n > 0) {
        val applied =
          if (Retrieval.bm25IndexRecover(spark, indexDir))
            Retrieval.bm25IndexAppendBatch(batch, textCol, idCol, indexDir,
              batchId, streamId)
          else {
            Retrieval.bm25BuildIndexBatch(batch, textCol, idCol, indexDir,
              batchId, streamId)
            true
          }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Retrieval.bm25IndexCompact(spark, indexDir)
        onBatch(batchId, n, applied)
      }
    }, if (checkpointDir.isEmpty) Streams.newCheckpointDir()
       else checkpointDir)
}
