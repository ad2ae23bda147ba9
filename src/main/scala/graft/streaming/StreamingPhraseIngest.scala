package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Retrieval

/** Streaming corpus ingest into a persisted POSITIONAL phrase index
  * ([[graft.llm.Retrieval.phraseBuildIndex]] family): each
  * micro-batch's position rows land in their term buckets via
  * `phraseIndexAppend` (positions are independent facts — generations
  * need no merge), with an optional compaction cadence folding the
  * layout (and the stats slice) back to fresh-build shape. Phrase
  * searches (`phraseSearchIndex` / the rarest-term-pruned
  * `phraseSearchIndexSelective`) run against the on-disk index between
  * or after batches; no executor state, unbounded corpus horizon.
  *
  * Bootstrap: recover heals any interrupted compaction and the first
  * non-empty batch builds when no positions directory exists yet.
  * [[run]] carries the usual at-least-once caveat;
  * [[runExactlyOnce]] closes it ([[graft.llm.IncLog]]).
  */
object StreamingPhraseIngest {

  /** Run the ingest loop over a streaming (idCol, textCol) frame with
    * Trigger.AvailableNow, blocking until drained.
    *
    * @param compactEvery compact after every N batches (0 = never)
    * @param onBatch      callback with (batchId, rows appended) after
    *                     each non-empty batch is committed
    */
  def run(docs: DataFrame, textCol: String, idCol: String, indexDir: String,
          compactEvery: Int = 0,
          onBatch: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    Streams.runForeachBatch(docs.toDF(), (raw, batchId) => {
      val spark = raw.sparkSession
      // rebuild the lineage before mixing with parquet reads (the
      // StreamingIndexDedup constraint-rewrite pitfall)
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      val n = batch.count()
      if (n > 0) {
        if (Retrieval.phraseIndexRecover(spark, indexDir))
          Retrieval.phraseIndexAppend(batch, textCol, idCol, indexDir)
        else
          Retrieval.phraseBuildIndex(batch, textCol, idCol, indexDir)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Retrieval.phraseIndexCompact(spark, indexDir)
        onBatch(batchId, n)
      }
    })

  /** [[run]] with EXACTLY-ONCE batch application (the
    * [[graft.llm.IncLog]] protocol — see
    * [[StreamingBm25Ingest.runExactlyOnce]], the template): a
    * redelivered batch is skipped by its commit marker or the fold
    * summary watermark, so position rows and phrase counts never
    * double. `onBatch` receives (batchId, rows, applied).
    * ONE INDEX <-> ONE CHECKPOINTED STREAM (see [[graft.llm.IncLog]]):
    * restarting with a fresh checkpoint restarts batchId at 0 and old
    * markers would skip the new batches — use a fresh index directory
    * with a fresh checkpoint. */
  def runExactlyOnce(docs: DataFrame, textCol: String, idCol: String,
                     indexDir: String, compactEvery: Int = 0,
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
          if (Retrieval.phraseIndexRecover(spark, indexDir))
            Retrieval.phraseIndexAppendBatch(batch, textCol, idCol, indexDir,
              batchId, streamId)
          else {
            Retrieval.phraseBuildIndexBatch(batch, textCol, idCol, indexDir,
              batchId, streamId)
            true
          }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Retrieval.phraseIndexCompact(spark, indexDir)
        onBatch(batchId, n, applied)
      }
    })
}
