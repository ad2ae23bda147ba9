package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Dedup

/** Streaming exact-substring dedup with an UNBOUNDED horizon: each
  * micro-batch first cuts its OWN cross-document duplicated runs
  * ([[graft.llm.Dedup.cutDupSpans]], min-id keeper, signed with the
  * index's window size), then cuts every span already present in the
  * persisted window index ([[graft.llm.Dedup.spanIndexMatches]] +
  * `applySpanCuts`), admits the cleaned text's novel windows exactly
  * once ([[graft.llm.Dedup.spanIndexAppendBatch]]) and hands the
  * cleaned frame to the caller — the streaming rendering of Lee et al.'s
  * "keep one copy of every substring, ever" with admission state ON DISK
  * in the index, not in executor state stores. It runs on
  * [[IndexIngest.drive]]; only the cut is span-specific.
  *
  * It rewrites documents, dropping only the repeated runs (docs cut to
  * nothing disappear). The index must be built before the stream
  * starts. A redelivered batch is not admitted twice; its cut runs
  * against an index that already holds its own windows.
  */
object StreamingSpanCut {

  /** Run the cut-and-admit loop over a streaming (idCol, textCol) frame
    * with Trigger.AvailableNow, blocking until drained. `onBatch`
    * receives each batch's cleaned (idCol, textCol) frame (already
    * admitted to the index) and the batch id. `streamId` and
    * `checkpointDir` are [[IndexIngest.run]]'s; a run on a fresh
    * checkpoint with no stream id takes a fresh one, so batch ids that
    * restart at 0 never collide with an earlier run's markers. */
  def run(docs: DataFrame, textCol: String, idCol: String, indexDir: String,
          onBatch: (DataFrame, Long) => Unit = (_, _) => (),
          streamId: String = "", checkpointDir: String = ""): StreamingQuery =
    IndexIngest.drive(docs.toDF(), indexDir, IndexIngest.Ops(
        Dedup.spanIndexRecover, None,
        Dedup.spanIndexAppendBatch(_, idCol, textCol, _, _, _),
        Dedup.spanIndexCompact),
      compactEvery = 0,
      streamId = if (streamId.isEmpty && checkpointDir.isEmpty)
        java.util.UUID.randomUUID().toString else streamId,
      checkpointDir = checkpointDir)(batch => {
      val w = Dedup.spanIndexParams(batch.sparkSession, indexDir)
      // 1. intra-batch: keep the min-id copy of every duplicated run
      val intra = Dedup.cutDupSpans(batch, idCol, textCol, w)
        .select(col("doc_id").as(idCol), col("clean_text").as(textCol))
      // 2. historical: cut spans the index has already admitted
      val vsIndex = Dedup.spanIndexMatches(intra, idCol, textCol, indexDir)
      Dedup.applySpanCuts(intra, vsIndex, idCol, textCol)
        .select(col("doc_id").as(idCol), col("clean_text").as(textCol))
        .localCheckpoint(true)
    })((batchId, cleaned, _) => onBatch(cleaned, batchId))
}
