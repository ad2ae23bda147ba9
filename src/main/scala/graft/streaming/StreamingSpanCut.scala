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
  * `applySpanCuts`), appends the admitted text's novel windows
  * ([[graft.llm.Dedup.spanIndexAppend]]) and hands the cleaned frame to
  * the caller — the streaming rendering of Lee et al.'s "keep one copy
  * of every substring, ever" with admission state ON DISK in the index,
  * not in executor state stores.
  *
  * The sibling of [[StreamingIndexDedup]] at span granularity: that
  * operator drops whole near-duplicate documents; this one rewrites
  * documents, dropping only the repeated runs (docs cut to nothing
  * disappear). Both share the replay property: a re-run batch cuts the
  * same spans, because intra-batch cuts are min-id-deterministic and the
  * index append is novel-only (re-appending is a no-op).
  */
object StreamingSpanCut {

  /** Run the cut-and-admit loop over a streaming (idCol, textCol) frame
    * with Trigger.AvailableNow, blocking until drained. `onBatch`
    * receives each batch's cleaned (idCol, textCol) frame (already
    * admitted to the index) and the batch id. */
  def run(docs: DataFrame, textCol: String, idCol: String, indexDir: String,
          onBatch: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    // heal any interrupted compaction, refuse an incomplete index
    // (same bootstrap contract as StreamingIndexDedup / Bm25Ingest)
    require(Dedup.spanIndexRecover(docs.sparkSession, indexDir),
      s"incomplete span index at $indexDir (build it first)")
    Streams.runForeachBatch(docs.toDF(), (raw, batchId) => {
      val spark = raw.sparkSession
      // rebuild the lineage before mixing with parquet reads (see
      // StreamingIndexDedup: foreachBatch frames carry origin constraints
      // with foreign attribute ids)
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      if (batch.head(1).nonEmpty) {
        val w = Dedup.spanIndexParams(spark, indexDir)
        // 1. intra-batch: keep the min-id copy of every duplicated run
        val intra = Dedup.cutDupSpans(batch, idCol, textCol, w)
          .select(col("doc_id").as(idCol), col("clean_text").as(textCol))
        // 2. historical: cut spans the index has already admitted
        val vsIndex = Dedup.spanIndexMatches(intra, idCol, textCol, indexDir)
        val cleaned = Dedup.applySpanCuts(intra, vsIndex, idCol, textCol)
          .select(col("doc_id").as(idCol), col("clean_text").as(textCol))
          .localCheckpoint(true)
        // 3. admit what survived; novel windows only
        if (cleaned.head(1).nonEmpty)
          Dedup.spanIndexAppend(cleaned, idCol, textCol, indexDir)
        onBatch(cleaned, batchId)
      }
    })
  }
}
