package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Retrieval

/** Exactly-once streaming ingest into a persisted count index: the
  * Structured Streaming (SIGMOD 2018) pattern of a replayable source
  * feeding an idempotent sink. Each micro-batch recovers the index,
  * then either BUILDS it (no complete index yet — recover demands meta
  * AND every slice, so a half-built index is rebuilt, never appended
  * to) or lands the batch as a committed [[graft.llm.IncLog]]
  * increment, then compacts on a cadence. foreachBatch alone is
  * at-least-once; a REDELIVERED batch (a replay after a crash between
  * the side effect and the checkpoint commit) is detected by its commit
  * marker or the fold watermark and skipped, so its counts never
  * double. Index state lives on disk, never in executor state stores,
  * so the ingest horizon is unbounded, and searches or scorers read the
  * index between batches.
  *
  * Families ([[Family]]): the order-k n-gram LM
  * ([[graft.llm.Lm.lmBuildIndexBatchK]] /
  * [[graft.llm.Lm.lmIndexAppendBatchK]]), the BM25 inverted index
  * ([[graft.llm.Retrieval.bm25BuildIndexBatch]] /
  * [[graft.llm.Retrieval.bm25IndexAppendBatch]]) and the positional
  * phrase index ([[graft.llm.Retrieval.phraseBuildIndexBatch]] /
  * [[graft.llm.Retrieval.phraseIndexAppendBatch]]) — each family's one
  * append path.
  */
object IndexIngest {

  /** Which persisted index a stream feeds. */
  sealed trait Family
  final case class Lm(order: Int) extends Family
  case object Bm25 extends Family
  case object Phrase extends Family

  /** One family's lifecycle calls: recover (true = complete index),
    * bootstrap build, exactly-once append (false = redelivery skip),
    * compact. Arguments: (batch, textCol, idCol, dir, batchId,
    * streamId). */
  private final case class Ops(
      recover: (SparkSession, String) => Boolean,
      build: (DataFrame, String, String, String, Long, String) => Unit,
      append: (DataFrame, String, String, String, Long, String) => Boolean,
      compact: (SparkSession, String) => Unit)

  private def ops(family: Family): Ops = family match {
    case Lm(order) => Ops(graft.llm.Lm.lmIndexRecoverK,
      graft.llm.Lm.lmBuildIndexBatchK(_, _, _, _, order, _, _),
      graft.llm.Lm.lmIndexAppendBatchK,
      graft.llm.Lm.lmIndexCompactK(_, _))
    case Bm25 => Ops(Retrieval.bm25IndexRecover,
      Retrieval.bm25BuildIndexBatch, Retrieval.bm25IndexAppendBatch,
      Retrieval.bm25IndexCompact)
    case Phrase => Ops(Retrieval.phraseIndexRecover,
      Retrieval.phraseBuildIndexBatch, Retrieval.phraseIndexAppendBatch,
      Retrieval.phraseIndexCompact)
  }

  /** Drain a streaming (idCol, textCol) frame into `indexDir` with
    * Trigger.AvailableNow, blocking until drained.
    *
    * @param compactEvery  compact after every N batches (0 = never)
    * @param onBatch       (batchId, rows, applied) after each non-empty
    *                      batch; applied = false is the redelivery skip
    * @param streamId      scopes the commit markers to one checkpoint
    *                      lineage (the Delta `txnAppId` discipline,
    *                      [[graft.llm.IncLog]]): batchId restarts at 0
    *                      under a fresh checkpoint, so a restart with a
    *                      fresh checkpoint needs a fresh stream id, and
    *                      a restart that keeps the checkpoint keeps its
    *                      stream id
    * @param checkpointDir the query's checkpoint; empty = a fresh one */
  def run(docs: DataFrame, textCol: String, idCol: String, indexDir: String,
          family: Family, compactEvery: Int = 0,
          onBatch: (Long, Long, Boolean) => Unit = (_, _, _) => (),
          streamId: String = "", checkpointDir: String = ""): StreamingQuery = {
    val f = ops(family)
    Streams.runForeachBatch(docs, (raw, batchId) => {
      val spark = raw.sparkSession
      // rebuild the lineage before mixing with parquet reads: a
      // foreachBatch frame carries origin constraints with foreign
      // attribute ids
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      val n = batch.count()
      if (n > 0) {
        val applied =
          if (f.recover(spark, indexDir))
            f.append(batch, textCol, idCol, indexDir, batchId, streamId)
          else {
            f.build(batch, textCol, idCol, indexDir, batchId, streamId)
            true
          }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          f.compact(spark, indexDir)
        onBatch(batchId, n, applied)
      }
    }, if (checkpointDir.isEmpty) Streams.newCheckpointDir() else checkpointDir)
  }
}
