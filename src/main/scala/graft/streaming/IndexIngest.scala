package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Retrieval

/** Exactly-once streaming ingest into a persisted index: the
  * Structured Streaming (SIGMOD 2018) pattern of a replayable source
  * feeding an idempotent sink. [[drive]] is the one foreachBatch driver
  * of every index stream: each micro-batch recovers the index, then
  * either BUILDS it (no complete index yet — recover demands meta AND
  * every slice, so a half-built index is rebuilt, never appended to) or
  * appends the batch exactly once ([[graft.llm.IndexStore.appendBatch]]),
  * then compacts on a cadence. foreachBatch alone is at-least-once; a
  * REDELIVERED batch (a replay after a crash between the side effect and
  * the checkpoint commit) is detected by its commit marker or the fold
  * watermark and skipped, so it never counts twice. Index state lives on
  * disk, never in executor state stores, so the ingest horizon is
  * unbounded, and searches or scorers read the index between batches.
  *
  * [[run]] feeds the count families ([[Family]]): the order-k n-gram
  * LM, the BM25 inverted index and the positional phrase index;
  * [[StreamingSpanCut]] feeds the span index through the same driver.
  */
object IndexIngest {

  /** Which persisted index a stream feeds. */
  sealed trait Family
  final case class Lm(order: Int) extends Family
  case object Bm25 extends Family
  case object Phrase extends Family

  /** One index's lifecycle calls: recover (true = complete index),
    * bootstrap build (None = the index must exist before the stream
    * starts), exactly-once append (false = redelivery skip), compact.
    * Build and append take (batch, dir, batchId, streamId). */
  private[streaming] final case class Ops(
      recover: (SparkSession, String) => Boolean,
      build: Option[(DataFrame, String, Long, String) => Unit],
      append: (DataFrame, String, Long, String) => Boolean,
      compact: (SparkSession, String) => Unit)

  private def ops(family: Family, textCol: String, idCol: String): Ops = family match {
    case Lm(order) => Ops(graft.llm.Lm.lmIndexRecoverK,
      Some(graft.llm.Lm.lmBuildIndexBatchK(_, textCol, idCol, _, order, _, _)),
      graft.llm.Lm.lmIndexAppendBatchK(_, textCol, idCol, _, _, _),
      graft.llm.Lm.lmIndexCompactK(_, _))
    case Bm25 => Ops(Retrieval.bm25IndexRecover,
      Some(Retrieval.bm25BuildIndexBatch(_, textCol, idCol, _, _, _)),
      Retrieval.bm25IndexAppendBatch(_, textCol, idCol, _, _, _),
      Retrieval.bm25IndexCompact)
    case Phrase => Ops(Retrieval.phraseIndexRecover,
      Some(Retrieval.phraseBuildIndexBatch(_, textCol, idCol, _, _, _)),
      Retrieval.phraseIndexAppendBatch(_, textCol, idCol, _, _, _),
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
          streamId: String = "", checkpointDir: String = ""): StreamingQuery =
    drive(docs, indexDir, ops(family, textCol, idCol), compactEvery, streamId,
      checkpointDir)(identity)((batchId, batch, applied) =>
      onBatch(batchId, batch.count(), applied))

  /** The one driver: per non-empty micro-batch, recover the index (a
    * family that cannot bootstrap recovers once, before the query
    * starts, and fails fast on an incomplete index), `admit` the batch
    * against it (what the index takes, and what `onBatch` receives),
    * build or append exactly once, compact on the cadence, then hand the
    * admitted rows to `onBatch(batchId, rows, applied)`. */
  private[streaming] def drive(docs: DataFrame, indexDir: String, f: Ops,
                               compactEvery: Int, streamId: String,
                               checkpointDir: String)(
      admit: DataFrame => DataFrame)(
      onBatch: (Long, DataFrame, Boolean) => Unit): StreamingQuery = {
    if (f.build.isEmpty)
      require(f.recover(docs.sparkSession, indexDir),
        s"incomplete index at $indexDir (build it first)")
    Streams.runForeachBatch(docs, (raw, batchId) => {
      val spark = raw.sparkSession
      // rebuild the lineage before mixing with parquet reads: a
      // foreachBatch frame carries origin constraints with foreign
      // attribute ids
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      if (batch.head(1).nonEmpty) {
        val complete = f.build.isEmpty || f.recover(spark, indexDir)
        val rows = admit(batch)
        val applied =
          if (complete) f.append(rows, indexDir, batchId, streamId)
          else { f.build.get(rows, indexDir, batchId, streamId); true }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          f.compact(spark, indexDir)
        onBatch(batchId, rows, applied)
      }
    }, if (checkpointDir.isEmpty) Streams.newCheckpointDir() else checkpointDir)
  }
}
