package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Dedup

/** Streaming ingestion with an UNBOUNDED dedup horizon: each micro-batch
  * is near-dup-matched against the persisted LSH index
  * ([[graft.llm.Dedup.lshIndexMatches]]), the survivors are appended to
  * the index ([[graft.llm.Dedup.lshIndexAppend]]) and handed to the
  * caller — admission state lives ON DISK in the index, not in executor
  * state stores.
  *
  * Complements [[StreamingNearDup]]: that operator keeps band buckets in
  * `flatMapGroupsWithState` state for low-latency pairing inside a
  * bounded horizon; this one trades per-batch index reads for a horizon
  * of the ENTIRE accumulated corpus — the shape a training-data ingest
  * pipeline needs ("is this crawl page a dup of anything we ever
  * admitted?"), where state-store residency is impossible.
  *
  * Admission rule, per batch: a document is dropped iff it matches the
  * index at `threshold`, or an EARLIER-id document of the same batch
  * (intra-batch pairs from [[graft.llm.Dedup.minhashLshPairs]], signed
  * with the index's own parameters). Min-id-first is deliberately
  * conservative: a doc whose only earlier match was itself dropped is
  * still dropped — admission never depends on the resolution order
  * inside the batch, so reruns of a batch admit the same set.
  *
  * Delivery note: unlike the count-accumulating ingest loops (which
  * need [[graft.llm.IncLog]] for exactly-once), this admission loop is
  * NATURALLY idempotent under foreachBatch redelivery — a replayed
  * document is already in the index and matches ITSELF at jaccard 1.0,
  * so it is dropped and never re-appended, and the replayed batch's
  * admitted output is empty (spec-pinned by replaying a whole drained
  * stream). The residual edge is a TORN append (crash between the
  * shingle and band writes): the half-indexed doc is invisible to
  * matching, gets re-appended whole on replay, and its first append's
  * orphan rows merely duplicate match output rows for that doc — the
  * admission verdict is unchanged (matched is matched); the IncLog
  * protocol is the upgrade if that artifact ever matters.
  */
object StreamingIndexDedup {

  /** Run the admission loop over a streaming (idCol, textCol) frame with
    * Trigger.AvailableNow, blocking until drained. `onBatch` receives
    * each batch's ADMITTED frame (already appended to the index) and the
    * batch id. */
  def run(docs: DataFrame, textCol: String, idCol: String, indexDir: String,
          threshold: Double,
          onBatch: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    // heal any interrupted compaction before trusting the index (see
    // GenDir) and refuse to run against an incomplete one —
    // appending novel docs to a gutted index would silently lose the
    // pre-crash dedup horizon
    require(Dedup.lshIndexRecover(docs.sparkSession, indexDir),
      s"incomplete LSH index at $indexDir (build it first)")
    Streams.runForeachBatch(docs.toDF(), (raw, batchId) => {
      val spark = raw.sparkSession
      // rebuild the lineage before mixing with parquet reads: foreachBatch
      // frames carry origin constraints with foreign attribute ids that
      // fail Catalyst constraint rewriting under joins/unions
      val batch = spark.createDataFrame(raw.rdd, raw.schema)
        .localCheckpoint(true)
      if (batch.head(1).nonEmpty) {
        val (shingleN, numBands, rowsPerBand) =
          Dedup.lshIndexParams(spark, indexDir)
        val vsIndex = Dedup.lshIndexMatches(batch, textCol, idCol, indexDir,
            threshold)
          .select(col("batch_id").as("__drop"))
        val intra = Dedup.minhashLshPairs(batch, textCol, idCol,
            shingleN, threshold, numBands, rowsPerBand)
          .select(col("id_b").as("__drop"))
        val drops = vsIndex.union(intra).distinct().localCheckpoint(true)
        val admitted = batch
          .join(drops, batch(idCol) === drops("__drop"), "left_anti")
          .localCheckpoint(true)
        Dedup.lshIndexAppend(admitted, textCol, idCol, indexDir)
        onBatch(admitted, batchId)
      }
    })
  }
}
