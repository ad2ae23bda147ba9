package graft.streaming

import org.apache.spark.sql.DataFrame

/** Bounded-retry write with exponential backoff and a dead-letter hook —
  * the Spark rendering of the reference's reliability pair:
  * core.buffer (buffer.go:33-93: re-enqueue failed sends, max 16
  * attempts, then complete Failed) and core.sink's reconnect loop
  * (sink.go:80-110: exponential backoff 50 ms -> 5 s, x2).
  *
  * Used inside foreachBatch: Structured Streaming's checkpointing
  * provides redelivery of the whole batch on query restart; this handles
  * transient in-batch failures without failing the query, and routes
  * exhausted batches to a dead-letter target so the stream keeps going —
  * batch-granularity status accounting per SURVEY §2.6.2.
  */
object ReliableSink {

  final case class RetryPolicy(maxAttempts: Int = 16,   // buffer.go:12
                               minBackoffMs: Long = 50, // sink.go:13
                               maxBackoffMs: Long = 5000) // sink.go:14

  /** Returns a (batchDf, batchId) => Unit suitable for
    * `writeStream.foreachBatch`. `write` is attempted up to
    * policy.maxAttempts with doubling backoff; on exhaustion the batch
    * goes to `deadLetter` (never throws into the stream).
    *
    * Failure-path evaluation discipline: after the FIRST failed attempt
    * the batch is eagerly `localCheckpoint`ed once, so every subsequent
    * retry — and the dead-letter accounting's row count — reads the
    * materialized blocks instead of re-running the batch's pipeline per
    * attempt. The success path never materializes anything. */
  def withRetry(write: (DataFrame, Long) => Unit,
                deadLetter: (DataFrame, Long, Throwable) => Unit,
                policy: RetryPolicy = RetryPolicy(),
                sleep: Long => Unit = Thread.sleep): (DataFrame, Long) => Unit = {
    require(policy.maxAttempts >= 1)
    (df: DataFrame, batchId: Long) => {
      var attempt = 0
      var backoff = policy.minBackoffMs
      var lastErr: Throwable = null
      var done = false
      var pinned: Option[DataFrame] = None
      def cur: DataFrame = pinned.getOrElse(df)
      try {
        while (!done && attempt < policy.maxAttempts) {
          try {
            write(cur, batchId)
            done = true
          } catch {
            // a stopped query interrupts its writer: end, do not retry
            case e: InterruptedException => throw e
            case e: Exception =>
              lastErr = e
              attempt += 1
              if (attempt < policy.maxAttempts) {
                // one eager materialization; a checkpoint failure (the
                // upstream itself is broken) falls back to the plain df
                if (pinned.isEmpty)
                  pinned = scala.util.Try(df.localCheckpoint(true)).toOption
                sleep(backoff)
                backoff = math.min(backoff * 2, policy.maxBackoffMs)
              }
          }
        }
        if (!done) deadLetter(cur, batchId, lastErr)
      } finally pinned.foreach(p => scala.util.Try(p.unpersist()))
    }
  }
}
