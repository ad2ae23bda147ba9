package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tsOf(s: String) = Timestamp.valueOf(s)

  test("gcra throttler admits at the configured rate and marks overflow") {
    // rps=1 -> cost 1s, burst 0s(-ish): a 5-burst at t=0..0.1s admits ~1+burst
    val base = 1700000000000000000L // ns
    val events = (0L until 10L).map { i =>
      // two keys; key "a" bursts 5 events in 100ms then 5 spaced 2s apart
      val t = if (i < 5) base + i * 20000000L else base + (i - 4) * 2000000000L
      GcraThrottler.Event("a", t, i)
    } ++ (0L until 3L).map(i => GcraThrottler.Event("b", base + i * 2000000000L, 100 + i))
    val out = GcraThrottler.throttle(events.toDS(), rps = 1.0)
      .collect().map(r => r.id -> r.admitted).toMap
    // key a: first event admitted; burst window ~1s allows the 4 close
    // followers to be throttled or admitted per TAT; spaced events pass
    assert(out(0L))
    assert(!out(1L) && !out(2L) && !out(3L) && !out(4L), s"burst must throttle: $out")
    assert(out(5L) && out(6L) && out(7L) && out(8L) && out(9L))
    // key b independent: all spaced 2s at rps 1 -> all admitted
    assert(out(100L) && out(101L) && out(102L))
  }

  test("gcra throttler in a streaming query maintains TAT across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[GcraThrottler.Event]
    val base = 1700000000000000000L
    val q = GcraThrottler.throttle(mem.toDS(), rps = 1.0)
      .writeStream.format("memory").queryName("gcra_out")
      .outputMode("append")
      .option("checkpointLocation", Streams.newCheckpointDir())
      .start()
    // batch 1: one admitted event at t=0
    mem.addData(GcraThrottler.Event("k", base, 1))
    q.processAllAvailable()
    // batch 2: an event 100ms later must be throttled by state from batch 1
    mem.addData(GcraThrottler.Event("k", base + 100000000L, 2))
    q.processAllAvailable()
    // batch 3: an event 5s later passes
    mem.addData(GcraThrottler.Event("k", base + 5000000000L, 3))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("gcra_out").as[GcraThrottler.Result]
      .collect().map(r => r.id -> r.admitted).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("stream-stream interval join matches clicks to impressions within the window") {
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "1 hour")
    val clk = clicks.toDF().toDF("click_ad", "click_ts").withWatermark("click_ts", "1 hour")
    val joined = imp.join(clk,
      col("ad_id") === col("click_ad") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append")
      .option("checkpointLocation", Streams.newCheckpointDir())
      .start()
    impressions.addData((1L, tsOf("2024-01-01 00:00:00")), (2L, tsOf("2024-01-01 00:00:00")))
    q.processAllAvailable()
    clicks.addData(
      (1L, tsOf("2024-01-01 00:05:00")),  // within window -> match
      (2L, tsOf("2024-01-01 00:30:00")),  // too late -> no match
      (3L, tsOf("2024-01-01 00:01:00")))  // no impression -> no match
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out").select($"ad_id", $"click_ts")
      .as[(Long, Timestamp)].collect().toSet
    assert(got == Set((1L, tsOf("2024-01-01 00:05:00"))))
  }

  test("reliable sink retries transient failures then succeeds") {
    var attempts = 0
    var dead = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fn = ReliableSink.withRetry(
      (df, _) => { attempts += 1; if (attempts < 3) throw new RuntimeException("flaky") },
      (_, _, _) => dead += 1,
      ReliableSink.RetryPolicy(maxAttempts = 16, minBackoffMs = 50, maxBackoffMs = 5000),
      sleep = sleeps.append(_))
    fn(spark.range(1).toDF(), 0L)
    assert(attempts == 3 && dead == 0)
    assert(sleeps.toSeq == Seq(50L, 100L)) // exponential from 50ms
  }

  test("reliable sink dead-letters after exhausting attempts (buffer.go:12 = 16)") {
    var attempts = 0
    var dead = 0
    val fn = ReliableSink.withRetry(
      (_, _) => { attempts += 1; throw new RuntimeException("always down") },
      (_, _, e) => { dead += 1; assert(e.getMessage == "always down") },
      ReliableSink.RetryPolicy(maxAttempts = 16, minBackoffMs = 1, maxBackoffMs = 2),
      sleep = _ => ())
    fn(spark.range(1).toDF(), 0L)
    assert(attempts == 16 && dead == 1)
  }

  test("failure path pins the batch: retries + dead-letter count do not re-evaluate the pipeline") {
    // a write that consumes the whole batch then fails (peer reset at
    // flush): the pipeline must be evaluated exactly twice — attempt 1
    // and the one eager pin — however many retries follow; the dead-
    // letter row count reads the pinned blocks, not the pipeline
    import org.apache.spark.sql.functions.udf
    StreamingSpec.evalCount.set(0)
    val tick = udf { (x: Long) => StreamingSpec.evalCount.incrementAndGet(); x }
    val df = spark.range(100).select(tick($"id").as("id"))
    var deadRows = -1L
    val fn = ReliableSink.withRetry(
      (d, _) => {
        d.foreachPartition((it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach(_ => ()))
        throw new RuntimeException("reset at flush")
      },
      (d, _, _) => deadRows = d.count(),
      ReliableSink.RetryPolicy(maxAttempts = 8, minBackoffMs = 1, maxBackoffMs = 1),
      sleep = _ => ())
    fn(df, 0L)
    assert(deadRows == 100L)
    assert(StreamingSpec.evalCount.get() == 200L,
      s"pipeline evaluated ${StreamingSpec.evalCount.get() / 100.0}x — " +
        "retries or the dead-letter count re-ran the batch")
  }

  test("a write that fails before consuming still dead-letters exact rows from one evaluation") {
    // the unreachable-peer shape: connect fails before any row is
    // pulled, so only the pin evaluates the pipeline — exactly once
    import org.apache.spark.sql.functions.udf
    StreamingSpec.evalCount.set(0)
    val tick = udf { (x: Long) => StreamingSpec.evalCount.incrementAndGet(); x }
    val df = spark.range(42).select(tick($"id").as("id"))
    var deadRows = -1L
    val fn = ReliableSink.withRetry(
      (_, _) => throw new java.net.ConnectException("refused"),
      (d, _, _) => deadRows = d.count(),
      ReliableSink.RetryPolicy(maxAttempts = 8, minBackoffMs = 1, maxBackoffMs = 1),
      sleep = _ => ())
    fn(df, 0L)
    assert(deadRows == 42L)
    assert(StreamingSpec.evalCount.get() == 42L,
      s"expected one pinned evaluation, saw ${StreamingSpec.evalCount.get()}")
  }
}

object StreamingSpec {
  /** Per-row evaluation tally for the failure-path specs (local[*]: the
    * executor shares the JVM, so a static counter sees every row). */
  val evalCount = new java.util.concurrent.atomic.AtomicLong(0)
}
