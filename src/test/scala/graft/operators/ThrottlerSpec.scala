package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ThrottlerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  test("per-key per-window quota marks overflow THROTTLED, earliest rows pass") {
    // key a: 4 events in minute 0 (quota 2 -> 2 throttled), 1 in minute 1
    // key b: 2 events in minute 0 -> all pass
    val rows = Seq(
      ("a", ts(0, 1), 1L), ("a", ts(0, 2), 2L), ("a", ts(0, 3), 3L), ("a", ts(0, 4), 4L),
      ("a", ts(1, 0), 5L),
      ("b", ts(0, 5), 6L), ("b", ts(0, 6), 7L))
      .toDF("key", "ts", "id")
    val out = Throttler.throttleByWindow(rows, col("key"), col("ts"), "1 minute", 2,
      Seq(col("ts"), col("id")))
    val status = out.select($"id", $"status").as[(Long, String)].collect().toMap
    assert(status(1L) == FlowEventModel.StatusDone)
    assert(status(2L) == FlowEventModel.StatusDone)
    assert(status(3L) == FlowEventModel.StatusThrottled)
    assert(status(4L) == FlowEventModel.StatusThrottled)
    assert(status(5L) == FlowEventModel.StatusDone) // fresh window
    assert(status(6L) == FlowEventModel.StatusDone)
    assert(status(7L) == FlowEventModel.StatusDone)
  }

  test("throttling is per key: one hot key does not starve others") {
    val rows = (1L to 20L).map(i => ("hot", ts(0, i.toInt), i)) :+ (("cold", ts(0, 30), 99L))
    val out = Throttler.throttleByWindow(rows.toDF("key", "ts", "id"),
      col("key"), col("ts"), "1 minute", 5, Seq(col("ts"), col("id")))
    assert(out.filter($"key" === "cold" && $"status" === FlowEventModel.StatusDone).count() == 1)
    assert(out.filter($"key" === "hot" && $"status" === FlowEventModel.StatusDone).count() == 5)
    assert(out.filter($"status" === FlowEventModel.StatusThrottled).count() == 15)
  }

  test("row-generic GCRA preserves all columns and admits at the rate") {
    // rps=1: events 100ms apart -> only the first admitted per burst;
    // 2s apart -> admitted. Extra payload column must flow through.
    val rows = Seq(
      ("a", ts(0, 0), 1L, "p1"), ("a", ts(0, 2), 2L, "p2"), ("a", ts(0, 4), 3L, "p3"),
      ("b", ts(0, 0), 4L, "p4"))
      .toDF("key", "ts", "id", "payload")
    val out = graft.streaming.GcraThrottler.throttleRows(rows, "key", "ts", rps = 1.0)
    assert(out.columns.toSeq == Seq("key", "ts", "id", "payload", "admitted"))
    val admitted = out.filter($"admitted").select($"id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 3L, 4L)) // 2s spacing at 1 rps: all pass
    val burst = Seq(("a", ts(0, 0), 1L, "x"), ("a", Timestamp.valueOf("2024-01-01 00:00:00.1"), 2L, "y"))
      .toDF("key", "ts", "id", "payload")
    val burstOut = graft.streaming.GcraThrottler.throttleRows(burst, "key", "ts", rps = 1.0)
      .filter($"admitted").select($"id").as[Long].collect().toSet
    assert(burstOut == Set(1L)) // second event inside the burst window is rejected
  }

  test("gcra pipeline actor filters over-rate rows in a YAML pipeline") {
    val in = java.nio.file.Files.createTempDirectory("graft-gcra-pipe-").toString
    Seq(
      ("u1", ts(0, 0), 1L), ("u1", Timestamp.valueOf("2024-01-01 00:00:00.05"), 2L),
      ("u1", ts(0, 5), 3L), ("u2", ts(0, 1), 4L))
      .toDF("user", "ts", "id").write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  gate: {module: core.throttler, params: {algo: gcra, key: user, ts: ts, rps: "1.0"}}
        |  gcra_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [gate]}
        |  gate: {connect: [gcra_pipe_out]}
        |""".stripMargin
    new graft.pipeline.PipelineCompiler(spark,
      graft.pipeline.PipelineConfig.parse(yaml)).runBatch()
    val ids = spark.table("gcra_pipe_out").select($"id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 4L)) // id 2 is 50ms after id 1 -> throttled out
  }

  test("row-generic GCRA keys a binary column by its bytes, like a string") {
    // five equal bodies 10 ms apart at 1 rps: one admitted per key — the
    // same on the binary column every bind/push receiver emits as on
    // the same bytes as a string
    val rows = (0 until 5).map(i => ("same", Timestamp.valueOf(
      f"2024-01-01 00:00:00.${i * 10}%03d"), i.toLong))
      .toDF("text", "ts", "id")
      .withColumn("body", $"text".cast("binary"))
    def admitted(key: String): Long = graft.streaming.GcraThrottler
      .throttleRows(rows, key, "ts", rps = 1.0).filter($"admitted").count()
    assert(admitted("text") == 1L)
    assert(admitted("body") == 1L)
  }
}
