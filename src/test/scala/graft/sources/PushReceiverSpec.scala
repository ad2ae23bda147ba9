package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Transforms
import graft.streaming.{StatusMetrics, Streams}

class PushReceiverSpec extends SparkSpec {
  import spark.implicits._

  test("push receiver streams pushed messages with body, meta, ingest_ts") {
    val ch = "t-basic"
    PushReceiver.clear(ch)
    (1 to 5).foreach(i =>
      PushReceiver.push(ch, s"msg-$i".getBytes("UTF-8"),
        Map("seq" -> i.toString), tsMicros = 1700000000000000L + i))
    val stream = spark.readStream
      .format(classOf[PushReceiverProvider].getName)
      .option("channel", ch).load()
    val got = Streams.runToMemory(spark, stream, "push_basic")
      .select($"body".cast("string"), $"meta".getItem("seq"))
      .as[(String, String)].collect().toSet
    assert(got == (1 to 5).map(i => (s"msg-$i", i.toString)).toSet)
  }

  test("receiver -> operator chain -> sink runs over the push transport") {
    val ch = "t-chain"
    PushReceiver.clear(ch)
    // meta-parser wire format, like the reference's HTTP receiver feeding
    // the x.meta_parser actor (README.md:206-212)
    Seq("route=a&id=1 payload-one", "route=b&id=2 payload-two").foreach(s =>
      PushReceiver.push(ch, s.getBytes("UTF-8")))
    val stream = spark.readStream
      .format(classOf[PushReceiverProvider].getName)
      .option("channel", ch).load()
    val parsed = Transforms.parseMeta(stream)
      .select($"meta".getItem("route").as("route"),
        $"meta".getItem("id").as("id"), $"body".cast("string").as("payload"))
    val got = Streams.runToMemory(spark, parsed, "push_chain")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("a", "1", "payload-one"), ("b", "2", "payload-two")))
  }

  test("maxMsgsPerTrigger bounds each micro-batch (admission control)") {
    val ch = "t-admission"
    PushReceiver.clear(ch)
    (1 to 10).foreach(i => PushReceiver.push(ch, Array(i.toByte)))
    val stream = spark.readStream
      .format(classOf[PushReceiverProvider].getName)
      .option("channel", ch).option("maxMsgsPerTrigger", "3").load()
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    Streams.runForeachBatch(stream, (df, _) => batchSizes += df.count())
    assert(batchSizes.sum == 10, s"all messages must drain: $batchSizes")
    assert(batchSizes.forall(_ <= 3), s"batches must respect the cap: $batchSizes")
  }

  test("checkpointed restart resumes from committed offsets: no loss, no dups") {
    val ch = "t-recovery"
    PushReceiver.clear(ch)
    val ckpt = Streams.newCheckpointDir()
    val outDir = java.nio.file.Files.createTempDirectory("graft-recov-out-").toString

    def runOnce(): Unit = {
      val stream = spark.readStream
        .format(classOf[PushReceiverProvider].getName)
        .option("channel", ch).load()
        .select($"body".cast("string").as("body"))
      val q = stream.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    (1 to 3).foreach(i => PushReceiver.push(ch, s"m$i".getBytes("UTF-8")))
    runOnce()
    (4 to 5).foreach(i => PushReceiver.push(ch, s"m$i".getBytes("UTF-8")))
    runOnce() // restart from the same checkpoint: must read ONLY m4, m5

    val got = spark.read.parquet(outDir).as[String].collect().toSeq
    assert(got.sorted == Seq("m1", "m2", "m3", "m4", "m5"),
      s"exactly-once violated: $got")
  }

  test("journal mode: offsets, bodies and meta survive a simulated " +
      "driver crash; torn tails truncate away un-acked records") {
    val ch = "t-journal"
    PushReceiver.clear(ch)
    val dir = java.nio.file.Files.createTempDirectory("graft-journal-").toString
    PushReceiver.configureJournal(ch, dir)
    (1 to 4).foreach(i => PushReceiver.push(ch, s"j$i".getBytes("UTF-8"),
      Map("seq" -> i.toString, "é" -> "ünï"), tsMicros = 1000L + i))
    assert(PushReceiver.size(ch) == 4)
    // process death: all in-memory state gone, the file remains
    PushReceiver.simulateCrash(ch)
    // append a TORN record (a crash mid-write): must not count
    val log = java.nio.file.Paths.get(dir, s"$ch.log")
    val lenBefore = java.nio.file.Files.size(log)
    java.nio.file.Files.write(log, Array[Byte](0, 0, 0, 99, 1, 2, 3),
      java.nio.file.StandardOpenOption.APPEND)
    PushReceiver.configureJournal(ch, dir) // recovery
    assert(PushReceiver.size(ch) == 4)
    assert(java.nio.file.Files.size(log) == lenBefore) // tail truncated
    val msgs = PushReceiver.snapshot(ch)
    assert(msgs.map(m => new String(m.body, "UTF-8")) ==
      Seq("j1", "j2", "j3", "j4"))
    assert(msgs.map(_.tsMicros) == Seq(1001L, 1002L, 1003L, 1004L))
    assert(msgs.forall(_.meta("é") == "ünï")) // non-ASCII meta intact
    // appends continue at the recovered offset
    assert(PushReceiver.push(ch, "j5".getBytes("UTF-8")) == 5L)
    assert(new String(PushReceiver.snapshot(ch).last.body, "UTF-8") == "j5")
    PushReceiver.clear(ch)
    assert(!java.nio.file.Files.exists(log))
  }

  test("journal append is all-or-nothing: an oversized meta value " +
      "(writeUTF > 64KB) rejects the push with ZERO bytes written — " +
      "later appends, reads and recovery stay offset-exact") {
    val ch = "t-journal-atomic"
    PushReceiver.clear(ch)
    val dir = java.nio.file.Files.createTempDirectory("graft-jatomic-").toString
    PushReceiver.configureJournal(ch, dir)
    PushReceiver.push(ch, "a1".getBytes("UTF-8"), Map("k" -> "v"))
    val log = java.nio.file.Paths.get(dir, s"$ch.log")
    val lenAfterFirst = java.nio.file.Files.size(log)
    // meta value whose modified-UTF-8 form exceeds writeUTF's 64 KB
    // frame: the old streaming append wrote bodyLen+body+metaCount and
    // PART of the entry before throwing, leaving phantom bytes ahead
    // of `end` that shifted every later record's offset
    val huge = "x" * 70000
    intercept[java.io.UTFDataFormatException] {
      PushReceiver.push(ch, "poison".getBytes("UTF-8"), Map("k" -> huge))
    }
    assert(java.nio.file.Files.size(log) == lenAfterFirst) // zero bytes
    assert(PushReceiver.size(ch) == 1)
    // the journal keeps accepting and serving records at exact offsets
    PushReceiver.push(ch, "a2".getBytes("UTF-8"), Map("k2" -> "v2"))
    val msgs = PushReceiver.snapshot(ch)
    assert(msgs.map(m => new String(m.body, "UTF-8")) == Seq("a1", "a2"))
    assert(msgs(1).meta("k2") == "v2")
    // recovery re-derives the same offsets from the file alone
    PushReceiver.simulateCrash(ch)
    PushReceiver.configureJournal(ch, dir)
    assert(PushReceiver.snapshot(ch).map(m =>
      new String(m.body, "UTF-8")) == Seq("a1", "a2"))
    PushReceiver.clear(ch)
  }

  test("journaled push -> exactly-once BM25 ingest: a crash between " +
      "append and checkpoint commit loses nothing and doubles nothing") {
    val ch = "t-journal-xo"
    PushReceiver.clear(ch)
    val dir = java.nio.file.Files.createTempDirectory("graft-jxo-").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-jxo-idx-")
      .toString + "/index"
    val ckpt = Streams.newCheckpointDir()
    PushReceiver.configureJournal(ch, dir)
    (1 to 6).foreach(i => PushReceiver.push(ch,
      s"uniq$i shared words here".getBytes("UTF-8"), Map("id" -> i.toString)))

    def docs() = spark.readStream
      .format(classOf[PushReceiverProvider].getName)
      .option("channel", ch).option("maxMsgsPerTrigger", "3").load()
      .selectExpr("CAST(meta['id'] AS BIGINT) AS doc_id",
        "CAST(body AS STRING) AS text")

    // run 1: batch 0 APPLIES its index side effect, then the driver
    // dies before the checkpoint commit (throw from onBatch = after
    // the append, before foreachBatch returns)
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.IndexIngest.run(
        docs(), "text", "doc_id", idx, graft.streaming.IndexIngest.Bm25,
        onBatch = (batchId, _, _) =>
          if (batchId == 0) sys.error("driver died mid-commit"),
        streamId = "jxo", checkpointDir = ckpt)
    }
    assert(boom.getMessage.contains("driver died") ||
      boom.getCause.getMessage.contains("driver died"))
    // full process loss + journal recovery; more messages arrive
    PushReceiver.simulateCrash(ch)
    PushReceiver.configureJournal(ch, dir)
    (7 to 9).foreach(i => PushReceiver.push(ch,
      s"uniq$i shared words here".getBytes("UTF-8"), Map("id" -> i.toString)))
    // run 2, SAME checkpoint: batch 0 re-serves FROM THE JOURNAL and
    // the IncLog marker skips its duplicate append (applied=false)
    var redelivered = Option.empty[Boolean]
    graft.streaming.IndexIngest.run(
      docs(), "text", "doc_id", idx, graft.streaming.IndexIngest.Bm25,
      onBatch = (batchId, _, applied) =>
        if (batchId == 0) redelivered = Some(applied),
      streamId = "jxo", checkpointDir = ckpt)
    assert(redelivered.contains(false), s"batch 0 should skip: $redelivered")
    // every doc indexed EXACTLY once: each unique term has df 1 and its
    // one-term query hits exactly its own doc
    val queries = (1 to 9).map(i => (i.toLong, s"uniq$i"))
      .toDF("query_id", "qtext")
    val hits = graft.llm.Retrieval.bm25SearchIndex(queries, idx, k = 5)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect().toSeq
    assert(hits.sorted == (1 to 9).map(i => (i.toLong, i.toLong)),
      s"index contents wrong: $hits")
    PushReceiver.clear(ch)
  }

  test("observed metrics reach the status collector per batch") {
    val ch = "t-metrics"
    PushReceiver.clear(ch)
    // 2 valid base64 bodies, 1 invalid -> INVALID status at the decoder
    Seq(
      java.util.Base64.getEncoder.encodeToString("ok-1".getBytes),
      java.util.Base64.getEncoder.encodeToString("ok-2".getBytes),
      "!!!bad$$$").foreach(s => PushReceiver.push(ch, s.getBytes("UTF-8")))
    val collector = StatusMetrics.register(spark)
    try {
      val stream = spark.readStream
        .format(classOf[PushReceiverProvider].getName)
        .option("channel", ch).load()
      val decoded = StatusMetrics.observed(
        graft.operators.Transforms.decodeBase64(stream), "decoder")
      val q = decoded.writeStream.format("memory").queryName("push_metrics")
        .option("checkpointLocation", Streams.newCheckpointDir())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the listener bus is async: poll briefly for delivery
      def find() = collector.snapshot.collectFirst {
        case ((_, obs), vals) if obs == "decoder" => vals
      }
      val deadline = System.currentTimeMillis() + 10000
      var m = find()
      while (m.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); m = find()
      }
      assert(m.isDefined, s"no decoder observation in ${collector.snapshot.keySet}")
      assert(m.get("rows") == 3L)
      assert(m.get("n_INVALID") == 1L)
      assert(m.get("n_DONE") == 2L)
    } finally spark.streams.removeListener(collector)
  }

  test("composite status folds like the reference replicator") {
    import graft.operators.FlowEventModel._
    assert(StatusMetrics.compositeStatus(Seq(StatusDone, StatusDone)) == StatusDone)
    assert(StatusMetrics.compositeStatus(Seq(StatusDone, StatusFailed)) == StatusPartialSend)
    assert(StatusMetrics.compositeStatus(Seq(StatusFailed, StatusFailed)) == StatusFailed)
  }
}
