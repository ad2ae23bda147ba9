package graft.pipeline

import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Counts every row that passes it, JVM-wide (local mode runs the
  * executors in this JVM). */
class MessageCounterPlugin extends ActorPlugin {
  override def transform(spark: SparkSession, input: DataFrame,
                         params: Map[String, Any]): DataFrame =
    input.mapPartitions { rows =>
      rows.map { r => MessageCounterPlugin.seen.incrementAndGet(); r }
    }(Encoders.row(input.schema))
}

object MessageCounterPlugin {
  val seen = new AtomicLong()
}

/** A streaming run is one query per pipeline: the source is read once
  * per trigger whatever the number of sinks, actors that keep state
  * across micro-batches stay in the streaming plan, and the pipeline
  * has one checkpoint. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def await(want: => Boolean, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!want && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** A listener per sink, one worker thread per connection. */
  private final class Peers(names: Seq[String]) {
    val servers = names.map(n =>
      n -> new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)).toMap
    val lines = names.map(n =>
      n -> java.util.Collections.synchronizedList(new java.util.ArrayList[String]())).toMap
    servers.foreach { case (n, server) =>
      val acceptor = new Thread(() => {
        try while (!server.isClosed) {
          val s = server.accept()
          val worker = new Thread(() => {
            val r = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
            var line = r.readLine()
            while (line != null) { lines(n).add(line); line = r.readLine() }
            s.close()
          })
          worker.setDaemon(true)
          worker.start()
        } catch { case _: Exception => () }
      })
      acceptor.setDaemon(true)
      acceptor.start()
    }
    def got(n: String): List[String] = lines(n).asScala.toList
    def total: Int = lines.values.map(_.size).sum
    def close(): Unit = servers.values.foreach(_.close())
  }

  private def writerThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-sink-writer")).toSet

  test("a relay-shaped five-sink pipeline reads each message once") {
    val sinks = Seq("click", "view_out", "purchase_a", "purchase_b", "dlq")
    val peers = new Peers(sinks)
    def sink(n: String) = s"""{module: core.sink, params: {bind: "tcp://127.0.0.1:${peers.servers(n).getLocalPort}"}}"""
    val yaml =
      s"""actors:
        |  rcv: {module: core.receiver, params: {bind: "tcp://:0", channel: relay-once, silent: true}}
        |  count: {module: "plugin:graft.pipeline.MessageCounterPlugin"}
        |  parse: {module: core.meta_parser}
        |  route: {module: core.router, params: {key: "meta.type", dead_letter: dlq}}
        |  click: ${sink("click")}
        |  view: {module: core.compressor, params: {codec: gzip}}
        |  encode: {module: core.encoder_base64}
        |  view_out: ${sink("view_out")}
        |  purchase: {module: core.replicator, params: {mode: each}}
        |  purchase_a: ${sink("purchase_a")}
        |  purchase_b: ${sink("purchase_b")}
        |  dlq: ${sink("dlq")}
        |pipeline:
        |  rcv: {connect: [count]}
        |  count: {connect: [parse]}
        |  parse: {connect: [route]}
        |  route: {connect: [click, view, purchase, dlq]}
        |  view: {connect: [encode]}
        |  encode: {connect: [view_out]}
        |  purchase: {connect: [purchase_a, purchase_b]}
        |""".stripMargin
    graft.sources.PushReceiver.clear("relay-once")
    val types = Seq("click", "view", "purchase", "refund")
    val n = 40
    val msgs = (0 until n).map(i => types(i % types.size) -> s"m$i")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val before = writerThreads
    MessageCounterPlugin.seen.set(0L)
    val port = compiler.startReceivers()("rcv")
    val queries = compiler.startStreaming(Map.empty, Trigger.ProcessingTime("100 milliseconds"))
    try {
      assert(queries.keySet == sinks.toSet)
      assert(queries.values.toSet.size == 1, "one query per pipeline")
      val s = new java.net.Socket("127.0.0.1", port)
      try {
        s.getOutputStream.write(msgs.map { case (t, b) => s"type=$t $b\r\n" }
          .mkString.getBytes(StandardCharsets.UTF_8))
      } finally s.close()
      val want = msgs.count(_._1 == "purchase") * 2 + msgs.count(_._1 != "purchase")
      await(peers.total >= want)
      Thread.sleep(300) // a second read would still be delivering copies
      def bodies(t: String => Boolean) = msgs.filter(m => t(m._1)).map(_._2).sorted
      assert(peers.got("click").sorted == bodies(_ == "click"))
      assert(peers.got("purchase_a").sorted == bodies(_ == "purchase"))
      assert(peers.got("purchase_b").sorted == bodies(_ == "purchase"))
      assert(peers.got("dlq").sorted == bodies(t => !Set("click", "view", "purchase")(t)))
      val unzipped = peers.got("view_out").map { l =>
        val gz = new java.util.zip.GZIPInputStream(
          new ByteArrayInputStream(java.util.Base64.getDecoder.decode(l)))
        new String(gz.readAllBytes(), StandardCharsets.UTF_8)
      }
      assert(unzipped.sorted == bodies(_ == "view"))
      // the counter right after the receiver saw each message once
      assert(MessageCounterPlugin.seen.get == n)
      def read = queries("dlq").recentProgress.map(_.numInputRows).sum
      await(read >= n)
      assert(read == n)
    } finally {
      queries.values.foreach(_.stop())
      compiler.close()
      peers.close()
      graft.sources.PushReceiver.clear("relay-once")
    }
    assert((writerThreads -- before).isEmpty, "a sink-writer thread outlived close()")
  }

  test("a GCRA throttler beside a plain branch keeps its TAT across batches") {
    val ch = "gcra-beside-plain"
    graft.sources.PushReceiver.clear(ch)
    val t0 = 1700000000000000L
    // wave 1 (batch 0): admits the first, the TAT moves to t0 + 1 s;
    // wave 2 (batch 1): +0.5 s is before that TAT, +2 s is past it
    Seq(0L, 100000L, 500000L, 2000000L).foreach(dt =>
      graft.sources.PushReceiver.push(ch, "k".getBytes(StandardCharsets.UTF_8),
        tsMicros = t0 + dt))
    val dir = Files.createTempDirectory("graft-gcra-plain-").toString
    val yaml =
      s"""actors:
        |  src: {module: core.push_receiver, params: {channel: $ch, maxMsgsPerTrigger: 2}}
        |  thr: {module: core.throttler, params: {algo: gcra, key: body, ts: ingest_ts, rps: 1}}
        |  throttled: {module: core.sink, params: {format: parquet, path: "$dir/throttled"}}
        |  plain: {module: core.sink, params: {format: parquet, path: "$dir/plain"}}
        |pipeline:
        |  src: {connect: [thr, plain]}
        |  thr: {connect: [throttled]}
        |""".stripMargin
    try {
      val counts = new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runStreamingOnce(Map.empty)
      // a TAT lost between batches would admit +0.5 s as well
      assert(counts == Map("throttled" -> 2L, "plain" -> 4L), counts.toString)
      val admitted = spark.read.parquet(s"$dir/throttled")
        .selectExpr("unix_micros(ingest_ts)").as[Long].collect().sorted.toSeq
      assert(admitted == Seq(t0, t0 + 2000000L))
    } finally graft.sources.PushReceiver.clear(ch)
  }

  private def pollCount(path: String, want: Long, timeoutMs: Long = 30000): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var n = -1L
    while (n != want && System.currentTimeMillis() < deadline) {
      n = scala.util.Try(spark.read.parquet(path).count()).getOrElse(-1L)
      if (n != want) Thread.sleep(100)
    }
    n
  }

  test("two sinks share one pinned checkpoint; a restart re-appends nothing") {
    val in = Files.createTempDirectory("graft-two-ckpt-in-").toString
    val out = Files.createTempDirectory("graft-two-ckpt-out-").toString
    val ckpt = Files.createTempDirectory("graft-two-ckpt-").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "body")
      .coalesce(1).write.mode("append").parquet(in)
    def yaml(ckptB: String) =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  a: {module: core.sink, params: {format: parquet, path: "$out/a", checkpoint: "$ckpt"}}
        |  b: {module: core.sink, params: {format: parquet, path: "$out/b", checkpoint: "$ckptB"}}
        |pipeline:
        |  src: {connect: [a, b]}
        |""".stripMargin
    val schema = spark.read.parquet(in).schema
    def start(y: String) = new PipelineCompiler(spark, PipelineConfig.parse(y))
      .startStreaming(Map("src" -> schema), Trigger.ProcessingTime("100 milliseconds"))
    // sinks naming different checkpoints are refused before any query starts
    val e = intercept[IllegalArgumentException](start(yaml(ckpt + "-other")))
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
    assert(spark.streams.active.isEmpty && !new java.io.File(s"$out/a").exists())
    val run1 = start(yaml(ckpt))
    try {
      assert(run1.values.toSet.size == 1)
      assert(pollCount(s"$out/a", 3) == 3 && pollCount(s"$out/b", 3) == 3)
      val commit0 = new java.io.File(s"$ckpt/commits/0")
      await(commit0.exists())
      assert(commit0.exists(), "batch 0 commit marker never appeared")
    } finally { run1.values.foreach(_.stop()); run1.values.foreach(_.awaitTermination(30000)) }
    Seq((4L, "d")).toDF("id", "body").coalesce(1).write.mode("append").parquet(in)
    val run2 = start(yaml(ckpt))
    try assert(pollCount(s"$out/a", 4) == 4 && pollCount(s"$out/b", 4) == 4)
    finally { run2.values.foreach(_.stop()); run2.values.foreach(_.awaitTermination(30000)) }
  }
}
