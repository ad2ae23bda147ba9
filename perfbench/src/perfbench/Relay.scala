package perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.pipeline.{ConfigRepository, PipelineCompiler}
import graft.sources.PushReceiver

/** relay: the daemon path of `Flowd --stream --follow` over a YAML bind://
  * pipeline. Each set-up builds the session, compiles the config, binds
  * the receivers and starts every sink query, and is ready at the first
  * progress event of every query. After the last set-up the JVM reports
  * the receiver port and keeps relaying until `run.py` writes STOP on
  * stdin (the load and its measurement live in `run.py`). */
object Relay {
  final class Progress extends StreamingQueryListener {
    val events = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(events += e)
  }

  final case class Live(compiler: PipelineCompiler, queries: Map[String, StreamingQuery],
                        port: Int)

  def run(ctx: Ctx): mutable.LinkedHashMap[String, Any] = {
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ctx.opt("yaml"))), "UTF-8")
    val progress = new Progress
    def setup(): Live = {
      val spark = Spans.timed("session.start")(ctx.startSession())._1
      if (ctx.traced) spark.streams.addListener(progress)
      val cfg = Spans.timed("pipeline.config")(
        ConfigRepository.forPipeline(yaml).toPipelineConfig)._1
      val compiler = Spans.timed("pipeline.compile")(new PipelineCompiler(spark, cfg))._1
      val (port, queries) = Spans.timed("pipeline.start_streaming") {
        val ports = compiler.startReceivers()
        (ports("rcv"), compiler.startStreaming(Map.empty))
      }._1
      while (queries.values.exists(_.lastProgress == null)) Thread.sleep(5)
      Live(compiler, queries, port)
    }
    def teardown(l: Live): Unit = {
      l.queries.values.foreach(_.stop())
      l.compiler.close()
      PushReceiver.clear("rcv")
      ctx.spark.stop()
    }
    val (live, setupSamples) = ctx.setups(setup, teardown)
    progress.synchronized(progress.events.clear())
    println(s"""PERFBENCH_READY {"port":${live.port}}""")
    System.out.flush()
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = stdin.readLine()
    while (line != null && line.trim != "STOP") line = stdin.readLine()
    val accepted = PushReceiver.size("rcv")
    live.queries.values.foreach(_.stop())
    live.compiler.close()

    val out = Out()
    out("setup_s") = Ctx.median(setupSamples)
    out("setup_samples") = setupSamples
    out("channel_msgs") = accepted
    val dead = live.compiler.deadLetterCounts
    out("dead_lettered_batches") = dead.values.map(_._1).sum
    out("dead_lettered_rows") = dead.values.map(_._2).sum
    if (ctx.traced) out("streaming") = streamingStats(progress, accepted)
    out
  }

  /** Per-sink-query micro-batch statistics from the progress events of
    * batches that carried rows. */
  private def streamingStats(p: Progress, accepted: Long): mutable.LinkedHashMap[String, Any] = {
    val evs = p.synchronized(p.events.toVector).map(_.progress)
    val busy = evs.filter(_.numInputRows > 0)
    def d(pr: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trig = busy.map(d(_, "triggerExecution"))
    val out = Out()
    out("batches") = busy.size
    out("rows_per_batch_p50") = Ctx.median(busy.map(_.numInputRows.toDouble))
    out("trigger_ms_p50") = Ctx.median(trig)
    out("trigger_ms_p99") = Ctx.pct(trig, 0.99)
    out("add_batch_ms_p50") = Ctx.median(busy.map(d(_, "addBatch")))
    out("plan_ms_p50") = Ctx.median(busy.map(x =>
      d(x, "latestOffset") + d(x, "getBatch") + d(x, "queryPlanning")))
    out("commit_ms_p50") = Ctx.median(busy.map(x => d(x, "walCommit") + d(x, "commitOffsets")))
    val span = if (evs.isEmpty) 0.0 else {
      val ts = evs.map(x => java.time.Instant.parse(x.timestamp).toEpochMilli)
      (ts.max - ts.min) / 1000.0 + 1.0
    }
    val queries = evs.map(_.name).distinct.size.max(1)
    out("busy_frac") = if (span > 0) evs.map(d(_, "triggerExecution")).sum / 1000.0 / (span * queries) else 0.0
    out("source_reads_per_msg") =
      if (accepted > 0) busy.map(_.numInputRows).sum.toDouble / accepted else 0.0
    out
  }
}
