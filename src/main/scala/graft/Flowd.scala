package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{PipelineCompiler, PipelineConfig}

/** Pipeline daemon entry point — the analog of the reference's `flowd`
  * binary (cmd/flowd-v1alpha1/main.go:17-96): assemble the layered config
  * (defaults < FLOW_* env < YAML < `-o key=value` cli, reference weights
  * 0/10/20/30 from main.go:22-25), validate/build the DAG, run it,
  * report.
  *
  * Usage: runMain graft.Flowd <config.yml> [--explain] [--explain-config]
  *        [--stream [--follow]] [--admin-port N] [-o key=value]...
  *
  * --explain prints the Graphviz DOT of the DAG (the /pipeline/describe
  * admin surface) before running; --explain-config prints every resolved
  * key with the provider that won it and the layers it shadowed (the
  * reference's repository explain surface); --stream runs the pipeline
  * as one availableNow streaming query, writing every sink per
  * micro-batch (file receivers need `schema_from`
  * params pointing at a parquet file to infer from), and refuses before
  * any sink writes a pipeline with an actor that has no streaming form
  * (warc receivers, replicator mode fanout, wet sinks:
  * [[graft.pipeline.PipelineCompiler.cannotStream]]); --admin-port serves
  * the LIVE admin surface ([[graft.streaming.AdminServer]]: /config,
  * /pipeline/describe, /progress, /sinks) on 127.0.0.1:N while the
  * pipeline runs
  * — the reference's embedded web/app/http.go server (0 = ephemeral; the
  * bound address is printed). --follow keeps the streaming pipeline
  * RUNNING (ProcessingTime trigger, newly-dropped files keep draining)
  * until the process is signalled — the reference daemon's lifecycle —
  * instead of exiting once the backlog is consumed.
  */
object Flowd {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Flowd <config.yml> [--explain] [--explain-config]" +
        " [--stream [--follow]] [--admin-port N] [-o key=value]...")
    val cfgPath = args(0)
    val explain = args.contains("--explain")
    val explainConfig = args.contains("--explain-config")
    val stream = args.contains("--stream")
    val follow = args.contains("--follow")
    require(!follow || stream, "--follow requires --stream")
    val adminPort = args.zipWithIndex.collectFirst { case ("--admin-port", i) =>
      require(i + 1 < args.length, "--admin-port needs a port operand")
      args(i + 1).toInt
    }
    val repo = graft.pipeline.ConfigRepository.forPipeline(
      Files.readString(Paths.get(cfgPath)), args.toSeq)
    if (explainConfig) println(repo.explainAll)
    val cfg = repo.toPipelineConfig
    if (explain) println(PipelineConfig.toDot(cfg))
    val spark = GraftSession.get()
    val compiler = new PipelineCompiler(spark, cfg)
    val admin = adminPort.map(p => new graft.streaming.AdminServer(
      spark, () => repo.explainAll, () => PipelineConfig.toDot(cfg), p,
      deadLetters = () => compiler.deadLetterCounts).start())
    admin.foreach(a => println(s"""{"admin":"http://127.0.0.1:${a.boundPort}"}"""))
    try {
      // bind:// receivers start their listeners up front (reference
      // pipeline.go starts receivers at pipeline start); ephemeral
      // port-0 binds are resolved and reported here
      val bound = compiler.startReceivers()
      if (bound.nonEmpty) {
        val js = bound.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        println(s"""{"receivers":$js}""")
      }
      // file receivers need a schema for streaming; bind receivers carry
      // the fixed event schema through the DSv2 source
      def receiverSchemas = cfg.actors.values
        .filter(a => a.module == "core.receiver" && !a.params.contains("bind"))
        .map { a =>
          val from = a.params.getOrElse("schema_from", a.params("path")).toString
          a.name -> spark.read.parquet(from).schema
        }.toMap
      if (follow) {
        // daemon lifecycle: run until signalled (or a query fails)
        val queries = compiler.startStreaming(receiverSchemas)
        println(s"""{"pipeline":"$cfgPath","following":${queries.size}}""")
        spark.streams.awaitAnyTermination()
      } else {
        val counts =
          if (stream) compiler.runStreamingOnce(receiverSchemas)
          else compiler.runBatch()
        val json = counts.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        println(s"""{"pipeline":"$cfgPath","sinks":$json}""")
      }
    } finally {
      compiler.close()
      admin.foreach(_.stop())
      spark.stop()
    }
  }
}
