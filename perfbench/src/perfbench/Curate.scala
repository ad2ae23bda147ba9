package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.pipeline.{ConfigRepository, PipelineCompiler}

/** curate: the `examples/llm_curation.yml` shape as one YAML batch
  * pipeline, run through `ConfigRepository.forPipeline` and
  * `PipelineCompiler.runBatch`: one untimed warm-up run (JIT and
  * codegen caches), then timed runs until `seconds` have passed (at
  * least one). The traced run times one cold `runBatch`, then each
  * actor alone (source -> actor -> noop sink) traced and again untraced:
  * the actors' two walls give the tracing overhead. */
object Curate {
  /** (name, module, params) in pipeline order. */
  val Actors: Seq[(String, String, String)] = Seq(
    ("scorecard", "llm.curation_scorecard", """{column: text, id: doc_id, annotate_only: "true"}"""),
    ("quality", "llm.quality_filter", """{column: text, min_quality: "0.5"}"""),
    ("repetition", "llm.repetition_filter", """{column: text, max_dup_ppm: "900000"}"""),
    ("langid", "llm.langid", """{column: text, keep: en}"""),
    ("lm_score", "llm.lm_score", """{column: text, id: doc_id, tier_cutoffs_ppm: "600000,300000"}"""),
    ("classifier", "llm.classifier", """{column: text}"""),
    ("dedup_exact", "llm.dedup_exact", """{column: text, id: doc_id}"""),
    ("dedup_near", "llm.dedup_near", """{column: text, id: doc_id, threshold: "0.8"}"""),
    ("bpe", "llm.bpe_encode", """{column: text, num_merges: "8"}"""))

  def yaml(corpus: String, chain: Seq[(String, String, String)], sink: String): String = {
    val names = "src" +: chain.map(_._1) :+ "out"
    val actors = (s"""  src: {module: core.receiver, params: {path: "$corpus"}}""" +:
      chain.map { case (n, m, p) => s"  $n: {module: $m, params: $p}" }) :+
      s"  out: {module: core.sink, params: $sink}"
    val links = names.zip(names.tail).map { case (a, b) => s"  $a: {connect: [$b]}" }
    (Seq("actors:") ++ actors ++ Seq("pipeline:") ++ links).mkString("\n") + "\n"
  }

  def run(ctx: Ctx): mutable.LinkedHashMap[String, Any] = {
    val work = ctx.work
    val corpus = s"$work/corpus.parquet"
    val outPath = s"$work/curated.parquet"
    val text = yaml(corpus, Actors, s"""{format: parquet, path: "$outPath"}""")
    def compile() = new PipelineCompiler(ctx.spark,
      Spans.timed("pipeline.config")(ConfigRepository.forPipeline(text).toPipelineConfig)._1)
    val (_, setupSamples) = ctx.setups(() => {
      Spans.timed("session.start")(ctx.startSession())
      Spans.timed("pipeline.compile")(compile())._1
    }, (_: PipelineCompiler) => ctx.spark.stop())
    val spark = ctx.spark
    spark.read.schema("doc_id BIGINT, text STRING").json(ctx.opt("corpus"))
      .write.mode("overwrite").parquet(corpus)
    val nDocs = spark.read.parquet(corpus).count()

    val calls = ctx.calls
    if (ctx.traced) ctx.trace() else compile().runBatch()
    var attempted = 0L
    var failed = 0L
    val loopStart = System.nanoTime()
    val deadline = loopStart + (ctx.seconds * 1e9).toLong
    var it = 0
    while (it == 0 || (!ctx.traced && System.nanoTime() < deadline)) {
      val compiler = compile()
      val sinks = calls("pipeline.run_batch")(compiler.runBatch())
      attempted += 1
      if (!sinks.contains("out")) failed += 1
      it += 1
    }
    val walls = calls.walls("pipeline.run_batch").toSeq
    val loopS = (System.nanoTime() - loopStart) / 1e9

    val out = Out()
    out("setup_s") = Ctx.median(setupSamples)
    out("setup_samples") = setupSamples
    out("latency_p50_ms") = Ctx.median(walls) * 1000
    out("runs") = it
    out("docs") = nDocs
    out("timed_frac") = walls.sum / loopS
    if (ctx.traced) {
      out("counters") = calls.counters("pipeline.run_batch").toMap
      // each actor alone over the same corpus: wall and rows kept
      def actorPass(): Seq[(String, (Double, Long))] = Actors.map { a =>
        val c = new PipelineCompiler(spark, ConfigRepository.forPipeline(
          yaml(corpus, Seq(a), "{format: noop}")).toPipelineConfig)
        val name = s"curate.actor.${a._1}"
        val rows = calls(name)(c.runBatch())("out")
        a._1 -> (calls.walls(name).last, rows)
      }
      val traced = actorPass()
      ctx.untrace()
      val untraced = actorPass()
      out("actors") = traced.map { case (n, (s, rows)) => n -> Map("s" -> s, "rows" -> rows.toDouble) }.toMap
      out("tracing_overhead_frac") = traced.map(_._2._1).sum / untraced.map(_._2._1).sum - 1
    }

    // checks, outside the timed region
    val kept = spark.read.parquet(outPath)
    val rows = kept.select(col("doc_id"), col("n_pieces")).orderBy("doc_id").collect()
    val ids = rows.map(_.getLong(0))
    val planted = scala.io.Source.fromFile(ctx.opt("exact_copies")).mkString.trim.split(",").filter(_.nonEmpty).map(_.toLong).toSet
    val unique = ids.distinct.length == ids.length
    val dupsGone = !ids.exists(planted.contains)
    attempted += 2
    if (!unique) failed += 1
    if (!dupsGone) failed += 1
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(s"${r.getLong(0)}:${r.get(1)}\n".getBytes("UTF-8")))
    out("kept") = ids.length
    out("digest") = md.digest().map("%02x".format(_)).mkString
    out("check") = Map("doc_ids_unique" -> unique, "exact_copies_removed" -> dupsGone)
    out("attempted") = attempted
    out("failed") = failed
    out
  }
}
