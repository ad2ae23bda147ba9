package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Runs every shipped example pipeline end-to-end (the reference ships
  * runnable example configs; so do we, and CI executes them). */
class ExamplesSpec extends SparkSpec {

  private def run(name: String): Map[String, Long] = {
    val yaml = Files.readString(Paths.get(s"examples/$name"))
    val cfg = PipelineConfig.parse(yaml)
    new PipelineCompiler(spark, cfg).runBatch()
  }

  test("events_router example partitions all events across routes + dead letter") {
    val counts = run("events_router.yml")
    assert(counts.values.sum == spark.read
      .parquet("/root/testdata/sf0.001/events.parquet").count())
    assert(counts.keySet == Set("click", "view", "purchase", "dlq"))
    assert(counts("dlq") > 0) // signup + error land in the dead letter
  }

  test("transform_chain example round-trips documents losslessly") {
    val counts = run("transform_chain.yml")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(counts("out") == docs.count())
    val out = spark.read.parquet("/tmp/graft-example-out/transform_chain")
    import spark.implicits._
    val want = docs.select($"text".cast("string")).as[String].collect().toSet
    val got = out.select($"text".cast("string")).as[String].collect().toSet
    assert(got == want)
  }

  test("throttled_fanout example admits quota and splits across workers") {
    val counts = run("throttled_fanout.yml")
    val total = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(counts("w1") + counts("w2") <= total) // throttler dropped overflow
    assert(counts("w1") + counts("w2") > 0)
  }

  test("top_spenders example ranks top-3 orders per status via the custom operator") {
    val counts = run("top_spenders.yml")
    assert(counts("out") == 9L) // 3 statuses x top-3
    import spark.implicits._
    val ranks = spark.table("out").select($"rn").as[Int].collect().sorted.toSeq
    assert(ranks == Seq(1, 1, 1, 2, 2, 2, 3, 3, 3))
  }

  test("llm_curation example's DOT marks the edges a batch run materializes") {
    val cfg = PipelineConfig.parse(Files.readString(Paths.get("examples/llm_curation.yml")))
    def node(n: String, module: String) = s"""  "$n" [label="$n\\n$module"];"""
    val mat = """ [style=dashed, label="materialized"]"""
    def edge(from: String, to: String, materialized: Boolean = false) =
      s"""  "$from" -> "$to"${if (materialized) mat else ""};"""
    val want = Seq("digraph pipeline {",
      node("bpe", "llm.bpe_encode"), node("clf", "llm.classifier"),
      node("decon", "llm.decontaminate_cut"), node("dedup", "llm.dedup_exact"),
      node("lang", "llm.langid"), node("lm", "llm.lm_score"),
      node("near", "llm.dedup_near"), node("out", "core.sink"),
      node("quality", "llm.quality_filter"),
      node("repetition", "llm.repetition_filter"),
      node("scorecard", "llm.curation_scorecard"),
      node("spans", "llm.cut_dup_spans"), node("src", "core.receiver"),
      edge("bpe", "out"), edge("clf", "dedup", materialized = true),
      edge("decon", "bpe", materialized = true),
      edge("dedup", "near", materialized = true),
      edge("lang", "lm", materialized = true), edge("lm", "clf"),
      edge("near", "spans", materialized = true),
      edge("quality", "repetition"), edge("repetition", "lang"),
      edge("scorecard", "quality"),
      edge("spans", "decon", materialized = true),
      // the scorecard reads its input twice too, but a receiver scan is
      // already a plan leaf: nothing to materialize
      edge("src", "scorecard"),
      "}").mkString("\n")
    assert(PipelineConfig.toDot(cfg) == want)
  }

  test("llm_curation example filters, gates and dedups the documents table") {
    val counts = run("llm_curation.yml")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(counts("out") > 0 && counts("out") <= docs.count())
    val out = spark.table("out")
    import spark.implicits._
    assert(out.select($"lang").distinct().as[String].collect().toSeq == Seq("en"))
    assert(out.filter($"quality" < 0.5).count() == 0)
    // repetition gate annotated and enforced its bound
    assert(out.filter($"dup_ppm" > 900000L).count() == 0)
    // exact + near dedup kept one row per distinct text
    assert(out.select($"text").distinct().count() == out.count())
    // classifier annotated every surviving row
    assert(out.columns.contains("clf_score"))
    // LM self-perplexity annotated and nonnegative on every row, and
    // the CCNet tier annotation tracks the fixed example cutoffs
    assert(out.columns.contains("lm_score_ppm"))
    assert(out.filter($"lm_score_ppm" < 0L).count() == 0)
    assert(out.filter($"lm_tier" === "head" && $"lm_score_ppm" < 600000L)
      .count() == 0)
    assert(out.select($"lm_tier").as[String].collect()
      .forall(Set("head", "middle", "tail")))
    // span-cut removed every cross-doc duplicated 8-token run
    assert(graft.llm.Dedup.dupSpans(out.select($"doc_id", $"text"), w = 8)
      .count() == 0)
    // surgical decontamination dropped the eval subset itself
    assert(out.filter($"source" === "src0").count() == 0)
    // the BPE stage annotated every surviving row with a consistent
    // piece count (pieces is space-joined, so its length is n_pieces)
    assert(out.columns.contains("pieces") && out.columns.contains("n_pieces"))
    assert(out.filter(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.split($"pieces", " ")) =!= $"n_pieces")
      .count() == 0)
  }

  test("demux_partitioned example writes one directory per event type") {
    val counts = run("demux_partitioned.yml")
    assert(counts("out") == spark.read
      .parquet("/root/testdata/sf0.001/events.parquet").count())
    val dirs = new java.io.File("/tmp/graft-example-out/demux")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("event_type=")))
  }
}
