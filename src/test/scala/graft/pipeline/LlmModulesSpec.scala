package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** The llm.* pipeline actors: a YAML-configured curation flow
  * (quality gate → language gate → exact dedup) over a documents-shaped
  * input, end to end through the compiler. */
class LlmModulesSpec extends SparkSpec {
  import spark.implicits._

  private val good =
    "The committee published its findings on Tuesday, noting that the " +
    "results were consistent with earlier work and that further review " +
    "would follow in the coming months before any decision is made."

  private def writeDocs(dir: String): Unit =
    Seq(
      (1L, good),                       // keeper
      (2L, good),                       // exact dup of 1 -> dropped
      (3L, "%%% ??? !!! ### $$$ @@@"),  // junk -> quality-filtered
      (4L, good + " It also said more data was needed for the analysis."),
      (5L, "el informe fue publicado el martes por la comision y los " +
           "resultados fueron consistentes con los estudios anteriores " +
           "segun las personas que estaban cerca del proceso de revision"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)

  test("llm curation pipeline: quality gate, langid gate, exact dedup") {
    val in = Files.createTempDirectory("graft-llm-pipe-").toString
    writeDocs(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  quality: {module: llm.quality_filter, params: {column: text, min_quality: "0.5"}}
        |  lang: {module: llm.langid, params: {column: text, keep: en}}
        |  dedup: {module: llm.dedup_exact, params: {column: text, id: doc_id}}
        |  llm_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [quality]}
        |  quality: {connect: [lang]}
        |  lang: {connect: [dedup]}
        |  dedup: {connect: [llm_pipe_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("llm_pipe_out")
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L)) // 2 deduped, 3 junk, 5 non-English
    assert(out.columns.contains("quality") && out.columns.contains("lang"))
  }

  test("llm.classifier actor annotates and gates on the hashed-BoW score") {
    val in = Files.createTempDirectory("graft-llm-clf-").toString
    writeDocs(in)
    // annotate-only: every doc survives, score column appears
    val annotateYaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  clf: {module: llm.classifier, params: {column: text}}
        |  clf_ann_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [clf]}
        |  clf: {connect: [clf_ann_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(annotateYaml)).runBatch()
    val ann = spark.table("clf_ann_out")
    assert(ann.count() == 5 && ann.columns.contains("clf_score"))
    // the score must equal the query-surface contract (same weights)
    val scores = ann.select("doc_id", "clf_score").as[(Long, Long)]
      .collect().toMap
    assert(scores(1L) == scores(2L)) // identical text, identical score

    // gating: pick a threshold between the observed scores and re-run
    val cut = scores.values.toSeq.sorted.apply(scores.size / 2)
    val gateYaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  clf: {module: llm.classifier, params: {column: text, min_score: "$cut"}}
        |  clf_gate_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [clf]}
        |  clf: {connect: [clf_gate_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(gateYaml)).runBatch()
    val kept = spark.table("clf_gate_out").select("doc_id").as[Long].collect().toSet
    assert(kept == scores.filter(_._2 >= cut).keySet)
    // unknown param still rejected by the schema
    val bad = gateYaml.replace("min_score", "min_scorx")
    val err = intercept[IllegalArgumentException] {
      PipelineCompiler.validateParams(PipelineConfig.parse(bad))
    }
    assert(err.getMessage.contains("min_scorx"))
  }

  test("llm.cut_dup_spans actor rewrites texts with duplicated runs removed") {
    val in = Files.createTempDirectory("graft-llm-spans-").toString
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    def uniq(id: Int, n: Int): String = (1 to n).map(i => s"u${id}_$i").mkString(" ")
    Seq(
      (1L, s"${uniq(1, 5)} $shared ${uniq(1, 6)}"),  // keeper: untouched
      (2L, s"${uniq(2, 3)} $shared ${uniq(2, 4)}"),  // loses the shared run
      (3L, shared),                                  // fully duplicated -> drops
      (4L, uniq(4, 20)))                             // unique: untouched
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  spans: {module: llm.cut_dup_spans, params: {column: text}}
        |  spans_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [spans]}
        |  spans: {connect: [spans_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("spans_out").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 4L))
    assert(out(1L) == s"${uniq(1, 5)} $shared ${uniq(1, 6)}")
    assert(out(2L) == s"${uniq(2, 3)} ${uniq(2, 4)}")
    assert(out(4L) == uniq(4, 20))
  }

  test("llm.decontaminate_cut actor rewrites train docs minus eval runs") {
    val in = Files.createTempDirectory("graft-llm-deconcut-").toString
    val evalRun = (1 to 12).map(i => s"e$i").mkString(" ")
    def uniq(tag: String, n: Int): String = (1 to n).map(i => s"u${tag}_$i").mkString(" ")
    Seq(
      (1L, s"${uniq("ev", 5)} $evalRun", "eval"),       // benchmark doc
      (10L, s"${uniq("a", 4)} $evalRun ${uniq("b", 6)}", "train"), // overlaps -> cut
      (11L, uniq("clean", 20), "train"),                // untouched
      (12L, evalRun, "train"))                          // fully eval text -> drops
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  decon: {module: llm.decontaminate_cut, params: {eval_value: eval}}
        |  decon_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [decon]}
        |  decon: {connect: [decon_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("decon_out").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(10L, 11L)) // eval row and fully-cut row gone
    assert(out(10L) == s"${uniq("a", 4)} ${uniq("b", 6)}")
    assert(out(11L) == uniq("clean", 20))
  }

  test("repetition filter and near-dedup actors curate end to end") {
    val in = Files.createTempDirectory("graft-llm-pipe3-").toString
    val loop = ("spam ham " * 40).trim // 50% dup 2-grams -> filtered
    Seq(
      (1L, good),                                        // keeper
      (2L, good.replace("Tuesday", "Monday")),           // near-dup of 1,
                                                         // shorter -> dropped
      (3L, loop),                                        // repetition-filtered
      (5L, "el informe fue publicado el martes por la comision y los " +
           "resultados fueron consistentes con los estudios anteriores"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  rep: {module: llm.repetition_filter, params: {column: text, max_dup_ppm: "400000"}}
        |  near: {module: llm.dedup_near, params: {column: text, id: doc_id, threshold: "0.5"}}
        |  llm_pipe3_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [rep]}
        |  rep: {connect: [near]}
        |  near: {connect: [llm_pipe3_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("llm_pipe3_out")
    val ids = out.select("doc_id").as[Long].collect().toSet
    // doc 1 survives its near-dup 2 (1 is longer); 3 repetition-gated;
    // 5 unrelated so it survives near-dedup untouched
    assert(ids == Set(1L, 5L))
    assert(out.columns.contains("dup_ppm"))
  }

  test("dedup_near emit=pairs with collapse_exact yields representative pairs") {
    val in = Files.createTempDirectory("graft-llm-pipe4-").toString
    // 1 and 2 are near-dups; 11/12 are exact copies of them (ids +10):
    // collapsed pair yield must be exactly the representative pair (1,2)
    Seq(
      (1L, good),
      (2L, good.replace("Tuesday", "Monday")),
      (11L, good),
      (12L, good.replace("Tuesday", "Monday")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  near: {module: llm.dedup_near, params: {column: text, id: doc_id,
        |    threshold: "0.5", emit: pairs, collapse_exact: "true"}}
        |  llm_pipe4_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [near]}
        |  near: {connect: [llm_pipe4_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("llm_pipe4_out")
    assert(out.columns.toSet == Set("id_a", "id_b", "jaccard"))
    val pairs = out.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // no (1,11)/(2,12) exact pairs, no fan-out
    // unknown emit mode fails loudly
    val bad = yaml.replace("emit: pairs", "emit: bogus")
    intercept[RuntimeException] {
      new PipelineCompiler(spark, PipelineConfig.parse(bad)).runBatch()
    }
    // params from the OTHER emit mode are rejected, not silently ignored
    val crossed = yaml.replace("collapse_exact: \"true\"", "distributed: \"true\"")
    intercept[IllegalArgumentException] {
      new PipelineCompiler(spark, PipelineConfig.parse(crossed)).runBatch()
    }
    val dedupWithCollapse = yaml
      .replace("emit: pairs, collapse_exact: \"true\"", "collapse_exact: \"true\"")
    intercept[IllegalArgumentException] {
      new PipelineCompiler(spark, PipelineConfig.parse(dedupWithCollapse)).runBatch()
    }
  }

  test("decontaminate actor drops train docs overlapping the eval subset") {
    val in = Files.createTempDirectory("graft-llm-pipe4-").toString
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, evalDoc, "eval"),                           // the benchmark row
      (2L, "prefix words then " + evalDoc, "train"),   // contains the eval 10-gram
      (3L, good, "train"))                             // clean
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  decon: {module: llm.decontaminate, params: {column: text, id: doc_id,
        |    eval_value: eval, ngram_n: "5", min_shared: "2"}}
        |  llm_pipe4_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [decon]}
        |  decon: {connect: [llm_pipe4_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val ids = spark.table("llm_pipe4_out").select("doc_id").as[Long].collect().toSet
    // doc 2 shares >= 2 distinct 5-grams with the eval doc -> dropped;
    // the eval row itself is excluded from the training output
    assert(ids == Set(3L))

    // bloom: "true" must keep the exact same survivors (Bloom prune +
    // exact verify — see Dedup.contaminationBloomSweep)
    val bloomYaml = yaml
      .replace("min_shared: \"2\"", "min_shared: \"2\", bloom: \"true\"")
      .replace("llm_pipe4_out", "llm_pipe4b_out")
    new PipelineCompiler(spark, PipelineConfig.parse(bloomYaml)).runBatch()
    assert(spark.table("llm_pipe4b_out").select("doc_id").as[Long]
      .collect().toSet == ids)
  }

  test("langid without keep only annotates") {
    val in = Files.createTempDirectory("graft-llm-pipe2-").toString
    writeDocs(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  lang: {module: llm.langid, params: {column: text}}
        |  llm_pipe_ann: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [lang]}
        |  lang: {connect: [llm_pipe_ann]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("llm_pipe_ann")
    assert(out.count() == 5)
    val langs = out.select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(langs(1L) == "en" && langs(5L) == "es")
  }

  test("core.upsert actor merges a change feed into a base snapshot") {
    val base = Files.createTempDirectory("graft-upsert-base-").toString
    val feed = Files.createTempDirectory("graft-upsert-feed-").toString
    Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
      .toDF("id", "payload", "version")
      .write.mode("overwrite").parquet(base)
    Seq((2L, "b2", 1L, false), (3L, "gone", 1L, true), (4L, "d", 1L, false))
      .toDF("id", "payload", "version", "deleted")
      .write.mode("overwrite").parquet(feed)
    val yaml =
      s"""actors:
        |  changes: {module: core.receiver, params: {path: "$feed"}}
        |  merge: {module: core.upsert, params: {base: "$base", keys: [id],
        |    version: version, delete_flag: deleted}}
        |  upsert_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  changes: {connect: [merge]}
        |  merge: {connect: [upsert_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("upsert_out")
      .select("id", "payload", "version").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    // 1 untouched, 2 updated, 3 tombstoned away, 4 inserted
    assert(out.toSeq == Seq((1L, "a", 0L), (2L, "b2", 1L), (4L, "d", 1L)))
  }

  test("llm.bpe_encode actor: pretrained merges annotate each message") {
    val in = Files.createTempDirectory("graft-bpe-pipe-in-").toString
    val model = Files.createTempDirectory("graft-bpe-pipe-m-").toString + "/merges"
    // classic Sennrich training corpus -> merges (e,s)(es,t)(l,o)(lo,w)
    val trainDocs = Seq(
      (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
      (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
    ).toDF("doc_id", "text")
    graft.llm.Bpe.saveMerges(spark,
      graft.llm.Bpe.trainMerges(trainDocs, "text", 4), model)

    Seq((10L, "lowest low"), (11L, "go"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  bpe: {module: llm.bpe_encode, params: {column: text, merges_path: "$model"}}
        |  bpe_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [bpe]}
        |  bpe: {connect: [bpe_pipe_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("bpe_pipe_out")
      .select($"doc_id", $"pieces", $"n_pieces")
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    // lowest -> low est; low -> low; go has no merges -> g o
    assert(out == Seq((10L, "low est low", 3), (11L, "g o", 2)))
  }

  test("llm.weighted_sample actor keeps k per stratum, deterministically") {
    val in = Files.createTempDirectory("graft-ws-pipe-in-").toString
    (0L until 200L).map(i => (i, s"s${i % 2}", 1L + i % 5))
      .toDF("doc_id", "src", "w")
      .write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  samp: {module: llm.weighted_sample,
        |    params: {id: doc_id, weight_column: w, k: "15", group: src}}
        |  ws_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [samp]}
        |  samp: {connect: [ws_pipe_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("ws_pipe_out")
    val byG = out.groupBy($"src").count().as[(String, Long)].collect().toMap
    assert(byG == Map("s0" -> 15L, "s1" -> 15L))
    // deterministic: rerunning the same pipeline yields the same ids
    val ids1 = out.select($"doc_id").as[Long].collect().toSet
    new PipelineCompiler(spark, PipelineConfig.parse(
      yaml.replace("ws_pipe_out", "ws_pipe_out2"))).runBatch()
    assert(spark.table("ws_pipe_out2").select($"doc_id")
      .as[Long].collect().toSet == ids1)
  }

  test("llm.bpe_encode actor: self-training on the batch when no model path") {
    val in = Files.createTempDirectory("graft-bpe-pipe-in2-").toString
    Seq((1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
      (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  bpe: {module: llm.bpe_encode, params: {column: text, num_merges: "4"}}
        |  bpe_pipe_out2: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [bpe]}
        |  bpe: {connect: [bpe_pipe_out2]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val got = spark.table("bpe_pipe_out2")
      .filter($"doc_id" === 1L).select($"pieces").as[String].head()
    // low x5 lower x2 under self-trained merges: low stays one piece
    assert(got.startsWith("low low low low low low e r"))
  }

  test("llm.c4_filter actor keeps punctuated prose lines and drops " +
      "contaminated pages") {
    val in = Files.createTempDirectory("graft-c4-pipe-").toString + "/in"
    Seq(
      (1L, "The first full sentence carries weight.\n" +
        "Another complete sentence follows it here.\n" +
        "A third one closes the argument cleanly.\nshort frag"),
      (2L, "This page mentions lorem ipsum filler.\n" +
        "It has three good sentences though really.\n" +
        "And one more to pass the count easily."),
      (3L, "var f = function() { return 1; };\n" +
        "Prose sentence number one stands here.\n" +
        "Prose sentence number two stands here.\n" +
        "Prose sentence number three stands here."),
      (4L, "Only two proper sentences exist here.\n" +
        "This is the second and last one."))
      .toDF("doc_id", "text").write.parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  c4:  {module: llm.c4_filter, params: {column: text}}
        |  c4_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [c4]}
        |  c4:  {connect: [c4_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("c4_out").select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    // doc 1 survives with the fragment line cut; 2 = lorem, 3 = brace,
    // 4 = under min_lines
    assert(out.keySet == Set(1L))
    assert(out(1L).split("\n").length == 3 && !out(1L).contains("frag"))
  }

  test("llm.gopher_filter actor gates on the Rae et al. rule set") {
    val in = Files.createTempDirectory("graft-gopher-pipe-").toString + "/in"
    val prose = (1 to 60).map(i => Seq("the", "results", "have", "been",
      "consistent", "with", "that", "analysis")(i % 8)).mkString(" ")
    Seq(
      (1L, prose),                       // passes every rule
      (2L, "### ### ### " + prose),      // symbol ratio still low at 60 words... keep
      (3L, "short text only"),           // fails word count
      (4L, ("#" * 40) + " " + prose.split(" ").take(50).mkString(" ")))
      .toDF("doc_id", "text").write.parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  g:   {module: llm.gopher_filter, params: {column: text, annotate_only: true}}
        |  gopher_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [g]}
        |  g:   {connect: [gopher_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("gopher_out")
      .select($"doc_id", $"gopher_pass").as[(Long, Boolean)].collect().toMap
    assert(out(1L), "clean prose must pass")
    assert(!out(3L), "a 3-word doc fails the word-count band")
    assert(!out(4L), "a 40-hash doc fails the symbol and alpha rules")
    // gating mode drops the failures
    val gateYaml = yaml.replace(", annotate_only: true", "")
      .replace("gopher_out", "gopher_gate_out")
    new PipelineCompiler(spark, PipelineConfig.parse(gateYaml)).runBatch()
    val kept = spark.table("gopher_gate_out").select($"doc_id")
      .as[Long].collect().toSet
    assert(kept == out.filter(_._2).keySet && kept.contains(1L))
  }

  test("llm.url_normalize actor collapses URL variants; " +
      "llm.dedup_paragraph rewrites shared paragraphs away") {
    val in = Files.createTempDirectory("graft-url-pipe-").toString + "/in"
    Seq(
      (1L, "HTTP://E.com:80/a?utm_source=x", "shared header\nunique one"),
      (2L, "http://e.com/a#frag", "shared header\nunique two"),
      (3L, "http://e.com/b", "unique three"),
      (4L, "http://e.com/c", ""), // zero paragraphs — must NOT vanish
      (5L, "http://e.com/d", "\n\n")) // all-separator — ditto
      .toDF("doc_id", "url", "text").write.parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  urls: {module: llm.url_normalize, params: {column: url, dedup: true}}
        |  paras: {module: llm.dedup_paragraph, params: {column: text, id: doc_id}}
        |  url_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src:   {connect: [urls]}
        |  urls:  {connect: [paras]}
        |  paras: {connect: [url_pipe_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("url_pipe_out")
    // doc 2 is a URL-variant of doc 1 -> dropped by the canonical key;
    // docs 4/5 have zero paragraph rows yet must survive annotation
    assert(out.select($"doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L, 5L))
    val texts = out.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    assert(texts(1L) == "shared header\nunique one")
    assert(texts(3L) == "unique three")
    assert(texts(4L) == "" && texts(5L) == "")
    val nKept = out.select($"doc_id", $"n_kept").as[(Long, Long)]
      .collect().toMap
    assert(nKept(4L) == 0L && nKept(5L) == 0L)
    assert(out.columns.contains("norm_url") &&
      out.columns.contains("n_kept"))
  }

  test("llm.curation_scorecard actor gates through the full gauntlet " +
      "and its per-stage drop counters surface via observe()") {
    val in = Files.createTempDirectory("graft-scorecard-").toString + "/in"
    // 60 gopher-passable base words with stopwords; variants:
    //  - doc 1..6: pass everything (1 and 4 are exact duplicates)
    //  - doc 7: too few words (fails gopher)
    //  - doc 8: no terminal punctuation (fails c4)
    //  - doc 9: lorem ipsum contamination (fails c4)
    val base = (1 to 10).map(i =>
      s"word$i the data and more of that with good text here").mkString(" ")
    val docs = Seq(
      (1L, s"$base steady one."),
      (2L, s"$base steady two."),
      (3L, s"$base steady three."),
      (4L, s"$base steady one."), // dup of 1
      (5L, s"$base steady five."),
      (6L, s"$base steady six."),
      (7L, "too short the and."),
      (8L, s"$base no punctuation here"),
      (9L, s"$base lorem ipsum trailing."))
    docs.toDF("doc_id", "text").write.parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  card: {module: llm.curation_scorecard, params: {column: text,
        |         id: doc_id, lm_min_score_ppm: "1",
        |         clf_min_score: "-999999999999"}}
        |  scorecard_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src:  {connect: [card]}
        |  card: {connect: [scorecard_out]}
        |""".stripMargin
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    compiler.runBatch()
    val kept = spark.table("scorecard_out")
      .select($"doc_id").as[Long].collect().toSet
    // gated output: gauntlet survivors minus the later duplicate (doc 4
    // is doc 1's exact copy — min-id dedup keeps 1)
    assert(kept == Set(1L, 2L, 3L, 5L, 6L), s"kept $kept")
    // the observe() counters describe every stage's cut
    val counts = compiler.scorecardCounts("card")
    assert(counts("n_input") == 9L)
    assert(counts("n_gopher") == 8L) // doc 7 out (word-count band)
    assert(counts("n_c4") == 6L) // docs 8 (no punct) and 9 (lorem) out
    assert(counts("n_clf") == 6L) // permissive floor: all pass
    assert(counts("n_lm") == 6L) // every doc's tokens were trained on
    assert(counts("n_kept") == 5L) // dup pair collapsed
  }

  test("llm.unigram_encode actor annotates piece sequences; zero-token " +
      "messages survive with empty pieces") {
    val in = Files.createTempDirectory("graft-unigram-pipe-").toString + "/in"
    Seq((1L, "the cat sat on the mat"),
        (2L, "the mat the cat"),
        (3L, "")).toDF("doc_id", "text").write.parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  ug:  {module: llm.unigram_encode, params: {column: text, em_iters: "2"}}
        |  unigram_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [ug]}
        |  ug:  {connect: [unigram_pipe_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("unigram_pipe_out")
      .select($"doc_id", $"pieces", $"n_pieces")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(3L)._2 == "" && out(3L)._3 == 0L)
    // pieces re-glue to the original text (lossless segmentation)
    assert(out(1L)._2.replace(" ", "") == "thecatsatonthemat")
    assert(out(1L)._3 >= 6L)
  }

  test("llm.lm_score actor with per_lang scores each language against " +
      "its own model") {
    val in = Files.createTempDirectory("graft-lm-perlang-").toString + "/in"
    Seq(
      (1L, "en", good), (2L, "en", good),
      (3L, "en", good + " More English prose follows the same pattern."),
      (4L, "zz", "zqa zqb zqa zqc zqd"), (5L, "zz", "zqa zqb zqa zqc zqd"),
      (6L, "zz", "zqd zqc zqb zqa zqa"))
      .toDF("doc_id", "lang", "text").write.parquet(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  lm: {module: llm.lm_score, params: {column: text, id: doc_id, per_lang: lang}}
        |  lm_perlang_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [lm]}
        |  lm: {connect: [lm_perlang_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val ann = spark.table("lm_perlang_out")
    assert(ann.count() == 6 && ann.columns.contains("lm_score_ppm"))
    val scores = ann.select($"doc_id", $"lm_score_ppm").as[(Long, Long)]
      .collect().toMap
    // the annotation equals the query-surface per-lang contract
    val docs = spark.read.parquet(in)
    val direct = graft.llm.Lm.lmScorePerLang(docs, docs, "text", "doc_id",
      "lang").select($"doc_id", $"lm_score_ppm").as[(Long, Long)]
      .collect().toMap
    assert(scores == direct)
    // the minority language scores against ITS OWN statistics: its
    // self-trained scores are on the majority's scale, not dragged to 0
    assert(scores(4L) > 0 && scores(1L) > 0)
  }

  test("llm.lm_score actor annotates from a persisted model and gates") {
    val in = Files.createTempDirectory("graft-lm-pipe-").toString
    writeDocs(in)
    val model = Files.createTempDirectory("graft-lm-pipe-model-").toString
    // reference model = the well-formed English docs only
    val docs = spark.read.parquet(in)
    graft.llm.Lm.lmBuildIndexK(docs.filter($"doc_id" === 1L || $"doc_id" === 4L),
      "text", "doc_id", model, k = 2)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  lm: {module: llm.lm_score, params: {column: text, id: doc_id, model_path: "$model"}}
        |  lm_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [lm]}
        |  lm: {connect: [lm_pipe_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val ann = spark.table("lm_pipe_out")
    assert(ann.count() == 5 && ann.columns.contains("lm_score_ppm"))
    val scores = ann.select($"doc_id", $"lm_score_ppm").as[(Long, Long)]
      .collect().toMap
    // the annotation equals the query-surface contract
    val direct = graft.llm.Lm.lmScoreIndexK(docs, "text", "doc_id", model)
      .select($"doc_id", $"lm_score_ppm").as[(Long, Long)].collect().toMap
    assert(scores == direct)
    // fluent-under-the-model text outscores junk and Spanish
    assert(scores(1L) > scores(3L) && scores(1L) > scores(5L))

    // gate between the observed scores
    val cut = scores(5L) + 1
    val gateYaml = yaml
      .replace("model_path: \"" + model + "\"",
        "model_path: \"" + model + "\", min_score_ppm: \"" + cut + "\"")
      .replace("lm_pipe_out", "lm_gate_out")
    new PipelineCompiler(spark, PipelineConfig.parse(gateYaml)).runBatch()
    assert(spark.table("lm_gate_out").select($"doc_id").as[Long].collect().toSet
      == scores.filter(_._2 >= cut).keySet)

    // CCNet tiering from FIXED reference cutoffs: two descending ppm
    // thresholds split head/middle/tail, keep_tiers gates on the names
    // (c2 = 1: any model evidence at all clears the tail — the junk and
    // Spanish docs score 0 under the English reference model)
    val c1 = scores.values.toSeq.sorted(Ordering[Long].reverse)(1)
    val tierYaml = yaml
      .replace("model_path: \"" + model + "\"",
        "model_path: \"" + model + "\", tier_cutoffs_ppm: \"" + c1 +
          ",1\", keep_tiers: \"head,middle\"")
      .replace("lm_pipe_out", "lm_tier_out")
    new PipelineCompiler(spark, PipelineConfig.parse(tierYaml)).runBatch()
    val tiers = spark.table("lm_tier_out")
      .select($"doc_id", $"lm_tier").as[(Long, String)].collect().toMap
    assert(tiers.keySet == Set(1L, 2L, 4L), "zero-score tail gated out")
    assert(tiers.values.toSet == Set("head", "middle"))
    assert(tiers.filter(_._2 == "head").keySet ==
      scores.filter(_._2 >= c1).keySet)
  }

  test("llm.url_filter actor blocks via a parquet domain blocklist " +
      "(subdomains included), inline hosts, and URL keywords; " +
      "llm.badwords_filter gates on whole-word hits") {
    val dir = Files.createTempDirectory("graft-urlf-pipe-").toString
    val in = dir + "/in"
    Seq(
      (1L, "http://www.news.example.com/a", "clean prose here"),
      (2L, "https://user@spam.tracker.com:443/x", "clean prose here"),
      (3L, "http://blog.co.uk/post", "clean prose here"),
      (4L, "https://site.example.org/casino/page", "clean prose"),
      (5L, "http://shop.example.com/ok", "win the JACKPOT, now"),
      (6L, "relative/path", "no host at all"))
      .toDF("doc_id", "url", "text").write.parquet(in)
    // registrable-domain blocklist: tracker.com must catch the
    // spam.tracker.com SUBDOMAIN; blog.co.uk is a three-label
    // registrable domain (multi-part ccTLD suffix)
    Seq("tracker.com", "blog.co.uk").toDF("domain")
      .write.parquet(dir + "/bl")
    val yaml =
      s"""actors:
        |  src:  {module: core.receiver, params: {path: "$in"}}
        |  urlf: {module: llm.url_filter, params: {
        |         blocklist_path: "${dir + "/bl"}", keywords: casino}}
        |  badw: {module: llm.badwords_filter, params: {
        |         words: "jackpot,poker"}}
        |  urlf_pipe_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src:  {connect: [urlf]}
        |  urlf: {connect: [badw]}
        |  badw: {connect: [urlf_pipe_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    val out = spark.table("urlf_pipe_out")
    // 2,3 blocklisted; 4 keyword-blocked; 5 dropped by the word gate
    // (JACKPOT hits case-insensitively THROUGH the comma — \b, not
    // space-splitting); 6 has no host and must pass through
    assert(out.select($"doc_id").as[Long].collect().toSet == Set(1L, 6L))
    assert(out.columns.contains("host") && out.columns.contains("domain")
      && !out.columns.contains("url_reason"))

    // annotate_only: every row survives, carrying the reason
    val yaml2 =
      s"""actors:
        |  src:  {module: core.receiver, params: {path: "$in"}}
        |  urlf: {module: llm.url_filter, params: {annotate_only: "true",
        |         blocklist: "tracker.com,blog.co.uk", keywords: casino}}
        |  urlf_ann_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src:  {connect: [urlf]}
        |  urlf: {connect: [urlf_ann_out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml2)).runBatch()
    val reasons = spark.table("urlf_ann_out")
      .select($"doc_id", $"url_reason").as[(Long, String)]
      .collect().toMap
    assert(reasons == Map(1L -> null, 2L -> "blocklist",
      3L -> "blocklist", 4L -> "keyword", 5L -> null, 6L -> null),
      s"got $reasons")
  }
}
