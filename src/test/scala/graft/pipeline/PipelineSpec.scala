package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec

/** Passes rows through unchanged, counting each row it evaluates with a
  * deterministic UDF: how many times a batch run computes this node. */
class RowCounterPlugin extends ActorPlugin {
  def transform(spark: SparkSession, input: DataFrame,
                params: Map[String, Any]): DataFrame = {
    val rows = RowCounterPlugin.rows
    val bump = udf { (id: Long) => rows.add(1L); id }
    input.withColumn("doc_id", bump(col("doc_id")))
  }
}

object RowCounterPlugin {
  @volatile var rows: LongAccumulator = _
}

/** A parquet committer that records the committer algorithm version of
  * every write it commits. */
class RecordingParquetCommitter(out: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  RecordingParquetCommitter.versions.add(String.valueOf(
    ctx.getConfiguration.get("mapreduce.fileoutputcommitter.algorithm.version")))
}

object RecordingParquetCommitter {
  val versions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvents(dir: String): Unit =
    Seq(
      (1L, "click", "payload-1"), (2L, "view", "payload-2"), (3L, "click", "payload-3"),
      (4L, "bogus", "payload-4"), (5L, "purchase", "payload-5"))
      .toDF("id", "kind", "body")
      .write.mode("overwrite").parquet(dir)

  test("parse validates structure, rejects cycles and unknown actors") {
    val cyclic =
      """actors:
        |  a: {module: core.mux}
        |  b: {module: core.mux}
        |pipeline:
        |  a: {connect: [b]}
        |  b: {connect: [a]}
        |""".stripMargin
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(cyclic))
    assert(e.getMessage.contains("cycle") || e.getMessage.contains("receiver"))

    val unknown =
      """actors:
        |  a: {module: core.mux}
        |pipeline:
        |  a: {connect: [ghost]}
        |""".stripMargin
    assert(intercept[IllegalArgumentException](PipelineConfig.parse(unknown))
      .getMessage.contains("ghost"))
  }

  test("unknown module and missing sink path fail loudly at build/run time") {
    val in = Files.createTempDirectory("graft-pipe-err-").toString
    writeEvents(in)
    val unknownModule =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  bad: {module: core.frobnicator}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [bad]}
        |  bad: {connect: [out]}
        |""".stripMargin
    val e1 = intercept[RuntimeException](
      new PipelineCompiler(spark, PipelineConfig.parse(unknownModule)).runBatch())
    assert(e1.getMessage.contains("frobnicator"))

    val noPath =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  out: {module: core.sink, params: {format: parquet}}
        |pipeline:
        |  src: {connect: [out]}
        |""".stripMargin
    val e2 = intercept[RuntimeException](
      new PipelineCompiler(spark, PipelineConfig.parse(noPath)).runBatch())
    assert(e2.getMessage.contains("path"))

    // a typo'd param fails at COMPILE time with the module's schema in
    // the message (the pkg/cast convert-or-give-up contract), instead of
    // silently falling back to the default
    val typoParam =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  near: {module: llm.dedup_near, params: {column: text, treshold: "0.5"}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [near]}
        |  near: {connect: [out]}
        |""".stripMargin
    val e3 = intercept[IllegalArgumentException](
      new PipelineCompiler(spark, PipelineConfig.parse(typoParam)))
    assert(e3.getMessage.contains("treshold") && e3.getMessage.contains("threshold"))

    // the stream-only schema_from receiver param must stay accepted
    // (Flowd --stream uses it for schema inference)
    val streamParam =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in", schema_from: "$in"}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(streamParam)) // must not throw
  }

  test("empty and malformed configs are rejected at parse time") {
    assert(intercept[IllegalArgumentException](PipelineConfig.parse(""))
      .getMessage.nonEmpty)
    assert(intercept[IllegalArgumentException](PipelineConfig.parse("actors: {}"))
      .getMessage.contains("no actors"))
    // actor without a module
    assert(intercept[IllegalArgumentException](
      PipelineConfig.parse("actors:\n  a: {params: {}}\n"))
      .getMessage.contains("module"))
  }

  test("toposort puts receivers before sinks; DOT render includes all nodes") {
    val yaml =
      """actors:
        |  src:  {module: core.receiver, params: {path: /tmp/x}}
        |  enc:  {module: core.encoder_base64}
        |  out:  {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [enc]}
        |  enc: {connect: [out]}
        |""".stripMargin
    val cfg = PipelineConfig.parse(yaml)
    assert(PipelineConfig.toposort(cfg) == Seq("src", "enc", "out"))
    assert(cfg.receivers == Seq("src") && cfg.sinks == Seq("out"))
    val dot = PipelineConfig.toDot(cfg)
    Seq("src", "enc", "out", "->").foreach(s => assert(dot.contains(s)))
  }

  test("end-to-end batch: receiver -> router -> per-route sinks with dead letter") {
    val in = Files.createTempDirectory("graft-pipe-in-").toString
    writeEvents(in)
    // route names equal downstream actor names (router.go Connect wiring)
    val yaml2 =
      s"""actors:
        |  src:      {module: core.receiver, params: {path: "$in"}}
        |  route:    {module: core.router, params: {key: kind, dead_letter: dlq}}
        |  click:    {module: core.sink, params: {format: memory}}
        |  view:     {module: core.sink, params: {format: memory}}
        |  dlq:      {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src:   {connect: [route]}
        |  route: {connect: [click, view, dlq]}
        |""".stripMargin
    val cfg = PipelineConfig.parse(yaml2)
    val counts = new PipelineCompiler(spark, cfg).runBatch()
    assert(counts == Map("click" -> 2L, "view" -> 1L, "dlq" -> 2L))
    // memory sinks registered as views; dead letter carries UNROUTABLE
    assert(spark.table("dlq").select($"kind").as[String].collect().toSet ==
      Set("bogus", "purchase"))
  }

  test("end-to-end batch: transform chain compresses and encodes bodies losslessly") {
    val in = Files.createTempDirectory("graft-pipe-in2-").toString
    val out = Files.createTempDirectory("graft-pipe-out-").toString + "/result"
    writeEvents(in)
    val yaml =
      s"""actors:
        |  src:  {module: core.receiver, params: {path: "$in"}}
        |  gz:   {module: core.compressor, params: {codec: zstd, column: body}}
        |  gunz: {module: core.decompressor, params: {codec: zstd, column: body}}
        |  b64:  {module: core.encoder_base64, params: {column: body}}
        |  deb:  {module: core.decoder_base64, params: {column: body}}
        |  out:  {module: core.sink, params: {format: parquet, path: "$out"}}
        |pipeline:
        |  src:  {connect: [gz]}
        |  gz:   {connect: [gunz]}
        |  gunz: {connect: [b64]}
        |  b64:  {connect: [deb]}
        |  deb:  {connect: [out]}
        |""".stripMargin
    val cfg = PipelineConfig.parse(yaml)
    val counts = new PipelineCompiler(spark, cfg).runBatch()
    assert(counts("out") == 5L)
    val bodies = spark.read.parquet(out)
      .select($"body".cast("string")).as[String].collect().toSet
    assert(bodies == (1 to 5).map(i => s"payload-$i").toSet)
  }

  test("end-to-end streaming: same pipeline over a file stream drains all rows") {
    val in = Files.createTempDirectory("graft-pipe-sin-").toString
    writeEvents(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  enc: {module: core.encoder_base64, params: {column: body}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [enc]}
        |  enc: {connect: [out]}
        |""".stripMargin
    val cfg = PipelineConfig.parse(yaml)
    val schema = spark.read.parquet(in).schema
    val counts = new PipelineCompiler(spark, cfg)
      .runStreamingOnce(Map("src" -> schema))
    assert(counts("out") == 5L)
  }

  test("partitioned parquet sink demuxes rows into per-key directories") {
    val in = Files.createTempDirectory("graft-pipe-part-in-").toString
    writeEvents(in)
    // batch runs and micro-batches share the sink dispatch
    for (streaming <- Seq(false, true)) {
      val out = Files.createTempDirectory("graft-pipe-part-out-").toString + "/demux"
      val yaml =
        s"""actors:
          |  src: {module: core.receiver, params: {path: "$in"}}
          |  out: {module: core.sink, params: {format: parquet, path: "$out", partition_by: [kind]}}
          |pipeline:
          |  src: {connect: [out]}
          |""".stripMargin
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      val counts =
        if (streaming) compiler.runStreamingOnce(Map("src" -> spark.read.parquet(in).schema))
        else compiler.runBatch()
      assert(counts("out") == 5L)
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(dirs == Set("kind=click", "kind=view", "kind=bogus", "kind=purchase"), s"streaming=$streaming")
    }
  }

  test("runStreamingOnce writes sink outputs per micro-batch, not just counts") {
    val in = Files.createTempDirectory("graft-pipe-sonce-in-").toString
    val out = Files.createTempDirectory("graft-pipe-sonce-out-").toString + "/sink"
    writeEvents(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  out: {module: core.sink, params: {format: parquet, path: "$out"}}
        |pipeline:
        |  src: {connect: [out]}
        |""".stripMargin
    val schema = spark.read.parquet(in).schema
    val counts = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      .runStreamingOnce(Map("src" -> schema))
    assert(counts("out") == 5L)
    // the --stream run materialized the sink, matching the daemon mode
    assert(spark.read.parquet(out).count() == 5L)
  }

  test("push-receiver pipeline streams pushed messages through transforms to a sink") {
    val ch = "pipe-push"
    graft.sources.PushReceiver.clear(ch)
    Seq("alpha", "beta").foreach(s =>
      graft.sources.PushReceiver.push(ch, s.getBytes("UTF-8")))
    val yaml =
      s"""actors:
        |  src: {module: core.push_receiver, params: {channel: "$ch"}}
        |  enc: {module: core.encoder_base64, params: {column: body}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [enc]}
        |  enc: {connect: [out]}
        |""".stripMargin
    val cfg = PipelineConfig.parse(yaml)
    val counts = new PipelineCompiler(spark, cfg).runStreamingOnce(Map.empty)
    assert(counts("out") == 2L)
  }

  test("topk actor ranks per key through the custom operator in YAML pipelines") {
    val in = Files.createTempDirectory("graft-pipe-topk-").toString
    Seq((1L, "a", 10), (2L, "a", 30), (3L, "a", 20), (4L, "b", 5))
      .toDF("id", "grp", "score").write.mode("overwrite").parquet(in)
    val yaml =
      s"""actors:
        |  src:  {module: core.receiver, params: {path: "$in"}}
        |  top:  {module: core.topk, params: {keys: [grp], order: ["score desc", id], k: 2}}
        |  out:  {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [top]}
        |  top: {connect: [out]}
        |""".stripMargin
    val counts = new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    assert(counts("out") == 3L) // a: top-2 of 3; b: 1
    val got = spark.table("out").select($"id", $"rank").as[(Long, Int)].collect().toSet
    assert(got == Set((2L, 1), (3L, 2), (4L, 1)))
  }

  test("replicator ncopy pipeline places n jump-hash copies on the sink peers") {
    val in = Files.createTempDirectory("graft-pipe-ncopy-").toString
    writeEvents(in)
    val yaml =
      s"""actors:
        |  src:  {module: core.receiver, params: {path: "$in"}}
        |  rep:  {module: core.replicator, params: {mode: ncopy, key: id, n: 2}}
        |  s1:   {module: core.sink, params: {format: memory}}
        |  s2:   {module: core.sink, params: {format: memory}}
        |  s3:   {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [rep]}
        |  rep: {connect: [s1, s2, s3]}
        |""".stripMargin
    val counts = new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    // n=2 distinct replicas per row over 3 buckets: exactly 2x the input
    assert(counts.values.sum == 10L, s"ncopy must place exactly n copies: $counts")
    // placement must be the library operator's (the oracle-checked
    // op_replicator_ncopy shape): bucket i feeds the i-th sorted sink
    val expected = graft.operators.Routing
      .replicateNcopy(spark.read.parquet(in), $"id", n = 2, numBuckets = 3)
      .groupBy($"copy_id").count()
      .as[(Int, Long)].collect().toMap
    assert(counts == Map(
      "s1" -> expected.getOrElse(0, 0L),
      "s2" -> expected.getOrElse(1, 0L),
      "s3" -> expected.getOrElse(2, 0L)), s"counts=$counts expected=$expected")
    // every replica pair is distinct per row: no sink sees the same id twice
    Seq("s1", "s2", "s3").foreach { s =>
      val ids = spark.table(s).select($"id").as[Long].collect()
      assert(ids.distinct.length == ids.length, s"$s got a duplicate replica")
    }
  }

  test("replicator fanout pipeline splits rows across sinks without loss") {
    val in = Files.createTempDirectory("graft-pipe-fan-").toString
    writeEvents(in)
    val yaml =
      s"""actors:
        |  src:  {module: core.receiver, params: {path: "$in"}}
        |  rep:  {module: core.replicator, params: {mode: fanout}}
        |  s1:   {module: core.sink, params: {format: memory}}
        |  s2:   {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [rep]}
        |  rep: {connect: [s1, s2]}
        |""".stripMargin
    val counts = new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
    assert(counts.values.sum == 5L, s"fanout must not duplicate or drop: $counts")
  }

  test("re-running a memory-sink pipeline releases the replaced view's cache") {
    val in = Files.createTempDirectory("graft-pipe-cache-").toString
    writeEvents(in)
    val plain =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [out]}
        |""".stripMargin
    // dedup_exact reads lm_score's output twice, so each run also
    // checkpoints that input — the checkpoint must not outlive the run
    val multiRead =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  lm: {module: llm.lm_score, params: {column: body, id: id}}
        |  dedup: {module: llm.dedup_exact, params: {column: body, id: id}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [lm]}
        |  lm: {connect: [dedup]}
        |  dedup: {connect: [out]}
        |""".stripMargin
    Seq(plain, multiRead).foreach { yaml =>
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      val before = spark.sparkContext.getPersistentRDDs.size
      compiler.runBatch()
      compiler.runBatch()
      compiler.runBatch()
      // config-reload loop on a long-lived session: each run replaces the
      // view, so at most ONE cache (the live view's) may remain pinned
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after - before <= 1,
        s"memory sink leaked ${after - before} caches across 3 runs")
      assert(spark.table("out").count() == 5L)
      compiler.close()
    }
  }

  test("a batch run evaluates the upstream of multi-read actors once") {
    val in = Files.createTempDirectory("graft-pipe-once-").toString
    val words = (0 until 40).map(i => s"w$i")
    // 30 distinct docs, 5 exact copies, 5 near copies (one word changed)
    val base = (0 until 30).map(i => i.toLong -> (0 until 24)
      .map(j => words((i * 7 + j * 3) % 40)).mkString(" "))
    val docs = base ++ (0 until 5).map(i => (100L + i) -> base(i)._2) ++
      (0 until 5).map(i => (200L + i) -> (base(i + 10)._2 + " extra"))
    docs.toDF("doc_id", "text").write.parquet(s"$in/src")
    val chain = Seq(
      "lm" -> "{module: llm.lm_score, params: {column: text, id: doc_id}}",
      "exact" -> "{module: llm.dedup_exact, params: {column: text, id: doc_id}}",
      "near" -> "{module: llm.dedup_near, params: {column: text, id: doc_id, threshold: \"0.7\"}}",
      "bpe" -> "{module: llm.bpe_encode, params: {column: text, num_merges: \"8\"}}")
    def pipeline(src: String, actors: Seq[(String, String)], out: String): String = {
      val names = "src" +: actors.map(_._1) :+ "out"
      (Seq("actors:", s"""  src: {module: core.receiver, params: {path: "$src"}}""") ++
        actors.map { case (n, m) => s"  $n: $m" } ++
        Seq(s"""  out: {module: core.sink, params: {format: parquet, path: "$out"}}""",
          "pipeline:") ++
        names.zip(names.tail).map { case (a, b) => s"  $a: {connect: [$b]}" })
        .mkString("\n")
    }
    RowCounterPlugin.rows = spark.sparkContext.longAccumulator("rows")
    val counter = "counter" -> s"{module: \"plugin:${classOf[RowCounterPlugin].getName}\"}"
    var sink: DataFrame = null
    val compiler = new PipelineCompiler(spark,
        PipelineConfig.parse(pipeline(s"$in/src", counter +: chain, s"$in/fused"))) {
      override def outputOf(name: String, forDownstream: String): DataFrame = {
        val df = super.outputOf(name, forDownstream)
        if (name == "out") sink = df
        df
      }
    }
    val kept = compiler.runBatch()("out")
    assert(RowCounterPlugin.rows.value == docs.size,
      s"counter evaluated ${RowCounterPlugin.rows.value} rows for ${docs.size} source rows")
    // the sink's plan starts at the bpe input's checkpoint, not at the source
    val planLines = sink.queryExecution.analyzed.treeString.linesIterator.size
    assert(planLines <= 10, s"sink plan has $planLines lines")
    // the same chain compiled one actor per pipeline, through parquet
    val perActor = chain.zipWithIndex.foldLeft(s"$in/src") { case (src, (actor, i)) =>
      new PipelineCompiler(spark,
        PipelineConfig.parse(pipeline(src, Seq(actor), s"$in/step$i"))).runBatch()
      s"$in/step$i"
    }
    def rows(path: String) = {
      val df = spark.read.parquet(path)
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    }
    assert(kept < docs.size)
    assert(rows(s"$in/fused") == rows(perActor))
  }

  test("a bind sink carrying a stray format param still loads (format is never read)") {
    // the compiler's dispatch ignores `format` when `bind` is present —
    // the load-time format/path rules must mirror that order, not fail a
    // config for a param that would never be read
    val yaml =
      """actors:
        |  rcv: {module: core.receiver, params: {bind: "tcp://:0", channel: psc-bindfmt}}
        |  out: {module: core.sink, params: {bind: "udp://127.0.0.1:9", format: parquet}}
        |pipeline:
        |  rcv: {connect: [out]}
        |""".stripMargin
    new PipelineCompiler(spark, PipelineConfig.parse(yaml)) // must not throw
    // format-dispatched sinks keep the strict rule
    val noBind =
      """actors:
        |  rcv: {module: core.receiver, params: {bind: "tcp://:0", channel: psc-nofmt}}
        |  out: {module: core.sink, params: {format: parquet}}
        |pipeline:
        |  rcv: {connect: [out]}
        |""".stripMargin
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(noBind))
    assert(e.getMessage.contains("path"))
  }

  test("startStreaming over a push_receiver journals to journal_dir") {
    val ch = "pipe-push-journal"
    graft.sources.PushReceiver.clear(ch)
    val journal = Files.createTempDirectory("graft-pipe-journal-").toString
    val out = Files.createTempDirectory("graft-pipe-journal-out-").toString + "/sink"
    val yaml =
      s"""actors:
        |  src: {module: core.push_receiver, params: {channel: "$ch", journal_dir: "$journal"}}
        |  out: {module: core.sink, params: {format: parquet, path: "$out"}}
        |pipeline:
        |  src: {connect: [out]}
        |""".stripMargin
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    val bodies = Seq("alpha", "beta", "gamma")
    try {
      bodies.foreach(b => graft.sources.PushReceiver.push(ch, b.getBytes("UTF-8")))
      queries("out").processAllAvailable()
      assert(new java.io.File(journal, s"$ch.log").isFile)
      assert(spark.read.parquet(out).select($"body".cast("string")).as[String]
        .collect().sorted.toSeq == bodies)
    } finally {
      queries.values.foreach(_.stop())
      compiler.close()
      graft.sources.PushReceiver.clear(ch)
    }
  }

  test("runStreamingOnce normalizes ts_nanos_to_micros columns like runBatch") {
    val in = Files.createTempDirectory("graft-pipe-nanos-").toString
    Seq((1L, 1700000000123456789L), (2L, 1700000001987654321L))
      .toDF("id", "ts").write.mode("overwrite").parquet(in)
    def run(streaming: Boolean): Seq[org.apache.spark.sql.Row] = {
      val out = Files.createTempDirectory("graft-pipe-nanos-out-").toString + "/sink"
      val yaml =
        s"""actors:
          |  src: {module: core.receiver, params: {path: "$in", ts_nanos_to_micros: ts}}
          |  out: {module: core.sink, params: {format: parquet, path: "$out"}}
          |pipeline:
          |  src: {connect: [out]}
          |""".stripMargin
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      if (streaming) compiler.runStreamingOnce(Map("src" -> spark.read.parquet(in).schema))
      else compiler.runBatch()
      val df = spark.read.parquet(out)
      assert(df.schema("ts").dataType == TimestampType)
      df.orderBy("id").collect().toSeq
    }
    assert(run(streaming = true) == run(streaming = false))
  }

  test("a streaming wet sink is refused, naming the sink") {
    val in = Files.createTempDirectory("graft-pipe-swet-in-").toString
    val out = Files.createTempDirectory("graft-pipe-swet-out-").toString + "/wet"
    writeEvents(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  crawl_out: {module: core.sink, params: {format: wet, path: "$out"}}
        |pipeline:
        |  src: {connect: [crawl_out]}
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      new PipelineCompiler(spark, PipelineConfig.parse(yaml))
        .runStreamingOnce(Map("src" -> spark.read.parquet(in).schema)))
    assert(e.getMessage.contains("crawl_out"), e.getMessage)
    assert(!new java.io.File(out).exists())
  }

  test("a pipeline with no streaming form is refused before any sink writes") {
    val in = Files.createTempDirectory("graft-pipe-sfan-in-").toString
    val aOut = Files.createTempDirectory("graft-pipe-sfan-out-").toString + "/a"
    writeEvents(in)
    // sinks run in name order: a_out would be written before the
    // fanout branch's query is rejected at start
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  rep: {module: core.replicator, params: {mode: fanout}}
        |  a_out: {module: core.sink, params: {format: parquet, path: "$aOut"}}
        |  b_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [a_out, rep]}
        |  rep: {connect: [b_out]}
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      new PipelineCompiler(spark, PipelineConfig.parse(yaml))
        .runStreamingOnce(Map("src" -> spark.read.parquet(in).schema)))
    assert(e.getMessage.contains("rep") && e.getMessage.contains("fanout"), e.getMessage)
    assert(!new java.io.File(aOut).exists())
  }

  test("a sink plan Spark cannot stream is refused before any sink writes") {
    val in = Files.createTempDirectory("graft-pipe-slm-in-").toString
    val aOut = Files.createTempDirectory("graft-pipe-slm-out-").toString + "/a"
    Seq((1L, "a b a"), (2L, "b a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    // llm.lm_score self-joins its input through a count aggregation, which
    // an append-mode stream rejects at query start; a_out runs first
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  lm: {module: llm.lm_score, params: {column: text, id: doc_id}}
        |  a_out: {module: core.sink, params: {format: parquet, path: "$aOut"}}
        |  b_out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [a_out, lm]}
        |  lm: {connect: [b_out]}
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      new PipelineCompiler(spark, PipelineConfig.parse(yaml))
        .runStreamingOnce(Map("src" -> spark.read.parquet(in).schema)))
    assert(e.getMessage.contains("b_out"), e.getMessage)
    assert(!new java.io.File(aOut).exists())
  }

  test("a batch mode: append file sink commits through committer v1") {
    val in = Files.createTempDirectory("graft-pipe-app-in-").toString
    val out = Files.createTempDirectory("graft-pipe-app-out-").toString + "/sink"
    writeEvents(in)
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  out: {module: core.sink, params: {format: parquet, path: "$out", mode: append}}
        |pipeline:
        |  src: {connect: [out]}
        |""".stripMargin
    val committerKey = "spark.sql.parquet.output.committer.class"
    val versionKey = "mapreduce.fileoutputcommitter.algorithm.version"
    RecordingParquetCommitter.versions.clear()
    spark.conf.set(committerKey, classOf[RecordingParquetCommitter].getName)
    // v2 is the shipping session's default (GraftSession)
    spark.conf.set(versionKey, "2")
    try (1 to 2).foreach(_ =>
      new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch())
    finally {
      spark.conf.unset(committerKey)
      spark.conf.unset(versionKey)
    }
    assert(spark.read.parquet(out).count() == 10L)
    val seen = RecordingParquetCommitter.versions.asScala.toSet
    assert(seen == Set("1"), seen)
  }
}
