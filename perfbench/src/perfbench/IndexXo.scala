package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.llm.{Lm, Retrieval}

/** index_xo: the exactly-once lifecycle of the order-5 LM and of the BM25
  * index over one corpus split into `batches` batches: bootstrap, then
  * each increment applied and redelivered once (the redelivery must be
  * skipped), compact, recover, and the read (`lmScoreIndexK` over every
  * document, `bm25SearchIndex` over the query set), forced by collecting
  * its rows. Lifecycles repeat on fresh directories until `seconds` have
  * passed (a traced run times exactly one); the checks compare the last
  * lifecycle's reads with the in-memory references after the clock
  * stops. */
object IndexXo {
  val Order = 5
  val TopK = 10

  /** One family's lifecycle calls over the workload's inputs. */
  final case class Family(name: String, read: String,
                          build: (DataFrame, String) => Unit,
                          append: (DataFrame, String, Long) => Boolean,
                          compact: String => Unit,
                          recover: String => Boolean,
                          query: String => Array[Row],
                          reference: DataFrame => DataFrame)

  def run(ctx: Ctx): mutable.LinkedHashMap[String, Any] = {
    val (_, setupSamples) = ctx.setups(
      () => Spans.timed("session.start")(ctx.startSession()), (_: Any) => ctx.spark.stop())
    val spark = ctx.spark
    val work = ctx.work
    val nBatches = ctx.opt("batches").toInt
    spark.read.schema("doc_id BIGINT, text STRING").json(ctx.opt("corpus"))
      .write.mode("overwrite").parquet(s"$work/corpus.parquet")
    spark.read.schema("query_id BIGINT, qtext STRING").json(ctx.opt("queries"))
      .write.mode("overwrite").parquet(s"$work/queries.parquet")
    val docs = spark.read.parquet(s"$work/corpus.parquet")
    val queries = spark.read.parquet(s"$work/queries.parquet")
    val nDocs = docs.count()
    val nQueries = queries.count()
    val step = (nDocs + nBatches - 1) / nBatches
    val batches = (0 until nBatches).map(b =>
      docs.filter(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step))

    val families = Seq(
      Family("lm", "score",
        (b, d) => Lm.lmBuildIndexBatchK(b, "text", "doc_id", d, Order, 0L),
        (b, d, id) => Lm.lmIndexAppendBatchK(b, "text", "doc_id", d, id),
        d => Lm.lmIndexCompactK(spark, d), d => Lm.lmIndexRecoverK(spark, d),
        d => Lm.lmScoreIndexK(docs, "text", "doc_id", d).collect(),
        union => Lm.lmScoreK(union, docs, "text", "doc_id", Order)),
      Family("bm25", "search",
        (b, d) => Retrieval.bm25BuildIndexBatch(b, "text", "doc_id", d, 0L),
        (b, d, id) => Retrieval.bm25IndexAppendBatch(b, "text", "doc_id", d, id),
        d => Retrieval.bm25IndexCompact(spark, d), d => Retrieval.bm25IndexRecover(spark, d),
        d => Retrieval.bm25SearchIndex(queries, d, TopK).collect(),
        union => Retrieval.bm25TopK(union, queries, TopK)))

    val calls = ctx.calls
    var failed = 0L
    var attempted = 0L
    def expect(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    val writes = families.flatMap(f => Seq("build", "append", "compact").map(op => s"${f.name}.$op"))
    val readCalls = families.map(f => s"${f.name}.${f.read}")
    var it = 0
    /** One lifecycle on fresh directories: (ingest docs/s, read wall s,
      * family -> (dir, read rows)). */
    def lifecycle(): (Double, Double, Map[String, (String, Array[Row])]) = {
      if (it > 0) deleteTree(s"$work/idx/${it - 1}")
      val dirs = families.map(f => f.name -> s"$work/idx/$it/${f.name}").toMap
      it += 1
      val w0 = writes.map(calls.total).sum
      families.foreach(f => calls(s"${f.name}.build")(f.build(batches(0), dirs(f.name))))
      attempted += families.size
      for (b <- 1 until nBatches; f <- families)
        expect(calls(s"${f.name}.append")(f.append(batches(b), dirs(f.name), b.toLong)))
      for (b <- 1 until nBatches; f <- families)
        expect(!calls(s"${f.name}.skip")(f.append(batches(b), dirs(f.name), b.toLong)))
      families.foreach(f => calls(s"${f.name}.compact")(f.compact(dirs(f.name))))
      attempted += families.size
      families.foreach(f => expect(calls(s"${f.name}.recover")(f.recover(dirs(f.name)))))
      val ingest = nDocs / (writes.map(calls.total).sum - w0)
      val r0 = readCalls.map(calls.total).sum
      val rows = families.map(f =>
        f.name -> (dirs(f.name), calls(s"${f.name}.${f.read}")(f.query(dirs(f.name))))).toMap
      attempted += families.size
      (ingest, readCalls.map(calls.total).sum - r0, rows)
    }

    if (ctx.traced) ctx.trace()
    val loopStart = System.nanoTime()
    val deadline = loopStart + (ctx.seconds * 1e9).toLong
    val runs = mutable.ArrayBuffer(lifecycle())
    while (!ctx.traced && System.nanoTime() < deadline) runs += lifecycle()
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val n = runs.size
    val out = Out()
    out("setup_s") = Ctx.median(setupSamples)
    out("setup_samples") = setupSamples
    out("ingest_docs_per_s") = Ctx.median(runs.map(_._1).toSeq)
    out("latency_p50_ms") = Ctx.median(runs.map(_._2).toSeq) * 1000
    out("lifecycles") = n
    out("docs") = nDocs
    out("queries") = nQueries
    out("batches") = nBatches
    out("score_docs_per_s") = nDocs * n / calls.total("lm.score")
    out("search_qps") = nQueries * n / calls.total("bm25.search")
    out("timed_frac") = calls.walls.values.flatten.sum / loopS
    out("walls") = calls.walls.map { case (k, v) => k -> v.sum / n }
    val last = runs.last._3
    if (ctx.traced) {
      out("counters") = calls.counters
      out("disk") = last.map { case (f, (dir, _)) => f -> du(dir) }
    }

    // checks, outside the timed region: each persisted index answers as
    // its in-memory reference over the union of the applied batches
    val union = batches.reduce(_ union _)
    val checks = families.map { f =>
      s"${f.name}_${f.read}_equal" -> sameRows(last(f.name)._2, f.reference(union))
    }
    checks.foreach { case (_, ok) => expect(ok) }
    out("check") = checks.toMap
    out("attempted") = attempted
    out("failed") = failed
    out
  }

  /** Same multiset of rows, compared by column name. */
  private def sameRows(got: Array[Row], ref: DataFrame): Boolean = {
    def key(r: Row): Map[String, Any] = r.schema.fieldNames.map(n => n -> r.getAs[Any](n)).toMap
    def counts(rows: Array[Row]) = rows.map(key).groupBy(identity).view.mapValues(_.length).toMap
    counts(got) == counts(ref.collect())
  }

  /** (MB, files) under a directory, data and markers alike. */
  private def du(dir: String): Map[String, Double] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val sizes = files.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).toArray
      Map("mb" -> sizes.sum / 1e6, "files" -> sizes.length.toDouble)
    } finally files.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}
