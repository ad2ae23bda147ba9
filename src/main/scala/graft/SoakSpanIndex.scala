package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale soak for the persisted exact-substring index
  * ([[graft.llm.Dedup.spanBuildIndex]] / `spanIndexMatches` /
  * `spanIndexAppendBatch`): a corpus far past the oracle SFs is indexed
  * ONCE, then a "daily" batch with PLANTED corpus runs reports its
  * duplicated spans against the index alone. Window hashes are uniform,
  * so unlike the LSH index no catalog slice prunes — the honest claim is
  * different and this soak pins it: the index is 8 bytes per distinct
  * window, a match is ONE streamed scan of it plus batch-sized work
  * (bytes-read tallied by listener ≈ index size, not corpus text size),
  * and append grows the index by the batch's NOVEL windows only.
  *
  * {{{ runMain graft.SoakSpanIndex [nCorpus] [nBatch] }}}
  *
  * Corpus doc = 100 globally-unique tokens. Batch doc 2k copies corpus
  * doc ((2k*7919) mod n)'s tokens 41..60 between unique filler (span
  * (30, 49) expected); batch doc 2k+1 is fresh — expected yield is one
  * exact span per even batch doc.
  */
object SoakSpanIndex {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val nBatch = if (args.length > 1) args(1).toLong else 100000L
    val tokens = 100
    val spark = GraftSession.get()
    val dir = java.nio.file.Files.createTempDirectory("graft-soak-span-idx-").toString

    spark.range(n)
      .selectExpr("id AS doc_id",
        s"""concat_ws(' ', transform(sequence(1, $tokens), i ->
           |  concat('u', id, '_', i))) AS text""".stripMargin)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")

    // even batch docs: 30 unique + corpus doc's tokens 41..60 + 50 unique
    spark.range(nBatch)
      .selectExpr(s"id + $n AS doc_id",
        s"""CASE WHEN id % 2 = 0 THEN concat_ws(' ',
           |    concat_ws(' ', transform(sequence(1, 30), i -> concat('b', id, '_', i))),
           |    concat_ws(' ', transform(sequence(41, 60), i ->
           |      concat('u', (id * 7919) % $n, '_', i))),
           |    concat_ws(' ', transform(sequence(1, 50), i -> concat('c', id, '_', i))))
           |  ELSE concat_ws(' ', transform(sequence(1, $tokens), i ->
           |    concat('f', id, '_', i)))
           |END AS text""".stripMargin)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/batch")
    val batch = spark.read.parquet(s"$dir/batch")

    val bytesRead = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    })

    var t0 = System.nanoTime()
    graft.llm.Dedup.spanBuildIndex(corpus, "doc_id", "text", s"$dir/index", w = 8)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val indexBytes = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/index")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(_.isFile).map(_.length).sum
    val indexRows = spark.read.parquet(s"$dir/index/windows").count()

    bytesRead.set(0L)
    t0 = System.nanoTime()
    val matches = graft.llm.Dedup.spanIndexMatches(batch, "doc_id", "text", s"$dir/index")
    matches.write.mode("overwrite").parquet(s"$dir/matches")
    val matchSec = (System.nanoTime() - t0) / 1e9
    val matchBytes = bytesRead.get()
    val got = spark.read.parquet(s"$dir/matches")
    val rows = got.count()
    val exact = got.filter("span_start = 30 AND span_end = 49 AND span_tokens = 20").count()
    val expected = nBatch / 2

    t0 = System.nanoTime()
    graft.llm.Dedup.spanIndexAppendBatch(batch, "doc_id", "text", s"$dir/index",
      batchId = 1L)
    val appendSec = (System.nanoTime() - t0) / 1e9
    val appended = graft.llm.IndexStore.read(spark, s"$dir/index",
      graft.llm.Dedup.Windows).count() - indexRows

    println(s"""{"soak":"span_index","n_corpus":$n,"n_batch":$nBatch,""" +
      f""""build_sec":$buildSec%.1f,"index_bytes":$indexBytes,"index_rows":$indexRows,""" +
      f""""match_sec":$matchSec%.1f,"match_bytes_read":$matchBytes,""" +
      s""""match_rows":$rows,"exact_planted":$exact,"expected":$expected,""" +
      f""""append_sec":$appendSec%.1f,"appended_rows":$appended}""")
    spark.stop()
  }
}
