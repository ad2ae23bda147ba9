package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Scale soak for the persisted LSH dedup index
  * ([[graft.llm.Dedup.lshBuildIndex]] / `lshIndexMatches` /
  * `lshIndexAppendBatch`): a corpus far past the oracle SFs is indexed ONCE,
  * then a small "daily" batch is deduped against it — the incremental
  * loop whose cost profile the index exists for. Reports the observables
  * the claim rests on: build wall + index bytes (the one-time cost),
  * match wall + bytes READ during the match (the per-batch cost — with
  * catalog pruning this stays well under one full index scan), match
  * yield vs the planted expectation, and append wall. Results recorded
  * in BASELINE.md; this main keeps them reproducible.
  *
  * {{{ runMain graft.SoakDedupIndex [nCorpus] [nBatch] }}}
  *
  * Corpus shape (Column-generated, no driver loop): every corpus doc is
  * 30 unique hash-derived tokens. Batch doc 2k is a near-variant of
  * corpus doc (2k*7919 mod n) with the last token changed (3-gram
  * jaccard 27/29 ~ 0.93); batch doc 2k+1 is fresh text — so the
  * expected match yield is one pair per even batch doc at
  * threshold 0.7.
  */
object SoakDedupIndex {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 5000000L
    val nBatch = if (args.length > 1) args(1).toLong else 100000L
    val spark = GraftSession.get()
    val dir = java.nio.file.Files.createTempDirectory("graft-soak-dedup-index-").toString

    def toks(idExpr: String, count: Int): String =
      s"transform(sequence(1, $count), i -> concat('w', pmod(hash(($idExpr) * 131 + i), 50000)))"

    spark.range(n)
      .selectExpr("id AS doc_id", s"concat_ws(' ', ${toks("id", 30)}) AS text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")

    // near-dups target a pseudo-random corpus doc; fresh docs draw from
    // the disjoint id space above the corpus
    spark.range(nBatch)
      .selectExpr(s"id + $n AS doc_id",
        s"""CASE WHEN id % 2 = 0
           |  THEN concat_ws(' ', ${toks(s"(id * 7919) % $n", 29)}, 'CHANGED')
           |  ELSE concat_ws(' ', ${toks(s"id + ${2 * n}", 30)})
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
    def settleBytes(): Long = { Thread.sleep(2000); bytesRead.get() }

    var t0 = System.nanoTime()
    graft.llm.Dedup.lshBuildIndex(corpus, "text", "doc_id", s"$dir/index",
      shingleN = 3, numBands = 16, rowsPerBand = 4)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val indexBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/index"))
      .filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()

    val before = settleBytes()
    t0 = System.nanoTime()
    val matches = graft.llm.Dedup.lshIndexMatches(batch, "text", "doc_id",
      s"$dir/index", threshold = 0.7)
    val nMatches = matches.count()
    val matchSec = (System.nanoTime() - t0) / 1e9
    val matchBytes = settleBytes() - before

    t0 = System.nanoTime()
    graft.llm.Dedup.lshIndexAppendBatch(batch, "text", "doc_id", s"$dir/index",
      batchId = 1L)
    val appendSec = (System.nanoTime() - t0) / 1e9

    println(s"""{"soak":"dedup_index","n_corpus":$n,"n_batch":$nBatch,""" +
      s""""build_sec":${f"$buildSec%.1f"},"index_bytes":$indexBytes,""" +
      s""""match_sec":${f"$matchSec%.1f"},"match_bytes_read":$matchBytes,""" +
      s""""matches":$nMatches,"expected_min":${nBatch / 2},""" +
      s""""append_sec":${f"$appendSec%.1f"}}""")
    spark.stop()
  }
}
