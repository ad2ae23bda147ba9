package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale soak for the n-gram LM quality scorer
  * ([[graft.llm.Lm.lmScoreK]] / the persisted `lmBuildIndexK` family): a
  * training corpus far past the oracle SFs builds the count model once,
  * then scoring batches run against it — the CCNet loop (train on the
  * trusted corpus, score the crawl). Observables: train wall + model
  * rows/bytes (one-time), full-corpus scoring wall (the bulk-curation
  * pass), small-batch scoring bytes-read (the catalog-pruning claim: a
  * trickle batch must NOT read the whole model), append + compact wall,
  * and an index-vs-ad-hoc parity count at scale (lossless persistence).
  *
  * {{{ runMain graft.SoakLm [nCorpus] }}}
  *
  * Corpus shape: the SoakBm25Index generator — 30 tokens per doc drawn
  * hash-pseudo-randomly from a 50k-term vocabulary. Uniform-random
  * bigrams are the model's WORST case (nearly every adjacent pair is
  * distinct → bigram table ~ token count); real text's Zipf head would
  * shrink it by orders of magnitude, so the numbers here are a ceiling.
  */
object SoakLm {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val spark = GraftSession.get()
    val dir = java.nio.file.Files.createTempDirectory("graft-soak-lm-").toString

    def toks(idExpr: String, count: Int): String =
      s"transform(sequence(1, $count), i -> concat('w', pmod(hash(($idExpr) * 131 + i), 50000)))"

    spark.range(n)
      .selectExpr("id AS doc_id", s"concat_ws(' ', ${toks("id", 30)}) AS text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")

    val bytesRead = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    })
    def settleBytes(): Long = { Thread.sleep(2000); bytesRead.get() }

    var t0 = System.nanoTime()
    graft.llm.Lm.lmBuildIndexK(corpus, "text", "doc_id", s"$dir/model", k = 2)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val modelBytes = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/model"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    val biRows = spark.read.parquet(s"$dir/model/grams_2").count()

    // bulk curation pass: score the whole corpus against the model
    t0 = System.nanoTime()
    val nScored = graft.llm.Lm
      .lmScoreIndexK(corpus, "text", "doc_id", s"$dir/model").count()
    val scoreAllSec = (System.nanoTime() - t0) / 1e9

    // trickle batch: 5 docs touch <=150 of the 256 term buckets — the
    // catalog-pruning observable (bytes read << model bytes)
    val trickle = corpus.filter("doc_id % 400000 = 7").localCheckpoint(true)
    val beforeTrickle = settleBytes()
    t0 = System.nanoTime()
    graft.llm.Lm.lmScoreIndexK(trickle, "text", "doc_id", s"$dir/model").count()
    val trickleSec = (System.nanoTime() - t0) / 1e9
    val trickleBytes = settleBytes() - beforeTrickle

    // parity at scale: persisted-model scores == ad-hoc scores (1k docs)
    val sample = corpus.filter("doc_id % 2000 = 3").localCheckpoint(true)
    val fromIndex = graft.llm.Lm
      .lmScoreIndexK(sample, "text", "doc_id", s"$dir/model")
    val adhoc = graft.llm.Lm.lmScoreK(corpus, sample, "text", "doc_id", k = 2)
    val parityDiff = fromIndex.unionByName(adhoc)
      .groupBy("doc_id", "ntok", "lm_score_ppm").count()
      .filter("count <> 2").count()

    t0 = System.nanoTime()
    graft.llm.Lm.lmIndexAppendK(
      spark.range(n, n + 100000L)
        .selectExpr("id AS doc_id", s"concat_ws(' ', ${toks("id", 30)}) AS text"),
      "text", "doc_id", s"$dir/model")
    val appendSec = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    graft.llm.Lm.lmIndexCompactK(spark, s"$dir/model")
    val compactSec = (System.nanoTime() - t0) / 1e9
    // count-cutoff pruning: at uniform-random bigrams nearly all pairs
    // are singletons, so minCount=2 collapses the model to the
    // (tiny) repeated-pair head — the size lever a deployment pulls.
    // Post-compact slices live in GenDir generations — resolve them.
    def liveBigrams(): String =
      graft.llm.GenDir.live(spark, s"$dir/model/grams_2")
    val prePrune = spark.read.parquet(liveBigrams()).count()
    t0 = System.nanoTime()
    graft.llm.Lm.lmIndexCompactK(spark, s"$dir/model", minCount = 2L)
    val pruneSec = (System.nanoTime() - t0) / 1e9
    val postPrune = spark.read.parquet(liveBigrams()).count()

    // trigram leg: order-3 build + full scoring — the added slice is
    // another ~token-count rows at this worst-case corpus, so the
    // build/score deltas here bound the real-text cost from above
    t0 = System.nanoTime()
    graft.llm.Lm.lmBuildIndexK(corpus, "text", "doc_id", s"$dir/model3", k = 3)
    val build3Sec = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nScored3 = graft.llm.Lm
      .lmScoreIndexK(corpus, "text", "doc_id", s"$dir/model3").count()
    val score3Sec = (System.nanoTime() - t0) / 1e9

    // order-5 leg (CCNet's production order): four count slices past
    // unigrams, gram keys as space-joined strings — at uniform-random tokens every 5-gram is distinct, so
    // slice sizes ~ token count bound the real-text cost from above.
    // The trickle leg re-checks catalog pruning at the widest order.
    t0 = System.nanoTime()
    graft.llm.Lm.lmBuildIndexK(corpus, "text", "doc_id", s"$dir/model5", k = 5)
    val build5Sec = (System.nanoTime() - t0) / 1e9
    val model5Bytes = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/model5"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    t0 = System.nanoTime()
    val nScored5 = graft.llm.Lm
      .lmScoreIndexK(corpus, "text", "doc_id", s"$dir/model5").count()
    val score5Sec = (System.nanoTime() - t0) / 1e9
    val before5 = settleBytes()
    t0 = System.nanoTime()
    graft.llm.Lm.lmScoreIndexK(trickle, "text", "doc_id", s"$dir/model5").count()
    val trickle5Sec = (System.nanoTime() - t0) / 1e9
    val trickle5Bytes = settleBytes() - before5

    // EXACTLY-ONCE leg (IncLog on the order-k family, the SoakBm25Index
    // xo leg's LM twin): three 50k-doc batch appends land as committed
    // increments on the order-5 model; a trickle score folds them (the
    // catalog-pruning claim must hold THROUGH increments — the scored
    // batch's term buckets prune the increment scans too); redelivering
    // all three is a driver-side marker check; the compaction folds
    // them into the next generations.
    def xoBatch(g: Int) = spark.range(50000)
      .selectExpr(s"id + ${n + g * 50000L} AS doc_id",
        s"concat_ws(' ', ${toks(s"id + ${(9 + g) * n}", 30)}) AS text")
    t0 = System.nanoTime()
    (0 until 3).foreach { g =>
      require(graft.llm.Lm.lmIndexAppendBatchK(xoBatch(g), "text", "doc_id",
        s"$dir/model5", batchId = g.toLong), s"first delivery $g must apply")
    }
    val xoAppendSec = (System.nanoTime() - t0) / 1e9
    val xoTotals = graft.llm.Lm.lmIndexTotalsK(spark, s"$dir/model5")
    val beforeXo = settleBytes()
    t0 = System.nanoTime()
    graft.llm.Lm.lmScoreIndexK(trickle, "text", "doc_id", s"$dir/model5").count()
    val xoTrickleSec = (System.nanoTime() - t0) / 1e9
    val xoTrickleBytes = settleBytes() - beforeXo
    t0 = System.nanoTime()
    (0 until 3).foreach { g =>
      require(!graft.llm.Lm.lmIndexAppendBatchK(xoBatch(g), "text", "doc_id",
        s"$dir/model5", batchId = g.toLong), s"redelivery $g must skip")
    }
    val xoRedeliverSec = (System.nanoTime() - t0) / 1e9
    require(graft.llm.Lm.lmIndexTotalsK(spark, s"$dir/model5") == xoTotals,
      "redelivery changed the totals")
    t0 = System.nanoTime()
    graft.llm.Lm.lmIndexCompactK(spark, s"$dir/model5")
    val xoCompactSec = (System.nanoTime() - t0) / 1e9

    println(s"""{"soak":"lm","n_corpus":$n,"build_sec":${f"$buildSec%.1f"},""" +
      s""""model_bytes":$modelBytes,"bigram_rows":$biRows,""" +
      s""""score_all_sec":${f"$scoreAllSec%.1f"},"scored":$nScored,""" +
      s""""trickle_sec":${f"$trickleSec%.1f"},"trickle_bytes_read":$trickleBytes,""" +
      s""""parity_mismatches":$parityDiff,""" +
      s""""append_sec":${f"$appendSec%.1f"},"compact_sec":${f"$compactSec%.1f"},""" +
      s""""prune_sec":${f"$pruneSec%.1f"},""" +
      s""""bigrams_pre_prune":$prePrune,"bigrams_post_prune":$postPrune,""" +
      s""""build3_sec":${f"$build3Sec%.1f"},""" +
      s""""score3_all_sec":${f"$score3Sec%.1f"},"scored3":$nScored3,""" +
      s""""build5_sec":${f"$build5Sec%.1f"},"model5_bytes":$model5Bytes,""" +
      s""""score5_all_sec":${f"$score5Sec%.1f"},"scored5":$nScored5,""" +
      s""""trickle5_sec":${f"$trickle5Sec%.1f"},"trickle5_bytes_read":$trickle5Bytes,""" +
      s""""xo_append3_sec":${f"$xoAppendSec%.1f"},""" +
      s""""xo_trickle_sec":${f"$xoTrickleSec%.1f"},""" +
      s""""xo_trickle_bytes":$xoTrickleBytes,""" +
      s""""xo_redeliver3_sec":${f"$xoRedeliverSec%.1f"},""" +
      s""""xo_compact_sec":${f"$xoCompactSec%.1f"}}""")
    spark.stop()
  }
}
