package graft.llm

import graft.SparkSpec

/** [[IncLog]] + the order-k LM batch-ingest API: exactly-once batch
  * application under redelivery, increment visibility gated on the
  * atomic commit marker, fold watermarks keeping compaction
  * double-count-free at every crash point, and the one-compaction-late
  * increment GC (the GenDir retention window applied to increments). */
class LmExactlyOnceSpec extends SparkSpec {
  import spark.implicits._

  // batches of the standing ingest loop; ad-hoc parity unions them
  private lazy val b0 = Seq((0L, "a b a")).toDF("doc_id", "text")
  private lazy val b1 = Seq((2L, "a b"), (4L, "b c a")).toDF("doc_id", "text")
  private lazy val b2 = Seq((6L, "b a b"), (8L, "a c")).toDF("doc_id", "text")
  private lazy val scored = Seq(
    (0L, "a b a"), (1L, "b c"), (3L, "a a"), (5L, "a b a b"))
    .toDF("doc_id", "text")

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-lm-xo-").toString + "/model"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select($"doc_id", $"ntok", $"lm_score_ppm")
      .as[(Long, Long, Long)].collect().toSet

  private def score(dir: String): Set[(Long, Long, Long)] =
    rows(Lm.lmScoreIndexK(scored, "text", "doc_id", dir))

  private def adhoc(train: org.apache.spark.sql.DataFrame) =
    rows(Lm.lmScoreK(train, scored, "text", "doc_id", k = 2))

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  test("a redelivered batch is skipped and its counts never double") {
    val dir = freshDir()
    Lm.lmBuildIndexBatchK(b0, "text", "doc_id", dir, k = 2, batchId = 0L)
    assert(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    val want = score(dir)
    assert(want == adhoc(b0.union(b1)))
    val totals = Lm.lmIndexTotalsK(spark, dir)
    assert(totals == ((8L, 3L))) // 3+5 tokens, 1+2 docs
    // redeliver BOTH batches (crash between side effect and checkpoint
    // commit): the build's marker skips batch 0 through the append
    // path, batch 1's marker skips itself
    assert(!Lm.lmIndexAppendBatchK(b0, "text", "doc_id", dir, batchId = 0L))
    assert(!Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    assert(score(dir) == want)
    assert(Lm.lmIndexTotalsK(spark, dir) == totals)
  }

  test("an increment is invisible until its commit marker lands") {
    val dir = freshDir()
    Lm.lmBuildIndexBatchK(b0, "text", "doc_id", dir, k = 2, batchId = 0L)
    assert(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    val want = score(dir)
    // a batch that died after its increment write but BEFORE the
    // marker: counts on disk, invisible to scorers
    Seq(("a", 100L, 1, 0)).toDF("gram", "c", "ord", "pt")
      .write.mode("overwrite").partitionBy("ord", "pt")
      .parquet(IncLog.incPath(s"$dir/grams", 9L))
    assert(score(dir) == want, "an uncommitted increment leaked into scoring")
    assert(Lm.lmIndexTotalsK(spark, dir) == ((8L, 3L)))
    // positive control: redelivery completes the batch (overwrite +
    // marker) and the scores move to the three-batch model
    assert(Lm.lmIndexAppendBatchK(b2, "text", "doc_id", dir, batchId = 9L))
    assert(score(dir) == adhoc(b0.union(b1).union(b2)))
    assert(Lm.lmIndexTotalsK(spark, dir) == ((13L, 5L)))
  }

  test("compaction folds exactly once; increments GC one compaction late") {
    val dir = freshDir()
    Lm.lmBuildIndexBatchK(b0, "text", "doc_id", dir, k = 2, batchId = 0L)
    assert(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    assert(Lm.lmIndexAppendBatchK(b2, "text", "doc_id", dir, batchId = 2L))
    val want = score(dir)
    assert(want == adhoc(b0.union(b1).union(b2)))
    Lm.lmIndexCompactK(spark, dir)
    assert(score(dir) == want)
    assert(IncLog.foldedSummary(spark, dir) == IncLog.FoldSummary(Map("" -> 2L), 10L, 4L)) // b1+b2 deltas
    // folded increments survive THIS compaction (a reader mid-scan on
    // the previous generation still needs them) ...
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      IncLog.incPath(s"$dir/grams", 1L))))
    // ... and a redelivered FOLDED batch is still skipped (its marker
    // may be gone later; the summary watermark covers it)
    assert(!Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    assert(Lm.lmIndexTotalsK(spark, dir) == ((13L, 5L)))
    // the NEXT compaction garbage-collects them
    Lm.lmIndexCompactK(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      IncLog.incPath(s"$dir/grams", 1L))))
    assert(!Lm.lmIndexAppendBatchK(b2, "text", "doc_id", dir, batchId = 2L))
    assert(score(dir) == want)
    // post-fold batches keep flowing
    assert(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 7L))
    assert(score(dir) == adhoc(b0.union(b1).union(b2).union(b1)))
  }

  test("torn meta over complete slices fails loudly; torn slices rebuild") {
    // the BOOTSTRAP's own meta crash (sole marker, nothing folded) is
    // provably rebuildable: recover reports "no model" and redelivery
    // rebuilds — the stream must not wedge on its very first batch
    val boot = freshDir()
    Lm.lmBuildIndexBatchK(b0, "text", "doc_id", boot, k = 2, batchId = 0L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$boot/meta/_SUCCESS"), false)
    assert(!Lm.lmIndexRecoverK(spark, boot))
    Lm.lmBuildIndexBatchK(b0, "text", "doc_id", boot, k = 2, batchId = 0L)
    assert(Lm.lmIndexRecoverK(spark, boot))
    // PAST the bootstrap a torn meta is damage: the slices and
    // increments still hold the model — recover must refuse to bless
    // OR silently rebuild, and instead name the repair options
    val dir = freshDir()
    Lm.lmBuildIndexBatchK(b0, "text", "doc_id", dir, k = 2, batchId = 0L)
    assert(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta/_SUCCESS"), false)
    val e = intercept[IllegalStateException] {
      Lm.lmIndexRecoverK(spark, dir)
    }
    assert(e.getMessage.contains("torn meta"))
    // markerless torn meta (a build without a marker) stays loud as well
    val plain = freshDir()
    Lm.lmBuildIndexK(b0, "text", "doc_id", plain, k = 2)
    fs.delete(new org.apache.hadoop.fs.Path(s"$plain/meta/_SUCCESS"), false)
    val e2 = intercept[IllegalStateException] {
      Lm.lmIndexRecoverK(spark, plain)
    }
    assert(e2.getMessage.contains("torn meta"))
    // a build that died mid-slice (torn grams, no meta): plain rebuild
    val torn = freshDir()
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/grams/_temporary"))
    assert(!Lm.lmIndexRecoverK(spark, torn))
  }

  test("a plain build plus one append is no bootstrap: torn meta stays loud") {
    // one commit marker, nothing folded — the bootstrap's shape, but no
    // bootstrap record: rebuilding would discard the appended batch
    val dir = freshDir()
    Lm.lmBuildIndexK(b0, "text", "doc_id", dir, k = 2)
    assert(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta/_SUCCESS"), false)
    val e = intercept[IllegalStateException](Lm.lmIndexRecoverK(spark, dir))
    assert(e.getMessage.contains("torn meta"))
  }

  test("a crash between slice folds and the summary double-counts nothing") {
    val dir = freshDir()
    Lm.lmBuildIndexBatchK(b0, "text", "doc_id", dir, k = 2, batchId = 0L)
    assert(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", dir, batchId = 1L))
    val want = score(dir)
    Lm.lmIndexCompactK(spark, dir)
    // simulate the compactor dying AFTER the slice generation folded
    // (its _FOLDED_THROUGH = 1) but BEFORE the summary advanced: the
    // markers still carry the deltas, the generations skip the folded
    // increments — counts and totals must both stay exact
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits/_folded"), false)
    assert(IncLog.foldedSummary(spark, dir) == IncLog.FoldSummary(Map.empty, 0L, 0L))
    assert(score(dir) == want)
    assert(Lm.lmIndexTotalsK(spark, dir) == ((8L, 3L)))
    // and the re-run compaction (recovery) converges
    Lm.lmIndexCompactK(spark, dir)
    assert(score(dir) == want)
    assert(Lm.lmIndexTotalsK(spark, dir) == ((8L, 3L)))
  }
}
