package graft.streaming

import graft.SparkSpec
import graft.llm.Lm

/** Streaming training ingest into the persisted n-gram LM: micro-batches
  * land as exactly-once count increments (first batch bootstraps the
  * model), and the drained model scores row-identically to an ad-hoc
  * model over the union of every batch. */
class StreamingLmIngestSpec extends SparkSpec {
  import spark.implicits._

  private val train = Seq(
    (0L, "a b a"),
    (2L, "a b"),
    (4L, ""),
    (6L, "b a b"),
    (8L, "a c"),
    (10L, "c a"))

  private val scored = Seq(
    (0L, "a b a"), (1L, "b c"), (3L, "a a"), (5L, "a b a b"))
    .toDF("doc_id", "text")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select($"doc_id", $"ntok", $"lm_score_ppm")
      .as[(Long, Long, Long)].collect().toSet

  private def runIngest(compactEvery: Int): String = {
    val idx = java.nio.file.Files.createTempDirectory("graft-sli-idx-").toString + "/model"
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sli-src-").toString
    train.grouped(2).foreach(b =>
      b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir))
    val schema = spark.read.parquet(srcDir).schema
    val src = Streams.fileSource(spark, srcDir, schema, maxFilesPerTrigger = Some(1))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    StreamingLmIngest.runExactlyOnceK(src, "text", "doc_id", idx, order = 2,
      compactEvery = compactEvery, (_, n, _) => seen += n)
    assert(seen.sum == train.length, s"trained docs: $seen")
    assert(seen.size == 3) // one callback per non-empty micro-batch
    idx
  }

  test("drained ingest scores identically to an ad-hoc model on the union") {
    val idx = runIngest(compactEvery = 0)
    assert(rows(Lm.lmScoreIndexK(scored, "text", "doc_id", idx)) ==
      rows(Lm.lmScoreK(train.toDF("doc_id", "text"), scored, "text", "doc_id",
        k = 2)))
    // effective totals reflect the full admitted training set
    assert(Lm.lmIndexTotalsK(spark, idx) == ((12L, 6L))) // one doc empty
    assert(spark.read.parquet(s"$idx/meta").head().getLong(2) == 2L)
  }

  test("per-batch compaction cadence preserves scores") {
    val idx = runIngest(compactEvery = 1)
    assert(rows(Lm.lmScoreIndexK(scored, "text", "doc_id", idx)) ==
      rows(Lm.lmScoreK(train.toDF("doc_id", "text"), scored, "text", "doc_id",
        k = 2)))
  }

  test("a scorer between batches sees exactly the model of batches 0..N") {
    // the standing CCNet loop: ingest advances the on-disk model while a
    // scorer reads it BETWEEN batches — after each commit, index scores
    // must equal an ad-hoc model trained on precisely the batches
    // admitted so far (the on-disk artifact IS the ingest frontier)
    val idx = java.nio.file.Files.createTempDirectory("graft-sli-live-")
      .toString + "/model"
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sli-lsrc-").toString
    // one file per batch, DISTINCT sizes so the callback's row count
    // identifies which file was admitted (file order isn't guaranteed)
    val files = Seq(
      Seq((0L, "a b a")),
      Seq((2L, "a b"), (4L, "b c a")),
      Seq((6L, "b a b"), (8L, "a c"), (10L, "c a")))
    files.foreach(f =>
      f.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir))
    val bySize = files.map(f => f.size.toLong -> f).toMap
    val schema = spark.read.parquet(srcDir).schema
    val src = Streams.fileSource(spark, srcDir, schema, maxFilesPerTrigger = Some(1))
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    // (batch rows, index scores, ad-hoc scores) captured per commit;
    // asserted after the drain so a mismatch fails the test, not the
    // stream thread
    val snaps = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(Long, Long, Long)], Set[(Long, Long, Long)])]
    StreamingLmIngest.runExactlyOnceK(src, "text", "doc_id", idx, order = 2,
      compactEvery = 0, (_, n, _) => {
        admitted ++= bySize(n)
        snaps += ((n,
          rows(Lm.lmScoreIndexK(scored, "text", "doc_id", idx)),
          rows(Lm.lmScoreK(admitted.toSeq.toDF("doc_id", "text"), scored,
            "text", "doc_id", k = 2))))
      })
    assert(snaps.size == 3, s"expected 3 commits, saw ${snaps.size}")
    snaps.zipWithIndex.foreach { case ((n, got, want), i) =>
      assert(got == want, s"after batch $i (rows=$n): index != ad-hoc(0..$i)")
    }
  }

  test("exactly-once order-k ingest: drained model matches ad-hoc; " +
      "redelivered batches are skipped") {
    val idx = java.nio.file.Files.createTempDirectory("graft-sli-xo-")
      .toString + "/model"
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sli-xsrc-")
      .toString
    train.grouped(2).foreach(b =>
      b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir))
    val schema = spark.read.parquet(srcDir).schema
    val src = Streams.fileSource(spark, srcDir, schema, maxFilesPerTrigger = Some(1))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    StreamingLmIngest.runExactlyOnceK(src, "text", "doc_id", idx, order = 3,
      compactEvery = 2, (id, n, applied) => seen += ((id, applied)))
    assert(seen.map(_._1).distinct.size == 3) // three non-empty batches
    assert(seen.forall(_._2), "a first-delivery batch reported skipped")
    def got() = rows(Lm.lmScoreIndexK(scored, "text", "doc_id", idx))
    val want = rows(Lm.lmScoreK(train.toDF("doc_id", "text"), scored,
      "text", "doc_id", k = 3))
    assert(got() == want)
    assert(Lm.lmIndexTotalsK(spark, idx) == ((12L, 6L)))
    // redeliver every admitted batch id (foreachBatch's at-least-once
    // replay after a crash): all skipped, model unchanged
    val all = train.toDF("doc_id", "text")
    seen.map(_._1).foreach { id =>
      assert(!graft.llm.Lm.lmIndexAppendBatchK(all, "text", "doc_id", idx, id))
    }
    assert(got() == want)
    assert(Lm.lmIndexTotalsK(spark, idx) == ((12L, 6L)))
  }
}
