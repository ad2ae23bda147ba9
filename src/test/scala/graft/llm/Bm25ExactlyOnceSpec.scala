package graft.llm

import graft.SparkSpec

/** Exactly-once BM25 batch ingest ([[IncLog]] on the Retrieval
  * family): redelivery skips, increment visibility gated on the commit
  * marker, effective totals/stats folding increments, and the
  * one-compaction-late increment GC — mirror of [[LmExactlyOnceSpec]],
  * plus the stats-dependent search paths (df cap, max-score) reading
  * the increment-folded statistics. */
class Bm25ExactlyOnceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val b0 = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log")).toDF("doc_id", "text")
  private lazy val b1 = Seq(
    (2L, "zebra zebra zebra runs"),
    (3L, "the the the the the")).toDF("doc_id", "text")
  private lazy val b2 = Seq(
    (4L, "cat dog zebra")).toDF("doc_id", "text")
  private lazy val queries = Seq(
    (100L, "zebra"), (101L, "cat dog"), (102L, "the mat"))
    .toDF("query_id", "qtext")

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-bm25-xo-").toString + "/idx"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
    df.select($"query_id", $"doc_id", $"score_ppm", $"rnk")
      .as[(Long, Long, Long, Int)].collect().toSet

  private def search(dir: String): Set[(Long, Long, Long, Int)] =
    rows(Retrieval.bm25SearchIndex(queries, dir, k = 10))

  private def adhoc(corpus: org.apache.spark.sql.DataFrame) =
    rows(Retrieval.bm25TopK(corpus, queries, k = 10))

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  test("a redelivered batch is skipped; postings and df never double") {
    val dir = freshDir()
    Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", dir, batchId = 0L)
    assert(Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    val want = search(dir)
    assert(want == adhoc(b0.union(b1)))
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((4L, 21L)))
    assert(!Retrieval.bm25IndexAppendBatch(b0, "text", "doc_id", dir, 0L))
    assert(!Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    assert(search(dir) == want)
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((4L, 21L)))
    // the stats-dependent paths fold increment stats too: max-score
    // stays row-identical to the plain search, and the df cap sees the
    // increment's 'the' df (3/4 docs > 0.6 -> capped ranking equals
    // scoring with 'the' deleted)
    assert(rows(Retrieval.bm25SearchIndexMaxScore(queries, dir, k = 10,
      hotDfFrac = 0.5)) == want)
    val capped = rows(Retrieval.bm25SearchIndex(queries, dir, k = 10,
      maxDfFrac = 0.6))
    val deleted = rows(Retrieval.bm25SearchIndex(
      Seq((100L, "zebra"), (101L, "cat dog"), (102L, "mat"))
        .toDF("query_id", "qtext"), dir, k = 10))
    assert(capped == deleted)
  }

  test("an increment is invisible until its commit marker lands") {
    val dir = freshDir()
    Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", dir, batchId = 0L)
    val want = search(dir)
    // a batch that died after its postings write but before the marker
    Seq((99L, "zebra", 5L, 5L, 0)).toDF("doc_id", "term", "tf", "dl", "term_pt")
      .write.mode("overwrite").partitionBy("term_pt")
      .parquet(IncLog.incPath(s"$dir/postings", 9L))
    assert(search(dir) == want, "an uncommitted increment leaked into search")
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((2L, 12L)))
    // redelivery completes the batch: overwrite + marker, now visible
    assert(Retrieval.bm25IndexAppendBatch(b2, "text", "doc_id", dir, 9L))
    assert(search(dir) == adhoc(b0.union(b2)))
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((3L, 15L)))
  }

  test("torn writes: a torn build reads as no index; torn meta over a " +
      "complete corpus fails loudly") {
    val h = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a build that died mid-postings: directory exists, no _SUCCESS —
    // recover must say "no index" (rebuild), NOT bless the torn base
    // (whose batch would otherwise be marker-skipped forever)
    val torn = freshDir()
    h.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/postings/_temporary"))
    assert(!Retrieval.bm25IndexRecover(spark, torn))
    // same for the phrase family's completeness key
    val tornPh = freshDir()
    h.mkdirs(new org.apache.hadoop.fs.Path(s"$tornPh/positions/_temporary"))
    assert(!Retrieval.phraseIndexRecover(spark, tornPh))
    // torn meta during the exactly-once BOOTSTRAP's own meta write is
    // the ONE provably-rebuildable torn-meta state (marker lands before
    // meta: sole marker + nothing folded) — recover must report "no
    // index" so redelivery rebuilds instead of wedging the stream
    val boot = freshDir()
    Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", boot, batchId = 0L)
    h.delete(new org.apache.hadoop.fs.Path(s"$boot/meta/_SUCCESS"), false)
    assert(!Retrieval.bm25IndexRecover(spark, boot))
    // ... and the redelivered bootstrap heals it to a complete index
    Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", boot, batchId = 0L)
    assert(Retrieval.bm25IndexRecover(spark, boot))
    assert(search(boot) == adhoc(b0))
    // PAST the bootstrap (a second marker landed) torn meta over
    // complete postings stays LOUD: auto-rebuild would discard batches
    val dir = freshDir()
    Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", dir, batchId = 0L)
    assert(Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    h.delete(new org.apache.hadoop.fs.Path(s"$dir/meta/_SUCCESS"), false)
    val e = intercept[IllegalStateException] {
      Retrieval.bm25IndexRecover(spark, dir)
    }
    assert(e.getMessage.contains("torn meta"))
    // ... and a build without a marker stays loud too — bootstrapOnly
    // demands exactly ONE marker, so markerless torn meta is never
    // mistaken for a bootstrap crash
    val plain = freshDir()
    Retrieval.bm25BuildIndex(b0, "text", "doc_id", plain)
    h.delete(new org.apache.hadoop.fs.Path(s"$plain/meta/_SUCCESS"), false)
    val e2 = intercept[IllegalStateException] {
      Retrieval.bm25IndexRecover(spark, plain)
    }
    assert(e2.getMessage.contains("torn meta"))
  }

  test("a failing batch write releases its disk persist") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(b0, "text", "doc_id", dir)
    // a regular file where the postings increments go: the batch's
    // slice write throws inside the persisted section
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/postings.inc"), true).close()
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "the failed append left its postings persisted")
  }

  test("a plain build plus one append is no bootstrap: torn meta stays loud") {
    // one commit marker, nothing folded — the bootstrap's shape, but no
    // bootstrap record: rebuilding would discard the appended batch
    val dir = freshDir()
    Retrieval.bm25BuildIndex(b0, "text", "doc_id", dir)
    assert(Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta/_SUCCESS"), false)
    val e = intercept[IllegalStateException](Retrieval.bm25IndexRecover(spark, dir))
    assert(e.getMessage.contains("torn meta"))
  }

  test("stream-scoped markers: a fresh checkpoint lineage appends under " +
      "its own stream id instead of colliding with old markers") {
    val dir = freshDir()
    // lineage A bootstraps and appends (batch ids 0, 1)
    Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", dir, 0L, "streamA")
    assert(Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L,
      "streamA"))
    // a FRESH checkpoint restarts batchId at 0; under a fresh stream id
    // batch (B, 0) must APPLY even though (A, 0) is committed — the
    // operations trap the stream scope exists to close
    assert(Retrieval.bm25IndexAppendBatch(b2, "text", "doc_id", dir, 0L,
      "streamB"))
    val all = adhoc(b0.union(b1).union(b2))
    assert(search(dir) == all)
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((5L, 24L)))
    // redelivery detection stays per-stream
    assert(!Retrieval.bm25IndexAppendBatch(b2, "text", "doc_id", dir, 0L,
      "streamB"))
    assert(!Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L,
      "streamA"))
    assert(search(dir) == all)
    // compaction folds BOTH lineages; the summary carries per-stream
    // watermarks and cumulative deltas
    Retrieval.bm25IndexCompact(spark, dir)
    assert(search(dir) == all)
    assert(IncLog.foldedSummary(spark, dir) ==
      IncLog.FoldSummary(Map("streamA" -> 1L, "streamB" -> 0L), 12L, 3L))
    // markers GC one compaction late; folded redeliveries stay skipped
    // per stream via the summary watermarks alone
    Retrieval.bm25IndexCompact(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      IncLog.incPath(s"$dir/postings", 1L, "streamA"))))
    assert(!Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L,
      "streamA"))
    assert(!Retrieval.bm25IndexAppendBatch(b2, "text", "doc_id", dir, 0L,
      "streamB"))
    assert(search(dir) == all)
    // ... while lineage B's NEXT batch keeps flowing
    val b3 = Seq((8L, "log runs")).toDF("doc_id", "text")
    assert(Retrieval.bm25IndexAppendBatch(b3, "text", "doc_id", dir, 1L,
      "streamB"))
    assert(search(dir) == adhoc(b0.union(b1).union(b2).union(b3)))
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((6L, 26L)))
  }

  test("compaction folds exactly once; increments GC one compaction late") {
    val dir = freshDir()
    Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", dir, batchId = 0L)
    assert(Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    assert(Retrieval.bm25IndexAppendBatch(b2, "text", "doc_id", dir, 2L))
    val want = search(dir)
    assert(want == adhoc(b0.union(b1).union(b2)))
    Retrieval.bm25IndexCompact(spark, dir)
    assert(search(dir) == want)
    assert(IncLog.foldedSummary(spark, dir) == IncLog.FoldSummary(Map("" -> 2L), 12L, 3L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      IncLog.incPath(s"$dir/postings", 1L))))
    assert(!Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    Retrieval.bm25IndexCompact(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      IncLog.incPath(s"$dir/postings", 1L))))
    assert(!Retrieval.bm25IndexAppendBatch(b2, "text", "doc_id", dir, 2L))
    assert(search(dir) == want)
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((5L, 24L)))
    // post-fold batches keep flowing, and the max-score path agrees
    assert(Retrieval.bm25IndexAppendBatch(
      Seq((7L, "zebra mat")).toDF("doc_id", "text"), "text", "doc_id", dir, 7L))
    val extended = search(dir)
    assert(extended == adhoc(b0.union(b1).union(b2)
      .union(Seq((7L, "zebra mat")).toDF("doc_id", "text"))))
    assert(rows(Retrieval.bm25SearchIndexMaxScore(queries, dir, k = 10,
      hotDfFrac = 0.5)) == extended)
  }
}
