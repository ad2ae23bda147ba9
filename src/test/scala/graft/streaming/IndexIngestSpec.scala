package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.llm.{Lm, Retrieval}

/** Exactly-once streaming ingest into each persisted count index: the
  * first micro-batch bootstraps the index, later ones land as committed
  * increments, and the drained index answers row-identically to an
  * ad-hoc build over the union of every batch — with or without a
  * compaction cadence. Redelivered batch ids are skipped. The same
  * cases run for every family. */
class IndexIngestSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "zebra zebra zebra runs"),
    (3L, "the the the the the"),
    (4L, "cat dog zebra"),
    (5L, "log mat runs"))

  private val lmTrain = Seq(
    (0L, "a b a"),
    (2L, "a b"),
    (4L, ""),
    (6L, "b a b"),
    (8L, "a c"),
    (10L, "c a"))

  private def lmScored = Seq(
    (0L, "a b a"), (1L, "b c"), (3L, "a a"), (5L, "a b a b"))
    .toDF("doc_id", "text")

  private def lmRows(df: DataFrame): Set[Seq[Long]] =
    df.select($"doc_id", $"ntok", $"lm_score_ppm")
      .as[(Long, Long, Long)].collect().map(r => Seq(r._1, r._2, r._3)).toSet

  /** One family under test: its training docs, the answer the drained
    * index gives (`got`) and the ad-hoc answer over a doc set (`want`),
    * the exactly-once append the redelivery check replays, and the
    * admitted totals after draining every doc. */
  private case class Case(
      name: String,
      family: IndexIngest.Family,
      docs: Seq[(Long, String)],
      got: String => Set[Seq[Long]],
      want: DataFrame => Set[Seq[Long]],
      append: (DataFrame, String, Long) => Boolean,
      totals: Option[(String => (Long, Long), (Long, Long))])

  private def bm25Queries = Seq((1L, "the cat zebra"), (2L, "dog log"))
    .toDF("query_id", "qtext")

  private def bm25Rows(df: DataFrame): Set[Seq[Long]] =
    df.select($"query_id", $"doc_id", $"score_ppm", $"rnk".cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => Seq(r._1, r._2, r._3, r._4)).toSet

  private def phraseQueries = Seq((1L, "the cat"), (2L, "sat on"),
    (3L, "zebra zebra")).toDF("query_id", "qtext")

  private def phraseRows(df: DataFrame): Set[Seq[Long]] =
    df.select($"query_id", $"doc_id", $"phrase_tf", $"rnk".cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => Seq(r._1, r._2, r._3, r._4)).toSet

  private val cases = Seq(
    Case("lm", IndexIngest.Lm(3), lmTrain,
      idx => lmRows(Lm.lmScoreIndexK(lmScored, "text", "doc_id", idx)),
      docs => lmRows(Lm.lmScoreK(docs, lmScored, "text", "doc_id", k = 3)),
      (df, idx, id) => Lm.lmIndexAppendBatchK(df, "text", "doc_id", idx, id),
      Some((Lm.lmIndexTotalsK(spark, _), (12L, 6L)))), // one doc empty
    Case("bm25", IndexIngest.Bm25, corpus,
      idx => bm25Rows(Retrieval.bm25SearchIndex(bm25Queries, idx, k = 10)),
      docs => bm25Rows(Retrieval.bm25TopK(docs, bm25Queries, k = 10)),
      (df, idx, id) => Retrieval.bm25IndexAppendBatch(df, "text", "doc_id", idx, id),
      // 6+6+4+5+3+3 admitted tokens
      Some((Retrieval.bm25IndexTotals(spark, _), (corpus.length.toLong, 27L)))),
    // the selective search reads the stats slice the batches accumulated
    Case("phrase", IndexIngest.Phrase, corpus,
      idx => {
        val plain = phraseRows(Retrieval.phraseSearchIndex(phraseQueries, idx, k = 10))
        assert(phraseRows(Retrieval.phraseSearchIndexSelective(
          phraseQueries, idx, k = 10)) == plain)
        plain
      },
      docs => phraseRows(Retrieval.phraseTopK(docs, phraseQueries, k = 10)),
      (df, idx, id) => Retrieval.phraseIndexAppendBatch(df, "text", "doc_id", idx, id),
      None))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A file-drop stream over `docs`, one file (= one micro-batch) per
    * group. */
  private def source(batches: Seq[Seq[(Long, String)]]): DataFrame = {
    val srcDir = tmp("graft-ii-src-")
    batches.foreach(b =>
      b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir))
    Streams.fileSource(spark, srcDir, spark.read.parquet(srcDir).schema,
      maxFilesPerTrigger = Some(1))
  }

  /** Drain `c.docs` in three batches; returns the index dir and the
    * (batchId, rows, applied) callbacks. */
  private def drain(c: Case, compactEvery: Int): (String, Seq[(Long, Long, Boolean)]) = {
    val idx = tmp(s"graft-ii-${c.name}-") + "/index"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    IndexIngest.run(source(c.docs.grouped(2).toSeq), "text", "doc_id", idx,
      c.family, compactEvery, (id, n, applied) => seen += ((id, n, applied)))
    assert(seen.map(_._2).sum == c.docs.length, s"ingested rows: $seen")
    assert(seen.map(_._1).distinct.size == 3) // one callback per non-empty batch
    assert(seen.forall(_._3), "a first-delivery batch reported skipped")
    (idx, seen.toSeq)
  }

  private def checkTotals(c: Case, idx: String): Unit =
    c.totals.foreach { case (read, want) => assert(read(idx) == want) }

  cases.foreach { c =>
    test(s"${c.name}: drained ingest equals a one-shot build (bootstrap + appends)") {
      val (idx, _) = drain(c, compactEvery = 0)
      assert(c.got(idx) == c.want(c.docs.toDF("doc_id", "text")))
      checkTotals(c, idx)
    }

    test(s"${c.name}: per-batch compaction cadence preserves answers") {
      val (idx, _) = drain(c, compactEvery = 1)
      assert(c.got(idx) == c.want(c.docs.toDF("doc_id", "text")))
    }

    test(s"${c.name}: redelivered batches are skipped, answers unchanged") {
      val (idx, seen) = drain(c, compactEvery = 2)
      val want = c.want(c.docs.toDF("doc_id", "text"))
      assert(c.got(idx) == want)
      // foreachBatch's at-least-once replay after a crash: every
      // admitted batch id again, each skipped by its marker or the fold
      // watermark
      val all = c.docs.toDF("doc_id", "text")
      seen.foreach { case (id, _, _) => assert(!c.append(all, idx, id)) }
      assert(c.got(idx) == want)
      checkTotals(c, idx)
    }
  }

  test("lm: a scorer between batches sees exactly the model of batches 0..N") {
    // the standing CCNet loop: ingest advances the on-disk model while a
    // scorer reads it BETWEEN batches — after each commit, index scores
    // must equal an ad-hoc model trained on precisely the batches
    // admitted so far (the on-disk artifact IS the ingest frontier)
    val idx = tmp("graft-ii-live-") + "/model"
    // DISTINCT batch sizes, so the callback's row count identifies which
    // file was admitted (file order isn't guaranteed)
    val files = Seq(
      Seq((0L, "a b a")),
      Seq((2L, "a b"), (4L, "b c a")),
      Seq((6L, "b a b"), (8L, "a c"), (10L, "c a")))
    val bySize = files.map(f => f.size.toLong -> f).toMap
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    // (batch rows, index scores, ad-hoc scores) captured per commit;
    // asserted after the drain so a mismatch fails the test, not the
    // stream thread
    val snaps = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[Seq[Long]], Set[Seq[Long]])]
    IndexIngest.run(source(files), "text", "doc_id", idx, IndexIngest.Lm(2),
      onBatch = (_, n, _) => {
        admitted ++= bySize(n)
        snaps += ((n,
          lmRows(Lm.lmScoreIndexK(lmScored, "text", "doc_id", idx)),
          lmRows(Lm.lmScoreK(admitted.toSeq.toDF("doc_id", "text"), lmScored,
            "text", "doc_id", k = 2))))
      })
    assert(snaps.size == 3, s"expected 3 commits, saw ${snaps.size}")
    snaps.zipWithIndex.foreach { case ((n, got, want), i) =>
      assert(got == want, s"after batch $i (rows=$n): index != ad-hoc(0..$i)")
    }
  }

  test("bm25: fresh-checkpoint restart under a fresh stream id keeps appending " +
      "(stream-scoped markers close the batchId collision trap)") {
    val idx = tmp("graft-ii-sid-") + "/index"
    val (half1, half2) = corpus.splitAt(4)
    // every run takes a FRESH checkpoint, so each lineage restarts
    // batchId at 0 — exactly the restart shape the stream id exists to
    // disambiguate
    def drainAs(docs: Seq[(Long, String)], streamId: String): Unit =
      IndexIngest.run(source(docs.grouped(2).toSeq), "text", "doc_id", idx,
        IndexIngest.Bm25, streamId = streamId)
    drainAs(half1, "lineage-a") // bootstraps; batch ids 0, 1
    drainAs(half2, "lineage-b") // fresh lineage, batch id 0 again — applies
    val all = corpus.toDF("doc_id", "text")
    assert(bm25Rows(Retrieval.bm25SearchIndex(bm25Queries, idx, k = 10)) ==
      bm25Rows(Retrieval.bm25TopK(all, bm25Queries, k = 10)))
    assert(Retrieval.bm25IndexTotals(spark, idx) == ((corpus.length.toLong, 27L)))
    // the trap itself, pinned: replaying a lineage REUSES its stream id
    // (the checkpoint-kept restart), and every batch is skipped
    drainAs(half2, "lineage-b")
    assert(Retrieval.bm25IndexTotals(spark, idx) == ((corpus.length.toLong, 27L)))
  }
}
