package graft.streaming

import graft.SparkSpec
import graft.llm.Dedup

/** Streaming span-level dedup against the persisted window index:
  * micro-batches lose every token run already admitted (ever), plus
  * intra-batch runs beyond the min-id copy; whole docs survive as
  * rewrites, not drops. Batch ORDER over the file source is pinned with
  * maxFilesPerTrigger=1 + one file per batch written in sequence. */
class StreamingSpanCutSpec extends SparkSpec {
  import spark.implicits._

  private def uniq(tag: String, n: Int): String =
    (1 to n).map(i => s"u${tag}_$i").mkString(" ")
  private val run = (1 to 10).map(i => s"s$i").mkString(" ")

  test("cross-batch and intra-batch runs are cut; clean docs pass intact") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ssc-idx-").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ssc-src-").toString

    // corpus: the run exists in history before any batch arrives
    Dedup.spanBuildIndex(
      Seq((1L, s"${uniq("c", 8)} $run")).toDF("doc_id", "text"),
      "doc_id", "text", idx, w = 8)

    val batch1 = Seq(
      (100L, s"${uniq("a", 6)} $run ${uniq("b", 5)}"), // historical run -> cut
      (101L, uniq("fresh", 20)))                       // novel -> intact, admitted
    val batch2 = Seq(
      (200L, s"${uniq("x", 4)} ${uniq("fresh", 20)}"), // 101's text, admitted in b1 -> cut
      (201L, s"${uniq("y", 9)} ${uniq("z", 9)}"),      // intra-batch keeper (min id)...
      (202L, s"${uniq("z", 9)} ${uniq("w", 9)}"))      // ...201's z-run duplicated -> cut?
    // NOTE: 201/202 share only the 9-token z-run; with w=8 the shared
    // windows exist (9-8+1=2 per doc), keeper = 201 keeps its copy.
    Seq(batch1, batch2).foreach(b =>
      b.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir))

    val schema = spark.read.parquet(srcDir).schema
    val src = Streams.fileSource(spark, srcDir, schema, maxFilesPerTrigger = Some(1))
    val out = scala.collection.mutable.Map.empty[Long, String]
    StreamingSpanCut.run(src, "text", "doc_id", idx,
      (clean, _) => clean.as[(Long, String)].collect().foreach {
        case (id, t) => out(id) = t
      })

    // file-source batch order follows file modification order here; if it
    // ever flips, 100/101 vs 200 assertions catch it loudly
    assert(out(100L) == s"${uniq("a", 6)} ${uniq("b", 5)}", out(100L))
    assert(out(101L) == uniq("fresh", 20), out(101L))
    assert(out(200L) == uniq("x", 4), out(200L))
    assert(out(201L) == s"${uniq("y", 9)} ${uniq("z", 9)}", out(201L))
    assert(out(202L) == uniq("w", 9), out(202L))
    assert(out.size == 5)

    // a doc that is ENTIRELY historical text vanishes instead of
    // surviving empty
    val idx2 = idx // same index, now holding all admitted text
    val probe = Seq((900L, uniq("fresh", 20))).toDF("doc_id", "text")
    val spans = Dedup.spanIndexMatches(probe, "doc_id", "text", idx2)
    val applied = Dedup.applySpanCuts(probe, spans)
    assert(applied.count() == 0, "fully-historical doc must drop")
  }

  test("a second run over the same index admits its text; a later batch cuts it") {
    // each run takes a fresh checkpoint, so its batch ids restart at 0:
    // the second run's batch 0 must not be mistaken for the first run's
    val idx = java.nio.file.Files.createTempDirectory("graft-ssc-rerun-").toString
    Dedup.spanBuildIndex(Seq((1L, uniq("c", 12))).toDF("doc_id", "text"),
      "doc_id", "text", idx, w = 8)
    def drain(batches: Seq[Seq[(Long, String)]]): Map[Long, String] = {
      val srcDir = java.nio.file.Files.createTempDirectory("graft-ssc-rsrc-").toString
      batches.foreach(b =>
        b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir))
      val src = Streams.fileSource(spark, srcDir,
        spark.read.parquet(srcDir).schema, maxFilesPerTrigger = Some(1))
      val out = scala.collection.mutable.Map.empty[Long, String]
      StreamingSpanCut.run(src, "text", "doc_id", idx,
        (clean, _) => clean.as[(Long, String)].collect().foreach {
          case (id, t) => out(id) = t
        })
      out.toMap
    }
    assert(drain(Seq(Seq((100L, uniq("first", 12))))) ==
      Map(100L -> uniq("first", 12)))
    val second = drain(Seq(
      Seq((200L, uniq("second", 12))),                      // admitted
      Seq((300L, s"${uniq("second", 12)} ${uniq("n", 9)}")))) // cut
    assert(second(200L) == uniq("second", 12), second)
    assert(second(300L) == uniq("n", 9), second)
  }
}
