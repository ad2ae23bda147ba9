package graft.llm

import java.nio.file.Files

import graft.SparkSpec

/** The persisted exact-substring index ([[Dedup.spanBuildIndex]] /
  * `spanIndexMatches` / `spanIndexAppendBatch`): planted-answer matching,
  * corpus-only semantics (batch-internal dups invisible), novel-only
  * append convergence, and the append round-trip. */
class SpanIndexSpec extends SparkSpec {
  import spark.implicits._

  private def uniq(tag: String, n: Int): String =
    (1 to n).map(i => s"u${tag}_$i").mkString(" ")
  private val shared = (1 to 12).map(i => s"s$i").mkString(" ")
  /** Windows the index holds: live generation + committed increments. */
  private def windows(dir: String): Long =
    IndexStore.read(spark, dir, Dedup.Windows).count()

  test("matches report exactly the corpus-covered spans of a batch") {
    val dir = Files.createTempDirectory("graft-span-idx-spec-").toString
    val corpus = Seq(
      (1L, s"${uniq("c1", 6)} $shared ${uniq("c1b", 5)}"),
      (2L, uniq("c2", 30))).toDF("doc_id", "text")
    Dedup.spanBuildIndex(corpus, "doc_id", "text", dir, w = 8)
    val batch = Seq(
      // shared run at batch positions 4..15 -> one span (4, 15)
      (100L, s"${uniq("b1", 4)} $shared ${uniq("b1b", 7)}"),
      // nothing from the corpus -> no spans, even though b2a==b2a windows
      // repeat INSIDE the batch doc (corpus-only semantics)
      (101L, s"${uniq("b2", 10)} ${uniq("b2", 10)}"),
      (102L, uniq("b3", 20))).toDF("doc_id", "text")
    val got = Dedup.spanIndexMatches(batch, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 4L, 15L, 12L)), got.toString)
  }

  test("append admits novel windows only, and they match the NEXT batch") {
    val dir = Files.createTempDirectory("graft-span-idx-spec2-").toString
    val corpus = Seq((1L, uniq("c", 30))).toDF("doc_id", "text")
    Dedup.spanBuildIndex(corpus, "doc_id", "text", dir, w = 8)
    val sizeAfterBuild = windows(dir)
    assert(sizeAfterBuild == 30 - 8 + 1)

    // re-appending the corpus itself adds NOTHING (novel-only)
    assert(Dedup.spanIndexAppendBatch(corpus, "doc_id", "text", dir, batchId = 0L))
    assert(windows(dir) == sizeAfterBuild)

    // batch1 carries a new run; before append the index cannot see it
    val batch1 = Seq((10L, s"${uniq("n", 3)} $shared")).toDF("doc_id", "text")
    assert(Dedup.spanIndexMatches(batch1, "doc_id", "text", dir).count() == 0)
    assert(Dedup.spanIndexAppendBatch(batch1, "doc_id", "text", dir, batchId = 1L))
    val sizeAfterBatch1 = windows(dir)
    assert(sizeAfterBatch1 > sizeAfterBuild)

    // batch2 repeats batch1's run -> now flagged from the index alone
    val batch2 = Seq((20L, s"$shared ${uniq("m", 6)}")).toDF("doc_id", "text")
    val got = Dedup.spanIndexMatches(batch2, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((20L, 0L, 11L, 12L)), got.toString)

    // appending batch2 adds only its novel windows (the ones crossing
    // from the shared run into its unique tail)
    assert(Dedup.spanIndexAppendBatch(batch2, "doc_id", "text", dir, batchId = 2L))
    val sizeAfterBatch2 = windows(dir)
    // batch2 has 18-8+1=11 windows, 5 fully inside the shared run are
    // already indexed (12-8+1), so 6 are novel
    assert(sizeAfterBatch2 == sizeAfterBatch1 + 6,
      s"$sizeAfterBatch1 -> $sizeAfterBatch2")
  }

  test("span matches resolve generation N while N+1 is mid-write") {
    val dir = Files.createTempDirectory("graft-span-idx-gen-").toString
    val corpus = Seq((1L, s"${uniq("c", 10)} $shared")).toDF("doc_id", "text")
    Dedup.spanBuildIndex(corpus, "doc_id", "text", dir, w = 8)
    Dedup.spanIndexAppendBatch(Seq((2L, uniq("g", 20))).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 1L)
    val batch = Seq((50L, s"$shared ${uniq("z", 4)}")).toDF("doc_id", "text")
    def matches(): Set[(Long, Long, Long, Long)] =
      Dedup.spanIndexMatches(batch, "doc_id", "text", dir)
        .as[(Long, Long, Long, Long)].collect().toSet
    val want = matches()
    assert(want.nonEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // uncommitted mid-write generation: readers must not resolve it
    val midWrite = new org.apache.hadoop.fs.Path(s"$dir/windows.gen-1")
    fs.mkdirs(midWrite)
    assert(matches() == want, "a match resolved an uncommitted generation")
    Dedup.spanIndexCompact(spark, dir)
    assert(matches() == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/windows.gen-1/_GEN_COMMITTED")))
    // two-generation retention, then GC on the next compaction
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/windows")))
    Dedup.spanIndexCompact(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/windows")))
    assert(matches() == want)
    assert(Dedup.spanIndexRecover(spark, dir))
  }

  test("spanIndexCompact: matches unchanged, window file set collapses") {
    val dir = Files.createTempDirectory("graft-span-idx-compact-").toString
    val corpus = Seq((1L, s"${uniq("c", 10)} $shared")).toDF("doc_id", "text")
    Dedup.spanBuildIndex(corpus, "doc_id", "text", dir, w = 8)
    (0 until 3).foreach { i =>
      Dedup.spanIndexAppendBatch(
        Seq((100L + i, uniq(s"g$i", 20))).toDF("doc_id", "text"),
        "doc_id", "text", dir, batchId = i.toLong)
    }
    // the files a read opens: live generation + committed increments
    def files(): Int = IndexStore.read(spark, dir, Dedup.Windows).inputFiles.length
    val batch = Seq((50L, s"$shared ${uniq("z", 4)}")).toDF("doc_id", "text")
    val before = Dedup.spanIndexMatches(batch, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val rows0 = windows(dir)
    val f0 = files()

    Dedup.spanIndexCompact(spark, dir)

    assert(Dedup.spanIndexMatches(batch, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect().toSet == before)
    assert(before.nonEmpty)
    assert(windows(dir) == rows0)
    assert(files() < f0, s"compaction did not shrink: $f0 -> ${files()}")
    assert(Dedup.spanIndexParams(spark, dir) == 8)
  }

  test("matches against an index agree with dupSpans over the union") {
    // cross-side parity: dupSpans on corpus+batch, restricted to batch
    // docs, equals the index report when the batch shares nothing
    // batch-internally and ids don't collide
    val dir = Files.createTempDirectory("graft-span-idx-spec3-").toString
    val corpus = Seq(
      (1L, s"${uniq("p", 9)} $shared"),
      (2L, uniq("q", 25))).toDF("doc_id", "text")
    val batch = Seq(
      (100L, s"$shared ${uniq("r", 4)}"),
      (101L, uniq("t", 15))).toDF("doc_id", "text")
    Dedup.spanBuildIndex(corpus, "doc_id", "text", dir, w = 8)
    val viaIndex = Dedup.spanIndexMatches(batch, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaUnion = Dedup.dupSpans(corpus.unionByName(batch), w = 8)
      .filter("doc_id >= 100")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaIndex == viaUnion, s"$viaIndex vs $viaUnion")
  }

  test("mismatched window size is impossible: w rides the meta slice") {
    val dir = Files.createTempDirectory("graft-span-idx-spec4-").toString
    val corpus = Seq((1L, uniq("c", 20))).toDF("doc_id", "text")
    Dedup.spanBuildIndex(corpus, "doc_id", "text", dir, w = 5)
    // a batch that shares a 5-token run (below the default w=8) still
    // matches, because the batch signs itself with the INDEX's w=5
    val run5 = (1 to 5).map(i => s"uc_$i").mkString(" ") // = first 5 corpus tokens
    val batch = Seq((10L, s"${uniq("z", 7)} $run5")).toDF("doc_id", "text")
    val got = Dedup.spanIndexMatches(batch, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 7L, 11L, 5L)), got.toString)
  }
}
