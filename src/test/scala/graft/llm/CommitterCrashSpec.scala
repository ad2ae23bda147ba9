package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Crash-sim coverage for the committer split the session runs under:
  * v2 (task commits land directly) for marker-protected writes, v1 per
  * write for in-place appends ([[GenDir.V1AppendCommitter]]). Each test
  * constructs the exact on-disk state a mid-job crash leaves and
  * asserts recover/read treat it as the protocols promise — the r15
  * verdict flagged that these semantics were argued, never evidenced. */
class CommitterCrashSpec extends SparkSpec {
  import spark.implicits._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(pfx: String): String =
    java.nio.file.Files.createTempDirectory(pfx).toString

  private lazy val train = Seq((0L, "a b a"), (2L, "b c a")).toDF("doc_id", "text")
  private lazy val batch = Seq((4L, "a b"), (6L, "c b a")).toDF("doc_id", "text")
  private lazy val docs = Seq((0L, "a b a"), (1L, "b c"), (3L, "a a b"))
    .toDF("doc_id", "text")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select($"doc_id", $"ntok", $"lm_score_ppm")
      .as[(Long, Long, Long)].collect().toSet

  /** Drop a REAL task-committed parquet part file into `destDir` (what a
    * v2 task commit leaves when the job later dies): render `df` to a
    * scratch dir and copy its part file(s) over, never the _SUCCESS. */
  private def plantPartFiles(df: org.apache.spark.sql.DataFrame,
                             destDir: String): Unit = {
    val scratch = new org.apache.hadoop.fs.Path(tmp("graft-plant-"), "w")
    df.coalesce(1).write.parquet(scratch.toString)
    val dest = new org.apache.hadoop.fs.Path(destDir)
    fs.mkdirs(dest)
    fs.listStatus(scratch).filter(s => s.getPath.getName.endsWith(".parquet"))
      .foreach { s =>
        org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
          new org.apache.hadoop.fs.Path(dest, s.getPath.getName),
          false, spark.sparkContext.hadoopConfiguration)
      }
  }

  test("the per-write committer option reaches the Hadoop committer") {
    // FileOutputCommitter rejects any algorithm version outside 1..2 at
    // job setup — so an impossible version failing the write PROVES the
    // DataFrameWriter option is merged into the write's Hadoop conf,
    // the mechanism V1AppendCommitter rides
    val df = Seq((1L, "a")).toDF("id", "v")
    val ok = tmp("graft-commopt-") + "/out"
    df.write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(ok)
    assert(spark.read.parquet(ok).count() == 1L)
    val e = intercept[Throwable] {
      df.write.option("mapreduce.fileoutputcommitter.algorithm.version", "0")
        .parquet(tmp("graft-commopt-") + "/bad")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.toLowerCase.contains("algorithm")))
  }

  test("v2 build crash (task-committed slice files, no _SUCCESS, no meta) " +
    "reads as no index and rebuilds cleanly over the debris") {
    val dir = tmp("graft-crash-build-") + "/model"
    // the state a v2 mid-job crash of lmBuildIndexK leaves: some slice
    // part files already in the destination, _SUCCESS and meta never
    // written
    plantPartFiles(Seq(("a", 99L, 0)).toDF("gram", "c", "pt"),
      s"$dir/grams_1")
    assert(!GenDir.existsLiveComplete(spark, s"$dir/grams_1"))
    assert(!Lm.lmIndexRecoverK(spark, dir)) // "no index" -> rebuild path
    // the rebuild (resetAll) must flush the debris, not fold it in
    Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
    assert(Lm.lmIndexRecoverK(spark, dir))
    assert(rows(Lm.lmScoreIndexK(docs, "text", "doc_id", dir)) ==
      rows(Lm.lmScoreK(train, docs, "text", "doc_id", k = 2)))
  }

  test("v2 compaction crash (uncommitted generation dir with task-committed " +
    "files) is invisible to readers and healed by recover") {
    val dir = tmp("graft-crash-gen-") + "/model"
    Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
    val want = rows(Lm.lmScoreIndexK(docs, "text", "doc_id", dir))
    // a compactor died mid-rewrite under v2: generation dir exists with
    // real (wrong) data files but no _GEN_COMMITTED marker
    plantPartFiles(Seq(("a", 12345L, 0)).toDF("gram", "c", "pt"),
      s"$dir/grams_1.gen-1")
    assert(rows(Lm.lmScoreIndexK(docs, "text", "doc_id", dir)) == want)
    assert(Lm.lmIndexRecoverK(spark, dir)) // heals: deletes the stray gen
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/grams_1.gen-1")))
    assert(rows(Lm.lmScoreIndexK(docs, "text", "doc_id", dir)) == want)
  }

  test("v1 plain-append crash (_temporary debris, old _SUCCESS intact) " +
    "leaves the model row-identical and a retried append still lands") {
    val dir = tmp("graft-crash-append-") + "/model"
    Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
    val preAppend = rows(Lm.lmScoreIndexK(docs, "text", "doc_id", dir))
    // the state a v1 mid-job append crash leaves: every new row still
    // under _temporary, the slice's committed files and _SUCCESS untouched
    plantPartFiles(Seq(("zz", 7L, 3)).toDF("gram", "c", "pt"),
      s"$dir/grams_1/_temporary/0/_temporary/attempt_x_0000_m_000000_0")
    assert(GenDir.existsLiveComplete(spark, s"$dir/grams_1"))
    assert(rows(Lm.lmScoreIndexK(docs, "text", "doc_id", dir)) == preAppend)
    // the operational retry: a fresh append over the debris must land
    // exactly once and match the ad-hoc model of train + batch
    Lm.lmIndexAppendK(batch, "text", "doc_id", dir)
    assert(rows(Lm.lmScoreIndexK(docs, "text", "doc_id", dir)) ==
      rows(Lm.lmScoreK(train.union(batch), docs, "text", "doc_id", k = 2)))
  }

  test("a crash prefix of the sequential low-order-first append keeps " +
    "every backoff contribution within the ppm bound") {
    // simulate dying after the grams_1 move, before grams_2 and meta:
    // append the batch's ORDER-1 counts only, laid out as the staged
    // write does (gram, c, pt), into the live slice
    def crashAfterUnigrams(batch: org.apache.spark.sql.DataFrame): String = {
      val dir = tmp("graft-crash-prefix-") + "/model"
      Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
      val uni = batch
        .select(explode(graft.functions.TextFunctions.tokens($"text")).as("gram"))
        .groupBy($"gram").agg(count(lit(1)).as("c"))
        .withColumn("pt", pmod(xxhash64($"gram"), lit(Lm.TermBuckets)).cast("int"))
      uni.write.options(GenDir.V1AppendCommitter)
        .mode("append").partitionBy("pt")
        .parquet(GenDir.live(spark, s"$dir/grams_1"))
      dir
    }
    def scores(dir: String, scored: org.apache.spark.sql.DataFrame) =
      Lm.lmScoreIndexK(scored, "text", "doc_id", dir)
        .select($"lm_score_ppm").as[Long].collect()
    // inflated c1 (context) counts can only SHRINK bigram backoff
    // ratios — c_{n-1}(x_n) >= c_n(g_n) holds, so every contribution
    // stays a true ppm value; the reversed order would break the bound
    val small = scores(crashAfterUnigrams(batch), docs)
    assert(small.nonEmpty)
    assert(small.forall(s => s >= 0L && s <= 1000000L))
    // a batch that inflates one term's count PAST the stale total t:
    // the unigram branch c1 * 1e6 div t would exceed 1e6 ppm unclamped
    val dir = crashAfterUnigrams(Seq((8L, Seq.fill(12)("a").mkString(" ")))
      .toDF("doc_id", "text"))
    val staleT = spark.read.parquet(s"$dir/meta").head().getLong(0)
    val c1a = spark.read.parquet(GenDir.live(spark, s"$dir/grams_1"))
      .filter($"gram" === "a").agg(sum($"c")).head().getLong(0)
    assert(c1a > staleT, s"c1(a) = $c1a must exceed the stale t = $staleT")
    val heavy = scores(dir, docs.union(Seq((5L, "a"), (7L, "a a"))
      .toDF("doc_id", "text")))
    assert(heavy.length == 5)
    assert(heavy.forall(s => s >= 0L && s <= 1000000L), heavy.toSeq)
  }
}
