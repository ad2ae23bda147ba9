package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Lm]]: CCNet-style order-k stupid-backoff quality scoring, the
  * integer fixed-point arithmetic hand-checked at k = 2, 3 and 5, and
  * the persisted model lifecycle (build/append/compact/recover) pinned
  * row-identical to the ad-hoc path. */
class LmSpec extends SparkSpec {
  import spark.implicits._

  // train = even ids (the oracle's doc_id % 2 = 0 discipline)
  private lazy val corpus = Seq(
    (0L, "a b a"),
    (1L, "b c"),
    (2L, "a b"),
    (3L, "a a"),
    (4L, ""),
    (5L, "a b a b")
  ).toDF("doc_id", "text")
  private lazy val train = corpus.filter($"doc_id" % 2 === 0)

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-lm-spec-").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select($"doc_id", $"ntok", $"lm_score_ppm")
      .as[(Long, Long, Long)].collect().toSet

  // Hand-derivation. Train rows: d0 [a b a], d2 [a b], d4 [] ->
  // T = 5, c1: a=3 b=2; c2: (a,b)=2 (b,a)=1.
  //  d0 "a b a":   600000 + 2000000 div 3 + 500000 = 1766666 -> div 3 = 588888
  //  d1 "b c":     400000 + 0 (c unseen)           =  400000 -> div 2 = 200000
  //  d2 "a b":     600000 + 666666                 = 1266666 -> div 2 = 633333
  //  d3 "a a":     600000 + backoff 1200000 div 5  =  840000 -> div 2 = 420000
  //  d5 "a b a b": 600000 + 666666 + 500000 + 666666 = 2433332 -> div 4 = 608333
  //  d4 "": no tokens -> no row
  private val expected = Set(
    (0L, 3L, 588888L), (1L, 2L, 200000L), (2L, 2L, 633333L),
    (3L, 2L, 420000L), (5L, 4L, 608333L))

  test("stupid-backoff fixed-point scoring matches the hand derivation") {
    assert(rows(Lm.lmScoreK(train, corpus, "text", "doc_id", k = 2)) == expected)
  }

  test("head/middle/tail buckets equal ntile over (score desc, ntok, doc_id)") {
    val scored = Lm.lmScoreK(train, corpus, "text", "doc_id", k = 2)
    val got = Lm.lmQualityBuckets(scored, nBuckets = 3)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toMap
    // desc order: d2 633333, d5 608333, d0 588888, d3 420000, d1 200000
    // ntile(3) over 5 rows -> sizes 2/2/1
    assert(got == Map(2L -> 1, 5L -> 1, 0L -> 2, 3L -> 2, 1L -> 3))
    // sampled-cutoff path (the 100-TB shape): assignment is pure
    // map-side and monotone in the ordering for ANY cutoff set
    val cuts = Lm.lmBucketCutoffs(scored.filter($"doc_id" =!= 5L), 3)
    val sampled = Lm.lmAssignBuckets(scored, cuts)
      .select($"doc_id", $"lm_score_ppm", $"bucket")
      .as[(Long, Long, Int)].collect().sortBy(-_._2)
    assert(sampled.map(_._3).toSeq == sampled.map(_._3).sorted.toSeq)
    // fewer rows than buckets keeps ntile semantics (one row per bucket)
    val tiny = Lm.lmQualityBuckets(scored.filter($"doc_id" <= 1L), 3)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toMap
    assert(tiny == Map(0L -> 1, 1L -> 2))
    // past the exact budget, cutoffs come from a deterministic
    // hash-thinned sample: assignment stays monotone in the ordering
    // and buckets stay within range (the documented approximation)
    val approx = Lm.lmQualityBuckets(scored, nBuckets = 3, maxExactRows = 2L)
      .select($"doc_id", $"lm_score_ppm", $"bucket")
      .as[(Long, Long, Int)].collect().sortBy(-_._2)
    assert(approx.map(_._3).toSeq == approx.map(_._3).sorted.toSeq)
    assert(approx.forall(r => r._3 >= 1 && r._3 <= 3))
  }

  test("empty training corpus scores every document 0") {
    val got = rows(Lm.lmScoreK(corpus.filter($"doc_id" < 0), corpus,
      "text", "doc_id", k = 2))
    assert(got.nonEmpty && got.forall(_._3 == 0L))
  }

  test("empty-string tokens drop before adjacency (double spaces)") {
    val spaced = Seq((0L, "a  b a"), (2L, "a b "), (4L, "  "))
      .toDF("doc_id", "text")
    // same cleaned token streams as train -> identical model, and the
    // all-spaces doc neither trains nor scores
    val a = rows(Lm.lmScoreK(spaced, corpus, "text", "doc_id", k = 2))
    val b = rows(Lm.lmScoreK(train, corpus, "text", "doc_id", k = 2))
    assert(a == b)
  }

  test("persisted model: build+append+compact is row-identical to ad-hoc") {
    val dir = freshDir()
    Lm.lmBuildIndexK(corpus.filter($"doc_id" === 0L), "text", "doc_id", dir,
      k = 2)
    Lm.lmIndexAppendBatchK(corpus.filter($"doc_id" === 2L), "text", "doc_id",
      dir, batchId = 1L)
    Lm.lmIndexAppendBatchK(corpus.filter($"doc_id" === 4L), "text", "doc_id",
      dir, batchId = 2L)
    // pre-compact: increments fold on read
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir)) == expected)
    Lm.lmIndexCompactK(spark, dir)
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir)) == expected)
    // totals advanced across appends: t = 5 train tokens, 3 docs,
    // order 2 preserved
    val ord = spark.read.parquet(s"$dir/meta").head().getLong(2)
    assert((Lm.lmIndexTotalsK(spark, dir), ord) == (((5L, 3L), 2L)))
  }

  // Trigram hand-derivation over the same train (c3: only (a,b,a)=1 from d0):
  //  d0 "a b a":   600000 + 666666 + tri 1000000 div 2 = 1766666 -> 588888
  //  d1 "b c":     400000 + 0                          ->  200000
  //  d2 "a b":     600000 + 666666                     ->  633333
  //  d3 "a a":     600000 + backoff 240000             ->  420000
  //  d5 "a b a b": 600000 + 666666 + 500000
  //                + (b,a,b) unseen -> bi backoff (a,b): 2*400000 div 3
  //                = 266666 -> 2033332 div 4 = 508333 (bigram model: 608333)
  private val expected3 = Set(
    (0L, 3L, 588888L), (1L, 2L, 200000L), (2L, 2L, 633333L),
    (3L, 2L, 420000L), (5L, 4L, 508333L))

  test("trigram scoring matches the hand derivation (two-level backoff)") {
    assert(rows(Lm.lmScoreK(train, corpus, "text", "doc_id", k = 3)) == expected3)
  }

  test("order-3 persisted model: lifecycle is row-identical to ad-hoc trigram") {
    val dir = freshDir()
    Lm.lmBuildIndexK(corpus.filter($"doc_id" === 0L), "text", "doc_id", dir,
      k = 3)
    Lm.lmIndexAppendBatchK(corpus.filter($"doc_id" === 2L), "text", "doc_id",
      dir, batchId = 1L)
    Lm.lmIndexAppendBatchK(corpus.filter($"doc_id" === 4L), "text", "doc_id",
      dir, batchId = 2L)
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir)) == expected3)
    Lm.lmIndexCompactK(spark, dir)
    assert(Lm.lmIndexRecoverK(spark, dir))
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir)) == expected3)
    val ord = spark.read.parquet(s"$dir/meta").head().getLong(2)
    assert((Lm.lmIndexTotalsK(spark, dir), ord) == (((5L, 3L), 3L))) // appends preserve the order
  }

  test("count-cutoff pruning drops rare bigrams to backoff") {
    val dir = freshDir()
    Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
    Lm.lmIndexCompactK(spark, dir, minCount = 2L)
    // c2(b,a)=1 pruned -> d0 pos2 backs off: 600000 + 666666 + 240000
    // = 1506666 div 3 = 502222; d5 likewise loses its (b,a) pair
    val got = rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir))
    assert(got == Set(
      (0L, 3L, 502222L), (1L, 2L, 200000L), (2L, 2L, 633333L),
      (3L, 2L, 420000L),
      (5L, 4L, (600000L + 666666L + 240000L + 666666L) / 4)))
  }

  test("scoring resolves generation N while N+1 is mid-write (concurrent compact)") {
    val dir = freshDir()
    Lm.lmBuildIndexK(corpus.filter($"doc_id" === 0L), "text", "doc_id", dir,
      k = 2)
    Lm.lmIndexAppendBatchK(corpus.filter($"doc_id" === 2L), "text", "doc_id",
      dir, batchId = 1L)
    Lm.lmIndexAppendBatchK(corpus.filter($"doc_id" === 4L), "text", "doc_id",
      dir, batchId = 2L)
    def score() = rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir))
    assert(score() == expected)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a compaction MID-WRITE on the count slice: uncommitted garbage
    // generation — scorers must never resolve it
    val midWrite = new org.apache.hadoop.fs.Path(s"$dir/grams.gen-1")
    fs.mkdirs(midWrite)
    assert(score() == expected, "a scorer resolved an uncommitted generation")
    Lm.lmIndexCompactK(spark, dir)
    assert(score() == expected)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/grams.gen-1/_GEN_COMMITTED")))
    // previous generation survives one compaction, GC'd by the next
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/grams")))
    Lm.lmIndexCompactK(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/grams")),
      "two-generation retention should have GC'd generation 0")
    assert(score() == expected)
    // appends keep landing beside the current generation; reads still fold
    Lm.lmIndexAppendBatchK(corpus.filter($"doc_id" === 2L), "text", "doc_id",
      dir, batchId = 3L)
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir)) ==
      rows(Lm.lmScoreK(train.union(corpus.filter($"doc_id" === 2L)),
        corpus, "text", "doc_id", k = 2)))
  }

  test("half-built model (no meta) reports incomplete") {
    val dir = freshDir()
    Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta"), true)
    assert(!Lm.lmIndexRecoverK(spark, dir))
  }

  test("recover deletes a killed staged write's .stage-* dir; scores unchanged") {
    val dir = freshDir()
    Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what a kill -9 inside the one-job staged write leaves: a staging
    // dir beside the slices holding (ord, pt)-partitioned part files
    val stage = new org.apache.hadoop.fs.Path(
      s"$dir/.stage-${java.util.UUID.randomUUID()}")
    Seq(("a", 100L)).toDF("gram", "c")
      .write.parquet(s"$stage/ord=1/pt=0")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$stage/ord=1/pt=0"))
      .exists(_.getPath.getName.endsWith(".parquet")))
    assert(Lm.lmIndexRecoverK(spark, dir))
    assert(!fs.exists(stage), "recover left the orphaned staging dir")
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir)) == expected)
  }

  test("retry contract: a redelivered batch append is skipped") {
    val batch = corpus.filter($"doc_id" === 2L)
    def adhoc(t: org.apache.spark.sql.DataFrame) =
      rows(Lm.lmScoreK(t, corpus, "text", "doc_id", k = 2))
    // the same batch id is a skip
    val xo = freshDir()
    Lm.lmBuildIndexBatchK(train, "text", "doc_id", xo, k = 2, batchId = 0L)
    assert(Lm.lmIndexAppendBatchK(batch, "text", "doc_id", xo, batchId = 1L))
    assert(!Lm.lmIndexAppendBatchK(batch, "text", "doc_id", xo, batchId = 1L))
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", xo)) ==
      adhoc(train.union(batch)))
  }

  // ---- order-general (k as a parameter) --------------------------------

  test("order-k scorer at k = 2 and 3 is row-identical to the hand-rolled paths") {
    assert(rows(Lm.lmScoreK(train, corpus, "text", "doc_id", k = 2)) == expected)
    assert(rows(Lm.lmScoreK(train, corpus, "text", "doc_id", k = 3)) == expected3)
  }

  // 5-gram hand-derivation. Train (even ids): d0 [v w x y z],
  // d2 [v w x y q] -> T = 10; c1: v,w,x,y = 2, z,q = 1; the full
  // 2..5-gram chains of both docs with counts 2 on shared prefixes.
  //  d0 "v w x y z": 200000 + 1e6 + 1e6 + 1e6 + (c5=1)*1e6 div (c4=2)
  //                 = 3700000 div 5 = 740000  (d2, d3 identical shape)
  //  d1 "w x y z q": 200000 + 1e6 + 1e6 + (c4=1)*1e6 div (c3=2)
  //                 + q unseen in every order -> uni backoff
  //                   0.4^4: (1 * 25600) div 10 = 2560
  //                 = 2702560 div 5 = 540512
  private lazy val corpus5 = Seq(
    (0L, "v w x y z"), (1L, "w x y z q"),
    (2L, "v w x y q"), (3L, "v w x y z")
  ).toDF("doc_id", "text")
  private val expected5 = Set(
    (0L, 5L, 740000L), (1L, 5L, 540512L),
    (2L, 5L, 740000L), (3L, 5L, 740000L))

  test("order-5 scoring matches the hand derivation (four-level backoff)") {
    val train5 = corpus5.filter($"doc_id" % 2 === 0)
    assert(rows(Lm.lmScoreK(train5, corpus5, "text", "doc_id", k = 5)) ==
      expected5)
  }

  test("order-5 persisted lifecycle is row-identical to the ad-hoc scorer") {
    val dir = freshDir()
    val train5 = corpus5.filter($"doc_id" % 2 === 0)
    Lm.lmBuildIndexK(corpus5.filter($"doc_id" === 0L), "text", "doc_id",
      dir, k = 5)
    Lm.lmIndexAppendBatchK(corpus5.filter($"doc_id" === 2L), "text", "doc_id",
      dir, batchId = 1L)
    assert(rows(Lm.lmScoreIndexK(corpus5, "text", "doc_id", dir)) == expected5)
    Lm.lmIndexCompactK(spark, dir)
    assert(Lm.lmIndexRecoverK(spark, dir))
    assert(rows(Lm.lmScoreIndexK(corpus5, "text", "doc_id", dir)) == expected5)
    val ord = spark.read.parquet(s"$dir/meta").head().getLong(2)
    assert((Lm.lmIndexTotalsK(spark, dir), ord) == (((10L, 2L), 5L))) // t, n_docs, order
    // every order folded to one row per gram
    val unfolded = IndexStore.read(spark, dir, Lm.LmModel.primary)
      .filter($"ord" === 5).groupBy($"gram").count().filter($"count" > 1).count()
    assert(unfolded == 0, "compact left multiple generations per gram")
    // ad-hoc parity on the identical train split
    assert(rows(Lm.lmScoreK(train5, corpus5, "text", "doc_id", k = 5)) ==
      rows(Lm.lmScoreIndexK(corpus5, "text", "doc_id", dir)))
  }

  test("order-k lifecycle matches the order-2 family on the same corpus") {
    val dir = freshDir()
    Lm.lmBuildIndexK(train, "text", "doc_id", dir, k = 2)
    assert(rows(Lm.lmScoreIndexK(corpus, "text", "doc_id", dir)) == expected)
  }

  test("order-k model missing a slice reports incomplete; bad orders refused") {
    val dir = freshDir()
    Lm.lmBuildIndexK(corpus5.filter($"doc_id" % 2 === 0), "text", "doc_id",
      dir, k = 5)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/grams"), true)
    assert(!Lm.lmIndexRecoverK(spark, dir))
    intercept[IllegalArgumentException] {
      Lm.lmScoreK(train, corpus, "text", "doc_id", k = 1)
    }
    intercept[IllegalArgumentException] {
      Lm.lmScoreK(train, corpus, "text", "doc_id", k = 8)
    }
  }
}
