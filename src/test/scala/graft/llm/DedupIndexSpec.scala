package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted LSH dedup index (Dedup.lshBuildIndex / lshIndexMatches /
  * lshIndexAppend): the incremental batch-vs-corpus dedup loop. Expected
  * answers are brute-force word-shingle jaccard computed in plain Scala —
  * independent of every Spark-side expression under test. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(13)
  private val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "mu", "nu", "xi", "pi", "rho")

  private def randomDoc(len: Int): String =
    Seq.fill(len)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  private def shingleSet(text: String, n: Int): Set[String] =
    text.split(" ").toSeq.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  /** Exact (batchId, corpusId, jaccard-rounded-6dp) pairs >= threshold. */
  private def brute(batch: Seq[(Long, String)], corpus: Seq[(Long, String)],
                    n: Int, threshold: Double): Set[(Long, Long, Double)] =
    (for {
      (qid, qt) <- batch
      (cid, ct) <- corpus
      a = shingleSet(qt, n)
      b = shingleSet(ct, n)
      inter = (a intersect b).size
      j = BigDecimal(inter.toDouble / (a.size + b.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= threshold
    } yield (qid, cid, j)).toSet

  // corpus of 40 docs; batch of 12 where 5 are near-dups of corpus docs
  // (one word changed) and 1 is an exact copy
  private lazy val (corpusDocs, batchDocs) = {
    val corpus = (0L until 40L).map(i => (i, randomDoc(60)))
    val nearDups = corpus.take(5).map { case (i, text) =>
      val toks = text.split(" "); toks(30) = "CHANGED"
      (1000L + i, toks.mkString(" "))
    }
    val exactDup = Seq((1100L, corpus(7)._2))
    val fresh = (1200L until 1206L).map(i => (i, randomDoc(60)))
    (corpus, nearDups ++ exactDup ++ fresh)
  }

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-dedup-index-").toString

  test("index matches equal the exact quadratic batch-x-corpus jaccard") {
    val dir = freshDir()
    Dedup.lshBuildIndex(corpusDocs.toDF("doc_id", "text"), "text", "doc_id", dir)
    val got = Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
        "text", "doc_id", dir, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val want = brute(batchDocs, corpusDocs, n = 3, threshold = 0.5)
    assert(got == want)
    assert(want.size >= 6) // the 5 planted near-dups + the exact copy matched
  }

  test("append extends the index: appended docs become matchable") {
    val dir = freshDir()
    val (first, second) = corpusDocs.splitAt(20)
    Dedup.lshBuildIndex(first.toDF("doc_id", "text"), "text", "doc_id", dir)
    Dedup.lshIndexAppend(second.toDF("doc_id", "text"), "text", "doc_id", dir)
    val got = Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
        "text", "doc_id", dir, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute(batchDocs, corpusDocs, n = 3, threshold = 0.5))
  }

  test("query derives shingle/band parameters from the index meta") {
    val dir = freshDir()
    Dedup.lshBuildIndex(corpusDocs.toDF("doc_id", "text"), "text", "doc_id", dir,
      shingleN = 2, numBands = 8, rowsPerBand = 8)
    val got = Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
        "text", "doc_id", dir, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    // jaccard values are the 2-GRAM ones — proof the batch was signed and
    // verified with the index's parameters, not the defaults
    assert(got == brute(batchDocs, corpusDocs, n = 2, threshold = 0.6))
  }

  test("shingle slice is laid out in id_pt directories for catalog pruning") {
    val dir = freshDir()
    Dedup.lshBuildIndex(corpusDocs.toDF("doc_id", "text"), "text", "doc_id", dir)
    val parts = new java.io.File(s"$dir/shingles").listFiles()
      .filter(_.getName.startsWith("id_pt=")).map(_.getName)
    assert(parts.nonEmpty && parts.length <= Dedup.IndexIdBuckets)
    // a single-bucket filter plans with a partition-pruned scan: only the
    // matching directory's files are read
    val one = spark.read.parquet(s"$dir/shingles")
      .filter(col("id_pt") === parts.head.stripPrefix("id_pt=").toInt)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("id_pt"))
  }

  test("candidate broadcast is budget-gated: past the cap the verify join shuffles") {
    val dir = freshDir()
    Dedup.lshBuildIndex(corpusDocs.toDF("doc_id", "text"), "text", "doc_id", dir)
    def rowsOf(maxRows: Long): Set[(Long, Long, Double)] =
      Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
        "text", "doc_id", dir, threshold = 0.5, broadcastCandMaxRows = maxRows)
        .as[(Long, Long, Double)].collect().toSet
    val gatedRows = rowsOf(0L) // cap 0: force the shuffle fallback
    val defaultRows = rowsOf(4L << 20)
    // same answer either path
    assert(gatedRows == defaultRows)
    assert(gatedRows == brute(batchDocs, corpusDocs, n = 3, threshold = 0.5))
  }

  test("gated fallback plans the verify join without a candidate broadcast") {
    val dir = freshDir()
    Dedup.lshBuildIndex(corpusDocs.toDF("doc_id", "text"), "text", "doc_id", dir)
    // rebuild the verify join exactly as lshIndexMatches does, but keep
    // the plan inspectable (no localCheckpoint): candidate set vs corpus
    // shingles with and without the broadcast hint — the gate picks
    // between exactly these two plans
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cands = Seq((1000L, 0L), (1100L, 7L)).toDF("qid", "id")
      val idxSh = spark.read.parquet(s"$dir/shingles")
        .select(col("id"), col("sh").as("sh_b"))
      val gated = idxSh.join(cands, "id")
      gated.collect()
      val plan = gated.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("BroadcastExchange"),
        s"fallback path must not broadcast the candidates, got:\n$plan")
      val hinted = idxSh.join(broadcast(cands), "id")
      hinted.collect()
      assert(hinted.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head.contains("BroadcastExchange"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("lshIndexCompact: matches unchanged, file generations collapse") {
    val dir = freshDir()
    val chunks = corpusDocs.grouped(10).toSeq
    Dedup.lshBuildIndex(chunks.head.toDF("doc_id", "text"), "text", "doc_id", dir)
    chunks.tail.foreach(c =>
      Dedup.lshIndexAppend(c.toDF("doc_id", "text"), "text", "doc_id", dir))
    // post-compact the live slice is a GenDir generation — resolve it
    // (.toUri.getPath strips the file: scheme for the java.nio walk)
    def files(sub: String): Int = {
      val root = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
        GenDir.live(spark, s"$dir/$sub")).toUri.getPath)
      java.nio.file.Files.walk(root).filter(_.toString.endsWith(".parquet"))
        .count().toInt
    }
    val before = Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
      "text", "doc_id", dir, threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    val (sh0, bd0) = (files("shingles"), files("bands"))

    Dedup.lshIndexCompact(spark, dir)

    val after = Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
      "text", "doc_id", dir, threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    assert(after == before && before.nonEmpty)
    assert(files("shingles") < sh0 && files("bands") < bd0,
      s"compaction did not shrink: shingles $sh0->${files("shingles")}, bands $bd0->${files("bands")}")
    // params slice untouched: the query still signs itself from meta
    assert(Dedup.lshIndexParams(spark, dir) == ((3, 16, 4)))
  }

  test("matches resolve generation N while N+1 is mid-write (concurrent compact)") {
    val dir = freshDir()
    val chunks = corpusDocs.grouped(20).toSeq
    Dedup.lshBuildIndex(chunks.head.toDF("doc_id", "text"), "text", "doc_id", dir)
    chunks.tail.foreach(c =>
      Dedup.lshIndexAppend(c.toDF("doc_id", "text"), "text", "doc_id", dir))
    def matches(): Set[(Long, Long, Double)] =
      Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
        "text", "doc_id", dir, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet
    val want = matches()
    assert(want.nonEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a compaction MID-WRITE: uncommitted next generation holding
    // garbage — readers must never resolve it
    val midWrite = new org.apache.hadoop.fs.Path(s"$dir/shingles.gen-1")
    fs.mkdirs(midWrite)
    fs.create(new org.apache.hadoop.fs.Path(midWrite, "part-junk.parquet"), true)
      .close()
    assert(matches() == want, "a match resolved an uncommitted generation")
    // a real compaction flips readers atomically at the commit marker
    Dedup.lshIndexCompact(spark, dir)
    assert(matches() == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/shingles.gen-1/_GEN_COMMITTED")))
    // previous generation survives for in-flight readers; the next
    // compaction garbage-collects it
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/shingles")))
    Dedup.lshIndexCompact(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/shingles")),
      "two-generation retention should have GC'd generation 0")
    assert(matches() == want)
    // append + match keep working against the generation layout
    Dedup.lshIndexAppend(Seq((5000L, randomDoc(60))).toDF("doc_id", "text"),
      "text", "doc_id", dir)
    assert(matches() == want) // an unrelated append changes no match
  }

  test("interrupted compaction swap heals: recover finishes the rename") {
    val dir = freshDir()
    Dedup.lshBuildIndex(corpusDocs.toDF("doc_id", "text"), "text", "doc_id", dir)
    val want = Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
      "text", "doc_id", dir, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(Dedup.lshIndexRecover(spark, dir))
    assert(Dedup.lshIndexMatches(batchDocs.toDF("doc_id", "text"),
      "text", "doc_id", dir, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet == want)
    // a genuinely gutted index reports incomplete instead of healing
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/bands"), true)
    assert(!Dedup.lshIndexRecover(spark, dir))
  }

  test("empty batch and batch with no candidates both return empty") {
    val dir = freshDir()
    Dedup.lshBuildIndex(corpusDocs.toDF("doc_id", "text"), "text", "doc_id", dir)
    val empty = Dedup.lshIndexMatches(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id", dir, 0.5)
    assert(empty.count() == 0)
    val noMatch = Dedup.lshIndexMatches(
      Seq((9999L, "totally unrelated words nowhere in vocab"))
        .toDF("doc_id", "text"), "text", "doc_id", dir, 0.5)
    assert(noMatch.count() == 0)
  }
}
