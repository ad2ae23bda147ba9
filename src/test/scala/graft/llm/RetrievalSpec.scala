package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "zebra zebra zebra runs"),
    (3L, "the the the the the"),
    (4L, "cat dog zebra")
  ).toDF("doc_id", "text")

  private def q(id: Long, text: String) =
    Seq((id, text)).toDF("query_id", "qtext")

  test("rare terms dominate: zebra query ranks zebra docs above stopword soup") {
    val top = Retrieval.bm25TopK(docs, q(100L, "zebra"), k = 10)
      .orderBy($"rnk").select($"doc_id").as[Long].collect()
    // only docs containing 'zebra' score at all
    assert(top.toSet == Set(2L, 4L))
    // heavier tf wins: doc 2 has zebra x3, doc 4 x1
    assert(top.head == 2L)
  }

  test("common terms score low but still retrieve; ties break by doc_id") {
    val got = Retrieval.bm25TopK(docs, q(7L, "the"), k = 10)
      .orderBy($"rnk")
      .select($"doc_id", $"score_ppm").as[(Long, Long)].collect()
    // every doc containing 'the' appears: 0, 1, 3
    assert(got.map(_._1).toSet == Set(0L, 1L, 3L))
    // doc 3 is 'the' x5 -> highest saturation; docs 0 and 1 both have
    // tf=2 -> identical integer scores, tie broken by ascending doc_id
    assert(got.head._1 == 3L)
    val tied = got.filter(r => r._1 == 0L || r._1 == 1L)
    assert(tied.map(_._2).distinct.length == 1)
    assert(tied.map(_._1).toSeq == Seq(0L, 1L))
  }

  test("multi-term scores are the sum of per-term contributions") {
    val both = Retrieval.bm25TopK(docs, q(1L, "cat zebra"), k = 10)
      .filter($"doc_id" === 4L).select($"score_ppm").as[Long].head()
    val catOnly = Retrieval.bm25TopK(docs, q(1L, "cat"), k = 10)
      .filter($"doc_id" === 4L).select($"score_ppm").as[Long].head()
    val zebraOnly = Retrieval.bm25TopK(docs, q(1L, "zebra"), k = 10)
      .filter($"doc_id" === 4L).select($"score_ppm").as[Long].head()
    assert(both == catOnly + zebraOnly)
  }

  test("duplicate query terms count once (distinct-term semantics)") {
    val once = Retrieval.bm25TopK(docs, q(1L, "cat"), k = 10)
      .select($"doc_id", $"score_ppm").as[(Long, Long)].collect().toSet
    val twice = Retrieval.bm25TopK(docs, q(1L, "cat cat cat"), k = 10)
      .select($"doc_id", $"score_ppm").as[(Long, Long)].collect().toSet
    assert(once == twice)
  }

  test("k caps per-query results and queries don't bleed into each other") {
    val queries = Seq((1L, "the cat"), (2L, "zebra")).toDF("query_id", "qtext")
    val got = Retrieval.bm25TopK(docs, queries, k = 2)
    val byQ = got.groupBy($"query_id").count().as[(Long, Long)].collect().toMap
    assert(byQ(1L) == 2 && byQ(2L) == 2)
    assert(got.filter($"rnk" > 2).count() == 0)
  }

  test("corpus tokens are pruned through a broadcast join before aggregation") {
    val plan = Retrieval.bm25TopK(docs, q(1L, "cat"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the query-term semi-join to broadcast, got:\n$plan")
  }

  // ---- persisted inverted index ---------------------------------------

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-bm25-index-").toString

  /** The artifact path searches actually read — the highest committed
    * [[GenDir]] generation (compactions move BM25 artifacts to `.gen-N`
    * siblings; the plain directory is generation 0). */
  private def live(dir: String, artifact: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$artifact")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // local filesystem path (no file: scheme) — usable by both Spark
    // reads and java.nio walks
    GenDir.resolve(fs, p).toUri.getPath
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
    df.select($"query_id", $"doc_id", $"score_ppm", $"rnk")
      .as[(Long, Long, Long, Int)].collect().toSet

  test("index search is row-identical to the ad-hoc bm25TopK") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    val queries = Seq((1L, "the cat"), (2L, "zebra"), (3L, "dog log"))
      .toDF("query_id", "qtext")
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) ==
      rows(Retrieval.bm25TopK(docs, queries, k = 10)))
  }

  test("append extends the index: search equals ad-hoc over the full corpus") {
    val dir = freshDir()
    val (first, second) = (docs.filter($"doc_id" < 3), docs.filter($"doc_id" >= 3))
    Retrieval.bm25BuildIndex(first, "text", "doc_id", dir)
    Retrieval.bm25IndexAppendBatch(second, "text", "doc_id", dir, 1L)
    val queries = Seq((1L, "the cat zebra")).toDF("query_id", "qtext")
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) ==
      rows(Retrieval.bm25TopK(docs, queries, k = 10)))
    // df/idf reflect the appended corpus: the doc count advanced to 5
    assert(Retrieval.bm25IndexTotals(spark, dir)._1 == 5L)
  }

  test("postings lay out in term_pt directories and a search prunes to its buckets") {
    val dir = freshDir()
    // a vocabulary wide enough that buckets differ
    val wide = (0L until 200L).map(i => (i, s"term$i common"))
      .toDF("doc_id", "text")
    Retrieval.bm25BuildIndex(wide, "text", "doc_id", dir)
    val parts = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("term_pt=")).map(_.getName)
    assert(parts.length > 1 && parts.length <= IndexStore.Buckets)

    // one-term search: the postings scan carries a partition filter on
    // term_pt (catalog pruning), so only that bucket's files open
    val res = Retrieval.bm25SearchIndex(
      Seq((1L, "term7")).toDF("query_id", "qtext"), dir, k = 5)
    res.collect()
    val scan = res.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("term_pt"),
      s"expected a term_pt-pruned postings scan, got:\n$scan")

    // bytes observable: the pruned single-term search reads strictly less
    // of the postings than a full scan of them
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settled(): Long = { Thread.sleep(1500); bytes.get() }
      val b0 = settled()
      spark.read.parquet(s"$dir/postings").write.format("noop").mode("overwrite").save()
      val fullScan = settled() - b0
      val b1 = settled()
      Retrieval.bm25SearchIndex(
        Seq((1L, "term7")).toDF("query_id", "qtext"), dir, k = 5).collect()
      val pruned = settled() - b1
      assert(pruned < fullScan,
        s"pruned search read $pruned bytes >= full postings scan $fullScan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bm25IndexCompact: answers unchanged, per-bucket file sets shrink") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs.filter($"doc_id" < 2), "text", "doc_id", dir)
    Retrieval.bm25IndexAppendBatch(docs.filter($"doc_id" >= 2 && $"doc_id" < 4),
      "text", "doc_id", dir, 1L)
    Retrieval.bm25IndexAppendBatch(docs.filter($"doc_id" >= 4), "text", "doc_id",
      dir, 2L)
    // the postings files a search opens: the live generation plus its
    // unfolded batch increments
    def postingFiles(): Int = IncLog.readSlice(spark, dir, s"$dir/postings",
      IncLog.view(spark, dir)).inputFiles.length
    val queries = Seq((1L, "the cat zebra")).toDF("query_id", "qtext")
    val before = rows(Retrieval.bm25SearchIndex(queries, dir, k = 10))
    val filesBefore = postingFiles()

    Retrieval.bm25IndexCompact(spark, dir)

    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) == before)
    assert(before.nonEmpty)
    assert(postingFiles() < filesBefore,
      s"compaction did not shrink the postings file set: $filesBefore")
  }

  // ---- length-normalized (k1/b) scoring --------------------------------

  test("normalized scoring matches an independent in-memory BM25 model") {
    // exact same corpus statistics computed in plain Scala, summation
    // order fixed; doubles compared with tolerance
    val q = Seq((1L, "cat zebra")).toDF("query_id", "qtext")
    val got = Retrieval.bm25TopKNorm(docs, q, k = 10, k1 = 1.2, b = 0.75)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val corpus = Seq(
      0L -> "the cat sat on the mat", 1L -> "the dog sat on the log",
      2L -> "zebra zebra zebra runs", 3L -> "the the the the the",
      4L -> "cat dog zebra")
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    def df(term: String) = toks.values.count(_.contains(term))
    def score(id: Long, terms: Seq[String]): Double = terms.map { term =>
      val tf = toks(id).count(_ == term)
      if (tf == 0) 0.0 else {
        val idf = math.log(1.0 + (n - df(term) + 0.5) / (df(term) + 0.5))
        idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * toks(id).size / avgdl))
      }
    }.sum
    got.foreach { case (id, s) =>
      assert(math.abs(s - score(id, Seq("cat", "zebra"))) < 1e-9,
        s"doc $id: got $s want ${score(id, Seq("cat", "zebra"))}")
    }
    assert(got.keySet == Set(2L, 4L, 0L)) // docs containing cat or zebra
  }

  test("b>0 penalizes length: same tf, shorter doc outranks; b=0 ties") {
    val lenDocs = Seq(
      (1L, "needle a b c"), // dl 4
      (2L, "needle " + Seq.fill(20)("pad").mkString(" ")) // dl 21
    ).toDF("doc_id", "text")
    val q = Seq((1L, "needle")).toDF("query_id", "qtext")
    val withB = Retrieval.bm25TopKNorm(lenDocs, q, k = 2, b = 0.75)
      .orderBy($"rnk").select($"doc_id").as[Long].collect().toSeq
    assert(withB == Seq(1L, 2L)) // shorter doc first
    val noB = Retrieval.bm25TopKNorm(lenDocs, q, k = 2, b = 0.0)
      .select($"score").as[Double].collect().toSet
    assert(noB.size == 1) // identical scores -> same single value
  }

  test("normalized index search equals the ad-hoc normalized scoring") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs.filter($"doc_id" < 3), "text", "doc_id", dir)
    Retrieval.bm25IndexAppendBatch(docs.filter($"doc_id" >= 3), "text", "doc_id",
      dir, 1L)
    val q = Seq((1L, "the cat zebra"), (2L, "dog log")).toDF("query_id", "qtext")
    val fromIndex = Retrieval.bm25SearchIndexNorm(q, dir, k = 10)
      .select($"query_id", $"doc_id", $"score", $"rnk")
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val adhoc = Retrieval.bm25TopKNorm(docs, q, k = 10)
      .select($"query_id", $"doc_id", $"score", $"rnk")
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(fromIndex.keySet == adhoc.keySet)
    fromIndex.foreach { case (key, (s, rnk)) =>
      assert(rnk == adhoc(key)._2, s"rank mismatch at $key")
      assert(math.abs(s - adhoc(key)._1) < 1e-9, s"score mismatch at $key")
    }
    // the totals carry both counts for O(1) avgdl
    assert(Retrieval.bm25IndexTotals(spark, dir) == ((5L, 24L))) // 5 docs, 24 tokens
  }

  test("a query with no indexed terms returns empty, not an error") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    assert(Retrieval.bm25SearchIndex(
      Seq((1L, "nothing matches here")).toDF("query_id", "qtext"), dir, 10)
      .count() == 0)
  }

  // ---- lossless max-score two-phase search -----------------------------

  test("max-score search is row-identical to the plain index search") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    // mixed queries: rare-only, hot+rare, hot-only ('the' df 3/5 = 0.6
    // is hot at 0.5), and no-match — every verdict path exercised
    val q = Seq((1L, "zebra"), (2L, "the cat"), (3L, "the"),
      (4L, "cat dog zebra the"), (5L, "nothing here"))
      .toDF("query_id", "qtext")
    for (k <- Seq(1, 2, 10)) {
      val exact = rows(Retrieval.bm25SearchIndex(q, dir, k))
      val ms = rows(Retrieval.bm25SearchIndexMaxScore(q, dir, k,
        hotDfFrac = 0.5))
      assert(ms == exact, s"k=$k")
      assert(exact.nonEmpty)
    }
  }

  test("max-score pruning engages and stays exact on a hot-heavy corpus") {
    val dir = freshDir()
    // 400 docs with a universal stopword + distinctive rare terms:
    // theta from rare terms is high, sum-ub of the stopword is low
    spark.range(400L)
      .selectExpr("id AS doc_id",
        "concat('stop w', id % 40, ' w', id % 40, ' w', id % 40) AS text")
      .createOrReplaceTempView("_ms_corpus")
    val corpus = spark.table("_ms_corpus")
    Retrieval.bm25BuildIndex(corpus, "text", "doc_id", dir)
    val q = (0L until 10L).map(i => (i, s"stop w${i * 3}"))
      .toDF("query_id", "qtext")
    val exact = rows(Retrieval.bm25SearchIndex(q, dir, k = 5))
    val ms = rows(Retrieval.bm25SearchIndexMaxScore(q, dir, k = 5,
      hotDfFrac = 0.5))
    assert(ms == exact && exact.nonEmpty)

    // the pruning must actually ENGAGE here (no silent always-fallback:
    // rare-term theta is high — every query has 10 exact-copy docs —
    // while the stopword's sum-ub is the near-zero idf of df = 1.0n),
    // pinned by the plan: the pruned leg's hot-postings join is against
    // a BROADCAST candidate set, which only exists when pruning ran
    val ms2 = Retrieval.bm25SearchIndexMaxScore(q, dir, k = 5, hotDfFrac = 0.5)
    ms2.collect()
    val plan = ms2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
  }

  test("max-score candidate broadcast is budget-gated: fallback stays exact") {
    val dir = freshDir()
    // the hot-heavy shape where pruning engages at the default budget
    // (previous test) — at budget 0 the same call must detour to the
    // plain exact search instead of broadcasting the candidate set
    spark.range(400L)
      .selectExpr("id AS doc_id",
        "concat('stop w', id % 40, ' w', id % 40, ' w', id % 40) AS text")
      .createOrReplaceTempView("_msg_corpus")
    Retrieval.bm25BuildIndex(spark.table("_msg_corpus"), "text", "doc_id", dir)
    val q = (0L until 10L).map(i => (i, s"stop w${i * 3}"))
      .toDF("query_id", "qtext")
    val exact = rows(Retrieval.bm25SearchIndex(q, dir, k = 5))
    assert(rows(Retrieval.bm25SearchIndexMaxScore(q, dir, k = 5,
      hotDfFrac = 0.5, maxCandBroadcast = 0L)) == exact)
    assert(exact.nonEmpty)
  }

  // ---- positional phrase search ---------------------------------------

  test("phrase search matches consecutive tokens only, in order") {
    val q = Seq((1L, "the cat")).toDF("query_id", "qtext")
    val corpus = docs.union(Seq((10L, "cat the sat")).toDF("doc_id", "text"))
    val got = Retrieval.phraseTopK(corpus, q, k = 10)
      .select($"doc_id", $"phrase_tf").as[(Long, Long)].collect().toMap
    // doc 0 has 'the cat' consecutively; doc 10 has both words reversed
    assert(got == Map(0L -> 1L))
  }

  test("repeated-term phrases: 'a a' occurs twice in 'a a a' (overlaps count)") {
    val corpus = Seq((1L, "a a a"), (2L, "a b a")).toDF("doc_id", "text")
    val q = Seq((1L, "a a")).toDF("query_id", "qtext")
    val got = Retrieval.phraseTopK(corpus, q, k = 10)
      .select($"doc_id", $"phrase_tf", $"rnk").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1)))
  }

  test("phrase ranking: more occurrences rank higher, ties by doc_id") {
    val corpus = Seq(
      (1L, "x y z x y"), (2L, "x y x y x y"), (3L, "x y")
    ).toDF("doc_id", "text")
    val q = Seq((1L, "x y")).toDF("query_id", "qtext")
    val got = Retrieval.phraseTopK(corpus, q, k = 10)
      .orderBy($"rnk").select($"doc_id").as[Long].collect().toSeq
    assert(got == Seq(2L, 1L, 3L)) // tf 3, 2, 1
  }

  test("phrase index search is row-identical to the ad-hoc phrase search") {
    val dir = freshDir()
    Retrieval.phraseBuildIndex(docs, "text", "doc_id", dir)
    val q = Seq((1L, "the cat"), (2L, "sat on"), (3L, "zebra zebra"))
      .toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"phrase_tf", $"rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
    val fromIndex = rows(Retrieval.phraseSearchIndex(q, dir, k = 10))
    assert(fromIndex == rows(Retrieval.phraseTopK(docs, q, k = 10)))
    assert(fromIndex.nonEmpty)
    // 'zebra zebra' occurs in doc 2 ('zebra zebra zebra' -> 2 overlaps)
    assert(fromIndex.contains((3L, 2L, 2L, 1)))
  }

  test("phrase index lifecycle: append + compact stay row-identical; crash heals") {
    val dir = freshDir()
    val q = Seq((1L, "the cat"), (2L, "sat on"), (3L, "zebra zebra"))
      .toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"phrase_tf", $"rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
    val adhoc = rows(Retrieval.phraseTopK(docs, q, k = 10))
    Retrieval.phraseBuildIndex(docs.filter($"doc_id" < 2), "text", "doc_id", dir)
    Retrieval.phraseIndexAppendBatch(docs.filter($"doc_id" >= 2), "text", "doc_id",
      dir, 1L)
    assert(rows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == adhoc)
    Retrieval.phraseIndexCompact(spark, dir)
    assert(rows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == adhoc)
    // a compactor that died mid-write: an uncommitted next generation
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$dir/positions.gen-9")
    fs.mkdirs(torn)
    assert(Retrieval.phraseIndexRecover(spark, dir))
    assert(!fs.exists(torn), "recover must sweep the uncommitted generation")
    assert(rows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == adhoc)
  }

  test("phrase exactly-once: redelivered batches skip; fold keeps answers") {
    val dir = freshDir()
    val q = Seq((1L, "the cat"), (2L, "sat on"), (3L, "zebra zebra"))
      .toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"phrase_tf", $"rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
    val adhoc = rows(Retrieval.phraseTopK(docs, q, k = 10))
    val (b0, b1) = (docs.filter($"doc_id" < 2), docs.filter($"doc_id" >= 2))
    Retrieval.phraseBuildIndexBatch(b0, "text", "doc_id", dir, batchId = 0L)
    assert(Retrieval.phraseIndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    assert(rows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == adhoc)
    // phrase_tf doubles at any missed redelivery skip
    assert(!Retrieval.phraseIndexAppendBatch(b0, "text", "doc_id", dir, 0L))
    assert(!Retrieval.phraseIndexAppendBatch(b1, "text", "doc_id", dir, 1L))
    assert(rows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == adhoc)
    // the selective path folds increment stats for its rarest-term pick
    assert(rows(Retrieval.phraseSearchIndexSelective(q, dir, k = 10)) == adhoc)
    Retrieval.phraseIndexCompact(spark, dir)
    assert(!Retrieval.phraseIndexAppendBatch(b1, "text", "doc_id", dir, 1L),
      "a folded batch must be skipped via the summary watermark")
    assert(rows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == adhoc)
    assert(rows(Retrieval.phraseSearchIndexSelective(q, dir, k = 10)) == adhoc)
  }

  test("a phrase rebuild starts the increment log over: a dead stream's " +
      "batches stay out and a new stream's batch 1 applies") {
    val dir = freshDir()
    def phRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"phrase_tf", $"rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
    val q = Seq((1L, "cat sat")).toDF("query_id", "qtext")
    // a stream bootstraps on docs 1-2 and appends docs 3-4 as batch 1
    Retrieval.phraseBuildIndexBatch(
      Seq((1L, "the dog sat"), (2L, "zebra runs")).toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = 0L)
    assert(Retrieval.phraseIndexAppendBatch(
      Seq((3L, "the cat sat on the mat"), (4L, "cat dog")).toDF("doc_id", "text"),
      "text", "doc_id", dir, 1L))
    // a fresh build over a different corpus in the same directory
    val rebuilt = Seq((10L, "a cat sat here"), (11L, "the dog ran"))
      .toDF("doc_id", "text")
    Retrieval.phraseBuildIndex(rebuilt, "text", "doc_id", dir)
    val want = phRows(Retrieval.phraseTopK(rebuilt, q, k = 10))
    assert(want.map(_._2) == Set(10L))
    assert(phRows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == want,
      "the dead stream's batch 1 leaked into the rebuilt index")
    // the new lineage's batch 1 is not mistaken for the old one's
    val more = Seq((12L, "cat sat again")).toDF("doc_id", "text")
    assert(Retrieval.phraseIndexAppendBatch(more, "text", "doc_id", dir, 1L))
    assert(phRows(Retrieval.phraseSearchIndex(q, dir, k = 10)) ==
      phRows(Retrieval.phraseTopK(rebuilt.union(more), q, k = 10)))
  }

  test("phrase searches resolve generation N while N+1 is mid-write") {
    val dir = freshDir()
    Retrieval.phraseBuildIndex(docs.filter($"doc_id" < 3), "text", "doc_id", dir)
    Retrieval.phraseIndexAppendBatch(docs.filter($"doc_id" >= 3), "text", "doc_id",
      dir, 1L)
    val q = Seq((1L, "the cat"), (3L, "zebra zebra")).toDF("query_id", "qtext")
    def phRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"phrase_tf", $"rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
    val want = phRows(Retrieval.phraseSearchIndex(q, dir, k = 10))
    assert(want.nonEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a compaction MID-WRITE: uncommitted garbage generation on the
    // positions — searches must never resolve it
    val midWrite = new org.apache.hadoop.fs.Path(s"$dir/positions.gen-1")
    fs.mkdirs(midWrite)
    fs.create(new org.apache.hadoop.fs.Path(midWrite, "part-junk.parquet"), true)
      .close()
    assert(phRows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == want,
      "a search resolved an uncommitted generation")
    Retrieval.phraseIndexCompact(spark, dir)
    assert(phRows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == want)
    assert(phRows(Retrieval.phraseSearchIndexSelective(q, dir, k = 10)) == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/positions.gen-1/_GEN_COMMITTED")))
    // two-generation retention, then GC on the next compaction
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/positions")))
    Retrieval.phraseIndexCompact(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/positions")),
      "two-generation retention should have GC'd generation 0")
    assert(phRows(Retrieval.phraseSearchIndex(q, dir, k = 10)) == want)
  }

  test("selective phrase search is row-identical across rare/hot/unseen phrases") {
    val dir = freshDir()
    Retrieval.phraseBuildIndex(docs, "text", "doc_id", dir)
    // 'the cat' (hot+rare), 'sat on' (mid), 'zebra zebra' (rare,
    // repeated term), 'the the' (hot-only), 'the unicorn' (unseen term
    // -> empty candidates, empty result)
    val q = Seq((1L, "the cat"), (2L, "sat on"), (3L, "zebra zebra"),
      (4L, "the the"), (5L, "the unicorn")).toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"phrase_tf", $"rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
    val plain = rows(Retrieval.phraseSearchIndex(q, dir, k = 10))
    val sel = rows(Retrieval.phraseSearchIndexSelective(q, dir, k = 10))
    assert(sel == plain && plain.nonEmpty)
    assert(!plain.exists(_._1 == 5L)) // unseen-term phrase matches nothing
    // past the broadcast cap the fallback path must agree too
    assert(rows(Retrieval.phraseSearchIndexSelective(q, dir, k = 10,
      maxCandBroadcast = 0L)) == plain)
    // stats survive append + compact: parity on the grown corpus
    Retrieval.phraseIndexAppendBatch(
      Seq((100L, "the cat sat the cat")).toDF("doc_id", "text"),
      "text", "doc_id", dir, 1L)
    Retrieval.phraseIndexCompact(spark, dir)
    val grown = docs.union(Seq((100L, "the cat sat the cat")).toDF("doc_id", "text"))
    assert(rows(Retrieval.phraseSearchIndexSelective(q, dir, k = 10)) ==
      rows(Retrieval.phraseTopK(grown, q, k = 10)))
  }

  test("selective phrase search shuffles only candidate-doc anchor rows") {
    val dir = freshDir()
    // 20k docs all containing the stopword; only docs 0..19 contain
    // 'needle' — the phrase 'stop needle' occurs in those 20 docs
    spark.range(20000L)
      .selectExpr("id AS doc_id",
        "CASE WHEN id < 20 THEN 'stop needle end' ELSE concat('stop w', id % 40) END AS text")
      .createOrReplaceTempView("_sel_corpus")
    Retrieval.phraseBuildIndex(spark.table("_sel_corpus"), "text", "doc_id", dir)
    val q = Seq((1L, "stop needle")).toDF("query_id", "qtext")
    def shuffleRecords(df: org.apache.spark.sql.DataFrame): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            acc.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(l)
      try { df.collect(); Thread.sleep(1500) } // let task-end events drain
      finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }
    val plainRows = Retrieval.phraseSearchIndex(q, dir, k = 10)
    val selRows = Retrieval.phraseSearchIndexSelective(q, dir, k = 10)
    assert(selRows.collect().length == 10)
    val plainShuffle = shuffleRecords(Retrieval.phraseSearchIndex(q, dir, k = 10))
    val selShuffle = shuffleRecords(Retrieval.phraseSearchIndexSelective(q, dir, k = 10))
    // plain drags all 20k 'stop' positions through the anchor exchange;
    // selective carries only the 20 candidate docs' rows (plus the
    // vocabulary-sized stats/rarest legs)
    assert(selShuffle * 10 < plainShuffle,
      s"selective=$selShuffle plain=$plainShuffle")
  }

  // ---- hot-term df/N cap ----------------------------------------------

  test("df cap: non-degenerate queries are ranking-identical with the cap on") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    // 'cat' df=2/5, 'zebra' df=2/5 — under a 0.5 cap, nothing skipped
    val q = Seq((1L, "cat zebra"), (2L, "dog log")).toDF("query_id", "qtext")
    assert(rows(Retrieval.bm25SearchIndex(q, dir, k = 10, maxDfFrac = 0.5)) ==
      rows(Retrieval.bm25SearchIndex(q, dir, k = 10)))
  }

  test("df cap: a hot term scores as if deleted from the query, postings unread") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    // 'the' df=3/5 = 0.6 > 0.5 cap -> skipped; 'zebra' df=2/5 kept
    val hotQ = Seq((1L, "the zebra")).toDF("query_id", "qtext")
    val prunedQ = Seq((1L, "zebra")).toDF("query_id", "qtext")
    val capped = Retrieval.bm25SearchIndex(hotQ, dir, k = 10, maxDfFrac = 0.5)
    assert(rows(capped) == rows(Retrieval.bm25SearchIndex(prunedQ, dir, k = 10)))

    // bytes observable: the capped search reads strictly less than the
    // uncapped one. Needs a corpus where the hot term's postings dwarf
    // the stats slice (vocabulary << postings, the real-corpus shape):
    // 20k docs all containing 'common', 20 rare terms
    val dir2 = freshDir()
    spark.range(20000L)
      .selectExpr("id AS doc_id", "concat('common w', id % 20) AS text")
      .createOrReplaceTempView("_hot_corpus")
    Retrieval.bm25BuildIndex(spark.table("_hot_corpus"), "text", "doc_id", dir2)
    // RECORDS read, not bytes: parquet RLE packs 20k identical-term
    // postings into a handful of bytes at this scale (the 2M-doc soak
    // pins the bytes observable), but record counts can't hide — the
    // uncapped search must drag every 'common' posting through the
    // scan, the capped one must not read a single one
    val hq = Seq((1L, "common w7")).toDF("query_id", "qtext")
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settled(): Long = { Thread.sleep(1500); records.get() }
      val b0 = settled()
      Retrieval.bm25SearchIndex(hq, dir2, k = 10).collect()
      val uncapped = settled() - b0
      val b1 = settled()
      Retrieval.bm25SearchIndex(hq, dir2, k = 10, maxDfFrac = 0.5).collect()
      val capped = settled() - b1
      // uncapped: >= 20k 'common' postings + 1k 'w7'; capped: the w7
      // bucket + the vocabulary-sized stats slice (~21 rows)
      assert(capped < uncapped / 4,
        s"capped search read $capped records vs uncapped $uncapped")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("df cap: stats generations sum across appends and survive compaction") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs.filter($"doc_id" < 3), "text", "doc_id", dir)
    Retrieval.bm25IndexAppendBatch(docs.filter($"doc_id" >= 3), "text", "doc_id",
      dir, 1L)
    // 'the' df over BOTH generations = 3 of 5 docs > 0.5 -> skipped
    val hotQ = Seq((1L, "the zebra")).toDF("query_id", "qtext")
    val want = rows(Retrieval.bm25SearchIndex(
      Seq((1L, "zebra")).toDF("query_id", "qtext"), dir, k = 10))
    assert(rows(Retrieval.bm25SearchIndex(hotQ, dir, 10, maxDfFrac = 0.5)) == want)
    Retrieval.bm25IndexCompact(spark, dir)
    assert(rows(Retrieval.bm25SearchIndex(hotQ, dir, 10, maxDfFrac = 0.5)) == want)
    // compaction folded the stats to one row per term
    val statRows = spark.read.parquet(live(dir, "stats"))
      .groupBy($"term").count().filter($"count" > 1).count()
    assert(statRows == 0, "stats not folded to one generation per term")
  }

  test("searches resolve generation N while N+1 is mid-write (concurrent compact)") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs.filter($"doc_id" < 3), "text", "doc_id", dir)
    Retrieval.bm25IndexAppendBatch(docs.filter($"doc_id" >= 3), "text", "doc_id",
      dir, 1L)
    val queries = Seq((1L, "the cat zebra")).toDF("query_id", "qtext")
    val want = rows(Retrieval.bm25SearchIndex(queries, dir, k = 10))
    assert(want.nonEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // simulate a compaction MID-WRITE: an uncommitted next-generation
    // directory holding garbage — readers must never resolve it
    val midWrite = new org.apache.hadoop.fs.Path(s"$dir/postings.gen-1")
    fs.mkdirs(midWrite)
    fs.create(new org.apache.hadoop.fs.Path(midWrite, "part-junk.parquet"), true)
      .close()
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) == want,
      "a search resolved an uncommitted generation")
    // a real compaction (it sweeps the stale attempt first) flips
    // readers atomically at the commit marker — results byte-identical
    Retrieval.bm25IndexCompact(spark, dir)
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/postings.gen-1/_GEN_COMMITTED")))
    // the PREVIOUS generation (the legacy dir) survives for in-flight
    // readers; the next compaction garbage-collects it
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings")))
    Retrieval.bm25IndexCompact(spark, dir)
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) == want)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings")),
      "two-generation retention should have GC'd generation 0")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/postings.gen-2/_GEN_COMMITTED")))
    // append + search keep working against the generation layout
    Retrieval.bm25IndexAppendBatch(
      Seq((100L, "zebra zebra")).toDF("doc_id", "text"), "text", "doc_id", dir, 2L)
    val grown = docs.union(Seq((100L, "zebra zebra")).toDF("doc_id", "text"))
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) ==
      rows(Retrieval.bm25TopK(grown, queries, k = 10)))
  }

  test("uncommitted generation from a crashed compactor is swept by recover") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    val queries = Seq((1L, "the cat zebra")).toDF("query_id", "qtext")
    val want = rows(Retrieval.bm25SearchIndex(queries, dir, k = 10))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(s"$dir/postings.gen-7")
    fs.mkdirs(stale)
    assert(Retrieval.bm25IndexRecover(spark, dir), "index must stay complete")
    assert(!fs.exists(stale), "recover must sweep uncommitted generations")
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) == want)
  }

  // ---- bootstrap verification -----------------------------------------

  test("interrupted compaction swap heals: recover finishes the rename") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    val queries = Seq((1L, "the cat zebra")).toDF("query_id", "qtext")
    val want = rows(Retrieval.bm25SearchIndex(queries, dir, k = 10))
    // bootstrap check: recover reports a complete index, answers intact
    assert(Retrieval.bm25IndexRecover(spark, dir))
    assert(rows(Retrieval.bm25SearchIndex(queries, dir, k = 10)) == want)
  }

  test("half-built index (meta missing) reports incomplete -> rebuild not append") {
    val dir = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // crash mid-build: postings written, meta (the commit marker) not yet
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta"), true)
    assert(!Retrieval.bm25IndexRecover(spark, dir))
    // and the reverse gutting: meta alive, postings gone
    val dir2 = freshDir()
    Retrieval.bm25BuildIndex(docs, "text", "doc_id", dir2)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir2/postings"), true)
    assert(!Retrieval.bm25IndexRecover(spark, dir2))
  }

  // ---- empty-document corpora (ad-hoc vs index Norm consistency) -------

  test("Norm paths agree on corpora containing empty documents") {
    val withEmpty = docs.union(Seq((5L, ""), (6L, " ")).toDF("doc_id", "text"))
    val dir = freshDir()
    Retrieval.bm25BuildIndex(withEmpty, "text", "doc_id", dir)
    // n counts all 7 docs in BOTH paths (empty ones included)
    assert(spark.read.parquet(s"$dir/meta").head().getLong(0) == 7L)
    val q = Seq((1L, "cat zebra"), (2L, "the dog")).toDF("query_id", "qtext")
    val fromIndex = Retrieval.bm25SearchIndexNorm(q, dir, k = 10)
      .select($"query_id", $"doc_id", $"score", $"rnk")
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val adhoc = Retrieval.bm25TopKNorm(withEmpty, q, k = 10)
      .select($"query_id", $"doc_id", $"score", $"rnk")
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(fromIndex.keySet == adhoc.keySet && fromIndex.nonEmpty)
    fromIndex.foreach { case (key, (s, rnk)) =>
      assert(rnk == adhoc(key)._2, s"rank mismatch at $key")
      assert(math.abs(s - adhoc(key)._1) < 1e-9, s"score mismatch at $key")
    }
  }
}
