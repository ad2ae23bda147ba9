package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval: BM25-shaped scoring over an inverted-index
  * join — the lexical complement to the dense ANN paths in [[Similarity]]
  * (a training-data pipeline uses both: dense for near-dup/semantic
  * clustering, sparse for benchmark decontamination and targeted corpus
  * search).
  *
  * Scoring is INTEGER-EXACT on purpose: the classic BM25 idf
  * `ln((N - df + 0.5) / (df + 0.5))` is replaced by its Robertson raw
  * odds in parts-per-million — `idf_ppm = (2N - 2df + 1) * 1e6 div
  * (2df + 1)` — and the tf saturation `tf / (tf + k1)` by
  * `tf * 1e6 div (tf + 2)` (k1 = 2, b = 0). Same monotonicity in df and
  * tf as BM25, but every intermediate is a 64-bit integer, so the score
  * is bit-identical across engines and row orders and the whole operator
  * stays DuckDB-oracle-checkable (float scoring would hash-mismatch on
  * summation order). Length normalization (b > 0) is deliberately
  * omitted from the exact form; a production deployment that wants it
  * flips the score expression to doubles — the plan shape is unchanged.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - the query term set is tiny next to the corpus, so it is
  *    BROADCAST; corpus tokens are semi-joined against it BEFORE any
  *    aggregation — the only rows that ever shuffle are postings of
  *    terms some query actually uses;
  *  - df for those terms is exact (df counts every document containing
  *    the term, and restricting to query terms first loses nothing);
  *  - final ranking runs through [[graft.plans.TopKPerKey]], whose
  *    partial phase caps per-query candidates map-side before the
  *    exchange.
  * A standing query workload would persist the (term, df) statistics
  * and the postings as an index artifact instead of recomputing —
  * the same build-once/query-many split as [[Similarity.ivfBuildIndex]].
  *
  * Reference analog: the reference has no retrieval operator; this is
  * part of the LLM-data extension surface (SURVEY.md "LLM-data
  * extension").
  */
object Retrieval {

  /** Tokenize `textCol` exactly like the rest of the text stack:
    * [[graft.functions.TextFunctions.tokens]] — Unicode-aware (CJK/Thai
    * codepoints are single terms, so a zh query matches zh postings),
    * identical to whitespace splitting on space-delimited text. */
  private def tokens(df: DataFrame, id: String, textCol: String) =
    df.select(col(id),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))

  /** Top-`k` documents per query under integer-exact BM25-shaped
    * scoring.
    *
    * @param docs    corpus with `doc_id` and `text`
    * @param queries query set with `query_id` and `qtext` (tokenized
    *                with the same rules as the corpus)
    * @return (query_id, doc_id, score_ppm, rnk) with rnk 1..k per query,
    *         ties broken by ascending doc_id
    */
  /** Shared scoring tail of the ad-hoc and persisted-index paths: join
    * query terms to (already query-restricted) postings, fold per-term
    * contributions, rank per query through the map-capped
    * [[graft.plans.TopKPerKey]]. `postings` must carry (doc_id, term,
    * tf), `dfreq` (term, df), `nDocs` one row (n). */
  private def scoreTopK(qTerms: DataFrame, postings: DataFrame,
                        dfreq: DataFrame, nDocs: DataFrame, k: Int): DataFrame = {
    val scored = qTerms
      .join(postings, "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      // idf in ppm, tf saturation in permille: the asymmetric scales keep
      // the product within int64 out to N ≈ 1.3e9 documents (idf_ppm ≤
      // 2N*1e6/3 at df=1; × 1e3 < 2^63)
      .withColumn("contrib_ppm", expr(
        "(((2 * n - 2 * df + 1) * 1000000) div (2 * df + 1))" +
          " * ((tf * 1000) div (tf + 2)) div 1000"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_ppm")).as("score_ppm"))

    graft.plans.TopKPerKey(scored,
      keys = Seq(col("query_id")),
      order = Seq(col("score_ppm").desc, col("doc_id").asc),
      k = k, rankName = "rnk")
  }

  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // distinct query terms: the broadcast driver of every downstream prune
    val qTerms = tokens(queries, "query_id", "qtext").distinct()
    val qTermSet = qTerms.select(col("term")).distinct()

    // corpus postings RESTRICTED to query terms before the tf aggregate:
    // the broadcast semi-join drops non-matching tokens at the scan, so
    // the (doc_id, term) shuffle carries only useful postings
    val postings = tokens(docs, "doc_id", "text")
      .join(broadcast(qTermSet), "term")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

    // exact document frequency per (query-relevant) term + corpus size,
    // both kept lazy: N arrives via a broadcast 1-row cross join, not a
    // driver-side count
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    scoreTopK(qTerms, postings, dfreq, nDocs, k)
  }

  // ---- persisted inverted index (build once / query many) --------------

  /** (doc_id, term, tf, dl) for a batch: tf per posting plus the
    * document length riding each row — dl = Σ tf over the doc's terms,
    * denormalized onto the posting so length-normalized scoring
    * ([[bm25SearchIndexNorm]]) needs NO query-time length join (+8
    * bytes per posting buys a join-free scan at any corpus size). */
  private def postingsWithLen(docs: DataFrame, textCol: String,
                              idCol: String): DataFrame = {
    val post = tokens(docs.select(col(idCol).as("doc_id"), col(textCol)),
        "doc_id", textCol)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val lens = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    post.join(lens, "doc_id")
  }

  /** Σ tf over a postings frame: the batch's total token length. */
  private def totalTf(post: DataFrame): Long =
    post.agg(sum(col("tf"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }

  /** Lay postings or positions down under `path` in their term
    * buckets ([[IndexStore.bucket]]): co-locate each bucket's rows
    * before the partitioned write, then sort by term so each file's row
    * groups carry tight term ranges. A query's term set touches a
    * bounded set of bucket directories however large the vocabulary. */
  private def writeBucketed(rows: DataFrame, path: String): Unit =
    rows
      .withColumn("term_pt", IndexStore.bucket(col("term")))
      .repartition(rows.sparkSession.sparkContext.defaultParallelism,
        col("term_pt"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("term_pt").parquet(path)

  /** Per-term statistics slice (term, df, max_tf, sum_tf), derived from
    * the postings and bucketed like them. Searches aggregate it (sum df
    * / max max_tf — exact because batches carry only new doc ids), which
    * lets a search DECIDE about a term — the [[bm25SearchIndex]] df/N
    * hot-term cap, the max-score bound via max_tf — WITHOUT reading a
    * posting of it. It covers every postings generation and increment,
    * so a search may trust it. */
  private def writeStats(post: DataFrame, statsPath: String): Unit =
    post.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
        sum(col("tf")).as("sum_tf"))
      .withColumn("term_pt", IndexStore.bucket(col("term")))
      // AQE-sized repartition (no fixed N): the stats slice is
      // vocabulary-sized — often a single small partition at batch
      // granularity, where a fixed 32-way exchange just mints 32×256
      // near-empty bucket files per generation
      .repartition(col("term_pt"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("term_pt").parquet(statsPath)

  private val Postings = IndexStore.Slice("postings", writeBucketed)
  private val Bm25Stats = IndexStore.Slice("stats", writeStats, fold = None)

  /** The BM25 index: `postings/` (term, doc_id, tf, dl) bucketed by term
    * and sorted by term within files, the derived `stats/` slice, and
    * meta (n, total_len) — the document count driving idf and the token
    * total behind avgdl. Document frequency is NOT persisted per
    * posting: a search derives exact df for its query terms from the
    * pruned postings it reads anyway (a bucket holds every posting of
    * the terms it owns), so a batch needs no df merge. */
  private val Bm25 = IndexStore.Layout(Postings, Seq(Bm25Stats), totals = true)

  /** Effective corpus totals (n docs, total token length) of a BM25
    * index: meta plus every applied batch's deltas. */
  def bm25IndexTotals(spark: org.apache.spark.sql.SparkSession,
                      dir: String): (Long, Long) =
    totalsWith(spark, dir, IndexStore.view(spark, dir))

  private def totalsWith(spark: org.apache.spark.sql.SparkSession,
                         dir: String, v: IndexStore.View): (Long, Long) = {
    val meta0 = IndexStore.meta(spark, dir).head()
    val (lenD, nD) = v.deltas
    (meta0.getLong(0) + nD, meta0.getLong(1) + lenD)
  }

  /** Build a persisted BM25 inverted index under `dir` — the
    * build-once/query-many form of [[bm25TopK]], which recomputes corpus
    * term statistics on every call. More documents join through
    * [[bm25IndexAppendBatch]]. */
  def bm25BuildIndex(docs: DataFrame, textCol: String, idCol: String,
                     dir: String): Unit =
    buildBm25(docs, textCol, idCol, dir, None)

  private def buildBm25(docs: DataFrame, textCol: String, idCol: String,
                        dir: String, bootstrap: Option[(Long, String)]): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    IndexStore.build(dir, Bm25, postingsWithLen(docs, textCol, idCol), bootstrap)(
      post => Seq((docs.count(), totalTf(post))).toDF("n", "total_len"))
  }

  /** Bootstrap from a stream's FIRST batch, exactly once under
    * redelivery ([[IndexStore.build]] with its bootstrap marker). */
  def bm25BuildIndexBatch(docs: DataFrame, textCol: String, idCol: String,
                          dir: String, batchId: Long,
                          streamId: String = ""): Unit =
    buildBm25(docs, textCol, idCol, dir, Some((batchId, streamId)))

  /** Append one batch to a built BM25 index EXACTLY ONCE; its marker
    * carries the batch's (total_len, n) deltas. Returns false on the
    * redelivery skip. Assumes batch doc ids are new. */
  def bm25IndexAppendBatch(docs: DataFrame, textCol: String, idCol: String,
                           dir: String, batchId: Long,
                           streamId: String = ""): Boolean =
    IndexStore.appendBatch(docs.sparkSession, dir, Bm25, batchId, streamId)(
      postingsWithLen(docs, textCol, idCol))(post => (totalTf(post), docs.count()))

  /** Fold the appended batches into the next postings generation and
    * regenerate the stats from it; search results are unchanged. */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Unit =
    IndexStore.compact(spark, dir, Bm25)

  /** Heal crash leftovers and report whether `dir` holds a complete
    * BM25 index ([[IndexStore.recover]]). */
  def bm25IndexRecover(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Boolean =
    IndexStore.recover(spark, dir, Bm25)

  /** Query terms surviving the df/N hot-term cap, decided ENTIRELY from
    * the persisted stats slice — no posting of a skipped term is ever
    * read (the point: a stopword-frequency term's postings list is
    * near-corpus-sized while its idf contribution is ~zero; without a
    * bound it flows whole into scoring). df aggregates across append
    * generations (sum — exact, appends carry only new doc ids); the
    * collect is bounded by the query term count. Returns the pruned
    * qTerms frame (checkpointed, ready to drive bucket pruning and
    * scoring). maxDfFrac = 1.0 disables the cap and touches no stats. */
  private def capHotTerms(spark: org.apache.spark.sql.SparkSession,
                          qTerms: DataFrame, dir: String,
                          maxDfFrac: Double, v: IndexStore.View): DataFrame = {
    if (maxDfFrac >= 1.0) return qTerms
    require(maxDfFrac > 0.0, "maxDfFrac must be in (0, 1]")
    val n = totalsWith(spark, dir, v)._1
    val qTermSet = qTerms.select(col("term")).distinct()
    val hitBuckets = qTermSet.select(IndexStore.bucket(col("term")).as("pt"))
      .distinct().collect().map(_.getInt(0))
    val hot = IndexStore.read(spark, dir, Bm25Stats, v)
      .filter(col("term_pt").isInCollection(hitBuckets.toSeq))
      .join(broadcast(qTermSet), "term")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .filter(col("df") > lit(maxDfFrac) * lit(n))
      .select(col("term")).collect().map(_.getString(0))
    if (hot.isEmpty) qTerms
    else qTerms.filter(!col("term").isInCollection(hot.toSeq))
      .localCheckpoint(true)
  }

  /** Top-`k` documents per query against a persisted index (see
    * [[bm25BuildIndex]]) — row-identical to [[bm25TopK]] over the same
    * corpus (the llm_bm25_index oracle reuses llm_bm25_topk's DuckDB twin
    * verbatim to pin that).
    *
    * Scale shape: the query term set drives everything — its distinct
    * term buckets (a bounded <= [[IndexStore.Buckets]] collect) prune the
    * postings scan at the catalog level, the broadcast term semi-join
    * drops non-query postings at the scan, df aggregates over only those
    * pruned rows (exact: a bucket owns every posting of its terms), and
    * ranking is the same map-capped TopKPerKey. The index side never
    * shuffles corpus-sized data.
    *
    * @param maxDfFrac skip query terms present in more than this
    *        fraction of the corpus (default 1.0 = exact, no skipping).
    *        The capped ranking equals scoring with those terms deleted
    *        from the queries — the classic stopword-pruning
    *        approximation (cf. max-score/WAND bounds), bounded
    *        bytes-read per query however degenerate the term. */
  def bm25SearchIndex(queries: DataFrame, dir: String, k: Int,
                      maxDfFrac: Double = 1.0): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val v = IndexStore.view(spark, dir) // ONE increment-log listing per call
    val qTerms = capHotTerms(spark,
      tokens(queries, "query_id", "qtext").distinct()
        .localCheckpoint(true), // feeds bucket collect, semi-join, scoring
      dir, maxDfFrac, v)
    val qTermSet = qTerms.select(col("term")).distinct()
    // bounded by construction: <= IndexStore.Buckets distinct values
    val hitBuckets = qTermSet.select(IndexStore.bucket(col("term")).as("pt"))
      .distinct().collect().map(_.getInt(0))
    val postings = IndexStore.read(spark, dir, Postings, v)
      .filter(col("term_pt").isInCollection(hitBuckets.toSeq))
      .join(broadcast(qTermSet), "term")
      .select(col("doc_id"), col("term"), col("tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Seq(totalsWith(spark, dir, v)._1).toDF("n")
    scoreTopK(qTerms, postings, dfreq, nDocs, k)
  }

  // ---- lossless max-score (WAND-style) two-phase search ----------------

  /** EXACT top-k against a persisted index while touching hot-term
    * postings only for a bounded candidate set — the lossless
    * counterpart of the [[bm25SearchIndex]] df/N cap (which
    * approximates by deleting hot terms). The classic max-score /
    * WAND argument, rendered for a batch engine:
    *
    *  1. split query terms at `hotDfFrac`: rare terms score exactly
    *     (phase 1), hot terms get an UPPER BOUND from the stats slice
    *     (ub = contribution at max_tf — the score expression is
    *     monotonic in tf, every quantity integer-exact);
    *  2. θ_q = the k-th best phase-1 score. Any document's final score
    *     is its phase-1 score plus at most Σ ub(hot terms of q), so
    *     docs with score1 < θ_q − Σub can never displace the top k
    *     (strictly: the k phase-1 leaders already hold final ≥ θ_q),
    *     and docs with NO rare term top out at Σub < θ_q;
    *  3. hot postings are read bucket-pruned and joined ONLY against
    *     the surviving candidates (broadcast — candidate count is
    *     within Σub of the k-th score, small when hot terms carry the
    *     near-zero idf that made them hot), exact scores re-rank.
    *
    * Queries where the bound cannot close (< k phase-1 docs, or
    * Σub >= θ_q — a no-rare-term doc could tie into the top k) fall
    * back to the full exact scoring, so the result is ROW-IDENTICAL to
    * [[bm25SearchIndex]] with no cap for EVERY query — the gated
    * llm_bm25_maxscore reuses llm_bm25_topk's oracle verbatim to pin
    * exactly that.
    *
    * The candidate set is DATA-DEPENDENT (a term just past `hotDfFrac`
    * with a high max_tf widens the θ − Σub cut toward corpus scale), so
    * its broadcast is budget-gated like
    * [[phraseSearchIndexSelective]]'s: past `maxCandBroadcast`
    * surviving candidates, the whole call falls back to the plain exact
    * search — same rows, no oversized broadcast. */
  def bm25SearchIndexMaxScore(queries: DataFrame, dir: String, k: Int,
                              hotDfFrac: Double = 0.1,
                              maxCandBroadcast: Long = 2000000L): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(hotDfFrac > 0.0 && hotDfFrac <= 1.0, "hotDfFrac must be in (0, 1]")
    val v = IndexStore.view(spark, dir) // ONE increment-log listing per call
    val qTerms = tokens(queries, "query_id", "qtext").distinct()
      .localCheckpoint(true)
    val qTermSet = qTerms.select(col("term")).distinct()
    val hitBuckets = qTermSet.select(IndexStore.bucket(col("term")).as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val n = totalsWith(spark, dir, v)._1

    // per-query-term stats — bounded collect (<= #query terms)
    val termStats = IndexStore.read(spark, dir, Bm25Stats, v)
      .filter(col("term_pt").isInCollection(hitBuckets))
      .join(broadcast(qTermSet), "term")
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"), max(col("max_tf")).as("max_tf"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def idfPpm(df: Long): Long = ((2 * n - 2 * df + 1) * 1000000L) / (2 * df + 1)
    def contribOf(df: Long, tf: Long): Long =
      idfPpm(df) * ((tf * 1000L) / (tf + 2)) / 1000L
    val hot = termStats.filter { case (_, (df, _)) => df > hotDfFrac * n }
    if (hot.isEmpty) return bm25SearchIndex(queries, dir, k)
    val hotUb = hot.map { case (t, (df, maxTf)) => t -> contribOf(df, maxTf) }
    val hotTerms = hot.keySet.toSeq

    // Σub per query over ITS hot terms (distributed; no per-query collect)
    val ubDf = hotUb.toSeq.toDF("term", "ub")
    val qUb = qTerms.join(broadcast(ubDf), "term")
      .groupBy(col("query_id")).agg(sum(col("ub")).as("ub_hot"))

    // phase 1: exact scoring over rare terms only
    val rareQTerms = qTerms.filter(!col("term").isInCollection(hotTerms))
    val rarePostings = IndexStore.read(spark, dir, Postings, v)
      .filter(col("term_pt").isInCollection(hitBuckets))
      .join(broadcast(rareQTerms.select(col("term")).distinct()), "term")
      .select(col("doc_id"), col("term"), col("tf"))
    val rareDf = rarePostings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Seq(n).toDF("n")
    val scored1 = rareQTerms
      .join(rarePostings, "term")
      .join(broadcast(rareDf), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("contrib_ppm", expr(
        "(((2 * n - 2 * df + 1) * 1000000) div (2 * df + 1))" +
          " * ((tf * 1000) div (tf + 2)) div 1000"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_ppm")).as("score1"))
      .localCheckpoint(true) // feeds θ, the candidate cut, and rescoring

    // θ_q = k-th phase-1 score; absent when a query scored < k docs
    val theta = graft.plans.TopKPerKey(scored1,
        keys = Seq(col("query_id")),
        order = Seq(col("score1").desc, col("doc_id").asc),
        k = k, rankName = "r1")
      .filter(col("r1") === k)
      .select(col("query_id"), col("score1").as("theta"))

    // per-query verdict: prune (bound closes) or fall back
    val verdict = qTerms.select(col("query_id")).distinct()
      .join(theta, Seq("query_id"), "left")
      .join(qUb, Seq("query_id"), "left")
      .withColumn("ub_hot", coalesce(col("ub_hot"), lit(0L)))
      .withColumn("prune",
        col("theta").isNotNull && col("ub_hot") < col("theta"))
      .localCheckpoint(true) // one row per query — bounded
    val fallbackIds = verdict.filter(!col("prune")).select(col("query_id"))
    val pruneMeta = broadcast(
      verdict.filter(col("prune"))
        .select(col("query_id"), col("theta"), col("ub_hot")))

    // candidates: phase-1 docs within Σub of θ — exact final scores are
    // score1 + hot contributions, joined candidate-first so hot
    // postings shrink to candidate rows before any aggregation
    val candidates = scored1.join(pruneMeta, "query_id")
      .filter(col("score1") >= col("theta") - col("ub_hot"))
      .select(col("query_id"), col("doc_id"), col("score1"))
      .localCheckpoint(true) // materialized: feeds the gate count + joins
    // BUDGET GATE on the data-dependent broadcast (the
    // phraseSearchIndexSelective discipline): θ − Σub usually cuts the
    // candidates to ~k per query, but a mid-df/high-max_tf term can
    // leave it corpus-scale — count before broadcasting, and past the
    // budget run every query through the plain exact search instead
    // (row-identical by the documented contract)
    if (candidates.count() > maxCandBroadcast)
      return bm25SearchIndex(queries, dir, k)
    val hotQTerms = qTerms.filter(col("term").isInCollection(hotTerms))
      .join(pruneMeta.select(col("query_id")), "query_id")
    val hotDfDf = hot.toSeq.map { case (t, (df, _)) => (t, df) }.toDF("term", "hdf")
    val candKeys = candidates
      .select(col("query_id").as("c_qid"), col("doc_id").as("c_did")).distinct()
    val hotContrib = IndexStore.read(spark, dir, Postings, v)
      .filter(col("term_pt").isInCollection(hitBuckets))
      .join(broadcast(hotQTerms), "term")
      .join(broadcast(candKeys),
        col("query_id") === col("c_qid") && col("doc_id") === col("c_did"))
      .join(broadcast(hotDfDf), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("contrib_ppm", expr(
        "(((2 * n - 2 * hdf + 1) * 1000000) div (2 * hdf + 1))" +
          " * ((tf * 1000) div (tf + 2)) div 1000"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_ppm")).as("hot_sum"))
    val prunedFinal = graft.plans.TopKPerKey(
      candidates.join(hotContrib, Seq("query_id", "doc_id"), "left")
        .select(col("query_id"), col("doc_id"),
          (col("score1") + coalesce(col("hot_sum"), lit(0L))).as("score_ppm")),
      keys = Seq(col("query_id")),
      order = Seq(col("score_ppm").desc, col("doc_id").asc),
      k = k, rankName = "rnk")

    // fallback queries run the plain full exact search
    val fallbackQueries = queries.join(broadcast(fallbackIds), "query_id")
    prunedFinal.unionByName(bm25SearchIndex(fallbackQueries, dir, k))
  }

  // ---- positional phrase search ---------------------------------------

  /** (id, term, pos) with positions indexed over the ORIGINAL token
    * array (empties dropped after positioning, so adjacency is
    * preserved exactly as written). */
  private def positionalTokens(df: DataFrame, id: String, textCol: String) =
    df.select(col(id), posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")

  /** Shared anchor pipeline of the ad-hoc and persisted-index phrase
    * paths. `qTerms` carries (query_id, off, term) — the phrase's terms
    * with their offsets; `posts` (doc_id, term, pos), already
    * query-term-restricted. A phrase occurrence at document position a
    * exists iff every phrase offset i matches a posting at a + i, so
    * anchors = pos - off grouped per (query, doc, anchor) counting
    * DISTINCT offsets (repeated terms in a phrase — "a a" — make one
    * posting hit several offsets; distinct-ness keeps the test exact).
    * phrase_tf = number of complete anchors per document; ranking by
    * (phrase_tf desc, doc_id asc) through the map-capped TopKPerKey.
    *
    * Scale shape: ONE broadcast semi-join prunes the corpus to
    * query-relevant postings, then one shuffle on (query_id, doc_id,
    * anchor) — never all positions of all documents; phrase length only
    * multiplies the pruned join fan-out, not the shuffle key space. */
  private def phraseRank(qTerms: DataFrame, posts: DataFrame, k: Int): DataFrame =
    anchorRank(qTerms.join(posts, "term"), qTerms, k)

  /** Anchor pipeline tail over an already-joined (query_id, off,
    * doc_id, pos) pair stream — shared by [[phraseRank]] and the
    * candidate-pruned [[phraseSearchIndexSelective]]. */
  private def anchorRank(qp: DataFrame, qTerms: DataFrame, k: Int): DataFrame = {
    val qLen = qTerms.groupBy(col("query_id"))
      .agg(countDistinct(col("off")).as("m"))
    val scored = qp
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).as("anchor"), col("off"))
      .groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(countDistinct(col("off")).as("hits"))
      .join(broadcast(qLen), "query_id")
      .filter(col("hits") === col("m"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("phrase_tf"))
    graft.plans.TopKPerKey(scored,
      keys = Seq(col("query_id")),
      order = Seq(col("phrase_tf").desc, col("doc_id").asc),
      k = k, rankName = "rnk")
  }

  /** Top-`k` documents per EXACT PHRASE query: documents containing the
    * query's tokens consecutively, ranked by occurrence count. Queries
    * carry `query_id` and `qtext` (the phrase, same tokenization as the
    * corpus). */
  def phraseTopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qTerms = positionalTokens(queries, "query_id", "qtext")
      .withColumnRenamed("pos", "off")
    val qTermSet = qTerms.select(col("term")).distinct()
    val posts = positionalTokens(docs, "doc_id", "text")
      .join(broadcast(qTermSet), "term")
    phraseRank(qTerms, posts, k)
  }

  /** Per-term position counts (term, n_pos), derived from the positions
    * and bucketed like them — what lets the selective search pick each
    * phrase's RAREST term from a few bytes instead of counting a
    * stopword's near-corpus-sized position list. Summed on read. */
  private def writePhraseStats(pos: DataFrame, statsPath: String): Unit =
    pos.groupBy(col("term")).agg(count(lit(1)).as("n_pos"))
      .withColumn("term_pt", IndexStore.bucket(col("term")))
      .repartition(col("term_pt")) // AQE-sized, see writeStats
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("term_pt").parquet(statsPath)

  private val Positions = IndexStore.Slice("positions", writeBucketed)
  private val PhraseStats = IndexStore.Slice("stats", writePhraseStats, fold = None)

  /** The positional index: `positions/` (term, doc_id, pos) in the BM25
    * postings' term-bucketed, term-sorted layout, the derived `stats/`
    * slice, and a constant meta — the artifact phrase search prunes instead of
    * re-tokenizing the corpus per query batch. Positions make it ~dl/|V|
    * larger per document than the tf postings. */
  private val Phrase = IndexStore.Layout(Positions, Seq(PhraseStats))

  private def positionRows(docs: DataFrame, textCol: String, idCol: String) =
    positionalTokens(docs.select(col(idCol).as("doc_id"), col(textCol)),
      "doc_id", textCol)

  /** Build a persisted positional index under `dir`. More documents
    * join through [[phraseIndexAppendBatch]]. */
  def phraseBuildIndex(docs: DataFrame, textCol: String, idCol: String,
                       dir: String): Unit =
    buildPhrase(docs, textCol, idCol, dir, None)

  private def buildPhrase(docs: DataFrame, textCol: String, idCol: String,
                          dir: String, bootstrap: Option[(Long, String)]): Unit =
    IndexStore.build(dir, Phrase, positionRows(docs, textCol, idCol), bootstrap)(
      _ => IndexStore.commitOnly(docs.sparkSession))

  /** Bootstrap from a stream's FIRST batch, exactly once under
    * redelivery (see [[bm25BuildIndexBatch]]). */
  def phraseBuildIndexBatch(docs: DataFrame, textCol: String, idCol: String,
                            dir: String, batchId: Long,
                            streamId: String = ""): Unit =
    buildPhrase(docs, textCol, idCol, dir, Some((batchId, streamId)))

  /** Append one batch to a built positional index EXACTLY ONCE — a
    * redelivered batch is skipped, so phrase counts never double.
    * Returns false on the redelivery skip. */
  def phraseIndexAppendBatch(docs: DataFrame, textCol: String, idCol: String,
                             dir: String, batchId: Long,
                             streamId: String = ""): Boolean =
    IndexStore.appendBatch(docs.sparkSession, dir, Phrase, batchId, streamId)(
      positionRows(docs, textCol, idCol))(_ => (0L, 0L))

  /** Fold the appended batches into the next positions generation and
    * regenerate the stats from it; search results are unchanged. */
  def phraseIndexCompact(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Unit =
    IndexStore.compact(spark, dir, Phrase)

  /** Heal crash leftovers and report whether `dir` holds a complete
    * positional index. */
  def phraseIndexRecover(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Boolean =
    IndexStore.recover(spark, dir, Phrase)

  /** [[phraseTopK]] against a persisted positional index — row-identical
    * over the same corpus (the gated query reuses the ad-hoc oracle
    * verbatim). Same pruning discipline as [[bm25SearchIndex]]: bounded
    * bucket collect → catalog pruning → broadcast term semi-join. */
  def phraseSearchIndex(queries: DataFrame, dir: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val v = IndexStore.view(spark, dir) // ONE increment-log listing per call
    val qTerms = positionalTokens(queries, "query_id", "qtext")
      .withColumnRenamed("pos", "off")
      .localCheckpoint(true)
    val qTermSet = qTerms.select(col("term")).distinct()
    val hitBuckets = qTermSet.select(IndexStore.bucket(col("term")).as("pt"))
      .distinct().collect().map(_.getInt(0))
    val posts = IndexStore.read(spark, dir, Positions, v)
      .filter(col("term_pt").isInCollection(hitBuckets.toSeq))
      .join(broadcast(qTermSet), "term")
      .select(col("doc_id"), col("term"), col("pos"))
    phraseRank(qTerms, posts, k)
  }

  /** [[phraseSearchIndex]] with RAREST-TERM candidate pruning — exact
    * results (a complete phrase occurrence contains every phrase term,
    * in particular the rarest, so restricting to documents holding it
    * loses nothing), but the anchor shuffle carries only candidate-doc
    * positions: a phrase containing a stopword no longer drags the
    * stopword's near-corpus position list through the exchange for
    * documents that can't match anyway. The rarest term per query is
    * chosen from the stats slice alone ([[writePhraseStats]] — a few
    * bytes per term; requires an index built/compacted with the
    * current version); a query term absent from the index zeroes its
    * query's candidates outright (the phrase cannot occur). When the
    * candidate bound exceeds `maxCandBroadcast`, falls back to the
    * plain unpruned search — same results, no oversized broadcast.
    *
    * Driver round-trips: exactly TWO jobs run before the anchor join
    * (besides the qTerms checkpoint every phrase path pays) — one
    * collect of the query batch's (query_id, term, bucket) pairs
    * (request-sized: this is the slim side every phrase path already
    * broadcasts) and one collect of the stats slice restricted to that
    * vocabulary (a few bytes per query term). Bucket pruning, rarest
    * terms AND the broadcast gate all derive locally from those two:
    * the gate uses Σ n_pos(rarest term) — an upper bound on candidate
    * docs (a doc holds ≥ 1 position), so a passed gate can never
    * oversize the broadcast; past the bound it falls back without ever
    * materializing the candidate set. */
  def phraseSearchIndexSelective(queries: DataFrame, dir: String, k: Int,
                                 maxCandBroadcast: Long = 2000000L): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val v = IndexStore.view(spark, dir) // ONE increment-log listing per call
    val qTerms = positionalTokens(queries, "query_id", "qtext")
      .withColumnRenamed("pos", "off")
      .localCheckpoint(true)
    // DRIVER JOB 1: the query batch's (query_id, term, bucket) pairs
    val qRows = qTerms
      .select(col("query_id"), col("term"), IndexStore.bucket(col("term")).as("pt"))
      .distinct().as[(Long, String, Int)].collect()
    val termSeq = qRows.map(_._2).distinct.toSeq
    val hitBuckets = qRows.map(_._3).distinct.toSeq
    val qTermSet = termSeq.toDF("term") // local rows — no job to build
    // DRIVER JOB 2: the stats slice over the query vocabulary
    val nPos = IndexStore.read(spark, dir, PhraseStats, v)
      .filter(col("term_pt").isInCollection(hitBuckets))
      .join(broadcast(qTermSet), "term")
      .groupBy(col("term")).agg(sum(col("n_pos")).as("n_pos"))
      .as[(String, Long)].collect().toMap
    // rarest term per query (ties by term), locally; an unindexed term
    // scores n_pos = 0 and wins the min — its (empty) position list
    // then empties the candidate set, which is the right answer
    val rarest = qRows.groupBy(_._1).view.mapValues(rows =>
      rows.map(r => (nPos.getOrElse(r._2, 0L), r._2)).min._2).toSeq
    // the gate, with no counting job: Σ n_pos(rarest) bounds the
    // candidate-pair count from above (each candidate doc contributes
    // >= 1 position of its query's rarest term)
    if (rarest.map { case (_, t) => nPos.getOrElse(t, 0L) }.sum >
        maxCandBroadcast)
      return phraseSearchIndex(queries, dir, k)
    val posts = IndexStore.read(spark, dir, Positions, v)
      .filter(col("term_pt").isInCollection(hitBuckets))
      .join(broadcast(qTermSet), "term")
      .select(col("doc_id"), col("term"), col("pos"))
    val candKeys = rarest.toDF("query_id", "term").join(posts, "term")
      .select(col("query_id"), col("doc_id")).distinct()
    anchorRank(qTerms.join(posts, "term")
      .join(broadcast(candKeys), Seq("query_id", "doc_id"), "left_semi"),
      qTerms, k)
  }

  // ---- length-normalized (classic k1/b) scoring ------------------------

  /** The classic real-valued BM25 scoring tail: Lucene-smoothed idf
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` × saturated-normalized tf
    * `tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`. Shares the prune/
    * rank plan of [[scoreTopK]] exactly — only the score expression
    * changes, which is the documented trade: double scores are NOT
    * bit-reproducible across engines (summation order), so this path is
    * spec-verified against an independent in-memory model instead of the
    * DuckDB hash gate; rankings, not raw floats, are its contract.
    * `postings` must carry (doc_id, term, tf, dl); `nDocs` one row
    * (n, total_len). */
  private def scoreTopKNorm(qTerms: DataFrame, postings: DataFrame,
                            dfreq: DataFrame, nDocs: DataFrame, k: Int,
                            k1: Double, b: Double): DataFrame = {
    val scored = qTerms
      .join(postings, "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("avgdl", col("total_len").cast("double") / col("n"))
      .withColumn("idf", log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    graft.plans.TopKPerKey(scored,
      keys = Seq(col("query_id")),
      order = Seq(col("score").desc, col("doc_id").asc),
      k = k, rankName = "rnk")
  }

  /** [[bm25TopK]] with classic length normalization (k1, b) — the
    * real-number production scoring (b=0.75 penalizes long documents;
    * the integer-exact sibling deliberately sets b=0 to stay
    * hash-checkable). Same broadcast-prune plan shape. */
  def bm25TopKNorm(docs: DataFrame, queries: DataFrame, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = tokens(queries, "query_id", "qtext").distinct()
    val qTermSet = qTerms.select(col("term")).distinct()
    val postings = postingsWithLen(docs, "text", "doc_id")
      .join(broadcast(qTermSet), "term")
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // n counts EVERY document (empty-text docs included) — the same
    // count bm25TopK and bm25BuildIndex use — so the ad-hoc and
    // persisted-index Norm paths compute identical idf/avgdl on corpora
    // containing empty documents; total_len over postings is unaffected
    // (empty docs contribute zero length either way)
    val nDocs = docs.agg(count(lit(1)).as("n")).crossJoin(
      postingsWithLen(docs, "text", "doc_id")
        .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(coalesce(sum(col("dl")), lit(0L)).as("total_len")))
    scoreTopKNorm(qTerms, postings, dfreq, nDocs, k, k1, b)
  }

  /** [[bm25SearchIndex]] with classic length normalization: dl rides
    * every posting row and (n, total_len) ride meta, so the normalized
    * search keeps the join-free pruned-scan plan — same buckets, same
    * broadcast semi-join, only the score expression differs. */
  def bm25SearchIndexNorm(queries: DataFrame, dir: String, k: Int,
                          k1: Double = 1.2, b: Double = 0.75,
                          maxDfFrac: Double = 1.0): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val v = IndexStore.view(spark, dir) // ONE increment-log listing per call
    val qTerms = capHotTerms(spark,
      tokens(queries, "query_id", "qtext").distinct()
        .localCheckpoint(true),
      dir, maxDfFrac, v)
    val qTermSet = qTerms.select(col("term")).distinct()
    val hitBuckets = qTermSet.select(IndexStore.bucket(col("term")).as("pt"))
      .distinct().collect().map(_.getInt(0))
    val postings = IndexStore.read(spark, dir, Postings, v)
      .filter(col("term_pt").isInCollection(hitBuckets.toSeq))
      .join(broadcast(qTermSet), "term")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Seq(totalsWith(spark, dir, v)).toDF("n", "total_len")
    scoreTopKNorm(qTerms, postings, dfreq, nDocs, k, k1, b)
  }
}
