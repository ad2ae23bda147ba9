package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet-style corpus
  * filter (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data", 2020): train a count LM on a trusted
  * reference split, score every candidate document by how predictable
  * its token stream is under that model, and keep/bucket documents by
  * the score. Order-k counts (k in [2, 7]) with STUPID BACKOFF smoothing
  * (Brants et al., "Large Language Models in Machine Translation",
  * 2007 — the backoff designed for exactly this distributed count-based
  * setting: no discounting pass, score quality approaches Kneser–Ney as
  * counts grow).
  *
  * Scoring is INTEGER-EXACT on purpose (the [[Retrieval]] BM25
  * discipline): per-token "probability" in parts-per-million with
  * floor division at every step, so the result is bit-identical across
  * engines and row orders and the operator stays DuckDB-oracle-
  * checkable (log-space floats would hash-mismatch on summation order).
  * For token position i of a document (tokens split on single spaces,
  * empties dropped before adjacency), at k = 2:
  *
  *  - i = 0 (no context):          c1(w) * 1e6  div T
  *  - c2(prev, w) > 0:             c2(prev, w) * 1e6 div c1(prev)
  *  - else (backoff, alpha = 0.4): c1(w) * 4e5  div T
  *
  * with 0 for unseen tokens; higher orders continue the chain with
  * 0.4^j factors (see [[scoreWithK]]). Document score = sum(contrib) div ntok —
  * a mean per-token predictability in ppm (high = fluent under the
  * reference model, low = gibberish/boilerplate/wrong-language), the
  * quality signal CCNet thresholds into head/middle/tail buckets.
  * Exact while T * 1e6 < 2^63, i.e. models up to ~9.2e12 training
  * tokens per shard; past that, shard the model and sum scores.
  *
  * Scale shape (100 TB):
  *  - training = one groupBy shuffle per order over the train token
  *    stream (one shared shuffle for the persisted form), map-side
  *    combined; the model is vocabulary-sized, orders of magnitude
  *    smaller than the corpus;
  *  - scoring pre-aggregates the candidate stream to per-document
  *    DISTINCT (context, term) tuples with multiplicity, so each
  *    document joins each of its grams once however often it repeats
  *    (floor'd contributions of identical grams are equal —
  *    multiplying by m is exact);
  *  - the 2k-1 count joins broadcast when the model fits the budget
  *    and fall back to shuffle joins keyed by the model side
  *    otherwise; count tables never shuffle corpus-sized data;
  *  - the persisted-index form prunes every count slice to the scored
  *    batch's term buckets at the catalog level before reading — a
  *    small batch against a 100-TB-trained model reads only its own
  *    terms' slices.
  *
  * Reference analog: none (the reference has no analytical layer);
  * part of the LLM-data extension surface (SURVEY.md "LLM-data
  * extension"), sitting beside the heuristic `llm_quality_score` as
  * the model-based quality signal.
  */
object Lm {

  /** Same catalog-pruning bucket space as [[Retrieval.TermBuckets]]. */
  val TermBuckets = 256

  private def bucket(c: Column): Column =
    pmod(xxhash64(c), lit(TermBuckets)).cast("int")

  /** PER-LANGUAGE [[lmScoreK]] at k = 2 — CCNet's actual configuration
    * (Wenzek et al. §4.3 score each language against ITS OWN reference
    * model): the order-k counts, totals and scoring joins all carry the
    * language key — so a multilingual corpus never scores
    * minority-language documents against the majority language's
    * statistics. A GLOBAL model distorts exactly the branches that
    * divide by the corpus-wide total (first-token and unseen-backoff:
    * c1/t shrinks for every minority language as the majority grows),
    * systematically dragging minority docs toward the tail tier —
    * PerLangLmSpec pins the mis-tiering and its fix. Output adds a
    * `lang` column; documents of languages absent from the training
    * side score through the all-unseen path (ntok counted, contribs
    * 0), exactly like unseen tokens under the global model. */
  def lmScorePerLang(train: DataFrame, docs: DataFrame, textCol: String,
                     idCol: String, langCol: String): DataFrame = {
    def keyed(df: DataFrame) = df.withColumn("lang", col(langCol))
    val keys = Seq("lang")
    val (cnts, total) = kGramCounts(keyed(train), textCol, idCol, 2, keys)
    scoreWithK(keyed(docs), textCol, idCol, cnts, total, 2, keys)
  }

  /** CCNet head/middle/tail WITHIN each language: ntile over (lang)
    * partitions on the canonical unique ordering (score DESC, ntok,
    * doc_id). The window shuffles one narrow 4-column frame keyed by
    * language — with a dominant language this partition carries its
    * share of the corpus (sort skew); at that scale derive per-lang
    * cutoffs via [[lmBucketCutoffs]] over each language slice and
    * assign map-side instead, the same trade [[lmQualityBuckets]]
    * documents globally. */
  def lmTiersPerLang(scored: DataFrame, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("lm_score_ppm").desc, col("ntok"), col("doc_id"))
    scored.withColumn("tier", ntile(nBuckets).over(w))
  }

  /** Persisted PER-LANGUAGE models: one model directory per language
    * (`dir/lang=<l>/` — CCNet's shard layout), each a full [[GenDir]]
    * lifecycle (build/append/compact/score work per shard unchanged).
    * The language list is a bounded driver collect (ISO codes, not
    * corpus rows); the per-language builds run as successive jobs,
    * which is exactly how CCNet materializes its per-lang KenLM shards.
    * Escape the values if languages can carry '/' — ours are code
    * strings. */
  def lmBuildIndexPerLang(train: DataFrame, textCol: String, idCol: String,
                          langCol: String, dir: String,
                          order: Int = 2): Unit = {
    val langs = train.select(col(langCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    langs.foreach { l =>
      require(!l.contains("/") && l.nonEmpty, s"unsafe lang value '$l'")
      lmBuildIndexK(train.filter(col(langCol) === l), textCol, idCol,
        s"$dir/lang=$l", order)
    }
  }

  /** Score each document against ITS language's persisted model
    * ([[lmBuildIndexPerLang]] layout) — the persisted twin of
    * [[lmScorePerLang]]: same output schema, and a language with no
    * model scores 0 over its counted tokens (the all-unseen path),
    * never the majority model's numbers. */
  def lmScoreIndexPerLang(docs: DataFrame, textCol: String, idCol: String,
                          langCol: String, dir: String): DataFrame = {
    val spark = docs.sparkSession
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val modeled = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("lang=")).map(_.stripPrefix("lang=")).sorted
    val docLangs = docs.select(col(langCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val scoredParts = docLangs.filter(modeled.contains).map { l =>
      lmScoreIndexK(docs.filter(col(langCol) === l), textCol, idCol,
        s"$dir/lang=$l")
        .withColumn("lang", lit(l))
    }
    val unknown = docLangs.filterNot(modeled.contains)
    val zeroPart =
      if (unknown.isEmpty) Nil
      else Seq(docs.filter(col(langCol).isInCollection(unknown))
        .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
          size(graft.functions.TextFunctions.tokens(col(textCol)))
            .cast("long").as("ntok"),
          lit(0L).as("lm_score_ppm"))
        .filter(col("ntok") > 0)
        .select(col("doc_id"), col("ntok"), col("lm_score_ppm"), col("lang")))
    (scoredParts ++ zeroPart)
      .reduceOption(_ unionByName _)
      .map(_.select(col("doc_id"), col("lang"), col("ntok"),
        col("lm_score_ppm")))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Long, String, Long, Long)]
          .toDF("doc_id", "lang", "ntok", "lm_score_ppm")
      }
  }

  // ---- order-general (k as a parameter) ---------------------------------
  //
  // CCNet's production filter is a 5-gram model. One order-k family
  // serves every order: k context levels and the backoff
  // 0.4^j · c_n/c_{n-1} over space-joined gram strings (tokens are
  // split on single spaces, so a space-joined n-gram is an injective
  // key — and the same key works verbatim in the DuckDB oracle).
  // `keys` (empty for the global model, `lang` per language) ride every
  // row, count group, total and scoring join.

  /** (doc_id, keys..., p0, prev1..prev_{k-1}, term) per token: prev_j =
    * the token j positions back after empty removal (null for p0 < j),
    * so no positional self-join ever shuffles; one codegen'd
    * [[graft.functions.TokenContexts]] call per row (the pre-r16
    * formulation folded k interpreted zip_with levels per row — k
    * intermediate struct arrays and a lambda call per element per
    * level, outside whole-stage codegen; GramExpressionsSpec pins row
    * equality). */
  private def kRows(docs: DataFrame, textCol: String, idCol: String,
                    k: Int, keys: Seq[String]): DataFrame = {
    val tk = graft.functions.TextFunctions.tokens(col(textCol))
    val carried = ("doc_id" +: keys).map(col)
    docs.select((col(idCol).as("doc_id") +: keys.map(col)) :+ tk.as("tk"): _*)
      .select(carried :+
        posexplode(graft.functions.TokenContexts(col("tk"), k))
          .as(Seq("p0", "tp")): _*)
      .select((carried :+ col("p0")) ++
        (1 until k).map(j => col(s"tp.prev$j").as(s"prev$j")) :+
        col("tp.term").as("term"): _*)
  }

  /** Count tables (keys..., gram → c) for every order 1..k over one
    * training pass lineage, plus the unigram total per key (one row
    * for the global model). Gram keys are space-joined token runs
    * (injective: tokens cannot contain spaces). */
  private def kGramCounts(train: DataFrame, textCol: String, idCol: String,
                          k: Int, keys: Seq[String] = Nil)
      : (Map[Int, DataFrame], DataFrame) = {
    val rows = kRows(train, textCol, idCol, k, keys)
    val cnts = (1 to k).map { n =>
      val gram =
        if (n == 1) col("term")
        else concat_ws(" ",
          ((n - 1) to 1 by -1).map(j => col(s"prev$j")) :+ col("term"): _*)
      val from = if (n == 1) rows else rows.filter(col(s"prev${n - 1}").isNotNull)
      n -> from.groupBy(keys.map(col) :+ gram.as("gram"): _*)
        .agg(count(lit(1)).as("c"))
    }.toMap
    val total = cnts(1).groupBy(keys.map(col): _*)
      .agg(coalesce(sum(col("c")), lit(0L)).as("t"))
    (cnts, total)
  }

  /** All orders' counts in ONE corpus pass: each token position emits
    * its order-1..k grams (order n only where prev_{n-1} exists — the
    * exact [[kGramCounts]] groups), one shared groupBy aggregates them
    * all. The result is (ord, gram, c) — model-sized, orders of
    * magnitude smaller than the corpus — and the index writers persist
    * it so the k slice writes, the unigram total and the meta totals
    * re-read the aggregate instead of re-running the tokenize+explode
    * lineage once per slice (the pre-r15 build paid k+1 full corpus
    * passes per build/append; guide §1.2/§2.4: remove redundant
    * passes, do fewer shuffles). Counts per order are bit-identical to
    * [[kGramCounts]] — same rows, same groups, one shuffle instead of
    * k. */
  private def allGramCountsK(train: DataFrame, textCol: String,
                             idCol: String, k: Int): DataFrame = {
    // one codegen'd GramVariants call per document assembles every
    // order's grams directly from the token array (the pre-r16 chain —
    // k-level zip_with fold, then explode of k per-position variant
    // structs — ran interpreted; GramExpressionsSpec pins row equality)
    val tk = graft.functions.TextFunctions.tokens(col(textCol))
    train.select(tk.as("tk"))
      .select(explode(graft.functions.GramVariants(col("tk"), k)).as("og"))
      .select(col("og.ord").as("ord"), col("og.gram").as("gram"))
      .groupBy(col("ord"), col("gram")).agg(count(lit(1)).as("c"))
  }

  /** Unigram total of a persisted [[allGramCountsK]] frame (the exact
    * kGramCounts `total`), reading the cached aggregate — no corpus
    * re-scan. */
  private def totalFromAll(all: DataFrame): Long =
    all.filter(col("ord") === 1)
      .agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)

  /** Exact 0.4^j backoff factors in ppm (1e6, 4e5, 1.6e5, 64000,
    * 25600, 10240, 4096) — integral through j = 6; j = 7 would be
    * 1638.4, hence the k ≤ 7 bound below. */
  private def backoffFactors(k: Int): Seq[Long] =
    (0 until k).scanLeft(1000000L)((f, _) => f * 2 / 5).take(k)

  /** The order-k scoring tail. `cnts(n)` carries (keys..., gram, c)
    * for order n; `total` (keys..., t). For token position p0, the
    * usable context level is lvl = min(p0, k-1); the highest order n
    * with a counted gram scores 0.4^(lvl+1-n) · c_n(g_n)/c_{n-1}(x_n)
    * (floor ppm at every step), falling to the unigram
    * 0.4^lvl · c_1(term)/T, and 0 for unseen tokens (and for every
    * token of a key absent from the training side). c_{n-1}(x_n) ≥
    * c_n(g_n) > 0 whenever the order-n branch fires (both counted from
    * the same training rows), so no ANSI zero-division. */
  private def scoreWithK(docs: DataFrame, textCol: String, idCol: String,
                         cnts: Map[Int, DataFrame], total: DataFrame,
                         k: Int, keys: Seq[String] = Nil): DataFrame = {
    val prevCols = (1 until k).map(j => s"prev$j")
    var rows = kRows(docs, textCol, idCol, k, keys)
      .withColumn("lvl", least(col("p0"), lit(k - 1)))
      .groupBy((("doc_id" +: keys) ++ ("lvl" +: prevCols :+ "term")).map(col): _*)
      .agg(count(lit(1)).as("m"))
    for (n <- 2 to k) {
      // prev_j null only at doc starts (monotone in j), so guarding the
      // deepest context token suffices — concat_ws would silently SKIP
      // null members and alias a shorter gram otherwise
      val ws = ((n - 1) to 1 by -1).map(j => col(s"prev$j")) :+ col("term")
      rows = rows
        .withColumn(s"g_$n", when(col(s"prev${n - 1}").isNotNull,
          concat_ws(" ", ws: _*)))
        // the order-2 context is the single token prev1: no string copy
        .withColumn(s"x_$n", if (n == 2) col("prev1")
          else when(col(s"prev${n - 1}").isNotNull,
            concat_ws(" ", ws.dropRight(1): _*)))
    }
    def counted(n: Int, gram: String, c: String) =
      cnts(n).select(keys.map(col) :+ col("gram").as(gram) :+ col("c").as(c): _*)
    var joined = rows.join(counted(1, "term", "c1_term"), keys :+ "term", "left")
    for (n <- 2 to k) joined = joined
      .join(counted(n, s"g_$n", s"c_$n"), keys :+ s"g_$n", "left")
      .join(counted(n - 1, s"x_$n", s"cx_$n"), keys :+ s"x_$n", "left")
    val withTotal =
      if (keys.isEmpty) joined.crossJoin(broadcast(total))
      else joined.join(broadcast(total), keys, "left")
    val factSql = backoffFactors(k).mkString("array(", "L, ", "L)")
    // the unigram count is clamped to the total: a crash between the
    // grams_1 move and the meta write of a plain append leaves c1 > t,
    // which would push a contribution past 1e6 ppm (in every committed
    // state c1 <= t, so this never changes a committed score). `if`,
    // not least(): least() skips nulls and would turn an unseen
    // token's null c1 into t
    var contrib: Column = coalesce(expr(
      s"(if(c1_term > t, t, c1_term) * element_at($factSql, lvl + 1)) div t"),
      lit(0L))
    for (n <- 2 to k) // ascending, so the HIGHEST order ends outermost
      contrib = when(col(s"c_$n").isNotNull,
        expr(s"(c_$n * element_at($factSql, lvl + 2 - $n)) div cx_$n"))
        .otherwise(contrib)
    withTotal
      .withColumn("contrib_ppm", contrib)
      .groupBy(("doc_id" +: keys).map(col): _*)
      .agg(sum(col("m")).as("ntok"),
        sum(col("m") * col("contrib_ppm")).as("s"))
      .select(("doc_id" +: keys).map(col) :+ col("ntok") :+
        expr("s div ntok").as("lm_score_ppm"): _*)
  }

  private def requireOrder(k: Int): Unit =
    require(k >= 2 && k <= 7,
      s"order must be in [2, 7], got $k (0.4^j ppm factors stay integral " +
        "through j = 6; higher orders would break the integer-exact contract)")

  /** Score `docs` under an order-`k` model trained ad-hoc on `train` —
    * one row (doc_id, ntok, lm_score_ppm) per document with at least
    * one token. The llm_lm/lm3/lm5 oracles re-derive the whole chain
    * in DuckDB at k = 2/3/5. The build-once/query-many form is
    * [[lmBuildIndexK]] / [[lmScoreIndexK]]; this path re-counts the
    * training corpus per call, which an index retires at scale. */
  def lmScoreK(train: DataFrame, docs: DataFrame, textCol: String,
               idCol: String, k: Int): DataFrame = {
    requireOrder(k)
    val (cnts, total) = kGramCounts(train, textCol, idCol, k)
    scoreWithK(docs, textCol, idCol, cnts, total, k)
  }

  private def gramSlices(dir: String, k: Int): Seq[String] =
    (1 to k).map(n => s"$dir/grams_$n")

  /** ONE corpus pass for all k orders: the [[allGramCountsK]]
    * aggregate, persisted (DISK_ONLY — the bm25BuildIndex lesson: never
    * race execution memory at scale) so `write` (one staged slice-write
    * job) and the unigram total both re-read the model-sized aggregate.
    * Returns the total. */
  private def writeCountsK(train: DataFrame, textCol: String, idCol: String,
                           k: Int)(write: DataFrame => Unit): Long = {
    val all = allGramCountsK(train, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try { write(all); totalFromAll(all) } finally all.unpersist()
  }

  private def writeMetaK(spark: SparkSession, dir: String, t: Long,
                         nDocs: Long, k: Int): Unit = {
    import spark.implicits._
    Seq((t, nDocs, k.toLong)).toDF("t", "n_docs", "ord")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Fresh build: reset the generation history AND increment log, write
    * every slice from one staged job, run `beforeMeta`, then meta. */
  private def buildK(train: DataFrame, textCol: String, idCol: String,
                     dir: String, k: Int)(beforeMeta: => Unit): Unit = {
    requireOrder(k)
    val spark = train.sparkSession
    GenDir.resetAll(spark, gramSlices(dir, k): _*)
    IncLog.reset(spark, dir, gramSlices(dir, k))
    val t = writeCountsK(train, textCol, idCol, k)(
      writeGramSlicesStaged(_, k, dir, n => s"$dir/grams_$n"))
    beforeMeta
    writeMetaK(spark, dir, t, train.count(), k)
  }

  /** Persist an order-k model: one `grams_n/` slice per order (gram,
    * c), partitioned by the hash bucket of the gram's FIRST token —
    * every token of a gram a scored batch needs is a batch token, so
    * the batch's term buckets prune every slice at the catalog level
    * (see [[lmScoreIndexK]]). Meta (t, n_docs, ord) lands LAST as the
    * commit marker. */
  def lmBuildIndexK(train: DataFrame, textCol: String, idCol: String,
                    dir: String, k: Int): Unit =
    buildK(train, textCol, idCol, dir, k)(())

  // ---- exactly-once batch ingest (the [[IncLog]] protocol) --------------

  /** Bootstrap an order-k model from a stream's FIRST batch, exactly
    * once under redelivery: the batch's commit marker lands BEFORE
    * meta, so every crash point replays safely — dying before the
    * marker leaves no meta ([[lmIndexRecoverK]] false → redelivery
    * rebuilds, a full overwrite), dying between marker and meta
    * likewise rebuilds, and once meta lands the marker makes
    * [[lmIndexAppendBatchK]] skip the redelivered batch. Dying DURING
    * the meta write itself is detected LOUDLY by recover (torn meta
    * over complete slices — on disk indistinguishable from a later
    * plain append's meta crash, where auto-rebuilding would discard
    * the model). The marker carries ZERO deltas — the build's totals
    * are already in meta. */
  def lmBuildIndexBatchK(train: DataFrame, textCol: String, idCol: String,
                         dir: String, k: Int, batchId: Long,
                         streamId: String = ""): Unit =
    buildK(train, textCol, idCol, dir, k)(
      IncLog.commitBatch(train.sparkSession, dir, batchId, 0L, 0L, streamId))

  /** Append one stream batch EXACTLY ONCE: counts land as increment
    * directories (`grams_n.inc/batch-<id>` — overwrite, so redelivery
    * is idempotent) made visible by the atomic batch commit marker,
    * which also carries the batch's token/doc deltas — meta is never
    * rewritten per batch, so there is no read-modify-write to double.
    * Returns false (and does nothing) when the batch was already
    * applied — the redelivery skip. */
  def lmIndexAppendBatchK(train: DataFrame, textCol: String, idCol: String,
                          dir: String, batchId: Long,
                          streamId: String = ""): Boolean = {
    val spark = train.sparkSession
    if (IncLog.isApplied(spark, dir, batchId, streamId)) return false
    val ord = readMetaK(spark, dir)._2
    // one staged slice-write job into the batch's increment dirs
    // (idempotent: the stage rename deletes a redelivered batch's
    // leftovers first; nothing is visible until the commit marker below)
    val t = writeCountsK(train, textCol, idCol, ord)(
      writeGramSlicesStaged(_, ord, dir,
        n => IncLog.incPath(s"$dir/grams_$n", batchId, streamId)))
    IncLog.commitBatch(spark, dir, batchId, t, train.count(), streamId)
    true
  }

  /** Effective totals (t, n_docs) of an order-k model: base meta plus
    * the folded summary plus every committed-but-unfolded batch delta.
    * Exact at every crash point of the ingest/compact loop. */
  def lmIndexTotalsK(spark: SparkSession, dir: String): (Long, Long) = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (tD, nD) = IncLog.view(spark, dir).deltas
    (meta.getLong(0) + tD, meta.getLong(1) + nD)
  }

  private def readMetaK(spark: SparkSession, dir: String): (Long, Int) = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    (meta.getLong(0), meta.getLong(2).toInt)
  }

  /** Explicit slice schema so an EMPTY slice or increment (a batch
    * with no order-n grams) reads as zero rows instead of failing
    * inference. */
  private val GramSchema = Some("gram STRING, c BIGINT, pt INT")

  /** Write EVERY order's slice from one persisted [[allGramCountsK]]
    * frame as ONE Spark job: a single (ord, pt)-partitioned write into
    * a dot-prefixed staging dir beside the model, then a per-order
    * directory RENAME into each slice destination (same filesystem —
    * metadata ops) plus the `_SUCCESS` marker the gen-0 completeness
    * check keys on. Replaces k overlapped write jobs — k scheduling
    * rounds and k partitioned-write commits — with one job and k
    * renames (guide §1.2: fewer jobs/passes; §6: one commit). The
    * explicit (ord, pt, gram) sort satisfies the dynamic-partition
    * writer's required ordering, so no extra sort is planned and files
    * stay gram-sorted exactly like the per-slice writes. Crash points:
    * dying inside the staged write leaves only the dot-dir (invisible
    * to readers and to every protocol listing); dying mid-renames
    * leaves some destinations complete and others absent with the
    * caller's own commit marker (meta / IncLog batch marker) still
    * unwritten — the torn build/increment state recover already treats
    * as absent. Callers own the destinations (fresh build after
    * resetAll, a batch's own increment dirs, uncommitted next
    * generations). */
  private def writeGramSlicesStaged(all: DataFrame, k: Int,
                                    stagingBase: String,
                                    destFor: Int => String): Unit =
    staged(all, stagingBase) { (fs, staging) =>
      (1 to k).foreach { n =>
        val src = new Path(staging, s"ord=$n")
        val dst = new Path(destFor(n))
        fs.delete(dst, true)
        Option(dst.getParent).foreach(fs.mkdirs)
        if (fs.exists(src))
          require(fs.rename(src, dst), s"rename $src -> $dst failed")
        else fs.mkdirs(dst) // an order with zero grams: empty slice
        fs.create(new Path(dst, "_SUCCESS"), true).close()
      }
    }

  /** The one (ord, pt)-partitioned job both staged writes share, into a
    * fresh `.stage-<uuid>` dir under `stagingBase`; `move` then takes
    * the staged orders out, and the dir is deleted whatever happens
    * (a killed driver leaves it for [[lmIndexRecoverK]]). */
  private def staged(all: DataFrame, stagingBase: String)(
      move: (org.apache.hadoop.fs.FileSystem, Path) => Unit): Unit = {
    val staging = new Path(s"$stagingBase/.stage-${java.util.UUID.randomUUID()}")
    val fs = staging.getFileSystem(
      all.sparkSession.sparkContext.hadoopConfiguration)
    try {
      all.withColumn("pt", bucket(substring_index(col("gram"), " ", 1)))
        .repartition(col("ord"), col("pt"))
        .sortWithinPartitions(col("ord"), col("pt"), col("gram"))
        .write.mode("overwrite").partitionBy("ord", "pt").parquet(staging.toString)
      move(fs, staging)
    } finally fs.delete(staging, true)
  }

  /** The staged ONE-JOB write for PLAIN APPENDS: stage all orders in
    * one (ord, pt)-partitioned job (fresh dot-dir — a crash there is
    * invisible), then MOVE the staged files into each live slice,
    * LOWEST ORDER FIRST. The move order is the crash contract: counts
    * are additive, so a crash after any prefix of the moves leaves
    * every landed order-n gram's context order fully landed —
    * c_{n-1}(x_n) >= c_n(g_n) holds at ANY granularity (whole slices,
    * or a partial file subset of the highest landed order), exactly
    * the invariant the sequential per-slice appends guaranteed — while
    * meta (written after, as always) stays the stale-totals marker.
    * Staged part filenames carry the job's UUID, so moves into a live
    * bucket can never collide with prior generations' files. */
  private def appendGramSlicesStaged(all: DataFrame, k: Int,
                                     stagingBase: String,
                                     liveFor: Int => String): Unit =
    staged(all, stagingBase) { (fs, staging) =>
      (1 to k).foreach { n => // ascending: the crash-prefix invariant
        val src = new Path(staging, s"ord=$n")
        if (fs.exists(src)) {
          val dstBase = new Path(liveFor(n))
          fs.listStatus(src).filter(_.isDirectory).foreach { ptDir =>
            val dstPt = new Path(dstBase, ptDir.getPath.getName)
            if (!fs.exists(dstPt))
              require(fs.rename(ptDir.getPath, dstPt),
                s"rename ${ptDir.getPath} -> $dstPt failed")
            else fs.listStatus(ptDir.getPath)
              .filter(st => !st.getPath.getName.startsWith("_"))
              .foreach { f =>
                val dstF = new Path(dstPt, f.getPath.getName)
                require(fs.rename(f.getPath, dstF),
                  s"rename ${f.getPath} -> $dstF failed")
              }
          }
        }
      }
    }

  /** Append a training batch as a new generation of every slice (reads
    * fold with sum — counts are additive); meta totals advance last.
    *
    * Retry contract: a plain append is NOT idempotent. Re-running a
    * COMPLETED append on the same batch counts it twice (the model
    * scores as train ∪ batch ∪ batch — LmSpec pins this); a retry is
    * safe only when the previous attempt died inside its staged write
    * job, before any move into a live slice. Exactly-once callers must
    * use the [[IncLog]] path, [[lmIndexAppendBatchK]], whose batch
    * marker turns a redelivery into a skip. */
  def lmIndexAppendK(train: DataFrame, textCol: String, idCol: String,
                     dir: String): Unit = {
    val spark = train.sparkSession
    // lifecycles are disjoint (see [[graft.llm.IncLog.requireNoCommits]]):
    // a plain append's meta rewrite onto an xo-marked index would make
    // a torn meta look like the bootstrap's own and auto-rebuild away
    // the appended corpus
    IncLog.requireNoCommits(spark, dir)
    val meta0 = spark.read.parquet(s"$dir/meta").head()
    val (oldT, oldN, ord) =
      (meta0.getLong(0), meta0.getLong(1), meta0.getLong(2).toInt)
    // one corpus pass for all ord orders, ONE staged write job, then
    // lowest-order-first moves into each slice's CURRENT generation —
    // the move order is the crash contract (see
    // [[appendGramSlicesStaged]]): any crash prefix leaves every
    // landed order's context order fully landed, preserving the
    // scoring invariant c_{n-1}(x_n) >= c_n(g_n) the backoff division
    // relies on (appended higher-order counts without their
    // lower-order contexts would break it silently — no recover path
    // can see a stale-meta append)
    val batchT = writeCountsK(train, textCol, idCol, ord)(
      appendGramSlicesStaged(_, ord, dir,
        n => GenDir.live(spark, s"$dir/grams_$n")))
    writeMetaK(spark, dir, oldT + batchT, oldN + train.count(), ord)
  }

  /** Fold append generations AND committed batch increments of every
    * slice to one row per gram. Each slice's rewrite lands as the next
    * [[GenDir]] generation carrying its fold watermark, so a standing
    * scorer runs CONCURRENTLY with the compaction and flips atomically
    * per slice (each generation is complete, and skips exactly the
    * increments it folded; a scorer straddling the flip still folds a
    * complete count set). Increments and markers the PREVIOUS summary
    * already covered are garbage-collected — one compaction late, the
    * GenDir retention window, so readers mid-scan on the previous
    * generation keep their increments. `minCount` > 1 prunes rare
    * HIGHER-order grams (orders 2..k; unigrams never — backoff mass
    * and T depend on them), the Brants count cutoff. */
  def lmIndexCompactK(spark: SparkSession, dir: String,
                      minCount: Long = 1L): Unit = {
    val ord = readMetaK(spark, dir)._2
    val v = IncLog.view(spark, dir)
    val (w0, w, wGen) = IncLog.foldBounds(spark, dir, s"$dir/grams_1", v)
    // ONE fold job for every slice (was k overlapped jobs): union each
    // slice's foldable rows under its ord tag, one shared groupBy, one
    // staged (ord, pt)-partitioned write renamed into each slice's
    // next generation; per-slice watermarks/markers/GC unchanged, so
    // readers still flip atomically per slice (pt is a pure function
    // of the gram, so recomputing it in the staged write reproduces
    // the stored bucket exactly)
    IncLog.foldSlicesGen(spark, dir, gramSlices(dir, ord), wGen, v,
      GramSchema) { (rowsPerSlice, nextPaths) =>
      val all = rowsPerSlice.zipWithIndex.map { case (df, i) =>
        df.select(lit(i + 1).as("ord"), col("gram"), col("c"))
      }.reduce(_ unionByName _)
      val folded = all
        .groupBy(col("ord"), col("gram")).agg(sum(col("c")).as("c"))
        .filter(col("ord") === 1 || col("c") >= minCount)
      writeGramSlicesStaged(folded, ord, dir, n => nextPaths(n - 1))
    }
    IncLog.finishFold(spark, dir, gramSlices(dir, ord), v, w0, w)
  }

  /** Heal interrupted compactions and report whether `dir` holds a
    * complete order-k model (meta plus every grams_1..grams_ord
    * slice). Also deletes the `.stage-*` dirs a killed staged write
    * ([[writeGramSlicesStaged]] / [[appendGramSlicesStaged]]) left
    * behind — model-sized, invisible to readers, and otherwise never
    * collected. Run it from the single writer, never beside one. */
  def lmIndexRecoverK(spark: SparkSession, dir: String): Boolean = {
    val dirP = new Path(dir)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(dirP, ".stage-*"))).toSeq.flatten
      .foreach(st => fs.delete(st.getPath, true))
    // torn meta (a write that never finished) must not be READ — and
    // over complete count slices it means a plain append crashed
    // mid-meta-overwrite, where a silent rebuild would discard the
    // accumulated model: fail loudly instead (the exactly-once batch
    // path never rewrites meta past its bootstrap)
    if (GenDir.tornDir(spark, s"$dir/meta")) {
      if (GenDir.existsLiveComplete(spark, s"$dir/grams_1") &&
          // exactly-once bootstrap exception: marker-before-meta means
          // a sole marker + nothing folded is the bootstrap's own meta
          // crash — rebuild via redelivery instead of wedging the
          // stream (see [[IncLog.bootstrapOnly]])
          !IncLog.bootstrapOnly(spark, dir))
        throw new IllegalStateException(
          s"torn meta over complete count slices at $dir: an append " +
            "crashed mid-meta-overwrite; restore meta (t, n_docs, ord) " +
            "or delete the model directory to rebuild from scratch")
      return false // build crashed during its first meta write: rebuild
    }
    if (!GenDir.completeDir(spark, s"$dir/meta")) return false
    val ord = spark.read.parquet(s"$dir/meta").head().getLong(2).toInt
    (1 to ord).forall { n =>
      GenDir.recover(spark, s"$dir/grams_$n")
      GenDir.existsLiveComplete(spark, s"$dir/grams_$n")
    }
  }

  /** Score `docs` against a persisted order-k model — row-identical to
    * [[lmScoreK]] over the same training corpus. The batch's distinct
    * terms drive catalog pruning on every slice (any gram the batch
    * needs starts with a batch token) and a broadcast first-token
    * semi-join drops non-batch grams at the scan; generations fold
    * with sum; T comes from meta. */
  def lmScoreIndexK(docs: DataFrame, textCol: String, idCol: String,
                    dir: String): DataFrame = {
    val spark = docs.sparkSession
    val v = IncLog.view(spark, dir) // ONE increment-log listing per call
    val meta = spark.read.parquet(s"$dir/meta").head()
    val ord = meta.getLong(2).toInt
    val t = meta.getLong(0) + v.deltas._1
    import spark.implicits._
    val batchTerms = docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w1"))
      .distinct()
      .localCheckpoint(true) // feeds the bucket collect and every semi-join
    val hitBuckets = batchTerms.select(bucket(col("w1")).as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val cnts = (1 to ord).map { n =>
      n -> IncLog.readSlice(spark, dir, s"$dir/grams_$n", v, GramSchema)
        .filter(col("pt").isInCollection(hitBuckets))
        .withColumn("w1", substring_index(col("gram"), " ", 1))
        .join(broadcast(batchTerms), "w1")
        .groupBy(col("gram")).agg(sum(col("c")).as("c"))
    }.toMap
    val total = Seq(t).toDF("t")
    scoreWithK(docs, textCol, idCol, cnts, total, ord)
  }

  // ---- CCNet head/middle/tail bucketing ---------------------------------

  /** Cutoff tuples (lm_score_ppm, ntok, doc_id) at the ntile bucket
    * boundaries of a scored frame, ordered by score DESC with the
    * (ntok, doc_id) tiebreak — the ranks where CCNet's head/middle/
    * tail split falls. Returns nBuckets-1 tuples (with repeats when
    * fewer rows than buckets, preserving ntile semantics).
    *
    * The rank extraction is a single-partition window over only the
    * NARROW (8+8+8-byte) triple — exact, and fine to ~millions of
    * rows. Past `maxExactRows` the frame is THINNED first by a
    * deterministic doc-id hash (every f-th tuple survives, f sized to
    * land under the budget) and the cutoffs come from the sample's
    * quantile ranks — an explicit APPROXIMATION (CCNet itself derives
    * thresholds from a reference slice, not the whole crawl), which is
    * also why the budget degrades instead of failing: bucket
    * boundaries are estimates by nature. Below the budget the result
    * is provably ntile's own boundary set. */
  def lmBucketCutoffs(scored: DataFrame, nBuckets: Int,
                      maxExactRows: Long = 4L << 20): Seq[(Long, Long, Long)] = {
    require(nBuckets >= 2, s"need >= 2 buckets, got $nBuckets")
    val spark = scored.sparkSession
    import spark.implicits._
    val total = scored.count()
    if (total == 0) return Seq.fill(nBuckets - 1)((Long.MinValue, 0L, 0L))
    val (base, n) =
      if (total <= maxExactRows) (scored, total)
      else {
        var f = (total + maxExactRows - 1) / maxExactRows
        def thin(fac: Long) = scored
          .filter(pmod(xxhash64(col("doc_id")), lit(fac)) === 0)
          .localCheckpoint(true) // pin the sample: feeds count + window
        var s = thin(f)
        var c = s.count()
        // a hash-thinned sample CAN land empty on an adversarial id set
        // (every id hashing to a nonzero residue mod f): halve the
        // factor until rows appear, degenerating to the exact path at
        // f = 1 — silent Long.MinValue sentinel cutoffs would otherwise
        // assign the whole corpus to bucket 1
        while (c == 0 && f > 1) {
          s.unpersist() // drop the abandoned empty checkpoint's blocks
          f = math.max(1L, f / 2)
          s = thin(f)
          c = s.count()
        }
        (s, c)
      }
    if (n == 0) return Seq.fill(nBuckets - 1)((Long.MinValue, 0L, 0L))
    // cumulative ntile sizes: the first n % nb buckets get one extra
    val ranks = (1 until nBuckets).scanLeft(0L)((acc, j) =>
      acc + n / nBuckets + (if (j <= n % nBuckets) 1L else 0L)).drop(1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lm_score_ppm").desc, col("ntok"), col("doc_id"))
    val byRank = base.select(col("lm_score_ppm"), col("ntok"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn").isin(ranks.map(java.lang.Long.valueOf): _*))
      .select(col("rn").cast("long"), col("lm_score_ppm"), col("ntok"),
        col("doc_id"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (rn, s, k, d) => rn -> ((s, k, d)) }.toMap
    ranks.map(r => byRank(math.max(r, 1L))) // repeats when n < nBuckets
  }

  /** Assign each scored row its quality bucket (1 = head = most fluent
    * under the reference model) given boundary cutoffs — a pure
    * MAP-SIDE when() chain over broadcast constants, the shape that
    * scales to the full corpus: bucket = 1 + number of cutoffs the row
    * sorts strictly after. With cutoffs from [[lmBucketCutoffs]] over
    * the same frame this is EXACTLY `ntile(n) OVER (ORDER BY
    * lm_score_ppm DESC, ntok, doc_id)` — doc_id makes tuples unique,
    * so rank comparison and tuple comparison agree (the llm_lm_buckets
    * oracle pins that equality against DuckDB's ntile). */
  def lmAssignBuckets(scored: DataFrame,
                      cutoffs: Seq[(Long, Long, Long)]): DataFrame = {
    val after = cutoffs.map { case (s, k, d) =>
      // strictly after (s, k, d) in (score DESC, ntok, doc_id) order
      when(col("lm_score_ppm") < s, 1)
        .when(col("lm_score_ppm") === s && (col("ntok") > k ||
          (col("ntok") === k && col("doc_id") > d)), 1)
        .otherwise(0)
    }
    scored.withColumn("bucket",
      after.foldLeft(lit(1))((acc, c) => acc + c))
  }

  /** CCNet's head/middle/tail split (Wenzek et al. §4.3: rank the
    * corpus by language-model quality, cut into equal parts): score
    * buckets 1..nBuckets by descending [[lmScoreK]] ppm. One narrow
    * (budgeted — see [[lmBucketCutoffs]]) sort for the cutoffs + one
    * map-side pass to assign. */
  def lmQualityBuckets(scored: DataFrame, nBuckets: Int = 3,
                       maxExactRows: Long = 4L << 20): DataFrame = {
    // pin the scored lineage ONCE: it is typically the full LM scoring
    // join chain, and without this the count, the cutoff window, and
    // the assignment would each re-execute it from scratch
    val pinned = scored.localCheckpoint(true)
    lmAssignBuckets(pinned, lmBucketCutoffs(pinned, nBuckets, maxExactRows))
  }
}
