package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}

/** Deduplication for large-scale text corpora.
  *
  * Scale design:
  *  - exact: groupBy on a 128-bit content hash — one shuffle keyed by the
  *    hash (uniformly distributed, never skewed), map-side partial agg.
  *  - minhashLsh: the 100-TB path. Shingle → k-minhash signature (one
  *    pass/row) → band keys → self-join on band key. The join blows up only
  *    within buckets; band count/size tune recall vs cost. Candidates are
  *    then exact-verified with a jaccard on shingle sets, so precision is
  *    exact and only recall depends on LSH parameters.
  *  - simhash: 64-bit signature; near-dup = hamming <= maxDist. Candidate
  *    generation for the pairwise check is bucketed by signature bands
  *    (4x16-bit chunks => hamming<=3 guaranteed recall via pigeonhole).
  *  - ngramJaccard: exact pairwise jaccard via shingle inverted index
  *    with prefix-filtered candidate generation (lossless; stop-shingles
  *    never feed the self-join) — the oracle-verifiable baseline and the
  *    verify stage of the LSH paths.
  */
object Dedup {

  /** Exact dedup by content hash; keeps the smallest id per group.
    * `md5` (128-bit) makes collisions implausible; identical texts collapse.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** PARAGRAPH-granular exact dedup (the MassiveText/Gopher "remove
    * duplicated paragraphs" pass): keep the FIRST corpus-wide
    * occurrence of each paragraph — ranked by (doc_id, position), so
    * boilerplate headers/footers repeated across a crawl survive
    * exactly once, in the earliest document — and rebuild every
    * document from its surviving paragraphs in original order.
    *
    * Scale shape: paragraphs explode map-side; the keeper is one
    * groupBy on the paragraph's md5 (min (doc_id, pos) struct — never
    * the paragraph text through the agg), the survivors come back via
    * one join on (hash, doc_id, pos), and reassembly is a per-doc
    * groupBy collecting (pos, para) structs sorted in the projection —
    * three uniform-key shuffles, no windows, no driver state. Empty
    * paragraphs (consecutive separators) are dropped like every
    * tokenizer here drops empty tokens.
    *
    * Output: (doc_id, n_paras, n_kept, clean_text). */
  def dedupParagraphs(docs: DataFrame, textCol: String, idCol: String,
                      sep: String = "\n"): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    val paras = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), sepLit)).as(Seq("pos", "para")))
      .filter(col("para") =!= "")
      .withColumn("h", md5(col("para").cast("binary")))
    val keeper = paras
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("h"), col("k.doc_id").as("doc_id"), col("k.pos").as("pos"))
    val kept = paras.join(keeper, Seq("h", "doc_id", "pos"), "left_semi")
    val counts = paras.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"))
    kept
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para")), sep).as("clean_text"))
      // right join: a doc whose EVERY paragraph was seen earlier keeps
      // an explicit all-cut row (n_kept 0, empty text) for the
      // downstream length filter, it does not silently vanish
      .join(counts, Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Streaming exact dedup: drops documents whose content hash was seen
    * within the watermark horizon — the streaming rendering of `exact`
    * (state = one 128-bit hash per distinct doc inside the horizon,
    * evicted by watermark; unbounded-horizon dedup at 100 TB instead
    * uses the batch groupBy over the accumulated corpus). */
  def streamingExact(df: DataFrame, textCol: String, tsCol: String,
                     watermark: String): DataFrame =
    df.withColumn("content_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Cross-document duplicated-span extraction (the "dedup the span, not
    * the document" pass of Lee et al. 2022, arXiv:2107.06499): every
    * `w`-token window position is hashed (codegen
    * [[graft.functions.WindowHashes]] — 8-byte keys through the
    * shuffles, no window strings materialized); windows occurring in
    * >= 2 distinct docs mark their positions duplicated; contiguous
    * duplicated positions merge into cut-ranges via gaps-and-islands
    * (pos - row_number) inside a per-doc window. Two uniform-key
    * shuffles replace the paper's suffix array.
    *
    * Output: doc_id, span_start, span_end (inclusive 0-based token
    * offsets), span_tokens.
    *
    * `hashWindows = false` switches to the literal string-window
    * formulation — same answer, ~10x the shuffle volume; it exists as
    * the measurement baseline ([[graft.SoakSpans]]) and collision-free
    * cross-check, not a production path. */
  def dupSpans(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", w: Int = 8,
               hashWindows: Boolean = true): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val spark = docs.sparkSession
    val toksed = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .repartition(spark.sparkContext.defaultParallelism)
    val wins =
      if (hashWindows)
        toksed.select(col("doc_id"),
          posexplode(HashFunctions.windowHashes(w)(col("toks")))
            .as(Seq("pos", "w")))
      else
        toksed.filter(size(col("toks")) >= w)
          .select(col("doc_id"), posexplode(expr(
            s"transform(sequence(0, size(toks)-$w)," +
              s" i -> concat_ws(' ', slice(toks, i+1, $w)))"))
            .as(Seq("pos", "w")))
    val dupW = wins.groupBy(col("w"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("w")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    wins.join(dupW, "w")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1).cast("long")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
  }

  /** Apply the exact-substring cuts [[dupSpans]] reports: rebuild every
    * document's text WITHOUT its duplicated positions, keeping exactly
    * one copy of each duplicated window corpus-wide (the min-doc_id
    * occurrence — the deterministic stand-in for Lee et al.'s
    * "keep one occurrence" rule). A position is cut iff some >=2-doc
    * window covers it in a doc that is not that window's keeper; docs
    * whose every position is cut drop from the output (nothing left to
    * keep), and docs shorter than `w` pass through untouched.
    *
    * Shape: the same two uniform-hash shuffles as [[dupSpans]] plus one
    * per-doc reassembly agg — nothing quadratic, nothing driver-side.
    * Output: doc_id, n_tok (original), n_kept, clean_text. */
  def cutDupSpans(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", w: Int = 8): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val spark = docs.sparkSession
    val toksed = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .repartition(spark.sparkContext.defaultParallelism)
    val wins = toksed.select(col("doc_id"),
      posexplode(HashFunctions.windowHashes(w)(col("toks")))
        .as(Seq("pos", "w")))
    val dupW = wins.groupBy(col("w"))
      .agg(min(col("doc_id")).as("keeper"),
        count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("w", "keeper")
    val cuts = wins.join(dupW, "w")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .distinct()
    cutPositions(toksed, cuts)
  }

  /** Cut the given `(doc_id, p)` token positions out of `toksed`
    * (`doc_id`, `toks`) and reassemble in order — the shared tail of
    * [[cutDupSpans]] and [[applySpanCuts]]. Docs left with zero tokens
    * drop (the group vanishes). */
  private def cutPositions(toksed: DataFrame, cuts: DataFrame): DataFrame =
    toksed
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .join(cuts, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"))
          .as("clean_text"))
      .select(col("doc_id"), col("n_tok"), col("n_kept"), col("clean_text"))

  /** Apply externally-computed spans (e.g. [[spanIndexMatches]] output:
    * `doc_id, span_start, span_end` in 0-based token offsets) as cuts:
    * every covered position goes, everything else reassembles in order.
    * Docs with no spans pass through intact; docs cut to nothing drop.
    * Output: doc_id, n_tok (original), n_kept, clean_text. */
  def applySpanCuts(docs: DataFrame, spans: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val toksed = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .repartition(spark.sparkContext.defaultParallelism)
    val cuts = spans.select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("p"))
    cutPositions(toksed, cuts)
  }

  /** Collapse exact-duplicate texts to their min-id representative row.
    * Exact dups share the entire shingle set, so every member's
    * similarity edges are identical to its representative's: computing
    * pairs over representatives is lossless for clustering decisions
    * while removing the sum(group_size^2)-per-bucket candidate term
    * that dominates dup-heavy corpora (see [[resolveClusters]] for the
    * measured blow-up). Member-level pairs are recoverable by fanning
    * each rep pair across its two exact-dup groups via the content
    * hash. */
  private def exactRepresentatives(df: DataFrame, textCol: String,
                                   idCol: String): DataFrame = {
    val reps = df
      .groupBy(md5(col(textCol).cast("binary")).as("__h"))
      .agg(min(col(idCol)).as("__rep"))
      .select(col("__rep").as(idCol))
    df.join(reps, Seq(idCol))
  }

  private def maybeCollapse(df: DataFrame, textCol: String, idCol: String,
                            collapseExact: Boolean): DataFrame =
    if (collapseExact) exactRepresentatives(df, textCol, idCol) else df

  /** Distinct (id, shingle) pairs — inverted-index input for jaccard. */
  private def shingleIndex(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(TextFunctions.wordShingles(col(textCol), n)).as("shingle"))
      .distinct()

  /** Exact pairwise n-gram jaccard >= threshold (id_a < id_b).
    * Output: id_a, id_b, jaccard (rounded to 6 dp for cross-engine
    * comparability). `collapseExact` emits pairs between exact-dup
    * representatives only (see [[exactRepresentatives]]).
    *
    * Candidate generation uses PREFIX FILTERING (Chaudhuri et al., "A
    * Primitive Operator for Similarity Joins", ICDE'06; Xiao et al.,
    * PPJoin, WWW'08), which is LOSSLESS: order every document's shingles
    * by one global total order (ascending document frequency, ties on
    * the shingle value); a pair A,B with jaccard >= t has overlap
    * |A∩B| >= ceil(t*max(|A|,|B|)) >= ceil(t*|A|), and if the first
    * |A| - ceil(t*|A|) + 1 <= floor((1-t)*|A|)+1 shingles of A shared
    * nothing with B's prefix of the same form, the pair's overlap under
    * the common order could not reach that bound — so every qualifying
    * pair shares at least one PREFIX shingle, and the self-join runs on
    * the prefix index only. Survivors are exact-verified (full-set
    * intersection), so the answer is bit-identical to the unfiltered
    * quadratic form. This removes the stop-shingle skew hazard: a
    * shingle occurring in most documents has maximal df, sorts LAST in
    * every document, and lands in a prefix only for documents composed
    * almost entirely of even-more-frequent shingles — the one join
    * bucket that used to be quadratic in the corpus no longer feeds the
    * join at all.
    *
    * The shingle index feeds four consumers (df, counts, prefix, the
    * verify join), so it caches for the duration of this call only —
    * same release-before-return contract as [[minhashLshPairs]]: the
    * slim pair result is eagerly localCheckpointed, then the cache
    * drops. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double,
                        collapseExact: Boolean = false): DataFrame = {
    val idx = shingleIndex(maybeCollapse(df, textCol, idCol, collapseExact),
      textCol, idCol, n).cache()
    val counts = idx.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
    val dfreq = idx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val prefix = idx.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(byRarity))
      .join(counts, "id")
      // +1e-9 before the floor: (1-t)*n computed in doubles can land a
      // hair BELOW its exact value when it is exactly integral (e.g.
      // 1.0-0.8 = 0.20000000000000007 but 1.0-0.9 = 0.099999...98, so
      // 0.1*20 -> 1.9999...96), and an undershot floor shortens the
      // prefix below the lossless bound — dropping qualifying pairs at
      // the threshold boundary. The epsilon can only LENGTHEN a prefix
      // (more candidates, never fewer), which keeps losslessness.
      .filter(col("rk") <=
        floor(lit(1.0 - threshold) * col("n_shingles") + lit(1e-9)) + lit(1))
      .select(col("id"), col("shingle"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val inter = cand
      .join(idx.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(idx.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "na"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "nb"), "id_b")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val materialized = out.localCheckpoint(true)
    idx.unpersist(false)
    materialized
  }

  /** MinHash + LSH near-dup pairs, exact-verified.
    *
    * numBands * rowsPerBand = signature length. With the default 16x4 the
    * probability a pair at jaccard j becomes a candidate is
    * 1-(1-j^4)^16 (~0.99998 at j=0.7, ~0.04 at j=0.2).
    *
    * Shingles are 64-bit-hashed up front (codegen'd xxhash64) so every
    * later stage — signature, band keys, exact verify — works on long
    * arrays instead of strings: one narrow pass per doc, one band-key
    * shuffle for candidates, one broadcast join for the verify. Collision
    * risk at 64 bits is ~(total shingles)^2 / 2^64, negligible against
    * the LSH's own false-negative rate.
    *
    * `collapseExact` collapses exact-dup groups to their min-id
    * representative BEFORE the signature stage (the order the curation
    * pipeline encodes: exact dedup before near-dup), so callers that
    * only need rep-level pair yield skip the quadratic
    * within-exact-group candidates entirely.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleN: Int, threshold: Double,
                      numBands: Int = 16, rowsPerBand: Int = 4,
                      collapseExact: Boolean = false): DataFrame =
    minhashLshPairsOn(maybeCollapse(df, textCol, idCol, collapseExact),
      textCol, idCol, shingleN, threshold, numBands, rowsPerBand)

  /** [[minhashLshPairs]] body over an input whose exact-dup collapse (if
    * any) the caller already performed — lets [[resolveClusters]] reuse
    * its own representative computation instead of hashing the corpus a
    * second time. */
  private def minhashLshPairsOn(df: DataFrame, textCol: String, idCol: String,
                                shingleN: Int, threshold: Double,
                                numBands: Int, rowsPerBand: Int): DataFrame = {
    val k = numBands * rowsPerBand
    // spread single-file inputs across cores before the per-doc hashing.
    // The cache is deliberate: the hashed shingle sets feed THREE
    // consumers inside this one query (signatures, verify side A, verify
    // side B) and recomputing the per-doc hashing per consumer triples
    // the dominant cost. Its lifetime is THIS CALL: the slim pair result
    // (bounded by dup yield) is eagerly localCheckpointed below, after
    // which the shingle cache unpersists — nothing survives the call.
    val hashed = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        HashFunctions.shingleHashes(shingleN)(TextFunctions.tokens(col(textCol))).as("sh"))
      .cache()
    val sigs = hashed
      .withColumn("sig", HashFunctions.minhashSigLongs(k)(col("sh")))
      .select(col("id"), posexplode(HashFunctions.bandKeys(numBands, rowsPerBand)(col("sig"))))
      .select(col("id"), col("pos").as("band_idx"), col("col").as("band_key"))
    // candidates: same band index + band key; dedup pairs across bands
    val cands = sigs.as("a").join(sigs.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact verify on the candidate set only, over the hashed shingle
    // sets. The SLIM id-pair set broadcasts (16 bytes/pair — fine far
    // past any realistic yield); the pair set WITH shingle arrays
    // attached (withA) is deliberately NOT hinted: on a dup-heavy corpus
    // it is pairs x shingle-set sized, and a forced broadcast would fail
    // the job where AQE's runtime stats instead degrade it to a shuffle
    // join (and still broadcast it when it is actually small).
    val withA = hashed.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(broadcast(cands), "id_a")
    val verify = hashed.select(col("id").as("id_b"), col("sh").as("sh_b"))
      .join(withA, "id_b")
    val out = verify
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // one eager pass materializes every consumer of the shingle cache,
    // then the cache is released — the pair set is O(dup yield), and the
    // checkpoint blocks free via the ContextCleaner when the caller drops
    // the result (unlike a CacheManager entry, which pins for the
    // session). Downstream cluster resolution (CC fixpoint / union-find
    // collect) re-reads the checkpoint instead of recomputing the LSH.
    val materialized = out.localCheckpoint(true)
    hashed.unpersist(false)
    materialized
  }

  /** Cluster resolution over the near-dup pair graph: connected
    * components (cluster_root = min doc id in the component) plus
    * keep-best selection (longest text, ties to the smallest id) — the
    * step that turns pairwise similarity into an actual dedup decision.
    *
    * Two component strategies, same contract (root = min id):
    *  - `distributed = false`: union-find on the COLLECTED pair list —
    *    candidate pairs are usually O(#duplicates), far smaller than
    *    the corpus, BUT the count is data-dependent (quadratic in
    *    cluster sizes on near-dup-dense corpora), so the collect is
    *    budget-gated: the pair set is counted first and past
    *    `maxDriverPairs` the resolution falls back to the distributed
    *    fixpoint automatically (count-then-fallback, the tree's
    *    convention for every data-dependent driver materialization).
    *  - `distributed = true`: [[ConnectedComponents]] alternating
    *    large-star/small-star map-reduce — the 100-TB path where the pair
    *    set itself is too big to collect. The surrounding dataflow is
    *    unchanged; cluster assignment rejoins via broadcast either way
    *    while the root map (#non-root-duplicates rows) fits
    *    `broadcastRootMaxRows`, degrading to an AQE-planned join beyond
    *    that instead of failing the broadcast build.
    *
    * Exact-duplicate groups are collapsed to their min-id representative
    * BEFORE the LSH stage: exact dups share the whole shingle set, so
    * every member's similarity edges are identical to the
    * representative's — the collapse is lossless for cluster content
    * while removing the sum(group_size^2)-per-band candidate term that
    * otherwise dominates dup-heavy corpora. Measured on a 500k-doc
    * corpus of 100-member exact-dup groups (local[32]): the uncollapsed
    * path died building the cluster-root broadcast after 3+ minutes of
    * candidate generation; collapsed resolves in ~6s warm.
    *
    * Output: doc_id, cluster_root, keep.
    */
  def resolveClusters(df: DataFrame, textCol: String, idCol: String,
                      shingleN: Int, threshold: Double,
                      distributed: Boolean = false,
                      broadcastRootMaxRows: Long = 4L << 20,
                      maxDriverPairs: Long = 4L << 20): DataFrame =
    resolveClustersBy(df, textCol, idCol, shingleN, threshold,
      length(col(textCol)), distributed, broadcastRootMaxRows,
      maxDriverPairs)

  /** [[resolveClusters]] with keep-best by a CALLER-SUPPLIED score
    * expression over the document row (highest wins, ties to the
    * smallest id) instead of text length — the curation form: keep
    * each near-dup cluster's best-QUALITY representative (e.g.
    * `TextFunctions.qualityScore(col("text"))`, or a model score
    * column) rather than merely its longest. Same component contract,
    * same plan; only the per-cluster argmax changes. */
  def resolveClustersBy(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int, threshold: Double,
                        keepScore: org.apache.spark.sql.Column,
                        distributed: Boolean = false,
                        broadcastRootMaxRows: Long = 4L << 20,
                        maxDriverPairs: Long = 4L << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df.select(col(idCol), keepScore.as("__len"),
      md5(col(textCol).cast("binary")).as("__h"))
    val groupRep = hashed.groupBy(col("__h")).agg(min(col(idCol)).as("__rep"))
    // exact-dup collapse reusing groupRep — one content-hash pass feeds
    // both the collapse and the fan-back-out join below
    val collapsed = df.join(groupRep.select(col("__rep").as(idCol)), Seq(idCol))
    // pin the pair set ONCE: it feeds the budget count below AND
    // whichever component strategy runs (and CC's fixpoint would
    // otherwise re-run the whole LSH pipeline per round-0 read)
    val pairDf = minhashLshPairsOn(collapsed, textCol, idCol, shingleN, threshold,
      numBands = 16, rowsPerBand = 4).localCheckpoint(true)
    // the driver union-find is BUDGET-GATED, never trusted blindly:
    // pair count is data-dependent (a near-dup-dense corpus makes it
    // quadratic in cluster sizes), so count first and past
    // `maxDriverPairs` fall back to the distributed fixpoint
    // automatically — the same count-then-fallback discipline as
    // `broadcastRootMaxRows` below and `maxCandBroadcast` in Retrieval.
    // Short-circuited: an explicit `distributed = true` never pays the
    // count job — the gate only runs when the driver path is a
    // candidate (the 100-TB caller sets the flag precisely to skip
    // driver work, count job included).
    val useCc = distributed || pairDf.count() > maxDriverPairs
    // rootRows is known either way (locally, or via a cheap count over the
    // localCheckpointed CC fixpoint) and gates the broadcast below
    val (rootDf, rootRows) =
      if (useCc) {
        val cc = ConnectedComponents.run(pairDf, "id_a", "id_b")
          .withColumnRenamed("id", idCol)
        (cc, cc.count())
      } else {
        val pairs = pairDf.select(col("id_a"), col("id_b"))
          .as[(Long, Long)].collect()
        // union-find with path compression
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x
          else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
        }
        val roots = (pairs.flatMap(p => Seq(p._1, p._2)).distinct)
          .map(id => id -> find(id)).filter { case (id, r) => id != r }
        (roots.toSeq.toDF(idCol, "cluster_root"), roots.length.toLong)
      }
    // expand: each representative's root (default itself) fans back out
    // to its whole exact-dup group via the content hash. The component
    // minimum over representatives IS the global minimum id (each rep is
    // its group's min), so roots are unchanged by the collapse.
    // The root map is #non-root-duplicates rows — usually tiny, so hint
    // it broadcast; on a dup-heavy corpus where it outgrows the broadcast
    // budget, fall back to a plain join and let AQE pick the strategy
    // instead of failing the job mid-broadcast.
    val rootRenamed = rootDf.withColumnRenamed(idCol, "__rep")
    val rootJoinSide =
      if (rootRows <= broadcastRootMaxRows) broadcast(rootRenamed) else rootRenamed
    val repRoot = groupRep
      .join(rootJoinSide, Seq("__rep"), "left")
      .select(col("__h"),
        coalesce(col("cluster_root"), col("__rep")).as("__root"))
    val withRoot = hashed.join(repRoot, Seq("__h"))
      .select(col(idCol), col("__len"), col("__root").as("cluster_root"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_root"))
      .orderBy(col("__len").desc, col(idCol).asc)
    withRoot
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_root"), col("keep"))
  }

  /** Directory-partition fan-out of the persisted index's shingle slice:
    * candidate ids map to `pmod(xxhash64(id), IndexIdBuckets)` directories,
    * so a batch whose candidates touch few buckets prunes the verify scan
    * at the PARTITION level (catalog pruning works for arbitrarily long
    * id lists, unlike parquet row-group In-pushdown which caps at a
    * handful of literals). 256 keeps the bucket list a bounded collect
    * (<= 256 values) at any corpus size. */
  val IndexIdBuckets = 256

  private def idBucket(id: Column): Column =
    pmod(xxhash64(id), lit(IndexIdBuckets)).cast("int")

  /** (shingleN, numBands, rowsPerBand) a persisted index was built with —
    * for callers that must sign OTHER frames compatibly (e.g. the
    * streaming admission loop's intra-batch pass). */
  def lshIndexParams(spark: org.apache.spark.sql.SparkSession,
                     dir: String): (Int, Int, Int) = readIndexMeta(spark, dir)

  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
                            dir: String): (Int, Int, Int) = {
    val m = spark.read.parquet(s"$dir/meta").head()
    (m.getAs[Int]("shingle_n"), m.getAs[Int]("num_bands"),
      m.getAs[Int]("rows_per_band"))
  }

  /** Build a persisted MinHash-LSH dedup index under `dir` — the
    * build-once/query-many shape for INCREMENTAL dedup: hash the corpus
    * once, then dedup every incoming batch against the index without
    * recomputing the corpus (the daily-crawl-vs-warehouse loop of a
    * training-data pipeline). The persisted-index counterpart of
    * [[minhashLshPairs]], mirroring [[Similarity.ivfBuildIndex]]'s
    * layout discipline.
    *
    * Layout under `dir`:
    *  - `meta`: one row (shingle_n, num_bands, rows_per_band) — the query
    *    side derives its parameters from the index, so a batch can never
    *    be signed with mismatched knobs;
    *  - `shingles/` partitioned by `id_pt` (see [[IndexIdBuckets]]):
    *    (id, sh) hashed shingle sets, sorted by id within files — the
    *    exact-verify side, partition-pruned per batch;
    *  - `bands/`: (band_idx, band_key, id) — the corpus's LSH keys, the
    *    candidate-generation side.
    *
    * The corpus is hashed ONCE: the shingle slice is written first and
    * the band slice derives from reading it back — no second pass over
    * the raw text and no corpus-sized cache pinned during the build. */
  def lshBuildIndex(df: DataFrame, textCol: String, idCol: String, dir: String,
                    shingleN: Int = 3, numBands: Int = 16,
                    rowsPerBand: Int = 4): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // fresh build starts both slices' generation history over
    GenDir.resetAll(spark, s"$dir/shingles", s"$dir/bands")
    Seq((shingleN, numBands, rowsPerBand))
      .toDF("shingle_n", "num_bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // ONE hashing pass into a DISK_ONLY persist; the two slices write
    // OVERLAPPED from it (guide §2.6 — order-free inside a build:
    // lshIndexRecover demands meta AND shingles AND bands complete, so
    // any crash point reads as "no index" whichever slice landed first).
    // Pre-r15 the band slice re-read the just-written shingles.
    val hashed = df.repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        HashFunctions.shingleHashes(shingleN)(TextFunctions.tokens(col(textCol))).as("sh"),
        idBucket(col(idCol)).as("id_pt"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    Par.run(Seq(
      () => hashed
        // co-locate each id_pt directory's rows before the partitioned
        // write: a task holding random rows would open up to IndexIdBuckets
        // files each (tasks x buckets small files); keyed, each directory
        // is written by the task(s) owning its bucket
        .repartition(spark.sparkContext.defaultParallelism, col("id_pt"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("id_pt").parquet(s"$dir/shingles"),
      () => writeBandSlice(spark, s"$dir/bands", numBands, rowsPerBand,
        hashed, org.apache.spark.sql.SaveMode.Overwrite)))
    hashed.unpersist()
  }

  /** Append already-accepted documents to a persisted index — the
    * maintenance half of the incremental loop: dedup a batch with
    * [[lshIndexMatches]], then append its survivors. Batch-sized, so the
    * one localCheckpoint (feeding both slices without re-hashing the
    * text) is bounded by the batch, never the corpus. */
  def lshIndexAppend(df: DataFrame, textCol: String, idCol: String,
                     dir: String): Unit = {
    val spark = df.sparkSession
    val (shingleN, numBands, rowsPerBand) = readIndexMeta(spark, dir)
    val hashed = df.repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        HashFunctions.shingleHashes(shingleN)(TextFunctions.tokens(col(textCol))).as("sh"),
        idBucket(col(idCol)).as("id_pt"))
      .localCheckpoint(true)
    hashed.repartition(spark.sparkContext.defaultParallelism, col("id_pt"))
      .sortWithinPartitions(col("id"))
      // appends land in the CURRENT generation (single-writer contract)
      // — committer v1 so a crash leaves the slice row-identical
      .write.options(GenDir.V1AppendCommitter)
      .mode("append").partitionBy("id_pt")
      .parquet(GenDir.live(spark, s"$dir/shingles"))
    writeBandSlice(spark, GenDir.live(spark, s"$dir/bands"), numBands,
      rowsPerBand, hashed, org.apache.spark.sql.SaveMode.Append)
  }

  private def writeBandSlice(spark: org.apache.spark.sql.SparkSession,
                             path: String, numBands: Int, rowsPerBand: Int,
                             hashed: DataFrame,
                             mode: org.apache.spark.sql.SaveMode): Unit =
    hashed
      .withColumn("sig", HashFunctions.minhashSigLongs(numBands * rowsPerBand)(col("sh")))
      .select(col("id"), posexplode(HashFunctions.bandKeys(numBands, rowsPerBand)(col("sig"))))
      .select(col("pos").as("band_idx"), col("col").as("band_key"), col("id"))
      // committer v1 on appends — see [[GenDir.V1AppendCommitter]]
      .write.options(
        if (mode == org.apache.spark.sql.SaveMode.Append)
          GenDir.V1AppendCommitter
        else Map.empty[String, String])
      .mode(mode).parquet(path)

  /** Near-dup matches of a batch AGAINST a persisted index (see
    * [[lshBuildIndex]]): (batch_id, corpus_id, jaccard) for every pair at
    * exact n-gram jaccard >= threshold whose LSH bands collide — the same
    * candidates-then-exact-verify contract as [[minhashLshPairs]], with
    * the corpus side served entirely from the index.
    *
    * Scale shape:
    *  - the batch signs itself with the INDEX's parameters (read from
    *    `meta` — mismatched knobs are impossible by construction);
    *  - candidate generation joins the batch's band keys against the
    *    band slice: the batch side is the small one and carries no hint —
    *    AQE broadcasts it under the threshold and degrades to a shuffle
    *    join for a giant backfill batch, the index side never shuffles;
    *  - exact verify reads ONLY the shingle partitions the candidate ids
    *    hash into (a <= [[IndexIdBuckets]] bounded collect drives catalog
    *    partition pruning — `ivfSearchIndex`'s probed-cells discipline,
    *    adapted to ids), then joins the slim candidate pairs broadcast —
    *    gated: the candidate count is known exactly (the set is an eager
    *    checkpoint), and past `broadcastCandMaxRows` the verify join
    *    degrades to a shuffle join instead of betting the driver on a
    *    pathological batch colliding with much of the corpus (the
    *    `resolveClusters` broadcastRootMaxRows discipline).
    */
  def lshIndexMatches(batch: DataFrame, textCol: String, idCol: String,
                      dir: String, threshold: Double,
                      broadcastCandMaxRows: Long = 4L << 20): DataFrame = {
    val spark = batch.sparkSession
    val (shingleN, numBands, rowsPerBand) = readIndexMeta(spark, dir)
    val hashed = batch.repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("qid"),
        HashFunctions.shingleHashes(shingleN)(TextFunctions.tokens(col(textCol))).as("sh_a"))
      .cache()
    val qBands = hashed
      .withColumn("sig", HashFunctions.minhashSigLongs(numBands * rowsPerBand)(col("sh_a")))
      .select(col("qid"), posexplode(HashFunctions.bandKeys(numBands, rowsPerBand)(col("sig"))))
      .select(col("qid"), col("pos").as("band_idx"), col("col").as("band_key"))
    val cands = qBands
      .join(spark.read.parquet(GenDir.live(spark, s"$dir/bands")),
        Seq("band_idx", "band_key"))
      .select(col("qid"), col("id")).distinct()
      .localCheckpoint(true)
    // bounded by construction: <= IndexIdBuckets distinct values
    val hitBuckets = cands.select(idBucket(col("id")).as("pt")).distinct()
      .collect().map(_.getInt(0))
    val idxSh = spark.read.parquet(GenDir.live(spark, s"$dir/shingles"))
      .filter(col("id_pt").isInCollection(hitBuckets.toSeq))
      .select(col("id"), col("sh").as("sh_b"))
    // count is free: cands is an eager localCheckpoint
    val candsSide =
      if (cands.count() <= broadcastCandMaxRows) broadcast(cands) else cands
    val out = idxSh.join(candsSide, "id")
      .join(hashed, "qid")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("qid").as("batch_id"), col("id").as("corpus_id"), col("jaccard"))
    val materialized = out.localCheckpoint(true)
    hashed.unpersist(false)
    materialized
  }

  /** Build a persisted exact-substring index under `dir` — the
    * incremental form of [[dupSpans]]: the corpus's DISTINCT `w`-token
    * window hashes (the [[graft.functions.WindowHashes]] fold), written
    * range-partitioned and sorted, plus a `meta` slice pinning `w` so a
    * batch can never sign itself with mismatched windows.
    *
    * Unlike the LSH index's band keys, window hashes are uniform — no
    * catalog slice can be pruned for an arbitrary batch, and that is
    * fundamental (the paper's suffix array is corpus-sized too). The
    * scale contract is instead: the index is the SLIMMEST possible
    * rendering of the corpus's window set (8 bytes per distinct window),
    * a match STREAMS it exactly once against a broadcast of the batch's
    * distinct hashes — the index side never shuffles — and appends add
    * only never-seen hashes, so the index converges on a dup-heavy feed
    * instead of growing per batch. */
  def spanBuildIndex(docs: DataFrame, idCol: String, textCol: String,
                     dir: String, w: Int = 8): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    // fresh build starts the window slice's generation history over
    GenDir.resetAll(spark, s"$dir/windows")
    Seq(w).toDF("w").coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    batchWindowHashes(docs, idCol, textCol, w)
      .select(col("wh")).distinct()
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("wh"))
      .sortWithinPartitions(col("wh"))
      .write.mode("overwrite").parquet(s"$dir/windows")
  }

  /** (qid, pos, wh) for every window position of every doc. */
  private def batchWindowHashes(docs: DataFrame, idCol: String,
                                textCol: String, w: Int): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("qid"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("qid"),
        posexplode(HashFunctions.windowHashes(w)(col("toks"))).as(Seq("pos", "wh")))

  private def readSpanMeta(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Int =
    spark.read.parquet(s"$dir/meta").head().getInt(0)

  /** The window size a persisted span index was built with — public for
    * callers that must sign auxiliary work (e.g. intra-batch cuts) with
    * the index's own parameter. */
  def spanIndexParams(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Int = readSpanMeta(spark, dir)

  /** Duplicated spans of a batch AGAINST a persisted span index (see
    * [[spanBuildIndex]]): for each batch doc, the merged token ranges
    * covered by windows already present in the corpus — [[dupSpans]]'
    * report with the corpus side served entirely from the index
    * (batch-internal duplication deliberately NOT flagged; admit the
    * batch with [[spanIndexAppend]] and the next batch will see it).
    *
    * Scale shape: the batch's distinct hashes broadcast into ONE
    * streamed scan of the index (no index shuffle, no driver state);
    * the surviving intersection (<= batch distinct hashes) broadcasts
    * back onto the batch's positional windows; span merge is the same
    * gaps-and-islands per-doc window as [[dupSpans]]. Per-batch cost =
    * one index scan + batch-sized work, whatever the corpus size. */
  def spanIndexMatches(batch: DataFrame, idCol: String, textCol: String,
                       dir: String, materialize: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val w = readSpanMeta(spark, dir)
    val bw = batchWindowHashes(batch, idCol, textCol, w).cache()
    val bHashes = bw.select(col("wh")).distinct()
    val hits = spark.read.parquet(GenDir.live(spark, s"$dir/windows"))
      .join(broadcast(bHashes), "wh")
      .select(col("wh")) // distinct by construction: index side is distinct
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val out = bw.join(broadcast(hits), "wh")
      .select(col("qid").as("doc_id"), col("pos").cast("long").as("pos"))
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1).cast("long")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
    // materialize=false returns the raw plan (cache still held) — for
    // plan-shape assertions only; production callers keep the default
    // eager checkpoint + cache release
    if (!materialize) out
    else {
      val materialized = out.localCheckpoint(true)
      bw.unpersist(false)
      materialized
    }
  }

  /** Surgical decontamination: cut every token run of `train` that the
    * (small) eval set also contains, keeping the rest of each doc — the
    * rewrite form of benchmark decontamination. The eval window-hash set
    * broadcasts (eval benchmarks are tiny next to a training corpus), so
    * the train side streams through one narrow join — no index on disk,
    * no corpus-sized shuffle beyond the span merge itself. For an eval
    * set too big to broadcast, [[spanBuildIndex]] + [[spanIndexMatches]]
    * + [[applySpanCuts]] is the persisted equivalent.
    * Output: doc_id, n_tok, n_kept, clean_text. */
  def decontaminateCut(train: DataFrame, evalDocs: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       w: Int = 8): DataFrame = {
    val evalHashes = batchWindowHashes(evalDocs, idCol, textCol, w)
      .select(col("wh")).distinct()
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = batchWindowHashes(train, idCol, textCol, w)
      .join(broadcast(evalHashes), "wh")
      .select(col("qid").as("doc_id"), col("pos").cast("long").as("pos"))
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1).cast("long")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
    applySpanCuts(train, spans, idCol, textCol)
  }

  /** Benchmark-contamination sweep (the llm_decontaminate shape: docs
    * sharing >= `minShared` distinct `n`-gram shingles with the
    * eval-source rows) with a BLOOM prefilter — EXACT results: Bloom
    * filters have no false negatives, so the prefiltered train
    * shingles are a superset of the true hits, and the exact verify
    * join removes every false positive (the llm_decontaminate_bloom
    * oracle reuses the plain sweep's DuckDB twin verbatim to pin
    * that).
    *
    * Why it exists: the plain sweep BROADCASTS the exact eval shingle
    * set — right when eval benchmarks are small, impossible when the
    * "eval" side is itself corpus-scale (e.g. decontaminating against
    * an entire held-out split). Here the eval set is condensed to
    * `numBits` bits built and probed by Spark's own runtime-filter
    * expressions (`BloomFilterAggregate` / `BloomFilterMightContain` —
    * no UDF boundary, the probe stays inside codegen), so the train
    * stream is pruned map-side to ~true hits + fpp of the stream, and
    * only those survivors enter the exact verify join's shuffle —
    * which AQE then sizes off the (small) surviving side. */
  def contaminationBloomSweep(docs: DataFrame, idCol: String,
                              textCol: String, sourceCol: String,
                              evalValue: String, n: Int = 8,
                              minShared: Long = 20L,
                              estimatedEvalItems: Long = 4000000L,
                              numBits: Long = 8L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val spark = docs.sparkSession
    val sh = docs
      .select(col(idCol).as("doc_id"), col(sourceCol).as("__src"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .repartition(spark.sparkContext.defaultParallelism) // HOF lesson
      .select(col("doc_id"), col("__src"),
        explode(expr("array_distinct(transform(" +
          s"sequence(0, greatest(size(toks)-$n, 0))," +
          s" i -> concat_ws(' ', slice(toks, i+1, $n))))")).as("s"))
    val evalSh = sh.filter(col("__src") === evalValue)
      .select(col("s")).distinct()
    def xx(c: Column) =
      new XxHash64(Seq(GraftBridge.resolvedExpression(c)), 42L)
    val bloomBytes = evalSh
      .agg(GraftBridge.column(new BloomFilterAggregate(xx(col("s")),
          Literal(estimatedEvalItems), Literal(numBits))
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // an empty eval set yields a null filter: nothing can be shared
    if (bloomBytes == null)
      return sh.filter(lit(false))
        .select(col("doc_id"), lit(0L).as("shared_ngrams"),
          lit(false).as("contaminated"))
    val survivors = sh.filter(col("__src") =!= evalValue)
      .filter(GraftBridge.column(new BloomFilterMightContain(
        Literal.create(bloomBytes,
          org.apache.spark.sql.types.BinaryType), xx(col("s")))))
    survivors.join(evalSh, "s") // exact verify: no broadcast needed
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("s")).as("shared_ngrams"))
      .withColumn("contaminated", col("shared_ngrams") >= minShared)
  }

  /** Admit a batch's windows into the index: append ONLY hashes the
    * index has never seen (novel = batch distinct minus one streamed
    * intersection scan), sorted into their own tight-stat files. On a
    * dup-heavy feed the index grows with novelty, not batch count. */
  def spanIndexAppend(docs: DataFrame, idCol: String, textCol: String,
                      dir: String): Unit = {
    val spark = docs.sparkSession
    val w = readSpanMeta(spark, dir)
    val live = GenDir.live(spark, s"$dir/windows")
    val bHashes = batchWindowHashes(docs, idCol, textCol, w)
      .select(col("wh")).distinct().localCheckpoint(true)
    val seen = spark.read.parquet(live)
      .join(broadcast(bHashes), "wh").select(col("wh"))
    bHashes.join(seen, Seq("wh"), "left_anti")
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("wh"))
      .sortWithinPartitions(col("wh"))
      // into the CURRENT generation (single-writer contract) —
      // committer v1 so a crash leaves the slice row-identical
      .write.options(GenDir.V1AppendCommitter)
      .mode("append").parquet(live)
  }

  // ---- index compaction (the operational close of the append loop) ----

  /** Replace `path` with the parquet rendering of `rewrite` as the next
    * [[GenDir]] generation — crash-safe (every crash point heals on the
    * next compact/recover) AND concurrent with reads: standing queries
    * keep resolving the previous generation until the commit marker
    * lands. Same discipline as [[Retrieval.bm25IndexCompact]]. */
  private def genRewrite(spark: org.apache.spark.sql.SparkSession,
                         path: String)(rewrite: DataFrame =>
                         org.apache.spark.sql.DataFrameWriter[
                           org.apache.spark.sql.Row]): Unit =
    GenDir.rewriteGen(spark, path) { (live, next) =>
      rewrite(spark.read.parquet(live)).parquet(next)
    }

  /** Compact a persisted LSH dedup index after a run of appends: every
    * [[lshIndexAppend]] lays new files into each touched `id_pt`
    * directory and appends a band-slice generation, so batch matching
    * opens ~N file generations per bucket. Rewrites both slices back to
    * the fresh-build layout (shingles bucket-keyed + id-sorted, bands
    * one parallelism-wide set); `meta` is untouched, answers unchanged. */
  def lshIndexCompact(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    // the two slices rewrite within their own GenDirs — independent
    // directories, overlapped jobs (guide §2.6)
    Par.run(Seq(
      () => genRewrite(spark, s"$dir/shingles")(df =>
        df.repartition(parts, col("id_pt"))
          .sortWithinPartitions(col("id"))
          .write.mode("overwrite").partitionBy("id_pt")),
      () => genRewrite(spark, s"$dir/bands")(df =>
        df.repartition(parts).write.mode("overwrite"))))
  }

  /** Heal any interrupted compaction on a persisted LSH dedup
    * index and report whether `dir` holds a complete index (meta,
    * shingles AND bands) — the bootstrap check of
    * [[graft.streaming.StreamingIndexDedup]]; same contract as
    * [[Retrieval.bm25IndexRecover]]. */
  def lshIndexRecover(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Boolean = {
    GenDir.recover(spark, s"$dir/shingles")
    GenDir.recover(spark, s"$dir/bands")
    // completeness demands FINISHED writes ([[GenDir.completeDir]] /
    // existsLiveComplete): a build that died mid-slice leaves torn
    // directories bare fs.exists would bless. Meta here is build-time
    // only, so torn meta always means "rebuild", never data loss.
    GenDir.completeDir(spark, s"$dir/meta") &&
      GenDir.existsLiveComplete(spark, s"$dir/shingles") &&
      GenDir.existsLiveComplete(spark, s"$dir/bands")
  }

  /** [[lshIndexRecover]] for the span index's single window slice. */
  def spanIndexRecover(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Boolean = {
    GenDir.recover(spark, s"$dir/windows")
    GenDir.completeDir(spark, s"$dir/meta") &&
      GenDir.existsLiveComplete(spark, s"$dir/windows")
  }

  /** Compact a persisted span index's window slice back to one
    * range-partitioned sorted file set (see [[lshIndexCompact]]); the
    * slice stays distinct by construction (appends admit only novel
    * hashes), so this is purely a layout rewrite. */
  def spanIndexCompact(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Unit =
    genRewrite(spark, s"$dir/windows")(df =>
      df.repartitionByRange(spark.sparkContext.defaultParallelism, col("wh"))
        .sortWithinPartitions(col("wh"))
        .write.mode("overwrite"))

  /** SimHash near-dup pairs: hamming(sig_a, sig_b) <= maxDist.
    * Candidate generation: split the 64-bit signature into
    * `maxDist+1` chunks — any pair within maxDist shares at least one exact
    * chunk (pigeonhole), so recall is 100% while the join stays bucketed.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3,
                   collapseExact: Boolean = false): DataFrame =
    hammingPairs(
      maybeCollapse(df, textCol, idCol, collapseExact)
        .select(col(idCol).as("id"),
          HashFunctions.simhashUdf()(TextFunctions.tokens(col(textCol))).as("sig")),
      maxDist)

  /** Signature-space near-dup pairs over an arbitrary `(id, sig)` frame:
    * all (id_a < id_b) with hamming(sig_a, sig_b) <= maxDist. Candidate
    * generation is the pigeonhole chunk split ([[simhashPairs]]' core,
    * extracted so ANY 64-bit locality signature — SimHash, image pHash —
    * pairs through the same bucketed join): a signature splits into
    * `maxDist+1` chunks, and any pair within maxDist must agree on at
    * least one whole chunk, so recall is 100% while the join never goes
    * quadratic outside a bucket. */
  def hammingPairs(sigs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0,63], got $maxDist")
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    val chunked = sigs.withColumn("chunk_idx", explode(sequence(lit(0), lit(chunks - 1))))
      .withColumn("chunk_key",
        expr(s"shiftright(sig, cast(chunk_idx * $bitsPer as int)) & ${(1L << bitsPer) - 1}L"))
    val cands = chunked.as("a").join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_key") === col("b.chunk_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cands
      .withColumn("hamming", HashFunctions.hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
