package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashedBowScore, TextFunctions}

/** The curation SCORECARD: one composition running the canonical
  * quality gauntlet — Gopher rules → C4 rules → hashed-BoW classifier
  * → n-gram LM score → exact dedup — annotating every document with
  * each stage's verdict and counting survivors per stage. This is the
  * shape a production curation run reports ("N in, N after gopher, N
  * after C4, …"): the counters are the pipeline's health dashboard,
  * and a stage suddenly dropping 90% is how upstream regressions get
  * caught.
  *
  * Stage semantics are CUMULATIVE: stage k's count is the number of
  * documents passing stages 1..k (the order a real gauntlet applies
  * them — cheap row-wise gates first, the LM model last, dedup among
  * full-pass survivors only). Every stage reuses an already
  * oracle-verified operator: gopherSignals, c4KeptLines, the
  * deterministic md5-bucket HashedBowScore, Lm.lmScoreK (k = 2) self-scoring,
  * Dedup-style min-id exact dedup — so the composed
  * `llm_curation_scorecard` oracle is the same verified SQL pieces
  * joined together.
  *
  * Scale shape: gopher/C4/classifier are map-only codegen column
  * arithmetic; the LM stage is the lmScoreK join pipeline (gram-keyed
  * shuffles, never driver state); dedup is one md5 groupBy. Counters
  * ride `Dataset.observe` (accumulator-backed, zero extra passes).
  */
object Curation {

  /** Gate thresholds; defaults are the paper values used by the
    * standalone filter actors. */
  final case class Knobs(
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLenPpm: Long = 3000000L, maxMeanLenPpm: Long = 10000000L,
      maxSymbolPpm: Long = 100000L, minAlphaPpm: Long = 800000L,
      minStopHits: Long = 2L,
      c4MinLines: Long = 1L,
      clfBuckets: Int = 4096, clfMinScore: Long = 0L,
      lmMinScorePpm: Long = 32000L)

  /** Stage flags, in gauntlet order: (column name, cumulative count
    * column name). */
  val Stages: Seq[(String, String)] = Seq(
    "gopher_pass" -> "n_gopher", "c4_pass" -> "n_c4",
    "clf_pass" -> "n_clf", "lm_pass" -> "n_lm")

  /** The deterministic stand-in classifier weights of the
    * llm.classifier actor / llm_classifier_score oracle: bucket b
    * scores b % 1001 - 500. */
  private def md5StandInWeights(buckets: Int): Column =
    expr(s"transform(sequence(0, ${buckets - 1}), " +
      "b -> CAST(b % 1001 - 500 AS BIGINT))")

  /** Annotate every row with each stage's verdict plus the final
    * `keep` (all stages pass AND the doc is its text's min-id
    * representative among full-pass survivors). */
  def scorecard(in: DataFrame, textCol: String, idCol: String,
                knobs: Knobs = Knobs()): DataFrame = {
    val sig = TextFunctions.gopherSignals(col(textCol))
    val annotated0 = sig.foldLeft(in) { case (df, (nm, c)) =>
      df.withColumn(nm, c) }
      .withColumn("gopher_pass",
        col("n_words").between(knobs.minWords, knobs.maxWords) &&
          col("mean_word_len_ppm")
            .between(knobs.minMeanLenPpm, knobs.maxMeanLenPpm) &&
          col("symbol_ppm") <= knobs.maxSymbolPpm &&
          col("alpha_ppm") >= knobs.minAlphaPpm &&
          col("stop_hits") >= knobs.minStopHits)
      .withColumn("c4_pass",
        !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{") &&
          size(TextFunctions.c4KeptLines(col(textCol))).cast("long") >=
            knobs.c4MinLines)
      .withColumn("clf_score", HashedBowScore(
        TextFunctions.tokens(col(textCol)),
        md5StandInWeights(knobs.clfBuckets)))
      .withColumn("clf_pass", col("clf_score") > knobs.clfMinScore)
    // LM stage: self-scored over the WHOLE input (the zero-reference
    // self-perplexity form); zero-token docs score 0 and fail any
    // positive cutoff
    val lm = Lm.lmScoreK(in, in, textCol, idCol, k = 2)
      .select(col(idCol), col("lm_score_ppm"))
    val annotated = annotated0.join(lm, Seq(idCol), "left")
      .withColumn("lm_score_ppm", coalesce(col("lm_score_ppm"), lit(0L)))
      .withColumn("lm_pass", col("lm_score_ppm") >= knobs.lmMinScorePpm)
    val allPass = Stages.map { case (c, _) => col(c) }.reduce(_ && _)
    // dedup among full-pass survivors: min-id representative per text.
    // A window over the SAME frame, not a groupBy+self-join — the join
    // form re-executed the whole annotated subtree (gopher/C4/clf
    // columns plus the LM scoring join chain) a second time for the
    // reps branch (r15 plan audit: 54 Exchanges, the annotated lineage
    // twice). min(id among passers) per text-hash partition is the
    // identical representative rule in one pass; a row with allPass
    // true always sees a non-null minimum (itself at worst).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary")))
    annotated
      .withColumn("keep",
        allPass && col(idCol) === min(when(allPass, col(idCol))).over(w))
  }

  /** One-row cumulative survivor counts over a [[scorecard]]-annotated
    * frame — the llm_curation_scorecard output and the observe()
    * metric set (same expressions, one evaluation). */
  def stageCountExprs(): Seq[Column] = {
    val cum = Stages.inits.toSeq.reverse.tail // running prefixes
    count(lit(1)).as("n_input") +:
      cum.map { prefix =>
        val conj = prefix.map { case (c, _) => col(c) }.reduce(_ && _)
        coalesce(sum(when(conj, 1L).otherwise(0L)), lit(0L))
          .as(prefix.last._2)
      } :+ coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L))
        .as("n_kept")
  }

  def stageCounts(annotated: DataFrame): DataFrame = {
    val es = stageCountExprs()
    annotated.agg(es.head, es.tail: _*)
  }
}
