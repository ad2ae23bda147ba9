package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic weighted sampling without replacement — pick `k` rows
  * per group with inclusion odds proportional to a weight column (the
  * quality-weighted subsample step of a training-data mix: "keep the
  * best-scoring documents per source, stochastically, reproducibly").
  *
  * Algorithm: Efraimidis–Spirtakis A-ES (Inf. Process. Lett. 2006) —
  * rank every row by `u^(1/w)` descending with `u` uniform in (0,1)
  * and keep the top k per group; the result is a weighted sample
  * without replacement. RNG-FREE on purpose, like the rest of the
  * sampling family: `u` derives from the md5 of the row id (plus an
  * optional seed string), so the sample is a pure function of the
  * data — identical across runs, engines, partitionings, and retries.
  *
  * Cross-engine reproducibility: u = (first 52 md5 bits + 0.5) / 2^52
  * is exact double arithmetic in both engines; `pow` may differ in the
  * last ulp between libm implementations, so the rank key is rounded
  * to 9 decimals before comparison (a flip would need two keys within
  * ~1e-16 of the same 9-decimal boundary), with the id as the final
  * deterministic tie-break.
  *
  * Ranking runs through the map-capped [[graft.plans.TopKPerKey]] —
  * per input partition at most k candidates per group reach the
  * shuffle, so the exchange carries ~|groups|·k·partitions rows, never
  * the corpus. Non-positive weights exclude the row (P = 0).
  */
object Sampling {

  /** 52 uniform bits from the row's id — (0,1) strictly, exact in
    * double space. */
  private def uniformOf(id: Column, seed: String): Column =
    (conv(substring(md5(concat(id.cast("string"), lit(seed))), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52

  /** The A-ES rank key as a column: a pure row function, so a sample
    * is identical on identical data. */
  private def rankKey(id: Column, weight: Column, seed: String): Column =
    round(pow(uniformOf(id, seed), lit(1.0) / weight.cast("double")), 9)

  /** @param groupCols strata; k rows kept per distinct combination
    * @param idCol     unique row id (drives the deterministic u and the
    *                  final tie-break)
    * @param weightCol positive weight; higher = more likely kept
    * @param seed      optional salt — a different seed is a fresh
    *                  independent sample
    * @return input rows that won, plus their `sample_rank` (1..k) */
  def weightedSample(df: DataFrame, groupCols: Seq[String], idCol: String,
                     weightCol: String, k: Int, seed: String = ""): DataFrame = {
    require(k >= 1)
    val key = rankKey(col(idCol), col(weightCol), seed)
    graft.plans.TopKPerKey(
      df.filter(col(weightCol).cast("double") > 0).withColumn("_wkey", key),
      keys = groupCols.map(col),
      order = Seq(col("_wkey").desc, col(idCol).asc),
      k = k, rankName = "sample_rank")
      .drop("_wkey")
  }
}
