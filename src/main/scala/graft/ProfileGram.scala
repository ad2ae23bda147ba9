package graft

/** Dev profiling: the gram-assembly hot path at corpus scale —
  * order-k build (allGramCountsK) and full-corpus persisted scoring
  * (kRows under scoreWithK), on the SoakLm synthetic corpus (30
  * uniform-random tokens per doc, the worst case for gram tables). The r16 A/B vehicle for the
  * interpreted-HOF → codegen gram kernels.
  * {{{ runMain graft.ProfileGram [nDocs] [k] [passes] }}} */
object ProfileGram {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val k = if (args.length > 1) args(1).toInt else 5
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.get()
    val dir = java.nio.file.Files.createTempDirectory("graft-gramprof-").toString
    def toks(idExpr: String, count: Int): String =
      s"transform(sequence(1, $count), i -> concat('w', pmod(hash(($idExpr) * 131 + i), 50000)))"
    spark.range(n)
      .selectExpr("id AS doc_id", s"concat_ws(' ', ${toks("id", 30)}) AS text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    def timed(nm: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[gramprof] $nm: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    (1 to passes).foreach { pass =>
      println(s"[gramprof] ---- pass $pass (n=$n, k=$k) ----")
      timed(s"buildK$k ")(
        graft.llm.Lm.lmBuildIndexK(corpus, "text", "doc_id", s"$dir/m$pass", k))
      timed("scoreIdxK")(
        graft.llm.Lm.lmScoreIndexK(corpus, "text", "doc_id", s"$dir/m$pass")
          .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
