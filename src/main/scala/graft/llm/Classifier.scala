package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed bag-of-words linear classifier TRAINING — the in-pipeline
  * counterpart of [[graft.functions.HashedBowScore]] inference
  * (CCNet-style pipelines train their quality filter on the corpus
  * they curate; scoring a supplied weight vector is only half the
  * loop).
  *
  * The trainer is deterministic full-batch gradient descent over the
  * SAME md5-bucket features the inference expression reads (first two
  * MD5 bytes mod `buckets` — the hashing trick, SQL-reproducible from
  * md5 hex digits), in EXACT INTEGER ppm/micro fixed point like the
  * n-gram LM: weights live in micro units (1e6 = 1.0), the logistic
  * link is the hard sigmoid σ(m) = clamp(½ + m/4, 0, 1) evaluated in
  * ppm, and every division TRUNCATES toward zero (Spark `div`, DuckDB
  * `//`, Scala `Long./` — the one integer-division semantics all
  * three share) — every quantity an integer at every step, so a
  * DuckDB oracle unrolling the same iterations reproduces the weights
  * HASH-EXACT (`llm_classifier_train`), the same discipline that
  * makes the LM and BPE lifecycles checkable.
  *
  * Distribution shape (100-TB posture): the feature frame (doc,
  * bucket, count) is built once and persisted DISK_ONLY; each
  * iteration is two narrow-key shuffles — margins by doc (the weight
  * table is `buckets` rows, broadcast), gradients by bucket — and a
  * driver collect of at most `buckets` partial gradients (the model
  * itself, KBs at 4096 buckets, the only driver state). Corpus size
  * never lands on the driver; iterations stream the persisted
  * features. Gradient partials accumulate in ≤ n·1e6·maxTf long
  * units — within int64 to ~9.2·10¹² err·count units per bucket
  * (the Spark-side sum); the driver-side lr step is computed in
  * BigInt so the weight update itself never wraps. Past the sum
  * ceiling, shard the corpus and average models (the standard
  * full-batch scale-out), or lower lr and subsample.
  */
object Classifier {

  /** Bucket column of a token column — the [[graft.functions
    * .HashedBowScore.bucket]] contract as a codegen Column (first 4
    * md5 hex digits = first two digest bytes, mod `buckets`). */
  def bucketCol(tok: Column, buckets: Int): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast("long") % buckets

  /** Train weights (micro units, one per bucket) by `iters` full-batch
    * iterations from w = 0. `labelCol` is 0/1. Deterministic: same
    * corpus → bit-identical weights, any partitioning, any row order
    * (gradients are exact integer sums). */
  def train(docs: DataFrame, textCol: String, labelCol: String,
            idCol: String, buckets: Int, iters: Int,
            lrPpm: Long = 1000000L,
            tokensOf: Column => Column =
              graft.functions.TextFunctions.tokens(_)): Array[Long] = {
    require(buckets > 0 && iters >= 0 && lrPpm > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    // (doc, y, bucket, cnt): built once, streamed per iteration
    val feats = docs
      .select(col(idCol).as("doc_id"), col(labelCol).cast("long").as("y"),
        explode(tokensOf(col(textCol))).as("tok"))
      .select(col("doc_id"), col("y"), bucketCol(col("tok"), buckets).as("b"))
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val n = docs.count()
    val w = new Array[Long](buckets)
    try {
      if (n == 0) return w
      for (_ <- 0 until iters) {
        val wDf = broadcast(
          w.toIndexedSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
            .toDF("b", "w"))
        // margins by doc (micro), then hard-sigmoid error in ppm
        val err = feats.join(wDf, Seq("b"))
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(col("w") * col("cnt")).as("marg"))
          .select(col("doc_id"),
            (greatest(lit(0L), least(lit(1000000L),
              lit(500000L) + expr("marg div 4"))) -
              col("y") * 1000000L).as("err"))
        // bucket gradients: exact integer Σ err·cnt — ≤ buckets rows
        val grads = feats.join(err, Seq("doc_id"))
          .groupBy(col("b")).agg(sum(col("err") * col("cnt")).as("g"))
          .as[(Long, Long)].collect()
        grads.foreach { case (b, g) =>
          // BigInt on the driver (≤ buckets rows): lrPpm·g can exceed
          // int64 once a bucket passes ~9.2e6·1e6/lrPpm occurrences;
          // BigInt./ truncates toward zero like Long./, div and //,
          // so the value is unchanged wherever Long didn't overflow.
          w(b.toInt) -= (BigInt(lrPpm) * g / (BigInt(n) * 1000000L)).toLong
        }
      }
      w
    } finally feats.unpersist()
  }

  /** One-vs-rest MULTI-CLASS training in ONE pass structure: features
    * are label-independent, so the corpus is hashed ONCE and every
    * label's margins and gradients compute in the SAME two narrow
    * shuffles per iteration that [[train]] pays for one label — the
    * weight table broadcasts as one array<long> per bucket (L longs; a
    * 176-language CCNet-shape model is still ~720k small rows, KBs per
    * language) and the per-label sums ride as L aggregate columns.
    * Corpus-scan count is INDEPENDENT of #labels (1 feature build +
    * 2 scans of the persisted features per iteration, vs the old
    * per-label loop's L× repeats). The math is bit-identical to
    * `labels.map(l => train(docs, y = label==l))` — margins, the
    * hard-sigmoid error, gradient sums and the BigInt driver step are
    * the same exact-integer quantities, just computed side by side —
    * so persisted models and the llm_langid_clf oracle hash stay
    * EXACT (pinned by ClassifierSpec's per-label-equality test).
    * Labels sorted so model order (and the argmax tie-break in
    * [[predict]]) is deterministic; the label collect is bounded by
    * the number of LANGUAGES, never corpus size. */
  def trainMulti(docs: DataFrame, textCol: String, labelCol: String,
                 idCol: String, buckets: Int, iters: Int,
                 lrPpm: Long = 1000000L,
                 tokensOf: Column => Column =
                   graft.functions.TextFunctions.tokens(_))
      : Seq[(String, Array[Long])] = {
    require(buckets > 0 && iters >= 0 && lrPpm > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val labels = docs.select(col(labelCol).cast("string"))
      .distinct().collect().map(_.getString(0)).filter(_ != null)
      .sorted.toSeq
    val nLabels = labels.size
    if (nLabels == 0) return Seq.empty
    // (doc, true-label, bucket, cnt): built once, streamed per iteration
    val feats = docs
      .select(col(idCol).as("doc_id"),
        col(labelCol).cast("string").as("lbl"),
        explode(tokensOf(col(textCol))).as("tok"))
      .select(col("doc_id"), col("lbl"), bucketCol(col("tok"), buckets).as("b"))
      .groupBy(col("doc_id"), col("lbl"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val n = docs.count()
    val w = Array.fill(nLabels)(new Array[Long](buckets))
    try {
      if (n == 0) return labels.zip(w).toSeq
      for (_ <- 0 until iters) {
        val wDf = broadcast(
          (0 until buckets).map { b =>
            (b.toLong, (0 until nLabels).map(l => w(l)(b)))
          }.toDF("b", "w"))
        // margins by doc (micro), one column per label, then the
        // hard-sigmoid error in ppm — the exact [[train]] quantities
        val marg = feats.join(wDf, Seq("b"))
          .groupBy(col("doc_id"), col("lbl"))
          .agg(
            sum(element_at(col("w"), 1) * col("cnt")).as("m0"),
            (1 until nLabels).map(l =>
              sum(element_at(col("w"), l + 1) * col("cnt")).as(s"m$l")): _*)
        val err = marg.select(
          col("doc_id") +: (0 until nLabels).map { l =>
            (greatest(lit(0L), least(lit(1000000L),
              lit(500000L) + expr(s"m$l div 4"))) -
              when(col("lbl") === labels(l), lit(1000000L))
                .otherwise(lit(0L))).as(s"e$l")
          }: _*)
        // bucket gradients: exact integer Σ err·cnt per label —
        // ≤ buckets rows, nLabels columns
        val grads = feats.join(err, Seq("doc_id"))
          .groupBy(col("b"))
          .agg(
            sum(col("e0") * col("cnt")).as("g0"),
            (1 until nLabels).map(l =>
              sum(col(s"e$l") * col("cnt")).as(s"g$l")): _*)
          .collect()
        grads.foreach { r =>
          val b = r.getLong(0).toInt
          var l = 0
          while (l < nLabels) {
            // same BigInt-exact step as [[train]]
            w(l)(b) -= (BigInt(lrPpm) * r.getLong(l + 1) /
              (BigInt(n) * 1000000L)).toLong
            l += 1
          }
        }
      }
      labels.zip(w).toSeq
    } finally feats.unpersist()
  }

  /** Argmax prediction over one-vs-rest models: the label whose
    * [[graft.functions.HashedBowScore]] margin over `toks` is highest,
    * ties broken by model order (sorted labels — first winner, the
    * rule a chained SQL CASE reproduces exactly). Map-only inference;
    * pass a MATERIALIZED token-array column when scoring at scale
    * (each margin references `toks`, and CollapseProject re-derives an
    * aliased expression per reference). */
  def predict(toks: Column,
              models: Seq[(String, Array[Long])]): Column = {
    require(models.nonEmpty, "predict needs at least one model")
    val margins = models.map { case (l, w) =>
      l -> graft.functions.HashedBowScore(toks, weightsColumn(w)) }
    val top = margins.map(_._2) match {
      case Seq(one) => one
      case ms       => greatest(ms: _*)
    }
    margins.dropRight(1).foldRight(lit(margins.last._1): Column) {
      case ((l, m), acc) => when(m === top, lit(l)).otherwise(acc)
    }
  }

  /** Confidence margin of [[predict]]: best score minus second-best
    * (micro units, exact integers) — the CCNet-style gate for
    * ambiguous-language pages (a near-zero margin means two models
    * scored the page almost identically; language routing, per-lang
    * LM shards and mix weights should not trust it). With one model
    * the margin IS its score. Map-only like predict; pass a
    * MATERIALIZED token column at scale for the same CollapseProject
    * reason. */
  def predictMargin(toks: Column,
                    models: Seq[(String, Array[Long])]): Column = {
    require(models.nonEmpty, "predictMargin needs at least one model")
    val ms = models.map { case (_, w) =>
      graft.functions.HashedBowScore(toks, weightsColumn(w)) }
    ms match {
      case Seq(one) => one
      case _ =>
        val sorted = array_sort(array(ms: _*))
        element_at(sorted, -1) - element_at(sorted, -2)
    }
  }

  /** Trained weights as a (bucket, w_micro) frame — the
    * llm_classifier_train output shape, and the literal-array source
    * for a [[graft.functions.HashedBowScore]] scoring pass. */
  def trainDf(docs: DataFrame, textCol: String, labelCol: String,
              idCol: String, buckets: Int, iters: Int,
              lrPpm: Long = 1000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, labelCol, idCol, buckets, iters, lrPpm)
      .toIndexedSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
      .toDF("b", "w_micro")
  }

  /** Trained weights as a literal array Column for HashedBowScore —
    * constant-folded into the scoring scan (map-only inference). */
  def weightsColumn(w: Array[Long]): Column =
    array(w.toIndexedSeq.map(lit): _*)

  /** Persist trained weights as the model artifact (one (b, w_micro)
    * parquet, KBs) — the train-once/score-many form every other model
    * family here has ([[Lm.lmBuildIndexK]], [[Bpe.saveMerges]]). */
  def saveWeights(spark: org.apache.spark.sql.SparkSession, w: Array[Long],
                  path: String): Unit = {
    import spark.implicits._
    w.toIndexedSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
      .toDF("b", "w_micro").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted weight vector — a buckets-sized collect by
    * construction. Missing buckets (never written) read as 0. */
  def loadWeights(spark: org.apache.spark.sql.SparkSession,
                  path: String): Array[Long] = {
    val rows = spark.read.parquet(path)
      .select(col("b"), col("w_micro")).collect()
    require(rows.nonEmpty, s"empty classifier model at $path")
    val buckets = rows.map(_.getLong(0)).max.toInt + 1
    val w = new Array[Long](buckets)
    rows.foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    w
  }

  /** Persist a [[trainMulti]] model family: one (label, b, w_micro)
    * parquet, #labels × buckets rows — KBs. The train-once/score-many
    * artifact for the language-ID path. */
  def saveMulti(spark: org.apache.spark.sql.SparkSession,
                models: Seq[(String, Array[Long])], path: String): Unit = {
    import spark.implicits._
    models.flatMap { case (l, w) =>
      w.toIndexedSeq.zipWithIndex.map { case (wt, b) => (l, b.toLong, wt) }
    }.toDF("label", "b", "w_micro").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Reload a persisted model family, labels sorted (the [[predict]]
    * tie-break order) — a model-sized collect by construction. */
  def loadMulti(spark: org.apache.spark.sql.SparkSession,
                path: String): Seq[(String, Array[Long])] = {
    val rows = spark.read.parquet(path)
      .select(col("label"), col("b"), col("w_micro")).collect()
    require(rows.nonEmpty, s"empty multi-class model at $path")
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (l, rs) =>
      val buckets = rs.map(_.getLong(1)).max.toInt + 1
      val w = new Array[Long](buckets)
      rs.foreach(r => w(r.getLong(1).toInt) = r.getLong(2))
      l -> w
    }
  }
}
