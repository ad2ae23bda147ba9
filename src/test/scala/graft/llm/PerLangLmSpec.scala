package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Per-language LM scoring (Lm.lmScorePerLang / lmTiersPerLang): the
  * CCNet configuration, and the WHY — a corpus-global model provably
  * mis-tiers a minority language (every branch that divides by the
  * corpus-wide total shrinks as the majority grows), while per-language
  * models tier each language within itself. */
class PerLangLmSpec extends SparkSpec {
  import spark.implicits._

  /** Majority 'en': even ids train, odd ids score with SEEN bigrams
    * (same phrases) → high conditional scores, spread by suffix
    * frequency. Minority 'xx': disjoint vocabulary; scored docs use
    * unseen ORDERINGS of trained tokens → the backoff branch
    * 0.4·c1/t, whose global form divides by the majority-dominated
    * total. */
  private lazy val corpus = {
    val major = (0 until 30).map { i =>
      val suffix = Seq("ran", "ran", "ran", "sat", "hid")(i % 5)
      (i.toLong, "en", s"the cat sat on the mat and the dog $suffix")
    }
    val minorTrain = (0 until 5).map { i =>
      (100L + 2 * i, "xx", s"zqa$i zqb$i zqa$i zqc zqd zqe")
    }
    val minorScore = (0 until 5).map { i =>
      // trained tokens, novel order/pairs → unseen-bigram backoff;
      // varying composition spreads the within-language scores
      (101L + 2 * i, "xx", (s"zqe zqa$i zqd zqb$i zqc " * (i + 1)).trim)
    }
    (major ++ minorTrain ++ minorScore).toDF("doc_id", "lang", "text")
  }

  private def train = corpus.filter($"doc_id" % 2 === 0)
  private def scoredDocs = corpus.filter($"doc_id" % 2 === 1)

  test("a global model drags the minority language into the tail; " +
      "per-language models tier it within itself") {
    // global: one model over the union, global ntile(3)
    val global = Lm.lmScoreK(train, scoredDocs, "text", "doc_id", k = 2)
      .join(corpus.select($"doc_id", $"lang"), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"lm_score_ppm".desc, $"ntok", $"doc_id")
    val gTiers = global.withColumn("tier", ntile(3).over(w))
      .select($"lang", $"tier").as[(String, Int)].collect()
    val gxx = gTiers.filter(_._1 == "xx").map(_._2)
    assert(gxx.nonEmpty && gxx.forall(_ == 3),
      s"global model should tail-tier every minority doc, got ${gxx.toSeq}")

    // per-language: same corpus, lang-keyed model + within-lang tiers
    val perLang = Lm.lmTiersPerLang(
      Lm.lmScorePerLang(train, scoredDocs, "text", "doc_id", "lang"), 3)
      .select($"lang", $"tier").as[(String, Int)].collect()
    val pxx = perLang.filter(_._1 == "xx").map(_._2).sorted.toSeq
    assert(pxx.toSet == Set(1, 2, 3),
      s"per-lang tiers should spread the minority language, got $pxx")
    // and the majority language tiers the same way in both framings
    val pen = perLang.filter(_._1 == "en").map(_._2)
    assert(pen.count(_ == 1) > 0 && pen.count(_ == 3) > 0)
  }

  test("per-lang scores equal single-language lmScore run per slice " +
      "(the lang key changes bookkeeping, not the model)") {
    val byLang = Lm.lmScorePerLang(train, scoredDocs, "text", "doc_id", "lang")
      .select($"doc_id", $"ntok", $"lm_score_ppm")
      .as[(Long, Long, Long)].collect().toSet
    val sliced = Seq("en", "xx").map { l =>
      Lm.lmScoreK(train.filter($"lang" === l), scoredDocs.filter($"lang" === l),
        "text", "doc_id", k = 2)
        .as[(Long, Long, Long)].collect().toSet
    }.reduce(_ ++ _)
    assert(byLang == sliced)
  }

  test("persisted per-language models score identically to the ad-hoc " +
      "per-lang path (one GenDir lifecycle per language shard)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-perlang-idx-").toString + "/model"
    Lm.lmBuildIndexPerLang(train, "text", "doc_id", "lang", dir)
    val viaIndex = Lm.lmScoreIndexPerLang(scoredDocs, "text", "doc_id",
      "lang", dir)
      .as[(Long, String, Long, Long)].collect().toSet
    val adhoc = Lm.lmScorePerLang(train, scoredDocs, "text", "doc_id", "lang")
      .select($"doc_id", $"lang", $"ntok", $"lm_score_ppm")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(viaIndex == adhoc)
    // a language with no model shard scores 0 over counted tokens
    val ghost = Seq((901L, "yy", "unseen tongue entirely")).toDF(
      "doc_id", "lang", "text")
    val out = Lm.lmScoreIndexPerLang(scoredDocs.unionByName(ghost),
      "text", "doc_id", "lang", dir)
      .filter($"lang" === "yy")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((901L, "yy", 3L, 0L)))
  }

  test("classifier-predicted labels compose end-to-end: langid " +
      "classifier -> per-lang LM scoring equals the true-label run") {
    // CCNet posture: the true labels exist only on the TRAINING sample;
    // the scored corpus gets its lang from the classifier
    val models = Classifier.trainMulti(train, "text", "lang", "doc_id",
      buckets = 512, iters = 2)
    val predicted = scoredDocs.drop("lang")
      .withColumn("lang", Classifier.predict(
        graft.functions.TextFunctions.tokens($"text"), models))
    // disjoint vocabularies separate perfectly — every prediction true
    val preds = predicted.select($"doc_id", $"lang")
      .as[(Long, String)].collect().toMap
    val truth = scoredDocs.select($"doc_id", $"lang")
      .as[(Long, String)].collect().toMap
    assert(preds == truth, s"langid mispredicted: ${preds.toSeq.sorted}")
    // and the per-lang LM pipeline downstream is label-source-agnostic
    val viaPred = Lm.lmScorePerLang(train, predicted, "text", "doc_id", "lang")
      .select($"doc_id", $"lang", $"ntok", $"lm_score_ppm")
      .as[(Long, String, Long, Long)].collect().toSet
    val viaTrue = Lm.lmScorePerLang(train, scoredDocs, "text", "doc_id", "lang")
      .select($"doc_id", $"lang", $"ntok", $"lm_score_ppm")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(viaPred == viaTrue)
  }

  test("a scored language absent from training scores zero, not the " +
      "majority model's numbers") {
    val ghost = Seq((900L, "yy", "totally unseen tongue")).toDF(
      "doc_id", "lang", "text")
    val out = Lm.lmScorePerLang(train, ghost, "text", "doc_id", "lang")
      .as[(Long, String, Long, Long)].collect()
    assert(out.toSeq == Seq((900L, "yy", 3L, 0L)))
  }
}
