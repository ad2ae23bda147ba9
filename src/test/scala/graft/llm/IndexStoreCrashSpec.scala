package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash points of the persisted-index protocol, enumerated instead of
  * built by hand. For every index family and each of build, appendBatch
  * and compact, [[CrashFs]] first counts the operation's M file-system
  * mutations, then kills it before a bounded set of them. After recover
  * plus redelivery of the killed operation:
  *  - right after recover, the index answers as before or as after the
  *    operation (or, for a killed build, is reported incomplete);
  *  - after redelivery it answers as after the operation, which is the
  *    answer of a fresh build over the post-operation documents;
  *  - no `.stage-*`, `_temporary` or uncommitted generation directory is
  *    left;
  *  - a redelivered appendBatch is skipped and counts nothing twice. */
class IndexStoreCrashSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(7)
  private val vocab = (0 until 24).map(i => s"w$i")
  private def text(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  // text families: b1 repeats runs of b0 so that matches cross batches
  private lazy val docs = {
    val base = (0 until 10).map(i => (i.toLong, text(14)))
    base ++ Seq((10L, base(1)._2 + " " + text(3)), (11L, text(2) + " " + base(4)._2))
  }.toDF("doc_id", "text").localCheckpoint()
  private lazy val b0 = docs.filter($"doc_id" < 7)
  private lazy val b1 = docs.filter($"doc_id" >= 7)
  private lazy val probe = docs.filter($"doc_id" % 3 === 0)
    .select(($"doc_id" + 100L).as("doc_id"), $"text")
  private lazy val queries = docs.filter($"doc_id" % 4 === 1)
    .select($"doc_id".as("query_id"),
      concat_ws(" ", slice(split($"text", " "), 2, 3)).as("qtext"))

  // vector families
  private lazy val emb = (0 until 36).map(i =>
    (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat).toSeq))
    .toDF("vec_id", "embedding").localCheckpoint()
  private lazy val e0 = emb.filter($"vec_id" < 24)
  private lazy val e1 = emb.filter($"vec_id" >= 24)

  // digest family: b1's records repeat some of b0's payloads
  private def recs(ids: Range, digest: Int => String) =
    ids.map(i => (s"f${i % 2}", i.toLong, digest(i))).toDF("file", "rec_index", "payload_digest")
  private lazy val r0 = recs(0 until 8, i => s"d${i % 5}")
  private lazy val r1 = recs(8 until 14, i => if (i == 13) "" else s"d${i % 7}")
  private lazy val rProbe = recs(20 until 30, i => s"d${i % 9}")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** One family: bootstrap build of the first batch (batch id 0), the
    * exactly-once append of the second (batch id 1), compact, recover,
    * and the answer of a fixed query. `fresh` (when the answer is a
    * function of the indexed set) builds over both batches at once. */
  private case class Family(name: String, build: String => Unit, append: String => Boolean,
                            compact: String => Unit, recover: String => Boolean,
                            answer: String => Seq[String], fresh: Option[String => Unit])

  private lazy val families = Seq(
    Family("bm25",
      Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", _, 0L),
      Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", _, 1L),
      Retrieval.bm25IndexCompact(spark, _), Retrieval.bm25IndexRecover(spark, _),
      d => sorted(Retrieval.bm25SearchIndex(queries, d, k = 4)),
      Some(Retrieval.bm25BuildIndex(docs, "text", "doc_id", _))),
    Family("phrase",
      Retrieval.phraseBuildIndexBatch(b0, "text", "doc_id", _, 0L),
      Retrieval.phraseIndexAppendBatch(b1, "text", "doc_id", _, 1L),
      Retrieval.phraseIndexCompact(spark, _), Retrieval.phraseIndexRecover(spark, _),
      d => sorted(Retrieval.phraseSearchIndex(queries, d, k = 4)),
      Some(Retrieval.phraseBuildIndex(docs, "text", "doc_id", _))),
    Family("lm",
      Lm.lmBuildIndexBatchK(b0, "text", "doc_id", _, 2, 0L),
      Lm.lmIndexAppendBatchK(b1, "text", "doc_id", _, 1L),
      Lm.lmIndexCompactK(spark, _), Lm.lmIndexRecoverK(spark, _),
      d => sorted(Lm.lmScoreIndexK(probe, "text", "doc_id", d)),
      Some(Lm.lmBuildIndexK(docs, "text", "doc_id", _, 2))),
    Family("lsh",
      Dedup.lshBuildIndex(b0, "text", "doc_id", _, numBands = 8, rowsPerBand = 2),
      Dedup.lshIndexAppendBatch(b1, "text", "doc_id", _, 1L),
      Dedup.lshIndexCompact(spark, _), Dedup.lshIndexRecover(spark, _),
      d => sorted(Dedup.lshIndexMatches(docs, "text", "doc_id", d, threshold = 0.3)),
      Some(Dedup.lshBuildIndex(docs, "text", "doc_id", _, numBands = 8, rowsPerBand = 2))),
    Family("span",
      Dedup.spanBuildIndex(b0, "doc_id", "text", _, w = 4),
      Dedup.spanIndexAppendBatch(b1, "doc_id", "text", _, 1L),
      Dedup.spanIndexCompact(spark, _), Dedup.spanIndexRecover(spark, _),
      d => sorted(Dedup.spanIndexMatches(probe, "doc_id", "text", d)),
      Some(Dedup.spanBuildIndex(docs, "doc_id", "text", _, w = 4))),
    Family("ivf",
      Similarity.ivfBuildIndex(e0, _, nlist = 4, iters = 3),
      Similarity.ivfIndexAppendBatch(e1, _, 1L),
      Similarity.ivfIndexCompact(spark, _), Similarity.ivfIndexRecover(spark, _),
      // exhaustive probing: the answer is exact kNN over the indexed set
      d => sorted(Similarity.ivfSearchIndex(emb, d, k = 3, nprobe = 4)),
      Some(Similarity.ivfBuildIndex(emb, _, nlist = 4, iters = 3))),
    Family("ivfpq",
      Similarity.ivfPqBuildIndex(e0, _, nlist = 4, m = 4, ksub = 4, iters = 2),
      Similarity.ivfPqIndexAppendBatch(e1, _, 1L),
      Similarity.ivfPqIndexCompact(spark, _), Similarity.ivfPqIndexRecover(spark, _),
      d => sorted(Similarity.ivfPqSearchIndex(emb, d, k = 3, nprobe = 4)),
      // codes depend on codebooks trained from the build batch, so the
      // reference is the uncrashed lifecycle, not a fresh build
      None),
    Family("digest",
      graft.sources.Warc.digestIndexBuild(r0, _, "s0"),
      graft.sources.Warc.digestIndexAppendBatch(r1, _, "s1", 1L),
      graft.sources.Warc.digestIndexCompact(spark, _), graft.sources.Warc.digestIndexRecover(spark, _),
      d => sorted(graft.sources.Warc.dedupByDigestIndexed(rProbe, d)),
      Some(graft.sources.Warc.digestIndexBuild(r0.union(r1), _, "s0"))))

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-crash-").toString + "/idx"

  private def copy(from: String): String = {
    val to = tmp()
    if (fs.exists(new Path(from)))
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(from), fs, new Path(to), false,
        spark.sparkContext.hadoopConfiguration)
    to
  }

  /** `.stage-*`, `_temporary` and uncommitted `*.gen-N` directories. */
  private def leftovers(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Nil
    val all = java.nio.file.Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
    all.filter(java.nio.file.Files.isDirectory(_)).filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".stage-") || n == "_temporary" ||
        (n.matches(".*\\.gen-\\d+") && !java.nio.file.Files.exists(p.resolve("_GEN_COMMITTED")))
    }.map(root.relativize(_).toString)
  }

  /** Two crash points among 1..m: one in the body of the operation (the
    * first mutation, or a quarter, half or three quarters in) and one of
    * the last two (the commit tail), rotating with `salt` so that the
    * families and operations together cover every position. */
  private def points(m: Long, salt: Int): Seq[Long] =
    Seq(1L + (m * (salt % 4)) / 4, m - salt % 2).filter(n => n >= 1 && n <= m).distinct

  /** Walk one family's crash points, each on its own copy of the
    * pre-operation state. */
  private def walk(f: Family, fi: Int): Unit = {
    // the lifecycle's states, uncrashed: none -> built -> appended -> compacted
    val built = tmp()
    val mBuild = CrashFs.count(built)(f.build(built))
    val appended = copy(built)
    val mAppend = CrashFs.count(appended)(assert(f.append(appended)))
    val compacted = copy(appended)
    val mCompact = CrashFs.count(compacted)(f.compact(compacted))
    val (aBuilt, aAppended) = (f.answer(built), f.answer(appended))
    assert(aBuilt != aAppended, s"${f.name}: the batches must change the answer")
    assert(f.answer(compacted) == aAppended, s"${f.name}: compact changed the answer")
    f.fresh.foreach { fresh =>
      val d = tmp()
      fresh(d)
      assert(f.answer(d) == aAppended, s"${f.name}: append differs from a fresh build")
    }

    // (operation, pre-state, mutations, redelivery, answers before/after)
    val ops = Seq(
      ("build", None, mBuild, (d: String) => if (!f.recover(d)) f.build(d), None, aBuilt),
      ("append", Some(built), mAppend, (d: String) => { f.append(d); () }, Some(aBuilt), aAppended),
      ("compact", Some(appended), mCompact, (d: String) => f.compact(d), Some(aAppended), aAppended))
    ops.zipWithIndex.foreach { case ((op, pre, m, redeliver, before, after), oi) =>
      for (n <- points(m, fi + oi)) {
        val at = s"${f.name} $op killed before mutation $n of $m"
        val d = pre.fold(tmp())(copy)
        val killed = CrashFs.crashAt(spark, d, n) {
          op match {
            case "build" => f.build(d)
            case "append" => f.append(d)
            case _ => f.compact(d)
          }
        }
        assert(killed, s"$at: the operation was not killed")
        if (f.recover(d)) {
          val got = f.answer(d)
          assert(before.contains(got) || got == after, s"$at: torn answer after recover")
        } else assert(op == "build", s"$at: recover lost the index")
        redeliver(d)
        assert(f.recover(d), s"$at: incomplete after redelivery")
        if (op != "build") assert(!f.append(d), s"$at: a redelivered batch was applied twice")
        assert(f.answer(d) == after, s"$at: wrong answer after redelivery")
        assert(leftovers(d).isEmpty, s"$at: debris ${leftovers(d)}")
      }
    }
  }

  test("every crash point of build, appendBatch and compact heals to the pre- or " +
    "post-operation answers, leaves no debris and never double-counts") {
    CrashFs.install(spark)
    spark.sparkContext.setLogLevel("OFF")
    // each family works in its own directories, so three walk at once
    try Par.run(families.zipWithIndex.map { case (f, fi) => () => walk(f, fi) }, parallelism = 3)
    finally {
      spark.sparkContext.setLogLevel("WARN")
      CrashFs.uninstall(spark)
    }
  }
}
