package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product-quantization ANN (Similarity.pqTrainCodebooks / pqEncode /
  * pqKnn): compression invariants, ADC recall against the exact brute
  * baseline, and single-block vs block-merge path parity. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(23)
  /** clustered 16-dim corpus: neighbors are overwhelmingly in-cluster,
    * so a coarse quantizer preserves the top-k well. */
  private lazy val emb = {
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian().toFloat))
    (0L until 120L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + 0.04f * rng.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("codebooks: m flat arrays of ksub*dsub, deterministic across calls") {
    val a = Similarity.pqTrainCodebooks(emb, m = 4, ksub = 8, iters = 2, maxTrain = 65536)
    val b = Similarity.pqTrainCodebooks(emb, m = 4, ksub = 8, iters = 2, maxTrain = 65536)
    assert(a.length == 4)
    a.foreach(cb => assert(cb.length == 8 * 4)) // dsub = 16/4
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("encode: one code per subspace, in range, and nearest by L2") {
    val cbs = Similarity.pqTrainCodebooks(emb, m = 4, ksub = 8, iters = 2, maxTrain = 65536)
    val codes = Similarity.pqEncode(emb, cbs)
      .as[(Long, Seq[Int])].collect().toMap
    val vecs = emb.as[(Long, Seq[Float])].collect().toMap
    assert(codes.size == 120)
    codes.foreach { case (id, cs) =>
      assert(cs.length == 4)
      // the PQ paths are cosine-metric: assignment is over the
      // unit-normalized vector
      val raw = vecs(id)
      val nrm = math.sqrt(raw.map(x => x.toDouble * x.toDouble).sum)
      val v = raw.map(_.toDouble / nrm)
      cs.zipWithIndex.foreach { case (code, s) =>
        val cb = cbs(s); val dsub = 4; val nCells = cb.length / dsub
        assert(code >= 0 && code < nCells)
        def dist(c: Int): Double = (0 until dsub).map { i =>
          val d = v(s * dsub + i) - cb(c * dsub + i); d * d
        }.sum
        val best = (0 until nCells).minBy(c => (dist(c), c))
        assert(code == best, s"vec $id sub $s: code=$code best=$best")
      }
    }
  }

  test("ADC top-k retrieves same-cluster neighbors (cosine semantics)") {
    // Coarse PQ collapses every member of a tight cluster to the SAME
    // code, so exact-rank recall vs brute cosine is ~k/cluster_size by
    // construction (ties break by id) — the meaningful contract is that
    // the retrieved neighbors are the semantically right ones: same
    // cluster as the query.
    val k = 5
    val pq = Similarity.pqKnn(emb, k, m = 4, ksub = 8, iters = 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(pq.length == 120 * k)
    val pure = pq.count { case (q, n) => q % 8 == n % 8 }
    val purity = pure.toDouble / pq.length
    assert(purity >= 0.95, s"neighbor cluster purity $purity below 0.95")
    // and the brute cosine baseline's neighbors live in the same
    // equivalence classes: every brute top-k pair the PQ scan misses is
    // an in-cluster tie, not a cross-cluster error
    val truth = Similarity.bruteKnn(emb, k)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect()
    val missedCross = truth.filterNot { case (q, n) => q % 8 == n % 8 }
    assert(missedCross.isEmpty || missedCross.length <= truth.length / 20)
  }

  test("ADC-then-refine recovers brute cosine recall on clustered data") {
    // pure ADC can't order within-cluster ties (same code => same
    // distance); the exact re-rank of the ADC candidate cut can — so
    // recall vs brute cosine becomes a meaningful contract here
    val k = 5
    val truth = Similarity.bruteKnn(emb, k)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqKnnRerank(emb, emb, k, rerankFactor = 4,
      m = 4, ksub = 8, iters = 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq.size == 120 * k)
    val recall = (pq & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"refined recall $recall below 0.9")
  }

  test("block-merge path is row-identical to the single-block path") {
    val one = Similarity.pqKnn(emb, k = 3, m = 4, ksub = 8, iters = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    val blocked = Similarity.pqKnn(emb, k = 3, m = 4, ksub = 8, iters = 2,
      blockSize = 37) // forces 4 corpus blocks through the merge
    assert(blocked.as[(Long, Long, Long, Int)].collect().toSet == one)
    assert(one.size == 120 * 3)
  }

  test("self never appears; ranking is (adc asc, id asc) dense from 1") {
    val rows = Similarity.pqKnn(emb, k = 4, m = 4, ksub = 8, iters = 1)
      .as[(Long, Long, Long, Int)].collect()
    assert(rows.forall { case (q, n, _, _) => q != n })
    rows.groupBy(_._1).foreach { case (_, grp) =>
      val sorted = grp.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to grp.length))
      val resorted = grp.sortBy(r => (r._3, r._2))
      assert(resorted.map(_._4).toSeq == (1 to grp.length),
        "rank order must equal (adc_dist asc, neighbor_id asc)")
    }
  }

  test("ivfPqKnn with exhaustive probes equals the full ADC scan") {
    // nprobe = nlist means no candidate is pruned — the RAW-form
    // cell-join path must then reproduce pqKnn's broadcast-scan answer
    // row for row (the residual form intentionally scores differently:
    // its codebooks live around each cell's centroid)
    val full = Similarity.pqKnn(emb, k = 3, m = 4, ksub = 8, iters = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfPqKnn(emb, emb, k = 3, nlist = 6, nprobe = 6,
      m = 4, ksub = 8, iters = 2, residual = false)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(ivf == full)
  }

  test("residual encoding dominates raw PQ recall at equal m " +
      "(Jégou §IV: codes quantize r = x − centroid(cell))") {
    // exhaustive probes isolate the PQ-resolution effect from cell
    // pruning: raw PQ collapses a tight cluster to one code (ADC
    // cannot order within it), residual codes resolve the structure
    // AROUND each centroid — recall@k vs exact cosine must not drop,
    // and on this planted-cluster corpus it strictly rises
    val k = 5
    val truth = Similarity.bruteKnn(emb, k)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(residual: Boolean): Double = {
      val got = Similarity.ivfPqKnn(emb, emb, k, nlist = 8, nprobe = 8,
        m = 4, ksub = 8, iters = 3, residual = residual)
        .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      (got & truth).size.toDouble / truth.size
    }
    val raw = recallOf(residual = false)
    val res = recallOf(residual = true)
    assert(res >= raw, s"residual recall $res below raw $raw")
    assert(res > raw, s"planted clusters should separate the forms: $res vs $raw")
  }

  test("ivfPqKnn prunes: sparse probes score fewer pairs, stay in-cluster") {
    val out = Similarity.ivfPqKnn(emb, emb, k = 3, nlist = 8, nprobe = 2,
      m = 4, ksub = 8, iters = 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(out.nonEmpty && out.forall { case (q, n) => q != n })
    val purity = out.count { case (q, n) => q % 8 == n % 8 }.toDouble / out.length
    assert(purity >= 0.95, s"ivfpq purity $purity")
  }

  test("ivfPqKnn rerank recovers brute recall on clustered data") {
    val k = 5
    val truth = Similarity.bruteKnn(emb, k)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfPqKnn(emb, emb, k, nlist = 8, nprobe = 4,
      m = 4, ksub = 8, iters = 3, rerankFactor = 4)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.85, s"ivfpq refined recall $recall below 0.85")
  }

  test("persisted IVFADC index round-trips: search == in-memory ivfPqKnn") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-").toString
    Similarity.ivfPqBuildIndex(emb, dir, nlist = 8, m = 4, ksub = 8, iters = 2)
    val direct = Similarity.ivfPqKnn(emb, emb, k = 3, nlist = 8, nprobe = 3,
      m = 4, ksub = 8, iters = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    val viaIndex = Similarity.ivfPqSearchIndex(emb, dir, k = 3, nprobe = 3,
      excludeSelf = true)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(viaIndex == direct)
  }

  test("index append: frozen codebooks retrieve planted twins at distance 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-app-").toString
    Similarity.ivfPqBuildIndex(emb, dir, nlist = 6, m = 4, ksub = 8, iters = 2)
    // plant exact duplicates of vectors 0..9 under new ids 1000..1009
    val twins = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    assert(Similarity.ivfPqIndexAppendBatch(twins, dir, batchId = 1L))
    // an exact twin shares the query's own code, and a query's own code
    // is the argmin of every subspace table — so the twin must surface
    // with the MINIMAL adc distance of that query's result set (ties
    // with same-code cluster-mates are expected; k rides above the
    // cluster size so the higher-id twin survives the tie-break)
    val got = Similarity.ivfPqSearchIndex(emb.filter($"vec_id" < 10), dir,
      k = 30, nprobe = 6, excludeSelf = true)
      .as[(Long, Long, Long, Int)].collect()
    got.groupBy(_._1).foreach { case (q, rows) =>
      val minDist = rows.map(_._3).min
      val twin = rows.find(_._2 == q + 1000L)
      assert(twin.isDefined, s"query $q: twin ${q + 1000L} missing")
      assert(twin.get._3 == minDist,
        s"query $q: twin at ${twin.get._3}, min is $minDist")
    }
  }

  test("empty corpus yields an empty, well-typed result") {
    val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val out = Similarity.pqKnn(none, k = 3)
    assert(out.columns.toSeq == Seq("vec_id", "neighbor_id", "adc_dist", "rank"))
    assert(out.count() == 0)
  }
}
