package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{CosineSimFloat, VectorFunctions}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(11)
  /** clustered vectors: 10 centers, 10 members each with small noise —
    * nearest neighbors are overwhelmingly within-cluster. */
  private lazy val emb = {
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian().toFloat))
    (0L until 100L).map { i =>
      val c = centers((i % 10).toInt)
      val v = c.map(x => x + 0.05f * rng.nextGaussian().toFloat)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("codegen cosine expression agrees with the column-function fold") {
    val pairs = emb.as("a").crossJoin(emb.as("b")).limit(500)
      .select(
        CosineSimFloat(col("a.embedding"), col("b.embedding")).as("fast"),
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("slow"))
    assert(pairs.filter(abs($"fast" - $"slow") > 1e-12).count() == 0)
  }

  test("cosine of a vector with itself is 1, zero vector yields null") {
    val df = Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val self = df.select(CosineSimFloat($"embedding", $"embedding").as("c"))
      .collect()
    assert(math.abs(self(0).getDouble(0) - 1.0) < 1e-12)
    assert(self(1).isNullAt(0))
  }

  test("NearestCellsFloat kernel matches the naive argmin/argsort loop") {
    val centroids = Seq.tabulate(7)(c => Array.tabulate(16)(i =>
      math.sin(c * 17 + i).toDouble))
    val quant = graft.functions.NearestCellsFloat.quantizer(spark, centroids)
    val rows = emb.select($"vec_id", $"embedding",
        quant.assign($"embedding").as("cell"),
        quant.nearestCells($"embedding", 3).as("cells"))
      .as[(Long, Seq[Float], Int, Seq[Int])].collect()
    assert(rows.length == 100)
    rows.foreach { case (_, v, cell, cells) =>
      val dists = centroids.indices.map { c =>
        var dist = 0.0; var i = 0
        while (i < 16) { val diff = v(i).toDouble - centroids(c)(i); dist += diff * diff; i += 1 }
        c -> dist
      }
      val expected = dists.sortBy(_._2).take(3).map(_._1) // stable: ties -> lower cell
      assert(cells == expected, s"cells=$cells expected=$expected")
      assert(cell == expected.head)
    }
  }

  test("NearestCellsFloat interpreted eval agrees with codegen") {
    val centroids = Seq.tabulate(5)(c => Array.tabulate(16)(i =>
      math.cos(c * 13 + i).toDouble))
    val quant = graft.functions.NearestCellsFloat.quantizer(spark, centroids)
    val viaCodegen = emb.select($"vec_id", quant.nearestCells($"embedding", 2).as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    // force the interpreted path through a post-shuffle aggregate context
    // is unreliable; call nullSafeEval directly instead
    val flat = centroids.flatten.toArray
    val bc = spark.sparkContext.broadcast(flat)
    val exprTemplate = graft.functions.NearestCellsFloat(
      org.apache.spark.sql.catalyst.expressions.Literal(null), bc, 16, 5, 2)
    emb.as[(Long, Seq[Float])].collect().foreach { case (id, v) =>
      val arr = exprTemplate.nullSafeEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.toArray))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq
      assert(arr == viaCodegen(id), s"id=$id eval=$arr codegen=${viaCodegen(id)}")
    }
  }

  test("NearestCellsFloat rejects a vector of the wrong dimensionality, naming d") {
    val centroids = Seq.tabulate(3)(c => Array.tabulate(16)(i =>
      math.sin(c * 5 + i).toDouble))
    val quant = graft.functions.NearestCellsFloat.quantizer(spark, centroids)
    // codegen path: a 4-dim vector against a d=16 quantizer must fail with
    // the expected dimensionality in the message, not an AIOOBE
    val bad = Seq((1L, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    // local mode surfaces the kernel's IAE directly; a cluster wraps it
    // in SparkException — assert on the message, not the wrapper
    val eCodegen = intercept[Exception] {
      bad.select(quant.assign($"embedding")).collect()
    }
    assert(eCodegen.getMessage.contains("dimensionality 16"), eCodegen.getMessage)
    // interpreted path: nullSafeEval directly
    val bc = spark.sparkContext.broadcast(centroids.flatten.toArray)
    val expr = graft.functions.NearestCellsFloat(
      org.apache.spark.sql.catalyst.expressions.Literal(null), bc, 16, 3, 1)
    val eEval = intercept[IllegalArgumentException] {
      expr.nullSafeEval(org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array(1f, 2f, 3f, 4f)))
    }
    assert(eEval.getMessage.contains("dimensionality 16"), eEval.getMessage)
  }

  test("bruteKnn returns exactly k neighbors per vector, self excluded, ranked") {
    val out = Similarity.bruteKnn(emb, 3).cache()
    assert(out.count() == 100 * 3)
    assert(out.filter($"vec_id" === $"neighbor_id").count() == 0)
    assert(out.groupBy($"vec_id").agg(countDistinct($"rank").as("r"))
      .filter($"r" =!= 3).count() == 0)
    // ranks ordered by similarity
    val bad = out.as("x").join(out.as("y"),
      col("x.vec_id") === col("y.vec_id") && col("x.rank") < col("y.rank") &&
        col("x.cos_sim") < col("y.cos_sim"))
    assert(bad.count() == 0)
  }

  test("bruteKnn top-1 stays within the planted cluster") {
    val top1 = Similarity.bruteKnn(emb, 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect()
    val inCluster = top1.count { case (v, n) => v % 10 == n % 10 }
    assert(inCluster >= 98, s"only $inCluster/100 top-1 in-cluster")
  }

  test("bruteKnn block-matrix path: tiny blockSize matches the single-block answer") {
    // 100 vectors / blockSize=7 → 15 corpus blocks; the merged partial
    // top-k must be row-identical to the one-block run (and the result
    // must be blockSize-invariant by construction)
    val one = Similarity.bruteKnn(emb, 3)
      .orderBy($"vec_id", $"rank").collect().toSeq
    val blocked = Similarity.bruteKnn(emb, 3, blockSize = 7)
      .orderBy($"vec_id", $"rank").collect().toSeq
    assert(blocked == one)
  }

  test("lshKnn achieves high recall@1 vs brute force on clustered data") {
    val brute = Similarity.bruteKnn(emb, 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshKnn(emb, 1, bits = 8, probeBits = 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (v, n) => lsh.get(v).contains(n) }
    assert(hits >= 85, s"recall@1 $hits/100")
  }

  test("lshKnn probeBits=2 probes Hamming-2 buckets and recall dominates probeBits=1") {
    val brute = Similarity.bruteKnn(emb, 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    def recall(probeBits: Int): Int = {
      val got = Similarity.lshKnn(emb, 1, bits = 8, probeBits = probeBits)
        .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
      brute.count { case (v, n) => got.get(v).contains(n) }
    }
    val r1 = recall(1)
    val r2 = recall(2)
    // Hamming-2 probing widens the candidate set strictly monotonically
    assert(r2 >= r1, s"recall@1 probeBits=2 ($r2) < probeBits=1 ($r1)")
    assert(r2 >= 90, s"recall@1 $r2/100 at probeBits=2")
    // out-of-range probeBits is rejected, not silently truncated
    intercept[IllegalArgumentException] {
      Similarity.lshKnn(emb, 1, bits = 8, probeBits = 9)
    }
  }

  test("lshKnn sharded path (tiny shuffle budget) is row-identical to single-shot") {
    // a 1-byte budget forces maximal query sharding (clamped to one
    // query per shard); every query's candidate set lives wholly in its
    // shard, so the union must equal the single-shot answer row for row
    val small = emb.filter($"vec_id" < 30)
    val one = Similarity.lshKnn(small, 3, bits = 8, probeBits = 2,
        shuffleBudgetBytes = -1)
      .orderBy($"vec_id", $"rank").collect().toSeq
    val sharded = Similarity.lshKnn(small, 3, bits = 8, probeBits = 2,
        shuffleBudgetBytes = 1)
      .orderBy($"vec_id", $"rank").collect().toSeq
    assert(sharded == one)
  }

  test("ivfKnn sharded path (tiny shuffle budget) is row-identical to single-shot") {
    // same invariant as the lshKnn case: a corpus vector occupies exactly
    // one cell and a query's entire candidate set lives in its shard, so
    // maximal sharding must reproduce the single-shot answer row for row
    val small = emb.filter($"vec_id" < 30)
    val one = Similarity.ivfKnn(small, 3, nlist = 8, nprobe = 3,
        shuffleBudgetBytes = -1)
      .orderBy($"vec_id", $"rank").collect().toSeq
    val sharded = Similarity.ivfKnn(small, 3, nlist = 8, nprobe = 3,
        shuffleBudgetBytes = 1)
      .orderBy($"vec_id", $"rank").collect().toSeq
    assert(sharded == one)
    assert(one.nonEmpty)
  }

  test("ivf persisted index reproduces ivfKnn row-for-row (self-join parity)") {
    // build-once/query-many must be indistinguishable from never
    // persisting: same quantizer (exact doubles round-trip parquet),
    // same assignment kernel, same scoring — the production index path
    // earns the in-memory path's oracle
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx-").toString
    Similarity.ivfBuildIndex(emb, dir, nlist = 8)
    val fromIndex = Similarity
      .ivfSearchIndex(emb, dir, k = 3, nprobe = 3, excludeSelf = true)
      .orderBy($"vec_id", $"rank").collect().toSeq
    val direct = Similarity.ivfKnn(emb, 3, nlist = 8, nprobe = 3)
      .orderBy($"vec_id", $"rank").collect().toSeq
    assert(fromIndex == direct)
    assert(direct.nonEmpty)
  }

  test("small query batch against the index prunes the scan and matches the full answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx-").toString
    Similarity.ivfBuildIndex(emb, dir, nlist = 8)
    val queries = emb.filter($"vec_id" < 5)
    val got = Similarity.ivfSearchIndex(queries, dir, k = 3, nprobe = 2,
      excludeSelf = true)
    // a query's answer depends only on its own probes and the index, so
    // the batch answer must equal the full self-join restricted to it
    val full = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 2,
        excludeSelf = true)
      .filter($"vec_id" < 5)
    assert(got.orderBy($"vec_id", $"rank").collect().toSeq ==
      full.orderBy($"vec_id", $"rank").collect().toSeq)
    assert(got.count() > 0)
    // few probed cells (<= 5 queries x 2 probes) out of 8: the cell IN
    // filter must reach the index parquet scan so row-group pruning
    // reads only the probed slices at corpus scale
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      """PushedFilters: \[[^\]]*[Ii]n\(cell""".r.findFirstIn(plan).isDefined,
      s"cell IN filter not pushed to the index scan:\n${plan.take(4000)}")
  }

  test("ivfSearchIndex sharded path (tiny budget) is row-identical to single-shot") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx-").toString
    Similarity.ivfBuildIndex(emb, dir, nlist = 8)
    val one = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 3,
        excludeSelf = true, shuffleBudgetBytes = -1)
      .orderBy($"vec_id", $"rank").collect().toSeq
    val sharded = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 3,
        excludeSelf = true, shuffleBudgetBytes = 1)
      .orderBy($"vec_id", $"rank").collect().toSeq
    assert(sharded == one)
    assert(one.nonEmpty)
  }

  test("ivfIndexAppend: appended vectors are searchable and exhaustive probing equals brute force") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx-").toString
    val first = emb.filter($"vec_id" < 50)
    val rest = emb.filter($"vec_id" >= 50)
    Similarity.ivfBuildIndex(first, dir, nlist = 8)
    assert(Similarity.ivfIndexAppendBatch(rest, dir, batchId = 1L))

    // appended ids must appear on BOTH sides of the search
    val got = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 8,
      excludeSelf = true)
    assert(got.filter($"vec_id" >= 50).count() > 0)
    assert(got.filter($"neighbor_id" >= 50).count() > 0)

    // nprobe = nlist makes IVF exhaustive: against the appended index it
    // must reproduce brute force over the FULL corpus exactly — the
    // strongest possible statement that append lost nothing
    val ivf = got.select($"vec_id", $"neighbor_id", $"rank")
      .orderBy($"vec_id", $"rank").collect().toSeq
    val brute = Similarity.bruteKnnFor(emb, emb, k = 3)
      .select($"vec_id", $"neighbor_id", $"rank")
      .orderBy($"vec_id", $"rank").collect().toSeq
    assert(ivf == brute)
    assert(ivf.size == 300) // 100 queries x k=3
  }

  test("ivfIndexCompact: answers unchanged, file count back to fresh-build shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx-").toString
    Similarity.ivfBuildIndex(emb.filter($"vec_id" < 40), dir, nlist = 8)
    // three append generations: each lays down its own sorted file set
    Seq((40L, 60L), (60L, 80L), (80L, 100L)).zipWithIndex.foreach { case ((lo, hi), b) =>
      Similarity.ivfIndexAppendBatch(emb.filter($"vec_id" >= lo && $"vec_id" < hi), dir,
        batchId = b.toLong)
    }
    // the files an exhaustive search opens: live generation + increments
    def cellFiles(): Int = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 8)
      .inputFiles.count(_.endsWith(".parquet"))
    val before = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 3,
        excludeSelf = true).orderBy($"vec_id", $"rank").collect().toSeq
    val filesBefore = cellFiles()

    Similarity.ivfIndexCompact(spark, dir)

    val after = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 3,
        excludeSelf = true).orderBy($"vec_id", $"rank").collect().toSeq
    assert(after == before)
    assert(before.nonEmpty)
    val filesAfter = cellFiles()
    assert(filesAfter < filesBefore,
      s"compaction did not shrink the file set: $filesBefore -> $filesAfter")
    // fresh-build shape: one generation's worth of files, i.e. no more
    // than a fresh build over the same rows would produce
    val freshDir = java.nio.file.Files.createTempDirectory("graft-ivf-idx-").toString
    Similarity.ivfBuildIndex(emb, freshDir, nlist = 8)
    val freshFiles = new java.io.File(s"$freshDir/cells").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(filesAfter <= freshFiles)
  }

  test("IVF searches resolve generation N while N+1 is mid-write") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-gen-").toString
    Similarity.ivfBuildIndex(emb.filter($"vec_id" < 60), dir, nlist = 8)
    Similarity.ivfIndexAppendBatch(emb.filter($"vec_id" >= 60), dir, batchId = 1L)
    def knn() = Similarity.ivfSearchIndex(emb, dir, k = 3, nprobe = 3,
      excludeSelf = true).orderBy($"vec_id", $"rank").collect().toSeq
    val want = knn()
    assert(want.nonEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a compaction MID-WRITE: uncommitted garbage generation on the
    // cell slice — searches must never resolve it
    val midWrite = new org.apache.hadoop.fs.Path(s"$dir/cells.gen-1")
    fs.mkdirs(midWrite)
    assert(knn() == want, "a search resolved an uncommitted generation")
    Similarity.ivfIndexCompact(spark, dir)
    assert(knn() == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/cells.gen-1/_GEN_COMMITTED")))
    // two-generation retention, then GC on the next compaction
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/cells")))
    Similarity.ivfIndexCompact(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/cells")),
      "two-generation retention should have GC'd generation 0")
    assert(knn() == want)
    assert(Similarity.ivfIndexRecover(spark, dir))
  }

  test("ivfPqIndexCompact: ADC answers unchanged, code file set shrinks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx-").toString
    Similarity.ivfPqBuildIndex(emb.filter($"vec_id" < 50), dir,
      nlist = 8, m = 4, ksub = 8, iters = 2)
    Seq((50L, 75L), (75L, 100L)).zipWithIndex.foreach { case ((lo, hi), b) =>
      Similarity.ivfPqIndexAppendBatch(emb.filter($"vec_id" >= lo && $"vec_id" < hi), dir,
        batchId = b.toLong)
    }
    def codeFiles(): Int = Similarity.ivfPqSearchIndex(emb, dir, k = 3, nprobe = 8)
      .inputFiles.count(_.endsWith(".parquet"))
    val before = Similarity.ivfPqSearchIndex(emb, dir, k = 3, nprobe = 8,
        excludeSelf = true).orderBy($"vec_id", $"rank").collect().toSeq
    val filesBefore = codeFiles()

    Similarity.ivfPqIndexCompact(spark, dir)

    val after = Similarity.ivfPqSearchIndex(emb, dir, k = 3, nprobe = 8,
        excludeSelf = true).orderBy($"vec_id", $"rank").collect().toSeq
    assert(after == before)
    assert(before.nonEmpty)
    assert(codeFiles() < filesBefore)
  }

  test("shardCount divides before multiplying: extreme candidate counts do not overflow") {
    // 3e15 pairs x 768-dim rows overflows candRows*rowBytes in Long; the
    // divide-first form must still demand (capped) many shards, and a
    // wrapped negative upstream sum is treated as maximal — never 1 shard
    val rowBytes = 4L * 768 + 48
    assert(Similarity.shardCount(3_000_000_000_000_000L, rowBytes,
      32L << 30, nQueries = Long.MaxValue) == 512)
    assert(Similarity.shardCount(-1L, rowBytes,
      32L << 30, nQueries = Long.MaxValue) == 512)
    // clamped to one query per shard below the cap
    assert(Similarity.shardCount(Long.MaxValue, rowBytes,
      32L << 30, nQueries = 7L) == 7)
  }

  test("shardCount never evaluates the nQueries clamp on the under-budget path") {
    assert(Similarity.shardCount(100L, 100L, 32L << 30,
      nQueries = sys.error("nQueries job must not run when byVolume <= 1")) == 1)
  }

  test("semDedup flags near-copies of the cell representative, linearly") {
    // planted: vectors 100..104 are near-copies of vector 0 (same sign
    // pattern -> same cell; cosine ~1); unrelated clusters stay put
    val base = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    val copies = (100L to 104L).map(i =>
      (i, base.map(x => x + 0.001f * (i - 99L)))).toDF("vec_id", "embedding")
    val out = graft.llm.Similarity.semDedup(emb.union(copies), threshold = 0.95)
    val removed = out.select("vec_id").as[Long].collect().toSet
    assert((100L to 104L).toSet.subsetOf(removed),
      s"planted copies must be flagged, got $removed")
    // representative (min id of the cell) is never flagged
    val reps = out.select("rep_id").as[Long].collect().toSet
    assert(removed.intersect(reps).isEmpty)
    // linear shape: representatives broadcast; no cartesian anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("semDedup on vectors straddling a sign boundary keeps cells disjoint") {
    // two antipodal vectors can never share a cell (all sign bits differ),
    // so neither is flagged however similar |cos| is
    val v = Seq(1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f, 1f)
    val anti = v.map(-_)
    val df = Seq((1L, v), (2L, anti)).toDF("vec_id", "embedding")
    assert(graft.llm.Similarity.semDedup(df, threshold = -1.0).count() == 0)
  }

  test("nearDupPairs refuses a corpus above maxExactRows with the scale path named") {
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(emb, 0.9, maxExactRows = 10)
    }
    assert(e.getMessage.contains("lshKnn"))
  }

  test("ivfKnn achieves high recall@1 vs brute force on clustered data") {
    val brute = Similarity.bruteKnn(emb, 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfKnn(emb, 1, nlist = 8, nprobe = 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (v, n) => ivf.get(v).contains(n) }
    assert(hits >= 90, s"recall@1 $hits/100")
  }

  test("ivfKnn is deterministic across runs") {
    val a = Similarity.ivfKnn(emb, 2, nlist = 8, nprobe = 2)
      .orderBy($"vec_id", $"rank").collect().toSeq
    val b = Similarity.ivfKnn(emb, 2, nlist = 8, nprobe = 2)
      .orderBy($"vec_id", $"rank").collect().toSeq
    assert(a == b)
  }

  test("nearDupPairs is symmetric-free (id_a < id_b) and thresholded") {
    val out = Similarity.nearDupPairs(emb, 0.9)
    assert(out.filter($"id_a" >= $"id_b").count() == 0)
    assert(out.filter($"cos_sim" < 0.9).count() == 0)
    assert(out.count() > 0) // clusters guarantee some close pairs
  }
}
