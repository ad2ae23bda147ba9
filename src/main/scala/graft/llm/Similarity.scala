package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{DotProductFloat, HashFunctions}

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * - bruteKnn: exact cosine top-k — the baseline and correctness oracle.
  *   O(n*m) pairs scored with a codegen'd dot-product expression; L2
  *   norms are precomputed per side (O(n+m)), so each pair costs one
  *   d-length loop. At cluster scale the smaller side broadcasts and the
  *   scoring is embarrassingly parallel over the corpus partitions.
  * - lshKnn: the scale path. Random-hyperplane signatures bucket vectors;
  *   only same-bucket (or near-bucket, via multi-probe) pairs are scored.
  * - nearDupPairs: all pairs with cosine >= threshold, exact.
  *
  * cos = dot(a,b) / (norm_a * norm_b) with sequential double accumulation
  * — bit-identical to the DuckDB oracle's list_dot_product formulation.
  *
  * ==Measured ANN operating points (pick knobs without re-running soaks)==
  *
  * SoakAnn, 1M x 64-dim clustered corpus, k=10, local[32] (BASELINE.md):
  *
  * {{{
  * path (operating point)                 wall     recall@10  true-NN found
  * lshKnn  bits=18, probeBits=1           84.5 s   0.703      0.719
  * lshKnn  bits=18, probeBits=2 (sharded) 1368 s   0.908      0.928
  * ivfKnn  nlist=4096, nprobe=2           396 s    0.775      0.762
  * ivfKnn  nlist=4096, nprobe=4           468 s    0.850      0.845
  * (IVF points: 16k train sample, 3 Lloyd iterations)
  * }}}
  *
  * Rules of thumb from the frontier: IVF nprobe 2->4 buys +7.5 recall
  * points for +18% wall; LSH probeBits 1->2 buys +20 points for ~5.3x
  * wall on one box (the shards run sequentially under the shuffle
  * budget — on a cluster they are independent jobs). Start from IVF
  * nprobe=4 for balanced recall/cost; reach for LSH probeBits=2 when
  * recall@10 >= 0.9 is required without training a quantizer.
  */
object Similarity {

  /** Union a non-empty shard list as a balanced tree: a left-deep
    * `reduce(_ union _)` over hundreds of checkpointed children risks
    * analyzer stack overflow; the balanced form is depth log2(n). */
  private def balancedUnion(dfs: IndexedSeq[DataFrame]): DataFrame =
    if (dfs.length == 1) dfs.head
    else balancedUnion(dfs.grouped(2).map(_.reduce(_.union(_))).toIndexedSeq)

  /** Number of sequential query shards needed to keep `candRows` scored
    * rows of `rowBytes` each under `budgetBytes`.
    *
    * Overflow-safe: divides the budget by the row width instead of
    * multiplying rows by width (`candRows * rowBytes` wraps Long at
    * ~3e15 pairs x 768 dims — exactly the scale the budget exists for,
    * and a wrapped negative product would silently select ONE shard).
    * A negative `candRows` (a wrapped Spark sum upstream) is treated as
    * maximal, not ignored. `nQueries` is by-name and only forced when
    * sharding is actually needed (byVolume > 1) — the under-budget path
    * costs no extra job. The shard count is capped (sequential eager
    * jobs + a union of checkpointed children must stay practical); when
    * the cap binds, the peak shuffle exceeds the budget by the reported
    * factor rather than degenerating into thousands of jobs. */
  private[llm] def shardCount(candRows: Long, rowBytes: Long, budgetBytes: Long,
                              nQueries: => Long, maxShards: Int = 512): Int = {
    val rowsPerShard = math.max(1L, budgetBytes / math.max(1L, rowBytes))
    val safeCand = if (candRows < 0) Long.MaxValue else candRows
    val byVolume = safeCand / rowsPerShard +
      (if (safeCand % rowsPerShard == 0L) 0L else 1L)
    if (byVolume <= 1L) 1
    else {
      // a shard cannot be finer than one query vector
      val want = math.max(1L, math.min(byVolume, nQueries))
      if (want > maxShards)
        System.err.println(s"graft.Similarity: shuffle budget requires " +
          s"$want query shards; capping at $maxShards — peak shuffle may " +
          s"exceed the budget by ~${want / maxShards}x. Raise " +
          s"shuffleBudgetBytes or thin the probe knobs.")
      math.min(want, maxShards.toLong).toInt
    }
  }

  /** Run `knnFor` over `nShards` disjoint hash-shards of the query side,
    * sequentially, each eagerly checkpointed to its slim <= |shard
    * queries| * k result before the next starts — peak shuffle footprint
    * is one shard's. Queries partition by id hash and a query's entire
    * candidate set lives in its shard, so the union is exactly the
    * single-shot answer. */
  private def runQueryShards(slim: DataFrame, nShards: Int)
                            (knnFor: DataFrame => DataFrame): DataFrame =
    if (nShards <= 1) knnFor(slim)
    else balancedUnion((0 until nShards)
      .map(s => knnFor(slim.filter(
          pmod(xxhash64(col("vec_id")), lit(nShards)) === s))
        .localCheckpoint(true)))

  /** vec_id, embedding, norm (zero-norm vectors dropped: undefined sim). */
  private def withNorm(emb: DataFrame, idAs: String, embAs: String, normAs: String)
      : DataFrame =
    emb.select(col("vec_id").as(idAs), col("embedding").as(embAs),
        DotProductFloat.norm2(col("embedding")).as(normAs))
      .filter(col(normAs) > 0.0)

  private def sim(a: String, b: String, na: String, nb: String) =
    round(DotProductFloat(col(a), col(b)) / (col(na) * col(nb)), 6)

  /** Exact cosine top-k neighbors per query vector (self-join variant:
    * queries = corpus, excluding self-pairs).
    * Output: vec_id, neighbor_id, cos_sim (rounded 6 dp), rank.
    *
    * Driver memory is bounded by `blockSize` on every path: a corpus
    * within the bound takes the one-collect fast path (single broadcast,
    * ranks straight from the kernel, no merge shuffle); a larger corpus
    * takes the block-matrix path below — never an unbounded collect.
    *
    * Block-matrix kernel: the corpus streams through the driver one
    * bounded block at a time (`toLocalIterator` over a distributed sort —
    * the driver never holds more than one input partition plus one block,
    * unlike a full `.collect()` which OOMs the driver at corpus scale);
    * each block is broadcast as a flat primitive float matrix, every
    * query partition scans it with a bounded per-query top-k selection,
    * the block result (≤ queries×k rows) is materialized, and the block
    * broadcast is dropped before the next one ships — executor footprint
    * is one block, not the corpus. Per-block partials merge through the
    * [[graft.plans.TopKPerKey]] operator with the same (sim desc, id asc)
    * comparator, so the merged top-k is exactly the single-pass answer.
    * (The flat-matrix scan itself measured 7x over the declarative
    * BroadcastNestedLoopJoin + window form: per-pair
    * UnsafeArrayData->float[] decoding dominated. This is the
    * mapPartitions-as-kernel case SURVEY §7.3 reserves for profiled hot
    * loops.) Work is inherently O(n·m) — that is brute force; beyond
    * compute budget, use lshKnn/ivfKnn.
    *
    * Determinism: dot/norm accumulate sequentially in index order in
    * double, rounding is HALF_UP at 6 dp, ties break on neighbor_id —
    * bit-identical to the declarative/oracle formulation, and invariant
    * to `blockSize` (per-pair arithmetic never spans blocks).
    */
  def bruteKnn(emb: DataFrame, k: Int, blockSize: Int = 1 << 16): DataFrame =
    bruteKnnFor(emb, emb, k, blockSize)

  /** [[bruteKnn]] with distinct query and corpus sides — the ground-truth
    * harness for ANN recall at scale: a SAMPLED query set scans the FULL
    * corpus (all blocks stream through exactly like the self-join path;
    * self-pairs are excluded by id, so corpus queries never match
    * themselves). Cost is O(|queries| * |corpus|). */
  def bruteKnnFor(queriesDf: DataFrame, corpus: DataFrame, k: Int,
                  blockSize: Int = 1 << 16): DataFrame = {
    require(k >= 1 && blockSize >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._

    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()

    /** Scan one corpus block per query partition with a bounded top-k
      * selection; emits ranks when the block is the whole corpus, raw
      * scored partials otherwise (the merge ranks them). */
    def scoreBlock(queries: org.apache.spark.sql.Dataset[(Long, Seq[Float])],
                   block: IndexedSeq[(Long, Seq[Float])],
                   withRank: Boolean)
        : (DataFrame, org.apache.spark.broadcast.Broadcast[
            (Array[Long], Array[Float], Array[Double], Int)]) = {
      val n = block.length
      val d = block.head._2.length
      val ids = block.map(_._1).toArray
      val flat = new Array[Float](n * d)
      val norms = new Array[Double](n)
      var j = 0
      while (j < n) {
        val v = block(j)._2
        var i = 0; var ss = 0.0
        while (i < d) { val x = v(i); flat(j * d + i) = x; ss += x.toDouble * x.toDouble; i += 1 }
        norms(j) = math.sqrt(ss)
        j += 1
      }
      val bc = spark.sparkContext.broadcast((ids, flat, norms, d))
      val scored = queries.mapPartitions { it =>
        val (ids, flat, norms, d) = bc.value
        val n = ids.length
        it.flatMap { case (qid, qv) =>
          val q = new Array[Float](d)
          var i = 0; var ss = 0.0
          while (i < d) { val x = qv(i); q(i) = x; ss += x.toDouble * x.toDouble; i += 1 }
          val qn = math.sqrt(ss)
          // bounded top-k: (sim desc, id asc), exact window-rank semantics
          val topSim = new Array[Double](k)
          val topId = new Array[Long](k)
          var filled = 0
          var j = 0
          while (j < n) {
            if (ids(j) != qid && norms(j) > 0.0 && qn > 0.0) {
              var dot = 0.0
              var p = j * d; var x = 0
              while (x < d) { dot += q(x).toDouble * flat(p).toDouble; x += 1; p += 1 }
              val sim = round6(dot / (qn * norms(j)))
              val id = ids(j)
              // insert if better than current worst
              if (filled < k || sim > topSim(filled - 1) ||
                  (sim == topSim(filled - 1) && id < topId(filled - 1))) {
                var pos = if (filled < k) filled else k - 1
                while (pos > 0 && (topSim(pos - 1) < sim ||
                    (topSim(pos - 1) == sim && topId(pos - 1) > id))) {
                  topSim(pos) = topSim(pos - 1); topId(pos) = topId(pos - 1); pos -= 1
                }
                topSim(pos) = sim; topId(pos) = id
                if (filled < k) filled += 1
              }
            }
            j += 1
          }
          (0 until filled).map(r =>
            (qid, topId(r), topSim(r), if (withRank) r + 1 else 0))
        }
      }.toDF("vec_id", "neighbor_id", "cos_sim", "rank")
      (scored, bc)
    }

    // single-file parquet inputs arrive as ONE partition: spread the
    // query side so the kernel scan uses every core
    def queriesSide = queriesDf.select(col("vec_id"), col("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, Seq[Float])]

    // probe-collect: one job that either returns the ENTIRE corpus (when
    // it fits the blockSize driver budget — the common oracle shape) or
    // proves it exceeds the budget by yielding blockSize+1 rows. Avoids a
    // separate count() job on the fast path; the driver never holds more
    // than blockSize+1 rows here.
    val probe = corpus.select(col("vec_id"), col("embedding"))
      .limit(blockSize + 1)
      .as[(Long, Seq[Float])].collect()
    if (probe.isEmpty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("vec_id", "neighbor_id", "cos_sim", "rank")

    if (probe.length <= blockSize) {
      // fast path: one broadcast, ranks straight from the kernel, no
      // merge shuffle
      scoreBlock(queriesSide, probe.sortBy(_._1).toIndexedSeq, withRank = true)._1
    } else {
      // block-matrix path: the corpus streams through the driver one
      // bounded block at a time; per-block partials (≤ queries×k rows)
      // are materialized so each block broadcast is released before the
      // next ships — driver and executor footprint stay one block.
      // DISK-backed persists so eviction cannot recompute against a
      // dropped broadcast. Partials merge through TopKPerKey with the
      // same (sim desc, id asc) comparator => exactly the one-pass answer.
      val queries = queriesSide.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpusIt = corpus.select(col("vec_id"), col("embedding"))
        .sort(col("vec_id"))
        .as[(Long, Seq[Float])]
        .toLocalIterator()
      val partials = corpusIt.asScala.grouped(blockSize).map { blk =>
        val (part, bc) = scoreBlock(queries, blk.toIndexedSeq, withRank = false)
        val materialized = part.drop("rank")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        materialized.count()
        bc.unpersist(blocking = false)
        materialized
      }.toList
      val merged = partials.reduce(_ union _)
      val result = graft.plans.TopKPerKey(merged,
        keys = Seq(col("vec_id")),
        order = Seq(col("cos_sim").desc, col("neighbor_id").asc),
        k = k, rankName = "rank")
        .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
      // eagerly localCheckpoint the final top-k (queries*k rows): the one
      // materializing pass cuts the lineage, so the query-side cache and
      // every per-block partial can be released NOW — and unlike a
      // `.persist` (which the CacheManager pins for the session), the
      // checkpoint blocks are freed by the ContextCleaner as soon as the
      // caller drops the returned DataFrame. Tradeoff: the cut lineage
      // makes the result non-recomputable if an executor holding
      // checkpoint blocks is decommissioned (dynamic allocation) — on
      // such deployments re-run the call on block-lost failure
      val out = result.localCheckpoint(eager = true)
      queries.unpersist(blocking = false)
      partials.foreach(_.unpersist(blocking = false))
      out
    }
  }

  /** All pairs (id_a < id_b) with cosine >= threshold, exact.
    *
    * Deliberately quadratic (it IS the exact answer and the oracle for the
    * LSH paths), so it is size-gated: the corpus must fit `maxExactRows`
    * or the call fails fast with the scale path spelled out, instead of
    * broadcasting an unbounded build side and dying mid-crossJoin. Raise
    * the bound explicitly to accept the O(n²) cost on a bigger corpus.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double,
                   maxExactRows: Long = 1L << 20): DataFrame = {
    val n = emb.count()
    require(n <= maxExactRows,
      s"nearDupPairs is exact/quadratic: corpus has $n rows > maxExactRows=" +
        s"$maxExactRows (${n * n} pairs). Use lshKnn/ivfKnn for approximate " +
        "search at scale, or pass a larger maxExactRows to accept the cost.")
    val a = withNorm(emb, "id_a", "emb_a", "norm_a")
    val b = withNorm(emb, "id_b", "emb_b", "norm_b")
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", sim("emb_a", "emb_b", "norm_a", "norm_b"))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): partition vectors into deterministic sign-grid
    * cells (sign bit of each of the first `cellBits` dimensions), elect
    * the min-id member as each cell's representative, and flag every
    * other member whose cosine to the representative clears `threshold`
    * as a removal candidate.
    *
    * LINEAR in corpus size — each vector scores against exactly ONE
    * representative and the representative set (<= 2^cellBits rows)
    * broadcasts — where pairwise near-dup ([[nearDupPairs]]) is
    * quadratic per bucket. That is the whole point of the paper's
    * cluster-then-prune shape at 100 TB: dedup cost stays one broadcast
    * join + one codegen cosine per vector. The paper clusters with
    * k-means and prunes against the centroid; the sign-grid + min-id
    * variant here keeps the same shape fully deterministic with no
    * trained state (swap in [[ivfBuildIndex]] centroids for the paper's
    * exact form).
    *
    * Output: vec_id (the REMOVAL candidate), cell, rep_id, cos_sim. */
  def semDedup(emb: DataFrame, threshold: Double, cellBits: Int = 8): DataFrame = {
    require(cellBits >= 1 && cellBits <= 62,
      s"cellBits must be in [1,62], got $cellBits")
    val cellOf = (e: org.apache.spark.sql.Column) => (0 until cellBits)
      .map(i => when(e.getItem(i) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val cells = withNorm(emb, "vec_id", "emb", "norm")
      .withColumn("cell", cellOf(col("emb")))
    val reps = cells.groupBy(col("cell")).agg(min(col("vec_id")).as("rep_id"))
    val repVec = reps.join(cells.select(col("vec_id").as("rep_id"),
      col("emb").as("rep_emb"), col("norm").as("rep_norm")), "rep_id")
    cells.join(broadcast(repVec), "cell")
      .filter(col("vec_id") =!= col("rep_id"))
      .withColumn("cos_sim", sim("emb", "rep_emb", "norm", "rep_norm"))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_id"), col("cell"), col("rep_id"), col("cos_sim"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; each query scores only the
    * vectors in its `nprobe` nearest cells. The standard ANN scale path
    * when hyperplane LSH recall is too data-dependent.
    *
    * Training runs Lloyd iterations on the driver over a collected
    * sample (quantizer training is tiny and inherently centralized — at
    * 100 TB you train on a sample exactly like this); assignment and
    * search are distributed: assignment is a narrow map, search is a
    * cell-key join + codegen'd dot products + the TopKPerKey operator.
    *
    * Every training step is deterministic AND cross-engine reproducible
    * (the DuckDB oracle re-derives the same quantizer):
    *  - seeding: the `nlist` sample vectors smallest in splitmix64(id)
    *    order — pseudo-random spread with no RNG state;
    *  - assignment: squared-L2 accumulated sequentially in index order
    *    in double, ties to the lowest cell;
    *  - update: per-dim means as exact DECIMAL(28,10) sums (order-
    *    independent) divided once in double and rounded to 6 dp — the
    *    same discipline as llm_embedding_centroids, so iteration K's
    *    centroids are bit-identical however the sum is ordered.
    *
    * Scale guard (the 100-TB concern, symmetric with [[lshKnn]]): the
    * scored cell join's volume is estimated EXACTLY up front from the
    * per-cell histogram (sum over cells of probes(c) * members(c) — a
    * <= nlist-row join, never corpus-sized); when it exceeds
    * `shuffleBudgetBytes` the query side is hash-sharded and shards run
    * SEQUENTIALLY, each eagerly materialized to a slim checkpoint, so
    * peak shuffle footprint stays within budget however skewed the
    * cells or dense the `nprobe`. The union is row-identical to the
    * single-shot answer (a query's entire candidate set lives in its
    * shard). Pass `shuffleBudgetBytes <= 0` to force single-shot.
    */
  /** Bounded, deterministic k-means (Lloyd) quantizer training shared by
    * [[ivfKnn]] and [[ivfBuildIndex]]: sort+limit compiles to
    * TakeOrderedAndProject (per-partition top-k, merged on the driver) —
    * never collects the corpus, so the quantizer trains on <= maxTrain
    * vectors regardless of corpus size. Exact decimal per-dim sums keep
    * iteration K's centroids bit-identical however the sum is ordered. */
  private[llm] def trainIvfCentroids(emb: DataFrame, nlist: Int, iters: Int,
                                     maxTrain: Int): Vector[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.select(col("vec_id"), col("embedding"))
      .sort(col("vec_id")).limit(maxTrain)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, v.toArray) } // primitive access: the
      // boxed Seq apply dominated training at production nlist
    require(sample.nonEmpty)
    val d = sample.head._2.length
    var centroids: Vector[Array[Double]] = sample
      .sortBy { case (id, _) => (graft.functions.HashFunctions.mix64(id), id) }
      .take(nlist).toVector.map(_._2.map(_.toDouble))
    def nearest(v: Array[Float], cs: Vector[Array[Double]]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cc = cs(c)
        var dist = 0.0; var i = 0
        while (i < d) { val diff = v(i) - cc(i); dist += diff * diff; i += 1 }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      best
    }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    for (_ <- 0 until iters) {
      // exact decimal(28,10) per-dim sums: order-independent, so the
      // oracle's SUM over an arbitrary row order lands on the same value
      val sums = Array.fill(nlist)(Array.fill(d)(java.math.BigDecimal.ZERO))
      val counts = new Array[Long](nlist)
      sample.foreach { case (_, v) =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < d) {
          sums(c)(i) = sums(c)(i).add(java.math.BigDecimal.valueOf(v(i).toDouble)
            .setScale(10, java.math.RoundingMode.HALF_UP))
          i += 1
        }
      }
      centroids = Vector.tabulate(nlist)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(s => round6(s.doubleValue() / counts(c))))
    }
    centroids
  }

  def ivfKnn(emb: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
             iters: Int = 10, maxTrain: Int = 65536,
             shuffleBudgetBytes: Long = 32L << 30): DataFrame = {
    val spark = emb.sparkSession
    val centroids = trainIvfCentroids(emb, nlist, iters, maxTrain)
    val d = centroids.head.length
    // assignment + probe as ONE codegen kernel over the broadcast flat
    // centroid matrix (NearestCellsFloat): the per-row UDF formulation
    // (boxed Seq[Float], a sorted pair list per row) makes the assignment
    // pass the bottleneck at production nlist. Tie-breaking and
    // accumulation order are bit-identical to the training loop above.
    // One kernel pass per vector into a SLIM (vec_id, probe_cells)
    // checkpoint (assignment = probe_cells[0] — the kernel returns cells
    // nearest-first) reused by the volume estimate, the query side, and
    // the corpus side: embeddings never ride the cell join, exactly the
    // lshKnn discipline.
    val quantizer = graft.functions.NearestCellsFloat.quantizer(spark, centroids)
    // repartition before the checkpoint: the slim frame's partitioning is
    // inherited by every candidate-generation stage downstream (the cell
    // join streams over it), and a compactly-written corpus coalesces to
    // a handful of scan partitions — found live via jstack on the 1M
    // nprobe=8 soak, 33/34 executor threads idle behind a single-task
    // stage. One cheap shuffle of ~50-byte rows buys full parallelism
    // whatever the input file layout.
    val cells = withNorm(emb, "vec_id", "embedding", "norm_a")
      .select(col("vec_id"),
        quantizer.nearestCells(col("embedding"), nprobe).as("probe_cells"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val a = withNorm(emb, "vec_id", "embedding", "norm_a")
    val b = withNorm(emb, "neighbor_id", "emb_b", "norm_b")

    /** Single-shot plan over one query shard (corpus side is always the
      * full corpus — recall is shard-invariant). A corpus vector occupies
      * exactly one cell and a query's probe cells are distinct, so a
      * (query, corpus) pair matches in at most one probed cell — the
      * candidate set is structurally unique, no dedup shuffle. */
    def knnFor(qCells: DataFrame): DataFrame = {
      // explicit numbered repartition on the probe side: AQE coalesces
      // the cell-join exchange to ~1 partition (its INPUT — slim probe
      // rows — is tiny) but the join's OUTPUT explodes ~members-per-cell
      // fold, so that one task computes and shuffle-writes the whole
      // candidate set. Found live via jstack on the 1M nprobe=8 soak
      // (single task 200s+ in BypassMergeSortShuffleWriter, 31 threads
      // idle). A REPARTITION_BY_NUM exchange is exempt from AQE
      // coalescing, so the join keeps full width.
      val q = qCells.select(col("vec_id"),
          explode(col("probe_cells")).as("cell"))
        .repartition(spark.sparkContext.defaultParallelism, col("cell"))
      val c = cells.select(col("vec_id").as("neighbor_id"),
        col("probe_cells").getItem(0).as("cell"))
      val cand = q.join(c, Seq("cell"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"))
      val scored = cand.join(a, Seq("vec_id")).join(b, Seq("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          sim("embedding", "emb_b", "norm_a", "norm_b").as("cos_sim"))
      graft.plans.TopKPerKey(scored,
        keys = Seq(col("vec_id")),
        order = Seq(col("cos_sim").desc, col("neighbor_id").asc),
        k = k, rankName = "rank")
        .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
    }

    // the scored join's volume is exactly estimable up front from the
    // per-cell histogram: sum over cells of probes(cell) * members(cell)
    // (includes the <= n self-pairs, so it upper-bounds the join row
    // count). A skewed corpus concentrates mass in few cells and a dense
    // nprobe multiplies it — the same blow-up mode lshKnn's budget
    // already guards; when the estimate exceeds the budget, the query
    // side is hash-sharded and shards run sequentially, each eagerly
    // checkpointed. Pass shuffleBudgetBytes <= 0 for the single-shot plan.
    val nShards =
      if (shuffleBudgetBytes <= 0) 1
      else {
        val members = cells.groupBy(col("probe_cells").getItem(0).as("cell"))
          .agg(count(lit(1)).as("cnt_b"))
        val candRow = cells.select(explode(col("probe_cells")).as("cell"))
          .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
          .join(members, "cell")
          .agg(sum(col("cnt") * col("cnt_b"))).head()
        val candRows = if (candRow.isNullAt(0)) 0L else candRow.getLong(0)
        // d is already on the driver from training — no dimension probe
        shardCount(candRows, rowBytes = 4L * d + 48, shuffleBudgetBytes,
          nQueries = cells.count())
      }
    runQueryShards(cells, nShards)(knnFor)
  }

  /** Build a persisted IVF index under `dir` — the build-once/query-many
    * production shape: quantizer training and corpus assignment run ONCE
    * (the expensive pass over a 100-TB corpus), and every subsequent
    * query batch reads the index instead of re-scanning the corpus.
    *
    * Layout:
    *  - `dir/centroids`: (cell INT, c ARRAY<DOUBLE>) — nlist rows; exact
    *    doubles round-trip through parquet, so a loaded quantizer is
    *    bit-identical to the trained one.
    *  - `dir/cells`: (vec_id, cell, embedding, norm) range-partitioned
    *    AND sorted by cell, so parquet row-group stats prune a probe of
    *    few cells to few row groups — the partition-pruning story that
    *    makes small query batches cheap against a huge corpus.
    *
    * Zero-norm vectors are dropped at build (cosine undefined), matching
    * [[ivfKnn]]'s withNorm discipline. */
  def ivfBuildIndex(emb: DataFrame, dir: String, nlist: Int = 16,
                    iters: Int = 10, maxTrain: Int = 65536): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // fresh build starts the cell slice's generation history over
    GenDir.resetAll(spark, s"$dir/cells")
    val centroids = trainIvfCentroids(emb, nlist, iters, maxTrain)
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "c")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val quantizer = graft.functions.NearestCellsFloat.quantizer(spark, centroids)
    withNorm(emb, "vec_id", "embedding", "norm")
      .select(col("vec_id"), col("embedding"), col("norm"),
        quantizer.nearestCells(col("embedding"), 1).getItem(0).as("cell"))
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions(col("cell"))
      .write.mode("overwrite").parquet(s"$dir/cells")
  }

  /** Top-k cosine neighbors of `queries` against a persisted IVF index
    * (see [[ivfBuildIndex]]). Row-identical to running [[ivfKnn]] with
    * the same knobs when `queries` is the indexed corpus itself and
    * `excludeSelf=true` — pinned by the llm_ann_ivf_index oracle, which
    * reuses llm_ann_ivf's DuckDB twin verbatim.
    *
    * Scale shape, same discipline as [[ivfKnn]]:
    *  - the quantizer loads from `dir/centroids` (<= nlist rows — a
    *    bounded collect by construction) and probe assignment is the
    *    NearestCellsFloat codegen kernel;
    *  - when the distinct probed cells are few (a small query batch
    *    against a big index), an IN filter on `cell` pushes into the
    *    index scan — row-group pruning on the build-sorted files reads
    *    only the probed slices of the corpus;
    *  - embeddings never ride the cell join: candidates are slim
    *    (vec_id, neighbor_id) pairs, embeddings join back by id;
    *  - the scored-join volume is estimated exactly up front from the
    *    probe histogram x index cell histogram and the query side is
    *    hash-sharded sequentially under `shuffleBudgetBytes`. */
  /** The frozen quantizer of a persisted index: <= nlist rows — a
    * bounded collect by construction. */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Vector[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("c"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
      .toVector

  /** Append new vectors to a persisted IVF index: assign against the
    * FROZEN quantizer (centroids unchanged, so existing cells and past
    * search results stay valid; retrain drift by rebuilding), and write
    * the new cell slices with the same range-partition + sort-by-cell
    * discipline as [[ivfBuildIndex]] — appended files carry their own
    * tight cell row-group stats, so sparse-probe pruning keeps skipping
    * them too. The daily-embedding-ingest twin of
    * [[Dedup.lshIndexAppend]]. Zero-norm vectors are dropped, matching
    * build. */
  def ivfIndexAppend(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    val centroids = loadCentroids(spark, dir)
    require(centroids.nonEmpty, s"empty IVF index at $dir")
    val quantizer = graft.functions.NearestCellsFloat.quantizer(spark, centroids)
    withNorm(emb, "vec_id", "embedding", "norm")
      .select(col("vec_id"), col("embedding"), col("norm"),
        quantizer.nearestCells(col("embedding"), 1).getItem(0).as("cell"))
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions(col("cell"))
      // into the CURRENT generation (single-writer contract) —
      // committer v1 so a crash leaves the slice row-identical
      .write.options(GenDir.V1AppendCommitter)
      .mode("append").parquet(GenDir.live(spark, s"$dir/cells"))
  }

  /** Rewrite a cell-keyed index slice back to the fresh-build layout
    * (one range-partitioned, cell-sorted file set): every append lays
    * down its own parallelism-wide set of sorted files, so after N daily
    * appends a probed cell's rows are spread over ~N file generations —
    * the scan opens N times the files (and their footers) a fresh build
    * would. Compaction is the operational close of the append loop:
    * rewrite as the next [[GenDir]] generation, crash-safe AND
    * concurrent with reads — standing searches keep resolving the
    * previous generation until the commit marker lands. Search results
    * are unchanged (same rows, same layout discipline); only the
    * file-count/bytes-read profile resets to fresh-build shape. */
  private def compactCellSlice(spark: org.apache.spark.sql.SparkSession,
                               path: String): Unit =
    GenDir.rewriteGen(spark, path) { (live, next) =>
      spark.read.parquet(live)
        .repartitionByRange(spark.sparkContext.defaultParallelism, col("cell"))
        .sortWithinPartitions(col("cell"))
        .write.mode("overwrite").parquet(next)
    }

  /** Compact a persisted IVF index's cell slices after a run of appends
    * (see [[compactCellSlice]]); centroids are untouched. */
  def ivfIndexCompact(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Unit =
    compactCellSlice(spark, s"$dir/cells")

  /** Heal any interrupted compaction and report whether `dir`
    * holds a complete IVF index (centroids AND cells) — same bootstrap
    * contract as [[Retrieval.bm25IndexRecover]]. */
  def ivfIndexRecover(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Boolean = {
    GenDir.recover(spark, s"$dir/cells")
    // FINISHED writes only (GenDir.completeDir/existsLiveComplete): a
    // build that died mid-write leaves torn directories that bare
    // fs.exists would bless; both artifacts here are build-time-only
    GenDir.completeDir(spark, s"$dir/centroids") &&
      GenDir.existsLiveComplete(spark, s"$dir/cells")
  }

  def ivfSearchIndex(queries: DataFrame, dir: String, k: Int, nprobe: Int = 4,
                     excludeSelf: Boolean = false,
                     shuffleBudgetBytes: Long = 32L << 30): DataFrame = {
    val spark = queries.sparkSession
    val centroids: Vector[Array[Double]] = loadCentroids(spark, dir)
    require(centroids.nonEmpty, s"empty IVF index at $dir")
    val d = centroids.head.length
    val quantizer = graft.functions.NearestCellsFloat.quantizer(spark, centroids)
    val qCells = withNorm(queries, "vec_id", "embedding", "norm_a")
      .select(col("vec_id"),
        quantizer.nearestCells(col("embedding"), nprobe).as("probe_cells"))
      .repartition(spark.sparkContext.defaultParallelism) // see ivfKnn note
      .localCheckpoint(true)
    val a = withNorm(queries, "vec_id", "embedding", "norm_a")
    val index = spark.read.parquet(GenDir.live(spark, s"$dir/cells"))
    // distinct probed cells are <= nlist by construction, so this is a
    // bounded collect; pruning only pays when the probe set is sparse
    val probed = qCells.select(explode(col("probe_cells")).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    val corpus =
      if (probed.length < centroids.length)
        index.filter(col("cell").isin(probed.map(Int.box): _*))
      else index
    val b = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("cell"))

    def knnFor(q: DataFrame): DataFrame = {
      // numbered repartition: keep the exploding cell join at full width
      // under AQE (see the ivfKnn note)
      val probesOf = q.select(col("vec_id"), explode(col("probe_cells")).as("cell"))
        .repartition(spark.sparkContext.defaultParallelism, col("cell"))
      val candBase = probesOf.join(c, Seq("cell"))
      val cand = (if (excludeSelf) candBase.filter(col("vec_id") =!= col("neighbor_id"))
                  else candBase)
        .select(col("vec_id"), col("neighbor_id"))
      val scored = cand.join(a, Seq("vec_id")).join(b, Seq("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          sim("embedding", "emb_b", "norm_a", "norm_b").as("cos_sim"))
      graft.plans.TopKPerKey(scored,
        keys = Seq(col("vec_id")),
        order = Seq(col("cos_sim").desc, col("neighbor_id").asc),
        k = k, rankName = "rank")
        .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
    }

    val nShards =
      if (shuffleBudgetBytes <= 0) 1
      else {
        val members = corpus.groupBy(col("cell")).agg(count(lit(1)).as("cnt_b"))
        val candRow = qCells.select(explode(col("probe_cells")).as("cell"))
          .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
          .join(members, "cell")
          .agg(sum(col("cnt") * col("cnt_b"))).head()
        val candRows = if (candRow.isNullAt(0)) 0L else candRow.getLong(0)
        shardCount(candRows, rowBytes = 4L * d + 48, shuffleBudgetBytes,
          nQueries = qCells.count())
      }
    runQueryShards(qCells, nShards)(knnFor)
  }

  /** LSH-bucketed approximate top-k: score only pairs sharing a hyperplane
    * bucket (plus multi-probe neighbors within `probeBits` bit flips).
    * Returns the same shape as bruteKnn; rows may be missing when no
    * candidate shared a bucket (approximate recall).
    *
    * Plan shape (the 100-TB concern):
    *  - Signatures are computed ONCE over the corpus into a slim
    *    (vec_id, sig, dim) checkpoint (20 bytes/row) reused by the
    *    volume estimate, the probe side, and the candidate side —
    *    embeddings never ride the bucket-join shuffle, and the estimate
    *    needs no separate dimension-probe job.
    *  - Candidate pairs are structurally unique, so no dedup shuffle
    *    exists: multi-probe is query-side only, the probe masks are
    *    distinct, and XOR with distinct masks of one signature yields
    *    distinct buckets, while each candidate occupies exactly the one
    *    bucket of its own signature — hence a (vec_id, neighbor_id) pair
    *    can match in at most one probed bucket. (The former global
    *    `dropDuplicates` here was a no-op that cost the single widest
    *    shuffle of the plan — the round-4 soak's 76 GB spill at
    *    probeBits=2/1M died in it.)
    *  - The remaining wide shuffle is the scored join (one embedding
    *    rides each candidate row). Its volume is ESTIMATED EXACTLY up
    *    front from the signature histogram (sum over probe masks m and
    *    buckets b of cnt(b)*cnt(b^m) — a few-hundred-thousand-row join,
    *    never corpus-sized). When the estimate exceeds
    *    `shuffleBudgetBytes`, the query side is hash-sharded and shards
    *    run SEQUENTIALLY, each eagerly materialized to a slim ≤|shard
    *    queries|*k checkpoint — peak shuffle footprint stays within
    *    budget however dense the probing. Shards partition queries by
    *    id hash, and a query's entire candidate set lives in its shard,
    *    so the union is exactly the single-shot answer. Pass
    *    `shuffleBudgetBytes <= 0` to force the single-shot plan.
    *
    * This method runs eager jobs (the signature checkpoint + histogram
    * estimate; plus per-shard materialization on the sharded path) —
    * like ivfKnn's training step, it is an operator, not a pure plan. */
  def lshKnn(emb: DataFrame, k: Int, bits: Int = 8, probeBits: Int = 1,
             shuffleBudgetBytes: Long = 32L << 30): DataFrame = {
    require(probeBits >= 0 && probeBits <= bits,
      s"probeBits=$probeBits must be in [0, bits=$bits]")
    // multi-probe: each vector also lands in every bucket within
    // `probeBits` Hamming distance of its own (query-side only, to bound
    // the blowup to sum_{h<=probeBits} C(bits, h) probes per query)
    val probes: Seq[Long] = (0 to probeBits).flatMap(w =>
      (0 until bits).combinations(w)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
    val probeExpr = array(probes.map(lit): _*)
    // dim rides the signature pass (one int per row) so the budget
    // estimate never runs a separate dimension-probe job
    val sigSlim = withNorm(emb, "vec_id", "embedding", "norm_a")
      .select(col("vec_id"),
        HashFunctions.hyperplaneSig(bits)(col("embedding")).as("sig"),
        size(col("embedding")).as("dim"))
      // repartition before the checkpoint: downstream bucket-join stages
      // inherit this partitioning (see the ivfKnn note — single-task
      // candidate generation on compactly-written corpora otherwise)
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val a = withNorm(emb, "vec_id", "embedding", "norm_a")
    val b = withNorm(emb, "neighbor_id", "emb_b", "norm_b")

    /** Single-shot plan over one query shard (candidate side is always
      * the full corpus — recall is shard-invariant). */
    def knnFor(qSide: DataFrame): DataFrame = {
      // numbered repartition: keep the exploding bucket join at full
      // width under AQE (see the ivfKnn note)
      val q = qSide.withColumn("probe", explode(probeExpr))
        .select(col("vec_id"), col("sig").bitwiseXOR(col("probe")).as("bucket"))
        .repartition(emb.sparkSession.sparkContext.defaultParallelism, col("bucket"))
      val c = sigSlim.select(col("vec_id").as("neighbor_id"), col("sig").as("bucket"))
      val cand = q.join(c, Seq("bucket"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"))
      val scored = cand.join(a, Seq("vec_id")).join(b, Seq("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          sim("embedding", "emb_b", "norm_a", "norm_b").as("cos_sim"))
      // rank through the TopKPerKey operator directly (same semantics as
      // row_number over (cos_sim desc, neighbor_id)): the map side caps
      // each partition at k rows per query BEFORE the exchange, so the
      // ranking shuffle is ~|queries|*k rather than |scored candidates|
      graft.plans.TopKPerKey(scored,
        keys = Seq(col("vec_id")),
        order = Seq(col("cos_sim").desc, col("neighbor_id").asc),
        k = k, rankName = "rank")
        .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
    }

    val nShards =
      if (shuffleBudgetBytes <= 0) 1
      else {
        // exact candidate count: Σ_m Σ_b cnt(b)·cnt(b⊕m) over the (≤
        // min(2^bits, n))-row signature histogram — includes the ≤n
        // self-pairs, so it upper-bounds the scored-join row count. ONE
        // auxiliary job: dim folds into the same aggregate, and the
        // nQueries clamp (by-name in shardCount) only runs when the
        // budget actually forces sharding.
        val hist = sigSlim.groupBy(col("sig"))
          .agg(count(lit(1)).as("cnt"), max(col("dim")).as("dim"))
        val statsRow = hist.withColumn("probe", explode(probeExpr))
          .select(col("sig").bitwiseXOR(col("probe")).as("bucket"), col("cnt"))
          .join(hist.select(col("sig").as("bucket"), col("cnt").as("cnt_b"),
            col("dim")), "bucket")
          .agg(sum(col("cnt") * col("cnt_b")).as("cand_rows"),
            max(col("dim")).as("dim")).head()
        val candRows = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
        val dim = if (statsRow.isNullAt(1)) 0 else statsRow.getInt(1)
        // rowBytes: one float embedding + ids/norm/overhead
        shardCount(candRows, rowBytes = 4L * dim + 48, shuffleBudgetBytes,
          nQueries = sigSlim.count())
      }
    runQueryShards(sigSlim, nShards)(knnFor)
  }

  // --------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid — "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011). The 100-TB memory story
  // for embedding search: a d-dim float vector (4·d bytes) compresses to
  // m sub-codes of log2(ksub) bits — at the defaults (m=8, ksub=16,
  // d=64) that is 256 B -> 8 B per vector, 32x. A billion-vector corpus
  // becomes an ~8 GB code table that BROADCASTS, so the ADC scan is a
  // shuffle-free map over the query partitions: each query computes one
  // m×ksub distance table (m·ksub·dsub mults, once), then every
  // candidate costs m table lookups instead of d multiplies.
  // --------------------------------------------------------------------

  /** Unit-normalize a float vector in double (index-order norm sum, one
    * division per element) — the PQ paths are COSINE-metric: on the unit
    * sphere L2² = 2 - 2·cos, so ADC ranking matches the cosine ranking
    * of the other knn paths. Callers filter zero norms first. */
  @inline private[llm] def pqNormalize(v: Array[Float]): Array[Double] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(ss)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i).toDouble / n; i += 1 }
    out
  }

  /** Deterministic per-subspace PQ codebook training over UNIT-NORMALIZED
    * vectors. Same bounded discipline as [[trainIvfCentroids]]: the
    * sample is sort+limit (TakeOrderedAndProject — never a full collect),
    * seeds are the ksub sample vectors ranked by (mix64(id), id), and
    * Lloyd means accumulate in exact DECIMAL(28,10) per dim then round
    * to 6 dp — bit-identical however the sum is ordered, so a SQL oracle
    * can re-derive iteration K's codebooks exactly. Returns `m` flat
    * codebooks, each `ksub * dsub` doubles (cell j at offset j*dsub). */
  private[llm] def pqTrainCodebooks(emb: DataFrame, m: Int, ksub: Int,
                                    iters: Int, maxTrain: Int): Array[Array[Double]] =
    pqTrainCodebooksOn(pqSampleNormalized(emb, maxTrain), m, ksub, iters)

  /** The bounded, deterministic training sample shared by the coarse
    * and PQ trainers: sort+limit (TakeOrderedAndProject — never a full
    * collect), unit-normalized. */
  private[llm] def pqSampleNormalized(emb: DataFrame,
                                      maxTrain: Int): Array[(Long, Array[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    withNorm(emb, "vec_id", "embedding", "nrm")
      .select(col("vec_id"), col("embedding"))
      .sort(col("vec_id")).limit(maxTrain)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, pqNormalize(v.toArray)) }
  }

  /** Residual of one training/encode vector against its nearest coarse
    * cell: r = v − centroid(cell) (Jégou et al. 2011 §IV — PQ codes
    * quantize the residual, whose energy is a fraction of the raw
    * vector's, so the same m·ksub budget spends its resolution near
    * the data instead of on the sphere). */
  @inline private def coarseResidual(v: Array[Double],
                                     coarse: Array[Double]): Array[Double] = {
    val d = v.length
    val cell = pqNearest(v, 0, d, coarse)
    val r = new Array[Double](d)
    var i = 0
    while (i < d) { r(i) = v(i) - coarse(cell * d + i); i += 1 }
    r
  }

  /** Lloyd core of [[pqTrainCodebooks]] over an explicit sample —
    * residual IVFADC trains on residual vectors through this entry. */
  private[llm] def pqTrainCodebooksOn(sample: Array[(Long, Array[Double])],
                                      m: Int, ksub: Int,
                                      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val d = sample.head._2.length
    require(d % m == 0, s"pqTrain: dim $d not divisible by m=$m subspaces")
    val dsub = d / m
    val seeds = sample
      .sortBy { case (id, _) => (graft.functions.HashFunctions.mix64(id), id) }
      .take(ksub)
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    // one Lloyd loop per subspace, each over its slice of the SAME sample
    Array.tabulate(m) { s =>
      val off = s * dsub
      var cb: Array[Array[Double]] =
        seeds.map { case (_, v) => Array.tabulate(dsub)(i => v(off + i)) }.toArray
      val nCells = cb.length // may be < ksub on tiny corpora
      def nearest(v: Array[Double]): Int = {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nCells) {
          val cc = cb(c)
          var dist = 0.0; var i = 0
          while (i < dsub) { val diff = v(off + i) - cc(i); dist += diff * diff; i += 1 }
          if (dist < bestD) { bestD = dist; best = c } // tie keeps lower cell
          c += 1
        }
        best
      }
      for (_ <- 0 until iters) {
        val sums = Array.fill(nCells)(Array.fill(dsub)(java.math.BigDecimal.ZERO))
        val counts = new Array[Long](nCells)
        sample.foreach { case (_, v) =>
          val c = nearest(v)
          counts(c) += 1
          var i = 0
          while (i < dsub) {
            sums(c)(i) = sums(c)(i).add(
              java.math.BigDecimal.valueOf(v(off + i))
                .setScale(10, java.math.RoundingMode.HALF_UP))
            i += 1
          }
        }
        cb = Array.tabulate(nCells)(c =>
          if (counts(c) == 0) cb(c)
          else sums(c).map(x => round6(x.doubleValue() / counts(c))))
      }
      val flat = new Array[Double](nCells * dsub)
      var c = 0
      while (c < nCells) {
        System.arraycopy(cb(c), 0, flat, c * dsub, dsub); c += 1
      }
      flat
    }
  }

  /** Assign one vector's subspace `s` to its nearest codebook cell
    * (L2², index-order accumulation, tie -> lower cell) — the shared
    * kernel for encode and the ADC distance table. */
  @inline private def pqNearest(v: Array[Double], off: Int, dsub: Int,
                                cb: Array[Double]): Int = {
    val nCells = cb.length / dsub
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < nCells) {
      var dist = 0.0; var i = 0
      while (i < dsub) { val diff = v(off + i) - cb(c * dsub + i); dist += diff * diff; i += 1 }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Encode a corpus against trained codebooks: (vec_id, codes) where
    * codes(s) is the nearest cell of subspace s over the unit-normalized
    * vector. Zero-norm vectors are dropped (cosine-metric semantics, as
    * in the other knn paths). Distributed map — the codebooks ship once
    * per executor via broadcast. */
  def pqEncode(emb: DataFrame, codebooks: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val bc = spark.sparkContext.broadcast(codebooks)
    withNorm(emb, "vec_id", "embedding", "nrm")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cbs = bc.value
        it.map { case (id, vs) =>
          val v = pqNormalize(vs.toArray)
          val dsub = v.length / m
          (id, Array.tabulate(m)(s => pqNearest(v, s * dsub, dsub, cbs(s))))
        }
      }.toDF("vec_id", "codes")
  }

  /** Brute ADC top-k over PQ codes: every query scans the FULL encoded
    * corpus — no candidate pruning (compose with [[ivfKnn]]'s cell
    * routing when pruning is wanted too); the win is the 32x smaller
    * scan. COSINE-metric: vectors are unit-normalized before training,
    * encoding, and querying, so the squared-L2 ADC ranking approximates
    * the cosine ranking of [[bruteKnn]] (L2² = 2 − 2·cos on the
    * sphere). Distances are sums of per-subspace table entries in
    * integer MICRO units (each entry `round(dist² · 1e6)` — exact,
    * order-free long addition, so ranking is reproducible cross-engine
    * bit-for-bit). Ranks like the other knn paths: (distance asc,
    * neighbor_id asc), self and zero-norm vectors excluded.
    *
    * Scale shape mirrors [[bruteKnnFor]]: probe-collect the code table
    * up to `blockSize` rows (codes are m ints here, m BYTES once packed
    * — the default block is 1M vectors ≈ tens of MB), broadcast it, and
    * stream queries through a bounded top-k kernel; corpora beyond one
    * block stream block-partials into a TopKPerKey merge. */
  def pqKnn(emb: DataFrame, k: Int, m: Int = 8, ksub: Int = 16,
            iters: Int = 2, maxTrain: Int = 65536,
            blockSize: Int = 1 << 20): DataFrame =
    pqKnnFor(emb, emb, k, m, ksub, iters, maxTrain, blockSize)

  /** [[pqKnn]] with distinct query and corpus sides — the sampled-query
    * recall-audit shape (mirrors [[bruteKnnFor]]): the quantizer trains
    * on the CORPUS, the corpus encodes once, and each query streams over
    * the broadcast code table. */
  def pqKnnFor(queriesDf: DataFrame, corpus: DataFrame, k: Int,
               m: Int = 8, ksub: Int = 16, iters: Int = 2,
               maxTrain: Int = 65536, blockSize: Int = 1 << 20): DataFrame = {
    require(k >= 1 && m >= 1 && ksub >= 2 && blockSize >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long, Int)]
      .toDF("vec_id", "neighbor_id", "adc_dist", "rank")
    if (corpus.isEmpty) return empty
    val codebooks = pqTrainCodebooks(corpus, m, ksub, iters, maxTrain)
    val cbBc = spark.sparkContext.broadcast(codebooks)
    // persisted before the probe: without it the limit(blockSize+1)
    // probe materializes the encode once and the block path's
    // sort+toLocalIterator recomputes the whole corpus encode a second
    // time from the unpersisted lineage
    val codes = pqEncode(corpus, codebooks).as[(Long, Array[Int])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    /** One corpus block (sorted by id) against all queries. */
    def scoreBlock(queries: org.apache.spark.sql.Dataset[(Long, Seq[Float])],
                   block: IndexedSeq[(Long, Array[Int])], withRank: Boolean)
        : (DataFrame, org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Int])]) = {
      val n = block.length
      val ids = block.map(_._1).toArray
      val flat = new Array[Int](n * m)
      var j = 0
      while (j < n) {
        System.arraycopy(block(j)._2, 0, flat, j * m, m); j += 1
      }
      val bc = spark.sparkContext.broadcast((ids, flat))
      val scored = queries.mapPartitions { it =>
        val (ids, flat) = bc.value
        val cbs = cbBc.value
        val n = ids.length
        it.flatMap { case (qid, qvs) =>
          val qv = pqNormalize(qvs.toArray)
          val dsub = qv.length / m
          // the ADC table: micro-rounded L2² per (subspace, cell)
          val table = Array.tabulate(m) { s =>
            val cb = cbs(s)
            val nCells = cb.length / dsub
            val off = s * dsub
            Array.tabulate(nCells) { c =>
              var dist = 0.0; var i = 0
              while (i < dsub) {
                val diff = qv(off + i) - cb(c * dsub + i); dist += diff * diff; i += 1
              }
              Math.round(dist * 1e6)
            }
          }
          // bounded top-k, (dist asc, id asc)
          val topD = new Array[Long](k)
          val topId = new Array[Long](k)
          var filled = 0
          var j = 0
          while (j < n) {
            val id = ids(j)
            if (id != qid) {
              var dist = 0L; var s = 0; var p = j * m
              while (s < m) { dist += table(s)(flat(p)); s += 1; p += 1 }
              if (filled < k || dist < topD(filled - 1) ||
                  (dist == topD(filled - 1) && id < topId(filled - 1))) {
                var pos = if (filled < k) filled else k - 1
                while (pos > 0 && (topD(pos - 1) > dist ||
                    (topD(pos - 1) == dist && topId(pos - 1) > id))) {
                  topD(pos) = topD(pos - 1); topId(pos) = topId(pos - 1); pos -= 1
                }
                topD(pos) = dist; topId(pos) = id
                if (filled < k) filled += 1
              }
            }
            j += 1
          }
          (0 until filled).map(r =>
            (qid, topId(r), topD(r), if (withRank) r + 1 else 0))
        }
      }.toDF("vec_id", "neighbor_id", "adc_dist", "rank")
      (scored, bc)
    }

    def queriesSide = withNorm(queriesDf, "vec_id", "embedding", "nrm")
      .select(col("vec_id"), col("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, Seq[Float])]

    val probe = codes.limit(blockSize + 1).collect()
    if (probe.isEmpty) { codes.unpersist(blocking = false); return empty }
    if (probe.length <= blockSize) {
      // the single-block plan references only the collected probe (via
      // broadcast), never the codes lineage — safe to release now
      codes.unpersist(blocking = false)
      scoreBlock(queriesSide, probe.sortBy(_._1).toIndexedSeq, withRank = true)._1
    } else {
      // block-merge path — identical discipline to bruteKnnFor: bounded
      // blocks through the driver, disk-backed partials, TopKPerKey
      // merge with the same (dist asc, id asc) comparator, one eager
      // localCheckpoint to release everything
      val queries = queriesSide.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpusIt = codes.sort(col("vec_id")).toLocalIterator()
      val partials = corpusIt.asScala.grouped(blockSize).map { blk =>
        val (part, bc) = scoreBlock(queries, blk.toIndexedSeq, withRank = false)
        val materialized = part.drop("rank")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        materialized.count()
        bc.unpersist(blocking = false)
        materialized
      }.toList
      val merged = balancedUnion(partials.toIndexedSeq)
      val result = graft.plans.TopKPerKey(merged,
        keys = Seq(col("vec_id")),
        order = Seq(col("adc_dist").asc, col("neighbor_id").asc),
        k = k, rankName = "rank")
        .select(col("vec_id"), col("neighbor_id"), col("adc_dist"), col("rank"))
      val out = result.localCheckpoint(eager = true)
      queries.unpersist(blocking = false)
      codes.unpersist(blocking = false)
      partials.foreach(_.unpersist(blocking = false))
      out
    }
  }

  /** ADC-then-refine (the production PQ shape — FAISS's IndexPQ +
    * refine): the compressed scan SELECTS `rerankFactor * k` candidates
    * per query, then ONLY those pairs are scored with the exact cosine
    * and re-ranked. The expensive exact arithmetic touches
    * |queries| * rerankFactor * k pairs instead of |queries| * |corpus|,
    * and the full-corpus pass reads codes, not floats — recall is then
    * bounded only by whether the true neighbors survive the ADC cut,
    * which a larger rerankFactor buys directly. Output schema matches
    * [[bruteKnn]] ((vec_id, neighbor_id, cos_sim, rank)), and the
    * candidate scoring + ranking arithmetic is the shared round6 cosine,
    * so the whole composition stays SQL-reproducible. */
  def pqKnnRerank(queriesDf: DataFrame, corpus: DataFrame, k: Int,
                  rerankFactor: Int = 4, m: Int = 8, ksub: Int = 16,
                  iters: Int = 2, maxTrain: Int = 65536,
                  blockSize: Int = 1 << 20): DataFrame = {
    require(rerankFactor >= 1)
    val cand = pqKnnFor(queriesDf, corpus, k * rerankFactor, m, ksub,
      iters, maxTrain, blockSize)
      .select(col("vec_id"), col("neighbor_id"))
    exactRerank(cand, queriesDf, corpus, k)
  }

  /** Exact round6-cosine scoring + top-k ranking of an (vec_id,
    * neighbor_id) candidate cut — the shared refine tail of the
    * compressed ANN paths. Arithmetic identical to [[bruteKnn]]. */
  private def exactRerank(cand: DataFrame, queriesDf: DataFrame,
                          corpus: DataFrame, k: Int): DataFrame = {
    val a = withNorm(queriesDf, "vec_id", "embedding", "norm_a")
    val b = withNorm(corpus, "neighbor_id", "emb_b", "norm_b")
    val scored = cand.join(a, Seq("vec_id")).join(b, Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        sim("embedding", "emb_b", "norm_a", "norm_b").as("cos_sim"))
    graft.plans.TopKPerKey(scored,
      keys = Seq(col("vec_id")),
      order = Seq(col("cos_sim").desc, col("neighbor_id").asc),
      k = k, rankName = "rank")
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** IVFADC (Jégou et al. 2011 §IV — the configuration production ANN
    * systems actually run at scale): a coarse quantizer PRUNES (each
    * query scores only the corpus of its `nprobe` nearest cells) and PQ
    * codes COMPRESS (candidates cost m table lookups, not d multiplies).
    * Per query the work drops from |corpus|·d to ≈ |corpus|·nprobe/nlist
    * · m — at nlist=4096/nprobe=8/m=8 on 64-dim, ~4000x less arithmetic
    * than brute force, with the corpus resident as cell-bucketed 8-byte
    * codes.
    *
    * Everything is the deterministic unit-sphere pipeline of [[pqKnn]]:
    * the coarse quantizer is pqTrainCodebooks with m=1 (one subspace =
    * plain k-means over normalized vectors), cells rank by (L2², cell),
    * ADC distances are integer micro units. `rerankFactor > 0` appends
    * the exact-cosine refine of [[pqKnnRerank]] over the ADC cut (output
    * schema then matches [[bruteKnn]]).
    *
    * RESIDUAL ENCODING (default, Jégou §IV's actual form): PQ
    * codebooks train on and quantize r = x − centroid(cell(x)) rather
    * than x itself — residual energy is a fraction of the raw
    * vector's, so the same m·ksub code budget resolves finer
    * structure; query ADC tables are computed per probed cell from
    * rq = q − centroid(cell). PqResidualSpec pins recall(residual) ≥
    * recall(raw) at equal m on a planted-cluster corpus;
    * `residual = false` keeps the raw comparison form.
    *
    * Plan shape: ONE shuffle — the query-probe × corpus-codes equi-join
    * on cell. Both sides are slim (query carries its m·ksub table, the
    * corpus row is id+cell+codes); the join output explodes by
    * members-per-cell, so the probe side gets the NUMBERED repartition
    * that keeps AQE from collapsing the stage (BASELINE.md round-8
    * lesson). Scoring is a projection (integer HOF fold), ranking is
    * map-capped TopKPerKey. */
  def ivfPqKnn(queriesDf: DataFrame, corpus: DataFrame, k: Int,
               nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
               ksub: Int = 16, iters: Int = 2, maxTrain: Int = 65536,
               rerankFactor: Int = 0, residual: Boolean = true): DataFrame = {
    require(k >= 1 && nlist >= 1 && nprobe >= 1 && nprobe <= nlist)
    val spark = corpus.sparkSession
    import spark.implicits._
    if (corpus.isEmpty)
      return if (rerankFactor > 0)
        Seq.empty[(Long, Long, Double, Int)].toDF("vec_id", "neighbor_id", "cos_sim", "rank")
      else
        Seq.empty[(Long, Long, Long, Int)].toDF("vec_id", "neighbor_id", "adc_dist", "rank")
    val sample = pqSampleNormalized(corpus, maxTrain)
    val coarse = pqTrainCodebooksOn(sample, 1, nlist, iters)(0)
    // residual form (default; Jégou §IV): PQ codebooks train on
    // r = v − centroid(cell), and encode/ADC quantize residuals — the
    // recall win PqResidualSpec pins. residual=false keeps the raw
    // (IVF + plain-PQ) comparison form.
    val pqSample =
      if (residual) sample.map { case (id, v) => (id, coarseResidual(v, coarse)) }
      else sample
    val pqCbs = pqTrainCodebooksOn(pqSample, m, ksub, iters)
    val coarseBc = spark.sparkContext.broadcast(coarse)
    val cbBc = spark.sparkContext.broadcast(pqCbs)
    val corp = ivfPqCorpusSide(corpus, coarseBc, cbBc, m, residual)
    val nk = k * math.max(rerankFactor, 1)
    val q = ivfPqQuerySide(queriesDf, coarseBc, cbBc, m, ksub, nprobe, residual)
    val adcTop = ivfPqAdcTopK(q, corp, m, ksub, nk, excludeSelf = true)
    if (rerankFactor > 0)
      exactRerank(adcTop.select(col("vec_id"), col("neighbor_id")),
        queriesDf, corpus, k)
    else
      adcTop.select(col("vec_id"), col("neighbor_id"), col("adc_dist"), col("rank"))
  }

  /** (neighbor_id, cell, codes): the encoded corpus — the persisted form
    * at scale (cell-partitioned parquet of m-byte codes). */
  private def ivfPqCorpusSide(corpus: DataFrame,
      coarseBc: org.apache.spark.broadcast.Broadcast[Array[Double]],
      cbBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      m: Int, residual: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    withNorm(corpus, "vec_id", "embedding", "nrm")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cc = coarseBc.value; val cbs = cbBc.value
        it.map { case (id, vs) =>
          val v = pqNormalize(vs.toArray)
          val d = v.length; val dsub = d / m
          val cell = pqNearest(v, 0, d, cc)
          // residual form quantizes r = v − centroid(cell); raw form
          // quantizes v itself
          val enc =
            if (residual) {
              val r = new Array[Double](d)
              var i = 0
              while (i < d) { r(i) = v(i) - cc(cell * d + i); i += 1 }
              r
            } else v
          (id, cell, Array.tabulate(m)(s => pqNearest(enc, s * dsub, dsub, cbs(s))))
        }
      }.toDF("neighbor_id", "cell", "codes")
  }

  /** (vec_id, cell, table): ONE ROW PER PROBED CELL — the query's
    * nprobe nearest coarse cells ranked by (L2², cell), each with its
    * flattened m×ksub ADC table in integer micro units. In the
    * residual form the table is PER CELL by necessity (distances are
    * to codebook points around that cell's centroid: rq = v −
    * centroid(cell)); the raw form duplicates one shared table across
    * the probes, keeping the downstream join uniform. */
  private def ivfPqQuerySide(queriesDf: DataFrame,
      coarseBc: org.apache.spark.broadcast.Broadcast[Array[Double]],
      cbBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      m: Int, ksub: Int, nprobe: Int, residual: Boolean): DataFrame = {
    val spark = queriesDf.sparkSession
    import spark.implicits._
    withNorm(queriesDf, "vec_id", "embedding", "nrm")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cc = coarseBc.value; val cbs = cbBc.value
        it.flatMap { case (id, vs) =>
          val v = pqNormalize(vs.toArray)
          val d = v.length; val dsub = d / m
          val nCells = cc.length / d
          // bounded top-nprobe cell selection, (dist asc, cell asc)
          val np = math.min(nprobe, nCells)
          val pd = new Array[Double](np); val pc = new Array[Int](np)
          var filled = 0; var c = 0
          while (c < nCells) {
            var dist = 0.0; var i = 0
            while (i < d) { val diff = v(i) - cc(c * d + i); dist += diff * diff; i += 1 }
            if (filled < np || dist < pd(filled - 1)) {
              var pos = if (filled < np) filled else np - 1
              while (pos > 0 && pd(pos - 1) > dist) {
                pd(pos) = pd(pos - 1); pc(pos) = pc(pos - 1); pos -= 1
              }
              pd(pos) = dist; pc(pos) = c
              if (filled < np) filled += 1
            }
            c += 1
          }
          def tableFor(q: Array[Double]): Array[Long] = {
            val table = new Array[Long](m * ksub)
            var s = 0
            while (s < m) {
              val cb = cbs(s); val cells = cb.length / dsub; val off = s * dsub
              var j = 0
              while (j < cells) {
                var dist = 0.0; var i = 0
                while (i < dsub) { val diff = q(off + i) - cb(j * dsub + i); dist += diff * diff; i += 1 }
                table(s * ksub + j) = Math.round(dist * 1e6)
                j += 1
              }
              s += 1
            }
            table
          }
          val shared = if (residual) null else tableFor(v)
          (0 until filled).map { p =>
            val cell = pc(p)
            val table =
              if (!residual) shared
              else {
                val rq = new Array[Double](d)
                var i = 0
                while (i < d) { rq(i) = v(i) - cc(cell * d + i); i += 1 }
                tableFor(rq)
              }
            (id, cell, table)
          }
        }
      }.toDF("vec_id", "cell", "table")
  }

  /** The one shuffle of the IVFADC plan: probe-cell equi-join
    * (width-pinned numbered repartition against AQE's slim-input
    * collapse), ADC scoring as an integer HOF-fold projection, map-capped
    * TopKPerKey ranking (adc asc, id asc). */
  private def ivfPqAdcTopK(q: DataFrame, corp: DataFrame, m: Int, ksub: Int,
                           nk: Int, excludeSelf: Boolean): DataFrame = {
    val spark = q.sparkSession
    val probes = q.select(col("vec_id"), col("cell"), col("table"))
      .repartition(spark.sparkContext.defaultParallelism, col("cell"))
    val joined = probes.join(corp, Seq("cell"))
    val scored = (if (excludeSelf) joined.filter(col("vec_id") =!= col("neighbor_id"))
                  else joined)
      .select(col("vec_id"), col("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
          (acc, s) => acc + element_at(col("table"),
            (s * ksub).cast("int") + element_at(col("codes"), (s + 1).cast("int")) + 1))
          .as("adc_dist"))
    graft.plans.TopKPerKey(scored,
      keys = Seq(col("vec_id")),
      order = Seq(col("adc_dist").asc, col("neighbor_id").asc),
      k = nk, rankName = "rank")
  }

  /** Persist an IVFADC index: codebooks (coarse + per-subspace PQ, a
    * handful of rows) and the corpus as (vec_id, cell, codes) — m
    * small ints per vector instead of d floats — range-partitioned and
    * sorted by cell so sparse-probe searches prune row groups. The
    * build-once/query-many twin of [[ivfBuildIndex]] at 1/32nd the
    * footprint: a billion-vector corpus is ~8 GB of codes. */
  def ivfPqBuildIndex(emb: DataFrame, dir: String, nlist: Int = 16,
                      m: Int = 8, ksub: Int = 16, iters: Int = 2,
                      maxTrain: Int = 65536, residual: Boolean = true): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // fresh build starts the code slice's generation history over
    GenDir.resetAll(spark, s"$dir/codes")
    val sample = pqSampleNormalized(emb, maxTrain)
    val coarse = pqTrainCodebooksOn(sample, 1, nlist, iters)(0)
    val pqSample =
      if (residual) sample.map { case (id, v) => (id, coarseResidual(v, coarse)) }
      else sample
    val pqCbs = pqTrainCodebooksOn(pqSample, m, ksub, iters)
    // kind 0 row = coarse codebook; kind 1 rows = PQ subspace s;
    // kind 2 row = params (nlist, m, ksub, residual flag) so search
    // needs no inference. A 3-element params row (pre-residual index)
    // reads as the raw form — appends and searches stay code-valid.
    val metaRows = (0, 0, coarse.toSeq) +:
      (2, 0, Seq[Double](nlist, m, ksub, if (residual) 1.0 else 0.0)) +:
      pqCbs.toSeq.zipWithIndex.map { case (cb, s) => (1, s, cb.toSeq) }
    metaRows.toDF("kind", "s", "flat").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    ivfPqCorpusSide(emb, spark.sparkContext.broadcast(coarse),
      spark.sparkContext.broadcast(pqCbs), m, residual)
      .select(col("neighbor_id").as("vec_id"), col("cell"), col("codes"))
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions(col("cell"))
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Frozen codebooks + params of a persisted IVFADC index: 2 + m rows
    * — a bounded collect by construction. Returns (coarse flat, PQ
    * codebooks, ksub, nlist). nlist comes from the persisted params row,
    * NOT from array shapes: inferring it as coarse.length / dsub·m is
    * wrong when the training sample had fewer than ksub vectors (the
    * trained codebook then has fewer cells than requested), which would
    * mis-gate the cell IN-pushdown. */
  private def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Double], Array[Array[Double]], Int, Int, Boolean) = {
    val rows = spark.read.parquet(s"$dir/codebooks")
      .select(col("kind"), col("s"), col("flat")).collect()
    val coarse = rows.filter(_.getInt(0) == 0).head.getSeq[Double](2).toArray
    val pq = rows.filter(_.getInt(0) == 1).sortBy(_.getInt(1))
      .map(_.getSeq[Double](2).toArray)
    val params = rows.filter(_.getInt(0) == 2).head.getSeq[Double](2)
    require(coarse.nonEmpty && pq.nonEmpty, s"empty IVFADC index at $dir")
    // 3-element params = pre-residual index (raw form)
    val residual = params.length > 3 && params(3) == 1.0
    (coarse, pq, params(2).toInt, params(0).toInt, residual)
  }

  /** Append vectors to a persisted IVFADC index against the FROZEN
    * codebooks (cells and codes of existing rows stay valid; retrain
    * drift by rebuilding) with the same range+sort discipline, so the
    * appended files carry their own tight cell row-group stats. */
  def ivfPqIndexAppend(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    val (coarse, pqCbs, _, _, residual) = loadPqCodebooks(spark, dir)
    ivfPqCorpusSide(emb, spark.sparkContext.broadcast(coarse),
      spark.sparkContext.broadcast(pqCbs), pqCbs.length, residual)
      .select(col("neighbor_id").as("vec_id"), col("cell"), col("codes"))
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions(col("cell"))
      // into the CURRENT generation (single-writer contract) —
      // committer v1 so a crash leaves the slice row-identical
      .write.options(GenDir.V1AppendCommitter)
      .mode("append").parquet(GenDir.live(spark, s"$dir/codes"))
  }

  /** Compact a persisted IVFADC index's code slices after a run of
    * appends (see [[compactCellSlice]]); codebooks are untouched. */
  def ivfPqIndexCompact(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit =
    compactCellSlice(spark, s"$dir/codes")

  /** [[ivfIndexRecover]] for an IVFADC index (codebooks AND codes). */
  def ivfPqIndexRecover(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Boolean = {
    GenDir.recover(spark, s"$dir/codes")
    GenDir.completeDir(spark, s"$dir/codebooks") &&
      GenDir.existsLiveComplete(spark, s"$dir/codes")
  }

  /** ADC top-k of `queries` against a persisted IVFADC index — row-
    * identical to [[ivfPqKnn]] with the same knobs when `queries` IS the
    * indexed corpus and `excludeSelf=true` (the llm_ann_ivfpq_index
    * oracle reuses llm_ann_ivfpq's DuckDB twin verbatim to pin that).
    * When the distinct probed cells are few, an IN filter on `cell`
    * pushes into the codes scan and row-group pruning reads only the
    * probed slices. */
  def ivfPqSearchIndex(queries: DataFrame, dir: String, k: Int,
                       nprobe: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val (coarse, pqCbs, ksub, nlist, residual) = loadPqCodebooks(spark, dir)
    val m = pqCbs.length
    val q = ivfPqQuerySide(queries,
      spark.sparkContext.broadcast(coarse),
      spark.sparkContext.broadcast(pqCbs), m, ksub, nprobe, residual)
      .localCheckpoint(true) // probed-cell collect must not re-run the kernel
    val index = spark.read.parquet(GenDir.live(spark, s"$dir/codes"))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    // distinct probed cells are <= nlist by construction — bounded
    // collect; the IN filter pushes into the build-sorted codes scan
    val probed = q.select(col("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    val corp =
      if (probed.length < nlist)
        index.filter(col("cell").isin(probed.map(Int.box): _*))
      else index
    ivfPqAdcTopK(q, corp, m, ksub, k, excludeSelf)
      .select(col("vec_id"), col("neighbor_id"), col("adc_dist"), col("rank"))
  }
}
