package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list via the
  * alternating large-star / small-star algorithm (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", SoCC'14). Converges in O(log^2 n) rounds; each round is
  * two groupBy shuffles keyed by node id.
  *
  * This is the scale path for dedup cluster resolution
  * ([[Dedup.resolveClusters]]): the driver union-find is bounded by
  * dedup-pair yield, which at 100 TB can itself be billions of edges —
  * this version never materializes the edge list off-cluster. Rounds
  * shuffle only the current edge set (which shrinks monotonically toward
  * one edge per non-root node), and each round `localCheckpoint`s to cut
  * the iterative lineage that would otherwise make Catalyst re-analyze an
  * ever-growing plan.
  *
  * Semantics match the reference's dedup contract (component root = the
  * minimum id in the component), so either path is interchangeable and
  * both hash-match the recursive-CTE oracle.
  */
object ConnectedComponents {

  /** Edges `(u, v)` (any orientation, self-loops ignored) →
    * `(id, cluster_root)` for every NON-ROOT node that appears in an
    * edge; root = min id of the component. Callers left-join and
    * coalesce to cover isolated nodes, exactly like the union-find path.
    *
    * Caveat: if `edges` is a union of heterogeneous scans (e.g. a
    * streaming micro-batch ∪ a parquet read), pass a clean rebuild
    * (`spark.createDataFrame(edges.rdd, edges.schema)`): checkpointing
    * such a plan keeps origin constraints with foreign attribute ids and
    * the rounds' unions then fail Catalyst constraint rewriting.
    */
  def run(edges: DataFrame, uCol: String, vCol: String,
          maxIter: Int = 50): DataFrame =
    runWithStats(edges, uCol, vCol, maxIter)._1

  /** [[run]] plus the number of large-star/small-star rounds executed —
    * the O(log^2 n) convergence observable (the scale-soak harness pins
    * it against the expectation; see BASELINE.md). */
  def runWithStats(edges: DataFrame, uCol: String, vCol: String,
                   maxIter: Int = 50): (DataFrame, Int) = {
    var e = edges.select(col(uCol).cast("long").as("u"),
        col(vCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    var converged = e.isEmpty
    var it = 0
    var prevSig: (Long, Long) = checksum(e)
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val sig = checksum(next)
      converged = sig == prevSig
      prevSig = sig
      e = next
      it += 1
    }
    // at the fixpoint every edge points a node at its component root
    (e.select(col("u").as("id"), col("v").as("cluster_root")), it)
  }

  /** Large-star: for each node u over its full neighborhood N(u),
    * m = min(N(u) ∪ {u}); connect every LARGER neighbor to m. */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = und.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    und.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: orient edges large→small; for each node u over its
    * SMALLER neighbors N⁻(u), m = min(N⁻(u)); connect u and every other
    * small neighbor to m. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    val joined = dir.join(mins, "u")
    joined.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Cheap fixpoint detector: (edge count, XOR of per-edge hashes) —
    * order-independent and overflow-free under ANSI mode. The alternating
    * rounds are deterministic, so an unchanged checksum after a full
    * round means an unchanged edge set. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }
}
