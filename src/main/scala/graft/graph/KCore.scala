package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint

/** k-core decomposition by iterative peeling — the standard graph
  * denoising pass before community/authority analysis (nodes outside
  * the k-core are tendrils that distort clustering and rank): drop
  * every node whose degree in the CURRENT induced subgraph is < k,
  * recompute, repeat until stable.
  *
  * Two faces, like PageRank: [[peel]] runs a FIXED number of rounds
  * (re-derivable as unrolled CTEs → oracle-checkable) and
  * [[peelConverged]] iterates until an Observation-counted round
  * removes nothing (the production face; peeling terminates in at most
  * |V| rounds, and in practice a handful).
  *
  * Scale shape per round: one equi-join of edges against the alive set
  * per endpoint (alive is one row per node, ≪ edges) + one
  * partial-aggregated degree count — node-id-only shuffles. The edge
  * list persists across rounds; alive-set lineage is checkpointed by
  * the caller's round budget (peel is plan-linear in rounds).
  *
  * `edges` must be the UNDIRECTED both-directions pair list (the same
  * contract as [[PageRank.triangleCounts]]).
  */
object KCore {

  private def aliveAfterRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var alive = edges.select(col("src").as("node")).distinct()
    for (_ <- 1 to rounds) {
      val induced = edges
        .join(alive.select(col("node").as("src")), Seq("src"))
        .join(alive.select(col("node").as("dst")), Seq("dst"))
      alive = induced.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("node"))
    }
    alive
  }

  /** Fixed-round peel: every original node with an `in_core` flag as of
    * round `rounds` (under-peeled for deep tendril chains — the
    * oracle-checkability trade, exactly like dedupGroups' fixed k).
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val nodes = edges.select(col("src").as("node")).distinct()
    val alive = aliveAfterRounds(edges, k, rounds)
    nodes.join(alive.withColumn("in_core", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("in_core"), lit(false)).as("in_core"))
  }

  /** Converged peel: rounds run until one removes zero nodes, each a
    * counted cut ([[graft.core.Fixpoint.countedCut]]: real graphs peel to
    * their core in a handful of rounds, a long tendril peels one node per
    * round). Throws when `maxRounds` rounds still remove nodes.
    */
  def peelConverged(edges: DataFrame, k: Int, maxRounds: Int = 1000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // round 0 cuts and counts the node set; each round's count is the
      // next round's survivor baseline, and a round that removes no node
      // ends the peel
      val (alive, _) = Fixpoint.iterate("k-core peel", maxRounds,
          (Fixpoint.countedCut("graft_kcore", 0, nodes), true)) {
        case ((alive, lastAlive), r) =>
          val induced = e
            .join(alive.select(col("node").as("src")), Seq("src"))
            .join(alive.select(col("node").as("dst")), Seq("dst"))
          val next = induced.groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("deg"))
            .where(col("deg") >= k)
            .select(col("node"))
          val (a, nAlive) = Fixpoint.countedCut("graft_kcore", r, next)
          ((a, nAlive), nAlive < lastAlive)
      }
      // materialized before the caches it reads are released
      nodes.join(alive.withColumn("in_core", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("in_core"), lit(false)).as("in_core"))
        .localCheckpoint()
    } finally {
      e.unpersist()
      nodes.unpersist()
    }
  }
}
