package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Fixpoint

/** Multi-source breadth-first search: minimum hop distance from a seed
  * set over an undirected edge list — the reachability primitive the
  * graph family was missing (PageRank ranks, k-core filters, CC labels;
  * none answers "how FAR is this node from the sources").
  *
  * BFS is inherently one shuffle round per hop — that is the algorithm,
  * not an implementation accident — so the design centers on making each
  * round cheap and the loop safe:
  *   - the frontier SHRINKS monotonically (visited nodes are anti-joined
  *     out), so round cost tracks the expanding wave, not the graph;
  *   - the symmetric adjacency is built once and persisted
  *     MEMORY_AND_DISK, hash-partitioned by the join key — each round
  *     reshuffles only the frontier side;
  *   - per-round localCheckpoint truncates lineage (labels otherwise
  *     accumulate one union per hop and the plan grows linearly, which
  *     at hop 50 is a 50-deep union tree re-analyzed every round);
  *   - termination is exact (empty frontier) below `maxHops`; the cap
  *     itself is a SILENT truncation — nodes beyond it are absent from
  *     the output, indistinguishable from unreachable — and that is
  *     the contract: the recursive-CTE oracle caps its wave at the
  *     same hop count, and BfsSpec pins the truncated output. Unlike
  *     [[shortestPaths]] (where a capped Bellman-Ford would return
  *     WRONG distances, hence its loud require), a capped BFS returns
  *     correct distances for everything it does return.
  *
  * Hop distances, unlike PageRank scores, are schedule-independent (the
  * BFS level of a node is the length of its shortest path, however the
  * wave was scheduled), so the DuckDB recursive-CTE twin re-derives
  * them exactly and the driver hash-checks this convergence loop.
  */
object Bfs {

  /** (node, hops) for every node within `maxHops` of `seeds` (single
    * column `node`; hops 0). Unreached nodes are absent — reachability
    * IS the result; callers wanting nulls left-join it back.
    */
  def hopDistance(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 30): DataFrame =
    hopWave(edges, seeds.select(col("node").cast("long").as("node")), maxHops)

  /** The stride-2 hop wave behind [[hopDistance]] and
    * `Centrality.perSourceHopDistance`: `start` holds the key columns,
    * `node` last; a key's row at hops h is reached from a key at h-1
    * that differs only in `node`. Returns (key..., hops), every key
    * first reached within `maxHops`.
    */
  private[graph] def hopWave(edges: DataFrame, start: DataFrame,
      maxHops: Int): DataFrame = {
    val key = start.columns.toSeq
    val carried = key.init.map(col)
    val sym = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    // src-partitioned BEFORE the distinct: the dedup runs on that one
    // exchange (hash(src) satisfies its (src, dst) grouping) and the
    // cached layout satisfies every round's join distribution, so only
    // the frontier side reshuffles
    val adj = sym.unionAll(sym.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeded = start.distinct().withColumn("hops", lit(0L)).localCheckpoint()
    def level(f: DataFrame, seen: Seq[DataFrame], h: Int): DataFrame = {
      val nbrs = f.join(adj, col("node") === col("src"))
        .select(carried :+ col("dst").as("node"): _*)
        .distinct()
      seen.foldLeft(nbrs)((d, s) => d.join(s, key, "left_anti"))
        .withColumn("hops", lit(h.toLong))
    }
    // STRIDE-2 rounds: a node's hop label is its shortest-path length
    // however the wave is scheduled, so expanding TWO levels inside one
    // scheduled round (level hop+1, then level hop+2 excluding both the
    // labels and the first expansion) assigns the same hops and halves
    // the per-round fixed cost (counted cut, merge, driver round-trip);
    // the per-level exchanges are the algorithm and stay. Round r starts
    // at hop 2(r-1). The odd tail under the maxHops cap falls back to a
    // single-level round, so the capped output equals the one-level
    // loop's (the oracle caps at the same hop count); the wave is bounded,
    // and stops at maxHops without throwing. State: (labels, frontier).
    val (labels, _) = Fixpoint.iterate("hopWave", (maxHops + 1) / 2,
        ((seeded, seeded), maxHops > 0)) { case ((labels, frontier), r) =>
      val hop = 2 * (r - 1)
      // the counted cut of the round's last level also materializes the
      // lazy cut of the first; the merge takes BOTH levels (h1 may be
      // non-empty when h2 is empty) and stays lazy until the next round
      // (or the caller's action) reads it
      if (hop + 2 <= maxHops) {
        val h1 = level(frontier, Seq(labels), hop + 1).localCheckpoint(false)
        val (h2, n) = Fixpoint.countedCut("graft_bfs_wave", hop + 2,
          level(h1, Seq(labels, h1), hop + 2))
        ((labels.unionAll(h1).unionAll(h2).localCheckpoint(false), h2), n > 0 && hop + 2 < maxHops)
      } else {
        // hop + 1 == maxHops: the last level
        val (next, n) = Fixpoint.countedCut("graft_bfs_wave", hop + 1,
          level(frontier, Seq(labels), hop + 1))
        ((if (n > 0) labels.unionAll(next).localCheckpoint(false) else labels, next), false)
      }
    }
    adj.unpersist()
    labels
  }

  /** Weighted single/multi-source shortest paths by frontier-limited
    * Bellman-Ford: per round, only nodes whose tentative distance
    * IMPROVED last round relax their out-edges (the delta-stepping-less
    * delta optimization — identical to Chinese Whispers' changed-nodes
    * trick), so a settled graph costs nothing and round count is the
    * max edge count of any shortest path, capped loudly by `maxRounds`.
    *
    * Weights are LONG costs (callers pre-scale; integer arithmetic is
    * what lets the DuckDB twin re-derive distances exactly — float
    * accumulation order would decide ties differently per engine).
    * Negative weights are rejected: with non-negative costs the
    * monotone-relaxation argument makes the fixpoint schedule-
    * independent, which is the whole oracle-checkability story.
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    val sym0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("cost").cast("long").as("cost"))
    val adj = sym0
      .unionAll(sym0.select(col("dst").as("src"), col("src").as("dst"), col("cost")))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min("cost").as("cost"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      require(adj.where(col("cost") < 0).isEmpty,
        "shortestPaths requires non-negative costs")
      val seeded = seeds.select(col("node").cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L))
      def hop(f: DataFrame): DataFrame = f.join(adj, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("cost")).as("dist"))
      // stride 2: two hops per round (see Fixpoint.relax for why any
      // stride reaches the same distances)
      Fixpoint.relax("shortestPaths", seeded, maxRounds, _ < _) { (frontier, _) =>
        val hop1 = hop(frontier)
        hop1.unionAll(hop(hop1)).groupBy("node").agg(min(col("dist")).as("dist"))
      }
    } finally adj.unpersist()
  }

  /** Earliest-arrival (foremost-path) reachability over a TEMPORAL
    * contact graph: directed contacts `(src, dst, t)` are usable only
    * in non-decreasing time order, and arrival(v) is the earliest
    * contact time at which any time-respecting chain from the seeds
    * reaches v — "when could information seeded at time 0 first reach
    * this node". The static-BFS answer is wrong here: a path can exist
    * in the static projection while every chronology-respecting
    * ordering of its contacts is impossible.
    *
    * Same frontier-limited label-correcting loop as [[shortestPaths]],
    * with the relaxation predicate `t ≥ arrival(u)` instead of additive
    * cost. The greedy per-node minimum is optimal by the foremost-path
    * argument: the earliest arrival at u admits a SUPERSET of the
    * contacts any later arrival admits, so relaxing from the minimum
    * dominates. The fixpoint is schedule-independent → the DuckDB
    * recursive-CTE twin re-derives every arrival exactly.
    *
    * Contacts are NOT symmetrized here (a directed contact is the
    * general case — calls, cites, ships-to); callers with mutual
    * contacts emit both directions.
    *
    * @param contacts (src, dst, t) long epoch seconds, t ≥ 0
    * @param seeds    single column `node`; arrival 0
    * @param broadcastRowLimit frontier rows at or below which the round
    *                 joins by an explicit broadcast (a ~16 B/row hash
    *                 relation — 4M rows ≈ 64 MB, safely executor-sized);
    *                 above it the round falls back to the co-partitioned
    *                 shuffle-hash join against the src-partitioned cache
    * @return (node, arrival_s) — unreached nodes absent
    */
  def earliestArrival(contacts: DataFrame, seeds: DataFrame,
      maxRounds: Int = 60, broadcastRowLimit: Long = 4000000L): DataFrame = {
    // the full contact multiset joins every round — keeping only the
    // first (src, dst) contact would be wrong: a later contact may be
    // the only one usable after src's own arrival. NOT deduplicated:
    // the per-round min aggregation absorbs duplicates for free, and a
    // distinct here is a full contact-sized shuffle bought for nothing
    // (measured 0.06% duplication on the co-occurrence construction).
    // Hash-partitioned on src ONCE (the hopDistance pattern): every
    // round's join clusters on src, so the cached layout satisfies the
    // join's distribution and only the frontier side ever reshuffles —
    // whichever path the size gate picks, the contact multiset itself
    // never moves again.
    val ct = contacts.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("t").cast("long").as("t"))
      .where(col("src") =!= col("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      require(ct.where(col("t") < 0).isEmpty,
        "earliestArrival requires non-negative contact times")
      val seeded = seeds.select(col("node").cast("long").as("node")).distinct()
        .withColumn("arrival_s", lit(0L))
      Fixpoint.relax("earliestArrival", seeded, maxRounds, _ < _) { (frontier, frontierRows) =>
        // SIZE-GATED broadcast: a temporal frontier grows with the
        // REACHABLE set, not the seed set — one hot wave on a 100 TB
        // contact graph can put 10^7–10^8 nodes in it, and an
        // unconditional broadcast hint there OOMs the driver. Big waves
        // take the co-partitioned shuffle-hash join, where the frontier
        // is still the only moving side (ct is cached src-partitioned)
        // and still the hash-relation build side.
        val fr = if (frontierRows <= broadcastRowLimit) broadcast(frontier)
                 else frontier.hint("shuffle_hash")
        ct.join(fr, col("node") === col("src") && col("t") >= col("arrival_s"))
          .groupBy(col("dst").as("node"))
          .agg(min(col("t")).as("arrival_s"))
      }
    } finally ct.unpersist()
  }

  /** Two-sweep diameter estimate: BFS from a deterministic anchor (the
    * minimum node id), take the farthest node (ties → lowest id), BFS
    * again from it — the second eccentricity is the classic tight
    * lower bound on the graph's diameter (exact on trees; within a
    * small factor on real graphs), at the cost of TWO BFS waves instead
    * of the all-pairs n waves the exact diameter needs. The answer is
    * scoped to the anchor's component — the standard contract (other
    * components are separate diameter questions).
    *
    * Everything stays in the plan: the anchor and the argmax row are
    * 1-row DataFrames feeding the next wave's seed set — no collect
    * anywhere, so the two waves chain lazily like any other operator.
    *
    * @return one row (anchor, far_node, ecc_anchor, far2_node,
    *         diameter_lb)
    */
  def twoSweepDiameter(edges: DataFrame, maxHops: Int = 30): DataFrame = {
    val nodes = edges.select(col("src").cast("long").as("node"))
      .unionAll(edges.select(col("dst").cast("long").as("node")))
    val anchor = nodes.agg(min(col("node")).as("node"))
    val d1 = hopDistance(edges, anchor, maxHops)
    val far1 = d1.agg(max(struct(col("hops"), (-col("node")).as("neg"))).as("m"))
      .select((-col("m.neg")).as("node"), col("m.hops").as("ecc_anchor"))
    val d2 = hopDistance(edges, far1.select("node"), maxHops)
    val far2 = d2.agg(max(struct(col("hops"), (-col("node")).as("neg"))).as("m"))
      .select((-col("m.neg")).as("far2_node"), col("m.hops").as("diameter_lb"))
    anchor.select(col("node").as("anchor"))
      .crossJoin(broadcast(far1.select(col("node").as("far_node"),
        col("ecc_anchor"))))
      .crossJoin(broadcast(far2))
  }
}
