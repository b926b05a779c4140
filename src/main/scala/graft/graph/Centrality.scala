package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Node-centrality measures beyond rank propagation: local clustering
  * coefficients (how clique-like is each node's neighbourhood) and
  * closeness centrality (how near is a node to everything it can
  * reach). Together with PageRank/HITS (eigenvector family), k-core
  * (density family) and BFS/SSSP (distance family), these finish the
  * standard centrality toolbox the reference's cluster-analysis
  * notebooks reach for when profiling the reuse graph
  * (reference `scratch.py:46-68` inspects cluster density by hand;
  * the coefficient is that inspection as an operator).
  *
  * Determinism contract (house rule): every emitted ratio is a
  * floor-scaled integer (`x * 1e6 div y`), so the DuckDB twin
  * re-derives values bit-exactly — no float division anywhere.
  */
object Centrality {

  /** Local clustering coefficient per node over a SYMMETRIC edge list
    * (both directions present, no self-loops): for node v with degree
    * d(v) ≥ 2 and t(v) incident triangles,
    *   cc(v) = 2·t(v) / (d(v)·(d(v)−1)),
    * emitted as `cc_s` in 1e-6 units (exact integral division). Degree-1
    * and degree-0 nodes have no wedges — cc_s = 0 by convention.
    *
    * Scale shape: one degree aggregation + the oriented-wedge triangle
    * count ([[PageRank.triangleCounts]] — O(Σ d(v)²) wedge candidates
    * bounded by degree orientation, never a full cross of neighbours).
    * Overflow headroom: 2·t(v)·1e6 stays below 2^63 for t(v) < ~4.6e12
    * — beyond any per-node triangle count that survives the degree
    * orientation at 100 TB (a node would need degree > 3e6 with a
    * fully-closed neighbourhood).
    *
    * @return (node, deg, n_triangles, cc_s)
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    PageRank.triangleCounts(e)
      .join(deg, Seq("node"))
      .select(col("node"), col("deg"), col("n_triangles"),
        when(col("deg") >= 2,
          expr("(n_triangles * 2000000L) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc_s"))
  }

  /** Per-source hop distances: [[Bfs.hopDistance]] with the originating
    * seed carried through the wave, so each (seed, node) pair gets the
    * length of the shortest path between THEM (not the min over the
    * seed set). The frontier key is the (seed, node) pair — cost is
    * |seeds| × the single-source wave, which is the algorithm (this is
    * the all-pairs-from-landmarks primitive; callers bound the seed
    * set, exactly like the reference bounds its cluster samples).
    *
    * @return (seed, node, hops) — pairs beyond `maxHops` absent
    */
  def perSourceHopDistance(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 30): DataFrame =
    Bfs.hopWave(edges,
      seeds.select(col("node").cast("long").as("seed"), col("node").cast("long").as("node")),
      maxHops)

  /** Closeness centrality for a bounded seed set (Wasserman–Faust
    * normalization, so scores are comparable across components of
    * different sizes): with r = nodes reached from the seed (self
    * included), S = sum of hop distances, and n = nodes in the graph,
    *   closeness = (r−1)²  / (S · (n−1)),
    * emitted as `closeness_s` in 1e-6 units. An isolated seed (r = 1,
    * S = 0) scores 0. The (r−1)/(n−1) factor down-weights seeds that
    * only reach a small component — plain 1/S would rank a 2-node
    * islet above the giant component's hub.
    *
    * Scale shape: one [[perSourceHopDistance]] wave (|seeds| bounded by
    * the caller — landmarks, not all nodes) + a per-seed aggregation +
    * a designed 1-row broadcast of the node count. Overflow headroom:
    * (r−1)²·1e6 needs r < ~3e6; past that, drop the scale to 1e3 (the
    * score is a ranking signal, not an accumulator).
    *
    * @return (node, n_reached, sum_hops, closeness_s) — one row per seed
    */
  def closenessCentrality(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 30): DataFrame = {
    val sym = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val n = sym.select(col("src").as("node"))
      .unionAll(sym.select(col("dst").as("node")))
      .agg(countDistinct(col("node")).as("n_nodes"))
    perSourceHopDistance(edges, seeds, maxHops)
      .groupBy(col("seed").as("node"))
      .agg(count(lit(1)).as("n_reached"), sum(col("hops")).as("sum_hops"))
      .crossJoin(broadcast(n))
      .select(col("node"), col("n_reached"), col("sum_hops"),
        when(col("sum_hops") > 0,
          expr("((n_reached - 1) * (n_reached - 1) * 1000000L)" +
            " div (sum_hops * (n_nodes - 1))"))
          .otherwise(lit(0L)).as("closeness_s"))
  }
}
