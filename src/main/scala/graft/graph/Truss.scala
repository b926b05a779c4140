package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Fixpoint

/** k-truss decomposition — the EDGE-level density filter beside the
  * node-level k-core: the k-truss is the maximal subgraph in which
  * every edge closes at least k−2 triangles WITHIN the subgraph.
  * Trusses are the standard community-core extractor on reuse/co-
  * occurrence graphs (a k-core can be a sparse hub star; a k-truss
  * cannot — every surviving edge is triangle-supported), and the
  * peel is the same cascading fixpoint as the k-core's: removing one
  * weak edge can drop its neighbours' support below the bar.
  *
  * Like the k-core (and unlike PageRank), the fixpoint is UNIQUE and
  * schedule-independent — the k-truss is a closure-from-above — so the
  * converged result is exactly oracle-checkable by unrolling the peel
  * past the fixture's convergence depth (rounds past the fixpoint are
  * no-ops; the kcoreConvOracle argument verbatim).
  *
  * Scale shape per round: the surviving edges are DEGREE-ORIENTED (the
  * [[PageRank.triangleCounts]] trick — u→v iff (deg u, u) < (deg v, v),
  * a total order, so each undirected edge gets exactly one direction
  * and each triangle exactly one node with both out-edges), wedges are
  * enumerated from the oriented source, closed by one semi-join against
  * the canonical survivor list, and credited to all three canonical
  * edges through one partial-agged support count. Orienting by degree
  * bounds every node's wedge fan-out by its oriented OUT-degree = O(√m)
  * — orienting by id would make a low-id hub enumerate deg²/2 wedges
  * per round, ~5·10¹¹ for one deg-10⁶ hub on a 100 TB graph.
  * Orientation is fixed ONCE from the initial degrees: membership is
  * orientation-independent, each node's
  * oriented out-edge set only shrinks as the peel removes edges (so
  * the O(√m) bound persists), and freezing it keeps the per-round
  * degree groupBy + both orientation joins out of the loop (guide
  * §2.4). Edges are id pairs only. Round count is bounded by the peel
  * depth (graph-dependent, loudly capped); each round's counted cut
  * ([[graft.core.Fixpoint.countedCut]]) truncates the survivor list's
  * lineage and counts it in one job.
  */
object Truss {

  /** @param edges undirected edge list, either orientation (or both)
    * @param k     truss order ≥ 3 (k−2 = required per-edge support)
    * @return (src, dst, in_truss) over the canonical (src<dst) input
    *         edges — the audit face: survivors AND casualties
    */
  def edges(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val canon = edges
      .select(least(col("src"), col("dst")).cast("long").as("x"),
        greatest(col("src"), col("dst")).cast("long").as("y"))
      .where(col("x") =!= col("y"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // try/finally: the loud round cap must not leak the persisted
    // canonical edge list
    try {
      // degree-orient ONCE, before the loop: u→v iff (deg u, u) <
      // (deg v, v) on the INITIAL degrees. Truss membership is
      // orientation-independent (support counts are exact under any
      // total order), and with the orientation frozen each node's
      // oriented out-edge SET only shrinks as the peel removes edges,
      // so the O(√m) wedge fan-out bound persists across rounds without
      // re-orienting. This hoists three per-round exchanges (degree
      // groupBy + two orientation joins) out of the loop (guide §2.4).
      // canon has x < y, so the id tie-break keeps x→y on equal degrees.
      val deg = canon.select(col("x").as("node"))
        .unionAll(canon.select(col("y").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val orientedCanon = canon
        .join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
        .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
        .select(col("x"), col("y"),
          when(col("dx") <= col("dy"), col("x")).otherwise(col("y")).as("src"),
          when(col("dx") <= col("dy"), col("y")).otherwise(col("x")).as("dst"))
      // survivor count carried across rounds: a round's counted cut is
      // the next round's alive count, and a round that removes no edge
      // ends the peel
      val (alive, _) = Fixpoint.iterate("k-truss peel", maxRounds,
          (Fixpoint.countedCut("graft_ktruss", 0, orientedCanon), true)) {
        case ((alive, aliveCount), r) =>
          // wedges from a shared oriented source (b < c fixes the pair
          // order), closed iff the canonical edge (b, c) is itself alive;
          // each triangle is found exactly once — at its unique
          // out-degree-2 corner — and credits all three canonical edges
          val oriented = alive.select("src", "dst")
          val wedges = oriented.as("e1").join(oriented.as("e2"),
              col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
            .select(col("e1.src").as("a"),
              col("e1.dst").as("b"), col("e2.dst").as("c"))
          val tris = wedges.join(alive.select(col("x").as("b"), col("y").as("c")),
            Seq("b", "c"), "left_semi")
          val support = tris.select(least(col("a"), col("b")).as("x"),
              greatest(col("a"), col("b")).as("y"))
            .unionAll(tris.select(least(col("a"), col("c")).as("x"),
              greatest(col("a"), col("c")).as("y")))
            .unionAll(tris.select(col("b").as("x"), col("c").as("y")))
            .groupBy("x", "y").agg(count(lit(1)).as("sup"))
          val (next, nextCount) = Fixpoint.countedCut("graft_ktruss", r,
            alive.join(support, Seq("x", "y"), "left")
              .where(coalesce(col("sup"), lit(0L)) >= (k - 2).toLong)
              .select(col("x"), col("y"), col("src"), col("dst")))
          ((next, nextCount), nextCount != aliveCount)
      }
      canon
        .join(alive.withColumn("in_truss", lit(true)), Seq("x", "y"), "left")
        .select(col("x").as("src"), col("y").as("dst"),
          coalesce(col("in_truss"), lit(false)).as("in_truss"))
        .localCheckpoint()
    } finally canon.unpersist()
  }
}
