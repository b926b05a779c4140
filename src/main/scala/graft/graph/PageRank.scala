package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint

/** Fixed-point PageRank over a directed edge list — the graph-authority
  * primitive of LLM-era corpus curation (domain-authority weighting for
  * crawl corpora, citation ranking of source documents). The reference
  * has no rank operator beyond label propagation
  * (`chinese_label_propagation.py`); this is the extension
  * counterpart, built on the same iterated-equi-join shape as Chinese
  * Whispers.
  *
  * All arithmetic is INTEGER (ranks in `scale`-units, floor division),
  * so results are exact and identical on any engine, partitioning, or
  * aggregation order — a double-based PageRank is not cross-engine
  * reproducible because FP addition is not associative. Semantics, with
  * d = dampingPct:
  *
  *   r_0(v)     = scale                                     (i.e. 1.0)
  *   r_{i+1}(v) = ((100-d)*scale) div 100
  *              + (d * sum over u→v of (r_i(u) div outdeg(u))) div 100
  *
  * Dangling-node mass (nodes with no out-edges) is dropped rather than
  * redistributed — the documented simplification when ranks are
  * consumed as relative importance; redistribution would add a
  * per-iteration global aggregate for a uniform additive term.
  *
  * Scale shape: each iteration is one equi-join edges⋈ranks on src
  * (the ranks side is one row per NODE, usually ≪ edges) followed by a
  * partial-aggregated groupBy(dst) — shuffles are keyed on node ids
  * only, never on payloads. The degree-annotated edge list is built
  * once and persisted across iterations; the result is materialized via
  * localCheckpoint so the per-call cache is released before returning.
  * Like dedupGroups, each iteration references the previous ranks once,
  * so the lazy plan grows linearly; lineage is truncated every
  * `checkpointEvery` iterations for long runs.
  */
object PageRank {

  /** Per-node triangle counts over an UNDIRECTED edge list (pairs in
    * both directions, no self-loops). The naive 3-way self-join touches
    * each triangle 6 times and lets hub nodes explode the wedge count;
    * this uses the standard degree-orientation trick: orient every
    * edge from the (degree, id)-smaller endpoint to the larger, count
    * each triangle exactly once as an oriented wedge a→b, a→c (b<c
    * closed by oriented b→c), then credit each corner. Wedge work per
    * node is bounded by its ORIENTED out-degree ≤ O(√edges) — the
    * arboricity bound that makes triangle counting feasible on
    * power-law graphs where the unoriented wedge count is quadratic in
    * the hub degree. Shuffles carry node-id pairs only.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // orient: keep (u,v) iff (deg(u), u) < (deg(v), v) — a total order,
    // so exactly one direction of each undirected edge survives
    val oriented = e
      .join(deg.select(col("node").as("src"), col("deg").as("dsrc")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("ddst")), Seq("dst"))
      .where(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges from a common oriented source, each counted once (b < c)
    val wedges = oriented.as("e1").join(oriented.as("e2"), Seq("src"))
      .where(col("e1.dst") < col("e2.dst"))
      .select(col("src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    // closed iff the oriented edge b→c or c→b exists; orientation is a
    // total order so only b→c can (b precedes c in node id here, but
    // orientation order may differ — check both via canonicalized join)
    val closer = oriented.select(
      least(col("src"), col("dst")).as("b"), greatest(col("src"), col("dst")).as("c"))
    val tris = wedges.join(closer, Seq("b", "c"))
    // credit all three corners, one partial-agged shuffle
    val credit = tris.select(col("a").as("node"))
      .unionAll(tris.select(col("b").as("node")))
      .unionAll(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val out = deg.select(col("node"))
      .join(credit, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .localCheckpoint()
    oriented.unpersist()
    out
  }

  /** @param edges directed edges with `src` and `dst` columns — plus,
    *               when `weightCol` is set, a positive integer weight:
    *               contributions split proportionally,
    *               (rank*w) div sum-of-out-weights, instead of evenly
    * @return (node, rank_s) — rank in `scale`-units, exact
    */
  /** `startRanks` warm-starts the iteration from a previous run's
    * (node, rank_s) output — the incremental-maintenance face: after a
    * daily edge drop, yesterday's ranks are already within the damping
    * contraction's neighborhood of the new fixpoint, so 1-2 warm
    * iterations replace a cold ~28-round convergence run (the
    * `runConverged` tolerance note). Nodes absent from `startRanks`
    * (new today) start at `scale`, exactly like a cold start; stale
    * nodes (in `startRanks` but no longer in the graph) drop out via
    * the node-set join. Integer arithmetic keeps the warm face
    * oracle-unrollable end-to-end.
    */
  def run(edges: DataFrame, iters: Int, dampingPct: Int = 85,
      scale: Long = 1000000L, checkpointEvery: Int = 8,
      weightCol: Option[String] = None,
      startRanks: Option[DataFrame] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    require(scale > 0, s"scale must be positive, got $scale")

    val e = weightCol match {
      case Some(w) =>
        // weight contract, enforced in-plan: a ZERO-weight edge carries
        // rank 0, so dropping it is exact — and it can then never zero a
        // node's out-weight sum, which would crash ANSI `div` for the
        // whole job on one degenerate row. A NEGATIVE weight has no
        // PageRank semantics at all — that is corrupt data, and the
        // filter's own predicate raises with the offending value (a
        // guard the optimizer cannot reorder away, unlike a raise
        // hidden in a projected column).
        edges.select(col("src"), col("dst"), col(w).cast("long").as("w"))
          .where(when(col("w") >= 0L, lit(true))
            .otherwise(raise_error(concat(
              lit("negative edge weight: "), col("w").cast("string")))))
          .where(col("w") > 0L)
      case None => edges.select(col("src"), col("dst"), lit(1L).as("w"))
    }
    val deg = e.groupBy("src").agg(sum(col("w")).as("sw"))
    // out-weight-annotated edges: joined once, reused every iteration.
    // Cached PRE-PARTITIONED on the per-iteration join key: every
    // iteration joins on src, so the cached layout satisfies the join's
    // distribution and only the (narrow) rank side ever reshuffles. Same for the node table: the contrib
    // side arrives hash-partitioned on dst(=node) from its groupBy, so
    // a node-partitioned cache makes the rank rebuild exchange-free.
    val withDeg = e.join(deg, Seq("src"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .repartition(col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val baseTerm = (100L - dampingPct) * scale / 100L
    var ranks = startRanks match {
      case Some(r0) => nodes
        .join(r0.select(col("node"), col("rank_s")), Seq("node"), "left")
        .select(col("node"), coalesce(col("rank_s"), lit(scale)).as("rank_s"))
      case None => nodes.select(col("node"), lit(scale).as("rank_s"))
    }
    for (i <- 1 to iters) {
      val contrib = withDeg
        .join(ranks.select(col("node").as("src"), col("rank_s")), Seq("src"))
        .select(col("dst"), expr("(rank_s * w) div sw").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib.select(col("dst").as("node"), col("s")), Seq("node"), "left")
        .select(col("node"),
          (lit(baseTerm) +
            expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("rank_s"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    // materialize (cuts lineage off the caches), then release them —
    // nothing accumulates across calls
    val out = ranks.localCheckpoint()
    withDeg.unpersist()
    nodes.unpersist()
    out
  }

  /** PERSONALIZED PageRank: the teleport term lands only on `seeds`
    * (r_0 = scale on seeds, 0 elsewhere; per iteration the base term
    * applies to seeds alone) — "importance relative to THIS set", the
    * find-documents-like-my-trusted-set expansion that turns a small
    * curated whitelist into graph-weighted corpus scores (the crawl
    * frontier/authority trick). Same exact integer arithmetic, same
    * per-iteration one-join + one-groupBy shape as [[run]]; seeds
    * attach once to the node table, so iterations shuffle (id, rank)
    * pairs only. Unreached nodes hold rank 0 exactly.
    */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampingPct: Int = 85, scale: Long = 1000000L,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e = edges.select(col("src"), col("dst"), lit(1L).as("w"))
    val deg = e.groupBy("src").agg(sum(col("w")).as("sw"))
    // pre-partitioned caches, as in run()
    val withDeg = e.join(deg, Seq("src"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .join(seeds.select(col("node")).distinct()
        .withColumn("is_seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .repartition(col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val baseTerm = (100L - dampingPct) * scale / 100L
    var ranks = nodes.select(col("node"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("rank_s"))
    for (i <- 1 to iters) {
      val contrib = withDeg
        .join(ranks.select(col("node").as("src"), col("rank_s")), Seq("src"))
        .select(col("dst"), expr("(rank_s * w) div sw").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib.select(col("dst").as("node"), col("s")), Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), lit(baseTerm)).otherwise(lit(0L)) +
            expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("rank_s"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    val out = ranks.localCheckpoint()
    withDeg.unpersist()
    nodes.unpersist()
    out
  }

  /** Observed-convergence twin of [[run]]: iterate until the LARGEST
    * per-node rank change is at most `tolS` scale-units. The
    * fixed-iteration variant stays the oracle-checkable face (its
    * result is re-derivable as unrolled CTEs); this is the production
    * face — damping makes the iteration a contraction, so
    * ~log(scale/tolS)/log(100/dampingPct) rounds converge, usually
    * within the local prefix of the hybrid checkpointing
    * ([[graft.core.Fixpoint]]). Throws when `maxIters` rounds do not
    * converge.
    */
  def runConverged(edges: DataFrame, tolS: Long = 1000L, dampingPct: Int = 85,
      scale: Long = 1000000L, maxIters: Int = 100): DataFrame = {
    require(tolS >= 0, s"tolS must be >= 0, got $tolS")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // pre-partitioned caches, as in run()
    val withDeg = e.join(deg, Seq("src"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .repartition(col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val baseTerm = (100L - dampingPct) * scale / 100L
    try Fixpoint.scratch(edges.sparkSession, "graft-pagerank-conv",
        Fixpoint.hybridCheckpointer) { checkpoint =>
      Fixpoint.iterate("PageRank", maxIters,
          (nodes.select(col("node"), lit(scale).as("rank_s")), tolS < Long.MaxValue)) {
        (ranks, i) =>
          val contrib = withDeg
            .join(ranks.select(col("node").as("src"), col("rank_s")), Seq("src"))
            .select(col("dst"), expr("rank_s div deg").as("c"))
            .groupBy("dst").agg(sum(col("c")).as("s"))
          val next = ranks
            .join(contrib.select(col("dst").as("node"), col("s")), Seq("node"), "left")
            .select(col("node"), col("rank_s").as("prev_s"),
              (lit(baseTerm) +
                expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("new_s"))
          val (r, maxDelta) = Fixpoint.observedRound(checkpoint, "graft_pagerank_conv", i, next,
            max(abs(col("new_s") - col("prev_s"))), col("node"), col("new_s").as("rank_s"))
          (r, maxDelta > tolS)
      }
    } finally {
      withDeg.unpersist()
      nodes.unpersist()
    }
  }
}
