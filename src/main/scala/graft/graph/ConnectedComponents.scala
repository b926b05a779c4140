package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Fixpoint

/** Connected components by alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014) — the O(log n)-round component algorithm.
  *
  * [[graft.dedup.Dedup.dedupGroupsConverged]] is min-label propagation:
  * one round per hop of component DIAMETER, which on a duplicate-chain
  * graph (document A near-dups B near-dups C ...) means a 10 000-hop
  * chain needs 10 000 shuffle rounds. Star contraction instead halves
  * tree heights every alternation, so the round count is logarithmic in
  * component size regardless of diameter — the difference between an
  * unrunnable job and ~30 rounds on the pathological crawl-dup graphs a
  * 100 TB corpus actually produces. Both faces return identical labels
  * (component minimum); ConnectedComponentsSpec proves agreement.
  *
  * Scale shape per round: each star is ONE exchange of the (long, long)
  * edge rows keyed by node id feeding a whole-partition window min (the
  * groupBy+join form paid a second full exchange per star to co-locate
  * the join for the identical per-node value), plus one
  * distinct per alternation; no cartesian, no driver-side state beyond
  * the two convergence counters. Edge multiplicity never grows across
  * alternations: every ALTERNATION ends in a `distinct` and the
  * invariant src > dst holds after round one, so the working set shrinks
  * monotonically toward one edge per non-root node.
  *
  * The per-alternation `distinct` IS load-bearing: star contraction
  * funnels many nodes onto their component minimum, and without
  * deduplication the (child, root) pair would be emitted once per
  * witnessing edge, re-inflating each round's shuffle back to full edge
  * multiplicity. Within one alternation the un-deduplicated largeStar
  * emission is bounded by one row per symmetric edge row — the window
  * mins downstream are duplicate-insensitive, so only row COUNT, never
  * the label values, is affected before the closing distinct.
  *
  * Round economy (the stride of Fixpoint.relax's steps): both stars are IDEMPOTENT on
  * a star forest (a child's only neighbour is its parent, a parent's
  * minimum is itself), so running an extra alternation past the
  * fixpoint is a no-op on the cheapest possible edge set — after the
  * first two rounds the loop runs TWO alternations per scheduled round
  * (stride-2) and pays one checkpoint + one convergence test where it
  * paid two. The first two rounds stay stride-1 so shallow graphs
  * (contracted addEdges batches, small components) never buy a wasted
  * alternation.
  */
object ConnectedComponents {

  /** One large-star round: every node connects its LARGER neighbours to
    * the minimum of its closed neighbourhood. Emitted edges satisfy
    * src > dst (child points to a smaller parent candidate).
    *
    * The neighbourhood minimum is a whole-partition window min over ONE
    * exchange of the symmetric edge set — the groupBy(src).min +
    * join-back form paid a second full exchange of `sym` to co-locate the
    * join, for the identical per-src value.
    * The window co-locates each node's rows exactly like the join did
    * (same key, same hub skew), so no new skew is introduced. The
    * output is NOT deduplicated here: [[smallStar]]'s window min is
    * duplicate-insensitive and its final distinct dedupes the emitted
    * set, so the intermediate multiplicity is bounded by one largeStar
    * emission per symmetric edge row — one distinct exchange per
    * ALTERNATION instead of two.
    */
  private[graph] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    sym.withColumn("m", least(col("src"), min(col("dst")).over(w)))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star round: every node connects its smaller neighbours
    * (and itself) to its minimum neighbour. Requires and preserves the
    * src > dst orientation (duplicate input rows allowed — see
    * [[largeStar]]). Same single-exchange window-min shape; both emitted row families (smaller neighbours →
    * min, node → min) come off ONE window pass via a generator, and the
    * closing distinct both dedupes them and restores set semantics for
    * the alternation.
    */
  private[graph] def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    oriented.withColumn("m", min(col("dst")).over(w))
      .select(explode(array(
        when(col("dst") =!= col("m"),
          struct(col("dst").as("s"), col("m").as("d"))),
        struct(col("src").as("s"), col("m").as("d")))).as("e"))
      .where(col("e").isNotNull)
      .select(col("e.s").as("src"), col("e.d").as("dst"))
      .distinct()
  }

  /** The shared contraction loop: alternate stars until the edge set is
    * a star forest. Returns the converged, checkpointed edge set.
    * `maxRounds` bounds ALTERNATIONS: the first two scheduled rounds run
    * one each, later ones two (see the object doc), and the last stops
    * at the bound.
    */
  private def contract(edges: DataFrame, maxRounds: Int): DataFrame = {
    val start = edges.where(col("src") =!= col("dst"))
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // alternations done before scheduled round i; a round runs while some
    // are left under the bound
    def done(i: Int): Int = math.min(maxRounds, math.max(i - 1, 2 * i - 4))
    val rounds = (1 to maxRounds).count(done(_) < maxRounds)
    Fixpoint.iterate("largeStarSmallStar", rounds, (start, true)) { (e, r) =>
      // both stars are idempotent at the fixpoint, so an odd convergence
      // depth costs one no-op alternation on the final forest — the
      // cheapest round of the run — in exchange for half the checkpoints
      // + convergence tests on every deep graph.
      // EVERY alternation takes a lazy checkpoint, including the
      // stride's intermediate one: the next alternation references its
      // input several times (sym union + min join), and without the
      // barrier those references re-execute the whole subtree as extra
      // AQE stage jobs when exchange reuse misses (measured: stride-2
      // without the intermediate barrier ADDED jobs, 158 → 161 on the
      // single-link face). Lazy = no scheduled job of its own; the
      // partitions cache inside the star-forest test's job, whose
      // shuffle map side computes them (an eager variant paid a separate
      // materialization job per round for the same bytes), so a persist
      // on top would store them a second time for nothing
      var next = e
      for (_ <- done(r) until done(r + 1)) next = smallStar(largeStar(next)).localCheckpoint(false)
      e.unpersist()
      // star-forest test, both halves load-bearing: a parent that is
      // also a child means a deeper tree remains, and a child with TWO
      // parents means two stars that a further round will merge —
      // either way, not converged. One fused action (see Scaladoc):
      // per-node (child rows, parent rows) over the distinct edge set
      (next, !next.select(col("src").as("n"), lit(1L).as("c"), lit(0L).as("p"))
        .unionAll(next.select(col("dst").as("n"), lit(0L).as("c"), lit(1L).as("p")))
        .groupBy(col("n"))
        .agg(sum(col("c")).as("nc"), sum(col("p")).as("np"))
        .where((col("nc") > 0 && col("np") > 0) || col("nc") > 1)
        .isEmpty)
    }
  }

  /** Labels from a converged star forest: roots label themselves,
    * children take their parent, isolated `nodes` self-label.
    */
  private def labelsOf(e: DataFrame, nodes: Option[DataFrame]): DataFrame = {
    val roots = e.select(col("dst").as("node")).distinct()
      .select(col("node"), col("node").as("component"))
    val children = e.select(col("src").as("node"), col("dst").as("component"))
    val labelled = children.unionAll(roots)
    nodes match {
      case Some(n) =>
        val iso = n.select(col("node").cast("long").as("node"))
          .join(labelled.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), col("node").as("component"))
        labelled.unionAll(iso)
      case None => labelled
    }
  }

  /** Component labels for an undirected edge list (`src`, `dst`; either
    * orientation, self-loops ignored). Returns (`node`, `component`)
    * where `component` is the minimum node id of the component — the
    * same label contract as dedupGroups, so the two faces compose with
    * the same downstream keep-lowest-id logic.
    *
    * Convergence is detected EXACTLY, not by fixed-point hashing: the
    * edge set is a fixed point of both stars iff it is a star forest,
    * which for the src > dst orientation the rounds maintain means BOTH
    * (a) no node appears as both a child (src) and a parent (dst) and
    * (b) every child has exactly one parent. Condition (a) alone is NOT
    * sufficient — a child with two parents (e.g. the four-edge graph
    * (10,1),(10,5),(11,5),(11,2), where 5 ends up under both 1 and 2)
    * passes it while another contraction round can still merge the two
    * stars; declaring convergence there returns duplicate, wrong
    * labels. Both halves fuse into ONE (long)-keyed partial-agged
    * role count — (a) = a node with both roles, (b) = a child row
    * count > 1 (the edge set is distinct) — so each round costs
    * exactly two driver-blocking actions (checkpoint + this test),
    * not three; on log-depth fixpoints the saved round trips are the
    * dominant local cost and at scale the fused test is one shuffle
    * where the split tests were two. Like dedupGroupsConverged,
    * falling out of the loop while still contracting fails loudly
    * rather than returning a partially-contracted labelling.
    *
    * `nodes` (optional, single column `node`) adds isolated nodes —
    * members of no edge — as their own singleton components, mirroring
    * how dedupGroups labels never-matched documents.
    */
  def largeStarSmallStar(edges: DataFrame, nodes: Option[DataFrame] = None,
      maxRounds: Int = 50): DataFrame = {
    val e = contract(edges, maxRounds)
    // LAZY final checkpoint: the label union is consumed at least once
    // by every caller (often twice — a join plus a size aggregate), so
    // the first consumer's job materializes it off the converged edge
    // checkpoint; an eager checkpoint here paid one extra scheduled job
    // per call for the same truncation
    val result = labelsOf(e, nodes).localCheckpoint(false)
    e.unpersist()
    result
  }

  /** Incrementally absorb a new edge batch into an existing labelling —
    * the maintenance face of [[largeStarSmallStar]]: yesterday's
    * 100 TB corpus keeps its labels; today's batch only moves the
    * components it actually touches.
    *
    * Components are CONTRACTED first: both endpoints map through the
    * current labels (unknown endpoints label themselves — new nodes),
    * intra-component edges drop, and what remains is a graph over
    * component roots — |touched components| nodes, not |corpus|. Star
    * contraction runs on that contracted graph only; the result is a
    * root→root relabelling joined back over the full labelling (one
    * broadcast-size map in practice). Exactness is the contraction
    * argument: collapsing a connected set to one vertex preserves the
    * component structure of the union graph, so the output equals
    * [[largeStarSmallStar]] over (old edges ∪ batch) — the oracle
    * checks exactly that, against the full recursive-CTE closure.
    *
    * One invariant carries the correctness: incoming labels must be
    * component MINIMA (largeStarSmallStar's own contract), so the
    * contracted graph's minima are the union graph's minima.
    */
  def addEdges(labels: DataFrame, newEdges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val l = labels.select(col("node").cast("long").as("node"),
      col("component").cast("long").as("component"))
    val e = newEdges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    // endpoints of the batch that are NEW nodes join the labelling as
    // their own singleton components before contraction
    val newNodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .join(l.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    // lazy: the contraction's first scheduled job materializes it; the
    // final relabel join re-reads the checkpointed partitions
    val all = l.unionAll(newNodes).localCheckpoint(false)
    val contracted = e
      .join(all.select(col("node").as("src"), col("component").as("src_c")), Seq("src"))
      .join(all.select(col("node").as("dst"), col("component").as("dst_c")), Seq("dst"))
      .select(col("src_c").as("src"), col("dst_c").as("dst"))
      .where(col("src") =!= col("dst"))
    val rel = largeStarSmallStar(contracted, maxRounds = maxRounds)
      .select(col("node").as("component"), col("component").as("new_c"))
    all.join(rel, Seq("component"), "left")
      .select(col("node"), coalesce(col("new_c"), col("component")).as("component"))
  }
}
