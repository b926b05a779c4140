package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Fixpoint

/** Strongly connected components of a DIRECTED edge list — the directed
  * dual of [[ConnectedComponents]]: mutual reachability, not shared
  * membership. The undirected CC label is wrong on directed data (a
  * one-way edge merges components it must not), and the reference family
  * has no directed primitive at all.
  *
  * Algorithm: iterative trim + forward-coloring + backward-membership
  * (Orzan's coloring algorithm — the standard distributed SCC, cf.
  * "A distributed algorithm for strongly connected components"
  * / GraphX's SCC), chosen over Tarjan (inherently sequential DFS) and
  * over the naive mutual-closure definition (O(n·m) transitive closure
  * is a non-starter at 100 TB; it survives only as the DuckDB oracle on
  * the test fixture):
  *
  *   1. **Trim to fixpoint**: a node with no in-edges or no out-edges
  *      in the active graph is on no cycle → its own singleton SCC,
  *      and its removal can expose more. The fixpoint drains entire
  *      acyclic regions at two aggregates per pass, so the expensive
  *      phases below only ever run on cyclic cores.
  *   2. **Color**: propagate the MAXIMUM node id forward to a fixpoint;
  *      color(v) = max id that reaches v. Color classes are closed
  *      under SCC membership (mutually-reachable nodes see the same
  *      ancestors), and each class contains exactly one PIVOT — the
  *      node that is its own color.
  *   3. **Membership**: the pivot's SCC is exactly the set of its
  *      class members that reach it BACKWARD through the class
  *      (forward reach is already implied by the color). Label them
  *      (relabelled to the class MINIMUM id — the CC label contract),
  *      remove them, repeat.
  *
  * Every labelled batch is final (an SCC is never split by removing a
  * different SCC), so the outer loop strictly shrinks the active graph;
  * each round peels at least every current pivot's component. Round
  * count is bounded by the condensation's pivot-peel depth — short on
  * real graphs (hub SCCs color most of the graph in one wave), O(path)
  * only on adversarial pure-path DAGs, which the trim rule eats from
  * both ends instead. Unlike CC, no star-contraction shortcut exists
  * for DIRECTED reachability (re-rooting a tree does not preserve edge
  * direction) — label propagation to a fixpoint is the honest primitive,
  * so the scale design is per-round cost: both propagation loops are
  * frontier-limited (only CHANGED labels relay — the shortestPaths
  * delta trick), the active edge set is persisted hash-partitioned on
  * the join key once per outer round (src for coloring, dst for the
  * backward sweep) so each inner round reshuffles only the frontier,
  * and all shuffled rows are (long, long) pairs.
  *
  * SCC labels are schedule-independent (mutual reachability is a
  * property of the graph, not the wave order), so the DuckDB
  * recursive-CTE closure twin re-derives them exactly and the driver
  * hash-checks this whole iterative machine.
  */
object Scc {

  /** (node, scc) for every endpoint of `edges` (`src` → `dst`);
    * scc = minimum member id, the CC label contract. Self-loop EDGES
    * carry no connectivity and are dropped, but their endpoints are
    * kept: a node appearing only in self-loops is its own singleton
    * SCC, not absent from the output (the node set is derived from the
    * RAW edge list, before the self-loop filter).
    * Fails loudly if any propagation loop exceeds `maxRounds` rather
    * than returning a partial labelling.
    */
  def stronglyConnected(edges: DataFrame, maxRounds: Int = 60): DataFrame = {
    val raw = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val edgeSet = raw
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    // the remaining-set size is tracked arithmetically (every batch that
    // leaves it is a counted cut), so the loop guards probe nothing;
    // labelled batches are deferred to one final union; and every
    // in-loop shrink is a lazy cut that the next counted cut materializes
    val (nodes, nodeCount) = Fixpoint.countedCut("graft_scc_remaining", 0,
      raw.select(col("src").as("node"))
        .unionAll(raw.select(col("dst").as("node")))
        .distinct())
    val batches = scala.collection.mutable.ListBuffer[DataFrame]()
    // typed empty seed so an edge-free input returns an empty (node, scc)
    // frame instead of null
    val emptyLabels: DataFrame = nodes
      .select(col("node"), col("node").as("scc")).limit(0)
    // the loops' state: (active edges, remaining nodes, remaining count)
    Fixpoint.iterate("stronglyConnected", maxRounds,
        ((edgeSet, nodes, nodeCount), nodeCount > 0)) { case (untrimmed, outer) =>

      // ---- trim TO FIXPOINT: a node with no in-edge or no out-edge
      // (or no edge at all) is on no cycle → singleton SCC, and its
      // removal can expose more. Draining the whole DAG fringe here,
      // pass by pass, is what keeps the EXPENSIVE phases off
      // acyclic regions: without the fixpoint, a depth-L inter-SCC
      // chain erodes one layer per OUTER round and pays a full
      // coloring + membership sweep of the surviving graph each time
      // (measured 2× on the sf0.1 fixture). Pass count is bounded by
      // the remaining graph's trim depth — same loud cap.
      val (trimmedActive, remaining, remainingCount) = Fixpoint.iterate(
          "stronglyConnected trim", maxRounds, (untrimmed, true)) {
        case ((active, remaining, remainingCount), trimPass) =>
          // STRIDE-2 erosion: the trim step is a deterministic downward
          // closure (drop nodes lacking an in- or out-edge in the induced
          // subgraph), so applying it TWICE inside one scheduled pass
          // reaches the same fixpoint in half the driver rounds; the union
          // of trimmed batches — all labelled (node, node) — is identical
          // however the erosion is batched. The survivor set is ONE
          // role-count aggregate (node keeps both an out- and an in-edge),
          // one exchange per erosion.
          def erode(act: DataFrame): DataFrame = act
            .select(col("src").as("node"), lit(1L).as("o"), lit(0L).as("i"))
            .unionAll(act.select(col("dst").as("node"), lit(0L).as("o"), lit(1L).as("i")))
            .groupBy("node").agg(sum(col("o")).as("o"), sum(col("i")).as("i"))
            .where(col("o") > 0 && col("i") > 0)
            .select("node")
          val core1 = erode(active)
          val act1 = active
            .join(core1.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(core1.select(col("node").as("dst")), Seq("dst"), "left_semi")
          val core = erode(act1).localCheckpoint(false)
          // the trimmed batch's counted cut materializes core too (core
          // rides inside its plan); the labelled batch joins the deferred
          // union, the remaining size updates by arithmetic, and the
          // active-set shrink is lazy until the next pass reads it
          val (trimmed, nTrimmed) = Fixpoint.countedCut("graft_scc_trim", trimPass,
            remaining.join(core, Seq("node"), "left_anti")
              .select(col("node"), col("node").as("scc")))
          if (nTrimmed == 0) ((active, remaining, remainingCount), false)
          else {
            batches += trimmed
            val shrunk = active
              .join(core.select(col("node").as("src")), Seq("src"), "left_semi")
              .join(core.select(col("node").as("dst")), Seq("dst"), "left_semi")
              .localCheckpoint(false)
            ((shrunk, core, remainingCount - nTrimmed), remainingCount > nTrimmed)
          }
      }
      if (remainingCount == 0) ((trimmedActive, remaining, 0L), false)
      else {
        // the fully-trimmed edge set, cached once per outer round per
        // join layout (coloring joins on src here; the backward sweep
        // caches the same-color subset on dst after the coloring) so
        // every inner round moves only its frontier — the hopDistance
        // cache pattern, twice. The partition count is
        // sized to the surviving data (≈20k edge rows per partition,
        // capped at the session default): AQE coalesces SHUFFLE stages
        // but not CACHED sides, and a 3k-edge cyclic core spread over
        // 32 cached partitions prices every one of the ~20 inner
        // rounds at full 32-task scheduling latency for kilobytes of
        // work — the dominant cost of this loop measured locally. At
        // cluster scale the cap restores full parallelism.
        val (active, activeRows) = Fixpoint.countedCut("graft_scc_active", outer, trimmedActive)
        val parts = math.max(1, math.min(
          active.sparkSession.sessionState.conf.numShufflePartitions,
          (activeRows / 20000L).toInt))
        val bySrc = active.repartition(parts, col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        var byDst: DataFrame = null
        try {
          // ---- forward max-coloring to fixpoint (frontier-limited).
          // Stride 3: max-propagation is monotone and idempotent, so
          // three hops per round reach the same colors in ⌈depth/3⌉
          // rounds; round latency, not data volume, prices this loop.
          // hop1 and hop2 are each read twice (the next hop and the
          // union), so lazy checkpoints make both reads share one
          // computation instead of re-running the hop as extra AQE
          // stage jobs when exchange reuse misses.
          def hop(f: DataFrame): DataFrame = f.join(bySrc, col("node") === col("src"))
            .groupBy(col("dst").as("node"))
            .agg(max(col("color")).as("color"))
          val colors = Fixpoint.relax("stronglyConnected coloring",
              remaining.select(col("node"), col("node").as("color")).localCheckpoint(false),
              maxRounds, _ > _, Some(remainingCount)) { (frontier, _) =>
            val hop1 = hop(frontier).localCheckpoint(false)
            val hop2 = hop(hop1).localCheckpoint(false)
            hop1.unionAll(hop2).unionAll(hop(hop2))
              .groupBy("node").agg(max(col("color")).as("color"))
          }

          // ---- same-color edge gate, applied ONCE per outer round: an
          // SCC lies entirely inside one color class (mutually-reachable
          // nodes see the same ancestor set, hence the same max), so
          // cross-color edges sit on no cycle. Gating the active set
          // here (a) turns the backward hop into a plain join — stepping
          // along a same-color edge preserves the class, so no per-hop
          // colors re-join is needed — and (b) lets the NEXT outer round
          // drop the cross-class edges outright, which is what hands the
          // acyclic residue to the cheap trim fixpoint instead of another
          // full coloring wave.
          // NOT localCheckpoint'ed: its lineage roots in the already-
          // checkpointed active/colors, byDst's persist below gives the
          // sweeps their reuse, and the lazy-checkpoint LogicalRDD here
          // carried ORIGIN constraints referencing the pruned c1/c2
          // attrs, which trips Catalyst's Union constraint rewrite
          // downstream (key-not-found)
          val sameColor = active
            .join(colors.select(col("node").as("src"), col("color").as("c1")),
              Seq("src"))
            .join(colors.select(col("node").as("dst"), col("color").as("c2")),
              Seq("dst"))
            .where(col("c1") === col("c2"))
            .select(col("src"), col("dst"))
          byDst = sameColor.repartition(parts, col("dst"))
            .persist(StorageLevel.MEMORY_AND_DISK)

          // ---- backward membership sweep within each color class: a
          // first-visit wave from the pivots (a `better` that is never
          // true keeps each member's first label).
          // One backward hop over the same-color edge set: the class
          // gate holds by construction (color(src) = color(dst) on every
          // gated edge, and every frontier row's color IS its node's
          // color, by induction from the pivots). No per-hop distinct:
          // the stride's single distinct dedupes the union (multiplicity
          // within one stride is bounded by 3 hops over the gated edge set).
          def back(f: DataFrame): DataFrame = f
            .join(byDst, col("node") === col("dst"))
            .select(col("src").as("node"), col("color").as("color"))
          // the pivots are a non-empty subset of the remaining nodes, so
          // remainingCount bounds the seed rows without a seed job
          val members = Fixpoint.relax("stronglyConnected membership",
              colors.where(col("node") === col("color")).select(col("node"), col("color"))
                .localCheckpoint(false),
              maxRounds, (_, _) => lit(false), Some(remainingCount)) { (frontier, _) =>
            // stride 3, as in the coloring; lazy barriers on the
            // double-referenced sweeps, as in its step
            val s1 = back(frontier).localCheckpoint(false)
            val s2 = back(s1).localCheckpoint(false)
            s1.unionAll(s2).unionAll(back(s2)).distinct()
          }

          // relabel each peeled class to its minimum member id; the
          // peel's counted cut keeps the remaining-size arithmetic exact,
          // and the remaining/active shrinks stay lazy until the next
          // outer round's trim cut reads them
          val mins = members.groupBy(col("color"))
            .agg(min(col("node")).as("scc"))
          val (peeled, nPeeled) = Fixpoint.countedCut("graft_scc_peel", outer,
            members.join(mins, Seq("color")).select(col("node"), col("scc")))
          batches += peeled
          val left = remaining
            .join(peeled.select("node"), Seq("node"), "left_anti")
            .localCheckpoint(false)
          // next round's graph: the SAME-COLOR edges minus the peeled
          // class members — cross-color edges are on no cycle (gate
          // note above), so dropping them preserves every remaining SCC
          // and feeds the acyclic residue to the trim fixpoint
          val nextActive = sameColor
            .join(peeled.select(col("node").as("src")), Seq("src"), "left_anti")
            .join(peeled.select(col("node").as("dst")), Seq("dst"), "left_anti")
            .localCheckpoint(false)
          ((nextActive, left, remainingCount - nPeeled), remainingCount > nPeeled)
        } finally {
          bySrc.unpersist()
          if (byDst != null) byDst.unpersist()
        }
      }
    }
    // one deferred union of every labelled batch (each one a cached
    // checkpoint) — identical rows to the old eager per-batch merge
    if (batches.isEmpty) emptyLabels
    else batches.reduce(_ unionAll _)
  }

  /** Incrementally absorb edges into an existing SCC labelling — the
    * daily-drop maintenance face of [[stronglyConnected]], mirroring
    * [[ConnectedComponents.addEdges]]'s contraction argument in the
    * directed world: every old SCC stays strongly connected when edges
    * are ADDED (edges never break mutual reachability), so collapsing
    * each to one vertex preserves the SCC structure of the union graph,
    * and running SCC on the contracted graph + expanding back equals
    * the from-scratch labelling.
    *
    * One directed-world difference is load-bearing: `edges` must be the
    * FULL edge set (old ∪ new), not just the batch. Directed
    * reachability is non-local — a new edge B→A closes a cycle through
    * the OLD path A→B, so old inter-SCC (condensation) edges must feed
    * the contracted run. The linear contraction pass touches every
    * edge, but the ITERATIVE machine then runs on the contracted graph
    * only — |condensation| + |batch| nodes, not |corpus| — which is
    * where the iteration rounds (the expensive part) are saved.
    *
    * The invariant that carries correctness: incoming labels are
    * component MINIMA (stronglyConnected's own contract), so the
    * contracted graph's minima are the union graph's minima.
    */
  def addEdges(labels: DataFrame, edges: DataFrame,
      maxRounds: Int = 60): DataFrame = {
    val l = labels.select(col("node").cast("long").as("node"),
      col("scc").cast("long").as("scc"))
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val newNodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .join(l.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("scc"))
    val all = l.unionAll(newNodes).localCheckpoint()
    val contracted = e
      .join(all.select(col("node").as("src"), col("scc").as("src_c")), Seq("src"))
      .join(all.select(col("node").as("dst"), col("scc").as("dst_c")), Seq("dst"))
      .select(col("src_c").as("src"), col("dst_c").as("dst"))
      .where(col("src") =!= col("dst"))
    val rel = stronglyConnected(contracted, maxRounds)
      .select(col("node").as("scc"), col("scc").as("new_scc"))
    all.join(rel, Seq("scc"), "left")
      .select(col("node"), coalesce(col("new_scc"), col("scc")).as("scc"))
  }

  /** Condensation of the directed graph under an SCC labelling: one
    * node per SCC, one edge per ordered SCC pair with the witnessing
    * edge count — a DAG by the definition of SCC, and the input
    * contract of [[dagLongestPath]]. Two hash joins against the label
    * map plus one pair-keyed count; nothing iterative.
    */
  def condensation(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val l = labels.select(col("node").cast("long").as("node"),
      col("scc").cast("long").as("scc"))
    e.join(l.select(col("node").as("src"), col("scc").as("src_scc")), Seq("src"))
      .join(l.select(col("node").as("dst"), col("scc").as("dst_scc")), Seq("dst"))
      .where(col("src_scc") =!= col("dst_scc"))
      .groupBy("src_scc", "dst_scc")
      .agg(count(lit(1)).as("n_edges"))
  }

  /** Path-count centrality of a DAG: for every node, the number of
    * source→node paths (f), node→sink paths (g), and source→sink paths
    * THROUGH the node (f·g) — the exact flow-betweenness analogue that
    * IS distributable, because path counting is a semiring the
    * level-synchronous iteration solves exactly (true shortest-path
    * betweenness needs Brandes' sequential dependency accumulation).
    * Run it on [[condensation]] output for "which components are the
    * load-bearing bridges of the dependency structure".
    *
    * Two frontier-limited sum-propagations (forward from sources,
    * backward from sinks): round r's frontier carries the count of
    * length-r paths — every path has one definite length, so summing
    * the per-round arrivals is exact and rounds = DAG depth. Counts
    * accumulate in DECIMAL(38,0): path counts grow like branching^depth,
    * and under ANSI mode a 38-digit overflow fails LOUDLY instead of
    * wrapping (the engine-vs-oracle silent-divergence hazard). On a
    * cyclic input the propagation never drains — the `maxRounds` cap is
    * the loud cycle detector, as in [[dagLongestPath]].
    *
    * @return (node, f_paths, g_paths, through_paths)
    */
  def dagPathCentrality(edges: DataFrame, maxRounds: Int = 60): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    val bySrc = e.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val byDst = e.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node")))
        .distinct()
        .localCheckpoint()

      // one sum-propagation wave: seeds carry count 1; each round joins
      // the frontier to its outgoing edges and sums arrivals per target.
      // Every count stays exact:
      //  - STRIDE-2: round r's frontier carries the exact count of
      //    length-L paths, so relaying it one MORE hop inside the same
      //    scheduled round yields the exact length-(L+1) counts — two
      //    per-length deliveries per round, half the rounds. Both hops
      //    are per-length-exact, so summing them later is unchanged.
      //  - DEFERRED accumulation: every per-length frontier is retained
      //    (each one a cached checkpoint) and ONE final groupBy sums
      //    them; addition is associative, the total per node is
      //    identical to a per-round running sum.
      //  - the second hop's counted cut materializes the first hop's
      //    lazy cut in the same job (hop1 rides inside hop2's plan).
      // Round r delivers path lengths 2r - 1 and 2r, so `maxRounds` hops
      // allow (maxRounds + 1) / 2 rounds. The waves run concurrently, so
      // each names its own observations.
      def wave(seed: DataFrame, adj: DataFrame, from: String, to: String,
          what: String): DataFrame = {
        def hop(f: DataFrame): DataFrame = f
          .join(adj, col("node") === col(from))
          .groupBy(col(to).as("nnode"))
          .agg(sum(col("cnt")).as("ncnt"))
          .select(col("nnode").as("node"), col("ncnt").as("cnt"))
        // state: (frontier, per-length frontiers so far)
        val (_, perLength) = Fixpoint.iterate(s"dagPathCentrality $what wave (cyclic input?)",
            (maxRounds + 1) / 2, ((seed, Vector(seed)), true)) { case ((frontier, perLength), r) =>
          val h1 = hop(frontier).localCheckpoint(false)
          // h2 empty with h1 non-empty just means length L+1 only
          // reached sinks — h1 is already retained; the loop may stop
          // either way.
          val (h2, n) = Fixpoint.countedCut(s"graft_dag_paths_$what", r, hop(h1))
          ((h2, if (n > 0) perLength :+ h1 :+ h2 else perLength :+ h1), n > 0)
        }
        perLength.reduce(_ unionAll _)
          .groupBy("node").agg(sum(col("cnt")).as("cnt"))
      }

      // seed sets are cut and counted ONCE and reused by both the guard
      // and the waves
      def seedOf(what: String, anti: String): (DataFrame, Long) =
        Fixpoint.countedCut(s"graft_dag_paths_$what", 0, nodes
          .join(e.select(col(anti).as("node")).distinct(), Seq("node"), "left_anti")
          .select(col("node"), lit(1).cast("decimal(38,0)").as("cnt")))
      val (sources, nSources) = seedOf("forward", "dst")
      val (sinks, nSinks) = seedOf("backward", "src")
      // a non-empty DAG has ≥1 source and ≥1 sink; a sourceless input
      // (pure cycle) would otherwise return EMPTY silently — the
      // maxRounds trip only catches cycles reachable from a source
      // order matters: the happy path short-circuits on the counts and
      // never pays the isEmpty probe job
      require((nSources > 0 && nSinks > 0) || nodes.isEmpty,
        "dagPathCentrality: no source/sink node — cyclic input " +
          "(run stronglyConnected/condensation first)")
      // the two waves share no state — run them as concurrent job
      // groups (guide §2.6: independent DAGs back-fill each other's
      // round-latency stalls; same argument on a real cluster)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fF = Future(wave(sources, bySrc, "src", "dst", "forward"))
      val fG = Future(wave(sinks, byDst, "dst", "src", "backward"))
      val f = Await.result(fF, Duration.Inf)
      val g = Await.result(fG, Duration.Inf)
      // in a DAG every node descends from some source and reaches some
      // sink, so the inner join keeps every node
      val out = f.select(col("node"), col("cnt").as("f0"))
        .join(g.select(col("node"), col("cnt").as("g0")), Seq("node"))
        .select(col("node"),
          col("f0").cast("long").as("f_paths"),
          col("g0").cast("long").as("g_paths"),
          (col("f0") * col("g0")).cast("long").as("through_paths"))
      // loud coverage check: a cycle component DISCONNECTED
      // from every source and sink enters neither wave — the maxRounds
      // trip only sees source-reachable cycles — and the inner join
      // would silently drop its nodes. Full coverage or fail.
      require(nodes.join(out.select("node"), Seq("node"), "left_anti").isEmpty,
        "dagPathCentrality: nodes unreached by both waves — cyclic " +
          "component disconnected from all sources/sinks (run " +
          "stronglyConnected/condensation first)")
      out
    } finally { bySrc.unpersist(); byDst.unpersist() }
  }

  /** Reciprocity of a directed edge list: the fraction of edges whose
    * reverse is also present (×1e6, floor) — the one-number "how
    * two-way is this graph" profile (near 1e6 → effectively undirected,
    * CC is the right tool; near 0 → genuinely directional, SCC/DAG
    * analysis applies). One semi-join against the reversed edge set +
    * one global aggregate; the 1-row combine is a union of tagged
    * counters, not a crossJoin (keeps the graph-family broadcast lint
    * trivially clean).
    *
    * @return one row (n_edges, n_reciprocal, recip_ppm)
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.join(rev, Seq("src", "dst"), "left_semi")
    e.select(lit(1L).as("ne"), lit(0L).as("nr"))
      .unionAll(recip.select(lit(0L).as("ne"), lit(1L).as("nr")))
      .agg(coalesce(sum(col("ne")), lit(0L)).as("n_edges"),
        coalesce(sum(col("nr")), lit(0L)).as("n_reciprocal"))
      .select(col("n_edges"), col("n_reciprocal"),
        // DECIMAL numerator: n_reciprocal·1e6 wraps a silent long past
        // ~9.2e12 edges (the gini convention)
        when(col("n_edges") > 0,
          expr("cast((cast(n_reciprocal as decimal(38,0)) * 1000000) div n_edges as bigint)"))
          .otherwise(lit(null).cast("long")).as("recip_ppm"))
  }

  /** Longest-path depth of every node of a DAG (edge count from any
    * source): depth(v) = max over in-neighbours u of depth(u) + 1,
    * sources at 0 — the critical-path / topological-level primitive
    * (stage scheduling, dependency depth, curriculum ordering).
    *
    * Frontier-limited max-relaxation: only nodes whose depth GREW last
    * round relay, so rounds = DAG depth and a settled prefix costs
    * nothing. On a CYCLIC input the relaxation never settles — the
    * `maxRounds` cap is therefore also the loud cycle detector (the
    * longest path is undefined on a cycle; failing beats looping).
    * Depths are schedule-independent → recursive-CTE oracle-exact.
    */
  def dagLongestPath(edges: DataFrame, maxRounds: Int = 60): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node")))
        .distinct()
        .withColumn("depth", lit(0L))
      def hop(f: DataFrame): DataFrame = f.join(e, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(max(col("depth") + 1L).as("depth"))
      // stride 2: two hops per round (see Fixpoint.relax)
      Fixpoint.relax("dagLongestPath (cyclic input?)", nodes, maxRounds, _ > _) { (frontier, _) =>
        val hop1 = hop(frontier)
        hop1.unionAll(hop(hop1)).groupBy("node").agg(max(col("depth")).as("depth"))
      }
    } finally e.unpersist()
  }
}
