package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.PageRank

/** Graph-analytics extension queries (graft.graph), oracle-checked.
  *
  * The fixture graph is the supplier co-supply graph: suppliers are
  * linked when they supply the same part (bounded m2m expansion per
  * part, both directions, deduplicated). PageRank runs a FIXED 2
  * iterations so the result is re-derivable as unrolled CTEs — the
  * same oracle-checkability trade as q_dedup_groups / q_sim_ivf_kmeans2;
  * unbounded convergence runs reuse the identical per-iteration plan.
  */
object GraphQueries {

  // The weighted co-supply edge list is the shared base of all four
  // graph queries (the m2m expansion + aggregate is the expensive
  // part); a registry stage per threshold, like the domain chains. The
  // unweighted pair list is exactly its key set.
  private def coSupplyEdges(s: SparkSession, dir: String, minQty: Double): DataFrame = {
    val li = Tables(s, dir, "lineitem").where(col("l_quantity") >= minQty)
    val sp = li.select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
    sp.as("a").join(sp.as("b"),
        col("a.pk") === col("b.pk") && col("a.sk") =!= col("b.sk"))
      .groupBy(col("a.sk").as("src"), col("b.sk").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private[queries] val coSupply40 =
    QueryCaches.frame("graph.co_supply_40")(coSupplyEdges(_, _, 40.0))
  private[queries] val coSupply49 =
    QueryCaches.frame("graph.co_supply_49")(coSupplyEdges(_, _, 49.0))

  /** Customer co-purchase edges with the witnessing part key —
    * customers linked when they bought the same part from the same
    * supplier at high quantity. The m2m expansion is the expensive
    * stage shared by the CC family (from-scratch, incremental, and the
    * oracle's own derivation), so it is a stage like the co-supply edges.
    */
  private[queries] val coPurchase = QueryCaches.frame("graph.co_purchase") { (s, dir) =>
    val li = Tables(s, dir, "lineitem").where(col("l_quantity") >= 45.0)
    val cp = li.join(Tables(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"),
        col("l_suppkey").as("sk"))
      .distinct()
    cp.as("a").join(cp.as("b"),
        col("a.pk") === col("b.pk") && col("a.sk") === col("b.sk") &&
          col("a.ck") < col("b.ck"))
      .select(col("a.ck").as("src"), col("b.ck").as("dst"),
        col("a.pk").as("pk"))
      .distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_graph_pagerank" -> ((s, dir) =>
      PageRank.run(coSupply40(s, dir).select(col("src"), col("dst")), iters = 2)),

    // personalized variant: teleport mass only on the sk%97==0 seed
    // suppliers — authority relative to a trusted whitelist
    "q_graph_ppr" -> ((s, dir) => {
      val e = coSupply40(s, dir).select(col("src"), col("dst"))
      PageRank.runPersonalized(e,
        e.select(col("src").as("node"))
          .unionAll(e.select(col("dst").as("node")))
          .where(col("node") % 97 === 0),
        iters = 2)
    }),

    // production face: iterate until max per-node delta <= 1% of scale
    // (rows-only — convergence loops are not CTE-unrollable;
    // PageRankSpec proves face agreement). Round count is set by the
    // damping contraction (~log(scale·tol⁻¹)/log(d⁻¹) ≈ 28 at 1%), not
    // by graph size — the tolerance knob trades rounds for precision.
    "q_graph_pagerank_conv" -> ((s, dir) =>
      PageRank.runConverged(coSupply40(s, dir).select(col("src"), col("dst")),
        tolS = 10000L)),

    // weighted variant: co-supply multiplicity (shared-part count) as
    // the edge weight — contributions split proportionally
    "q_graph_pagerank_weighted" -> ((s, dir) =>
      PageRank.run(coSupply40(s, dir), iters = 2, weightCol = Some("w"))),

    // warm-start incremental face: yesterday's graph (even src+dst
    // parity) ranks for 2 iterations, then ONE warm iteration over the
    // full edge set — the daily-drop maintenance shape (new nodes cold
    // at scale, stale nodes drop out); integer-exact, so the whole
    // two-phase history unrolls in the oracle
    "q_graph_pagerank_warm" -> ((s, dir) => {
      val e = coSupply40(s, dir).select(col("src"), col("dst"))
      val old = PageRank.run(
        e.where((col("src") + col("dst")) % 2 === 0), iters = 2)
      PageRank.run(e, iters = 1, startRanks = Some(old))
    }),

    // per-node triangle counts, degree-oriented wedge counting (the
    // thinner >=49 co-supply graph: triangle volume is cubic in
    // density, and the dense variant is a stress shape, not a corpus)
    "q_graph_triangles" -> ((s, dir) =>
      PageRank.triangleCounts(coSupply49(s, dir).select(col("src"), col("dst")))),

    // k-core peel, fixed 2 rounds (oracle-unrollable face; deep
    // tendril chains under-peel — the dedupGroups fixed-k trade)
    "q_graph_kcore" -> ((s, dir) =>
      graft.graph.KCore.peel(coSupply49(s, dir).select(col("src"), col("dst")),
        k = 3, rounds = 2)),

    // converged peel. Unlike the damping-schedule-dependent PageRank
    // fixpoint, the k-core is UNIQUE (the maximal induced subgraph of
    // min degree ≥ k) and schedule-independent, so it IS exactly
    // oracle-checkable: the DuckDB twin unrolls the peel far past the
    // fixture's convergence depth — extra rounds past the fixpoint are
    // no-ops, so any unroll ≥ the true depth reproduces the converged
    // set exactly (depth here: 3 rounds at sf0.01, 4 at sf0.1, vs the
    // 24-round unroll). k = 16 sits inside the fixture's degree
    // distribution at every SF (min degree ~8-11, median ~26-28), so
    // the peel genuinely cascades — k = 3 peeled NOTHING on this graph
    "q_graph_kcore_conv" -> ((s, dir) =>
      graft.graph.KCore.peelConverged(
        coSupply49(s, dir).select(col("src"), col("dst")), k = 16)),

    // exact connected components via alternating large-star/small-star
    // (O(log n) rounds) on the customer co-purchase graph: customers
    // linked when they bought the same part from the same supplier at
    // high quantity — a naturally sparse multi-component graph (~100
    // components at sf0.01). Unlike the other convergence loops this
    // one IS exactly oracle-checkable: the component-minimum label is
    // round-count-independent, so a DuckDB recursive-CTE transitive
    // closure re-derives it without mirroring the iteration schedule.
    "q_graph_cc" -> ((s, dir) =>
      graft.graph.ConnectedComponents.largeStarSmallStar(
        coPurchase(s, dir).select("src", "dst").distinct())),

    // the incremental-maintenance face: the same co-purchase edges land
    // as two batches (part-key parity); batch 1 is labelled from
    // scratch, batch 2 is absorbed by component contraction — only
    // touched components move. Must equal the from-scratch labelling
    // over the union, so it shares q_graph_cc's transitive-closure
    // oracle verbatim
    "q_graph_cc_inc" -> ((s, dir) => {
      val e = coPurchase(s, dir)
      val batch1 = e.where(pmod(col("pk"), lit(2)) === 0).select("src", "dst")
      val batch2 = e.where(pmod(col("pk"), lit(2)) === 1).select("src", "dst")
      val labels1 = graft.graph.ConnectedComponents.largeStarSmallStar(batch1)
      graft.graph.ConnectedComponents.addEdges(labels1, batch2)
    }),

    // modularity audit of a partition against the graph it must
    // explain: batch-1 (even part-key) CC labels scored over the FULL
    // co-purchase graph — edges landing in batch 2 that cross batch-1
    // components register as inter-community mass, so the terms
    // quantify how stale yesterday's clustering is. Unlabeled nodes
    // default to singletons (Modularity's partial-label contract)
    "q_graph_modularity" -> ((s, dir) => {
      val e = coPurchase(s, dir)
      val full = e.select(col("src"), col("dst")).distinct()
      val b1 = e.where(pmod(col("pk"), lit(2)) === 0)
        .select(col("src"), col("dst")).distinct()
      graft.graph.Modularity.communityTerms(full,
        graft.graph.ConnectedComponents.largeStarSmallStar(b1))
    }),

    // HITS on the bipartite purchase graph (customer → supplier at
    // high quantity, supplier ids offset into their own range): hubs
    // rank the buying side, authorities the supplying side. Fixed 2
    // iterations so the L∞-normalized integer fixpoint steps unroll
    // into an exact CTE twin — the PageRank oracle trade
    "q_graph_hits" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").where(col("l_quantity") >= 45.0)
      val e = li.join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      graft.graph.Hits.run(e, iters = 2)
    }),

    // link prediction on the >=49 co-supply graph: score non-adjacent
    // distance-2 supplier pairs by common-neighbour / Jaccard /
    // resource-allocation overlap. maxDegree 30 drops hub witnesses
    // (fixture max degree 37 — the cap genuinely bites), minCommon 4
    // bounds the emitted candidate set. All integer, hash-exact.
    "q_graph_link_pred" -> ((s, dir) =>
      graft.graph.LinkPrediction.scores(
        coSupply49(s, dir).select(col("src"), col("dst")),
        maxDegree = 30L, minCommon = 4L)),

    // multi-source BFS on the >=49 co-supply graph: minimum hop count
    // from the top-balance suppliers. Hop distance is the shortest-path
    // length — schedule-independent like the CC label — so this
    // convergence loop is oracle-checked exactly against a capped
    // recursive-CTE wave (both sides cap at 30 hops; the graph's
    // diameter is far below it, and Bfs stops at the empty frontier)
    "q_graph_bfs" -> ((s, dir) => {
      val seeds = Tables(s, dir, "supplier")
        .where(col("s_acctbal") >= 9000.0)
        .select(col("s_suppkey").as("node"))
      graft.graph.Bfs.hopDistance(
        coSupply49(s, dir).select(col("src"), col("dst")), seeds)
    }),

    // weighted shortest paths from the same seeds: strong co-supply
    // ties are cheap (cost = max(1, 10 − shared-part count), integer).
    // Frontier-limited Bellman-Ford; non-negative integer costs make
    // the fixpoint schedule-independent, so the capped recursive-CTE
    // twin re-derives every distance exactly
    "q_graph_sssp" -> ((s, dir) => {
      val seeds = Tables(s, dir, "supplier")
        .where(col("s_acctbal") >= 9000.0)
        .select(col("s_suppkey").as("node"))
      val e = coSupply49(s, dir).select(col("src"), col("dst"),
        greatest(lit(1L), lit(10L) - col("w")).as("cost"))
      graft.graph.Bfs.shortestPaths(e, seeds)
    }),

    // local clustering coefficients on the >=49 co-supply graph: how
    // clique-like is each supplier's co-supply neighbourhood — the
    // per-node density audit behind "is this cluster one community or
    // a hairball". Exact 1e-6 fixed-point ratios over the oriented-
    // wedge triangle count, so the face hash-checks
    "q_graph_clustering" -> ((s, dir) =>
      graft.graph.Centrality.clusteringCoefficients(
        coSupply49(s, dir).select(col("src"), col("dst")))),

    // converged 6-truss of the >=49 co-supply graph: every surviving
    // edge must close >=4 triangles WITHIN the survivor set — the
    // edge-level community core beside the node-level k-core. k = 6
    // sits inside the fixture's support distribution (median 7) so the
    // peel genuinely cascades: 904 of 1257 edges survive across a
    // 12-round cascade at sf0.01 (k=4 dropped only 12 edges; k>=8
    // collapses the whole graph). The fixpoint is unique and
    // schedule-independent, so the oracle unrolls the peel past
    // convergence (the kcore_conv trade)
    "q_graph_ktruss" -> ((s, dir) =>
      graft.graph.Truss.edges(
        coSupply49(s, dir).select(col("src"), col("dst")), k = 6)),

    // two-sweep diameter lower bound on the >=49 co-supply graph:
    // BFS from the min-id anchor, farthest node (ties → lowest id),
    // BFS again — two waves instead of the all-pairs n; both argmaxes
    // stay 1-row DataFrames in the plan, no collect
    "q_graph_diameter" -> ((s, dir) =>
      graft.graph.Bfs.twoSweepDiameter(
        coSupply49(s, dir).select(col("src"), col("dst")))),

    // degree assortativity: Pearson correlation of endpoint degrees
    // over the symmetric edge list — one number for "do hubs link to
    // hubs" (positive) vs "hubs serve leaves" (negative). Pure reuse:
    // the edge-degree pairs feed the exact one-pass correlation
    // operator, sufficient statistics in DECIMAL(38,0)
    "q_graph_assortativity" -> ((s, dir) => {
      val e = coSupply49(s, dir).select(col("src"), col("dst"))
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val dd = e
        .join(deg.select(col("node").as("src"), col("deg").as("deg_src")),
          Seq("src"))
        .join(deg.select(col("node").as("dst"), col("deg").as("deg_dst")),
          Seq("dst"))
        .select("deg_src", "deg_dst")
      graft.core.Profiler.correlationMatrix(dd, Seq("deg_src", "deg_dst"))
    }),

    // closeness centrality for the top-balance seed suppliers: per-seed
    // BFS (seed carried through the wave), Wasserman–Faust normalized
    // so small-component seeds don't outrank giant-component hubs. Hop
    // distances are schedule-independent, so the per-seed wave oracle-
    // checks exactly like q_graph_bfs
    "q_graph_closeness" -> ((s, dir) => {
      val seeds = Tables(s, dir, "supplier")
        .where(col("s_acctbal") >= 9000.0)
        .select(col("s_suppkey").as("node"))
      graft.graph.Centrality.closenessCentrality(
        coSupply49(s, dir).select(col("src"), col("dst")), seeds)
    }),

    // strongly connected components over the DIRECTED co-supply
    // fixture (hash-oriented, hash-thinned — see directedCoSupply):
    // trim + forward-coloring + backward-membership peel. Labels are
    // schedule-independent (mutual reachability), so the closure twin
    // re-derives them exactly. Shared by the condensation/DAG faces
    // (memoized like the entity-family verify stage).
    "q_graph_scc" -> ((s, dir) => sccLabels(s, dir)),

    // condensation DAG: one node per SCC, inter-SCC edges with
    // witnessing-edge counts — acyclic by construction
    "q_graph_condensation" -> ((s, dir) =>
      graft.graph.Scc.condensation(directedCoSupply(s, dir), sccLabels(s, dir))),

    // longest-path depth over the condensation (critical-path /
    // topological-level primitive); the cyclic-input cap never trips
    // because condensation is a DAG by the SCC definition
    "q_graph_dag_longest" -> ((s, dir) =>
      graft.graph.Scc.dagLongestPath(
        graft.graph.Scc.condensation(directedCoSupply(s, dir), sccLabels(s, dir))
          .select(col("src_scc").as("src"), col("dst_scc").as("dst")))),

    // incremental SCC maintenance: the hash-batch split arrives in two
    // drops; batch 1 labels from scratch, then addEdges contracts the
    // old SCCs and reruns only on the condensation + batch 2 (the FULL
    // edge set feeds the contraction — directed reachability is
    // non-local; see Scc.addEdges). Must equal from-scratch over the
    // union, so it shares q_graph_scc's closure oracle verbatim (the
    // cc/cc_inc convention)
    "q_graph_scc_inc" -> ((s, dir) =>
      graft.graph.Scc.addEdges(sccLabelsBatch1(s, dir), directedCoSupply(s, dir))),

    // path-count centrality over the condensation DAG: f·g = number of
    // source→sink dependency paths THROUGH each component — the exact
    // distributable betweenness analogue (path counting is a semiring;
    // Brandes' shortest-path betweenness is not)
    "q_graph_dag_paths" -> ((s, dir) =>
      graft.graph.Scc.dagPathCentrality(
        graft.graph.Scc.condensation(directedCoSupply(s, dir), sccLabels(s, dir))
          .select(col("src_scc").as("src"), col("dst_scc").as("dst")))),

    // reciprocity of the ORDERED-pair-thinned co-supply digraph (the
    // asymmetric hash keeps some pairs both ways, some one-way — the
    // directedCoSupply fixture is one-direction-per-pair by
    // construction, which would pin reciprocity at a degenerate 0)
    "q_graph_reciprocity" -> ((s, dir) =>
      graft.graph.Scc.reciprocity(
        coSupply49(s, dir).select(col("src"), col("dst"))
          .where((col("src") * 7 + col("dst") * 3) % 5 < 2)))
  )

  /** Directed graph fixture for the SCC family: the ≥49-qty co-supply
    * pairs (u < v), kept when (7u+3v) mod 5 = 0 (thinning — the full
    * graph is one giant SCC, which exercises nothing), oriented u→v
    * when (u+v) is even, v→u otherwise. Deterministic, hash-derived,
    * and re-derivable in SQL — at sf0.01 it yields 5 multi-node SCCs
    * (sizes 13–19) plus 19 singletons; at sf0.1, 4 SCCs of ~170 plus
    * 149 singletons.
    */
  private val directedCoSupply = QueryCaches.frame("graph.directed_cosupply") {
    (s, dir) =>
      val und = coSupply49(s, dir).where(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))
      und.where((col("u") * 7 + col("v") * 3) % 5 === 0)
        .select(
          when((col("u") + col("v")) % 2 === 0, col("u")).otherwise(col("v")).as("src"),
          when((col("u") + col("v")) % 2 === 0, col("v")).otherwise(col("u")).as("dst"))
  }

  /** SCC labelling of [[directedCoSupply]], shared by the three SCC
    * faces (the output is checkpointed by stronglyConnected itself, so
    * the stage holds a materialized frame, not a live plan). Not warmed:
    * the SCC faces price this labelling on the clock.
    */
  private val sccLabels = QueryCaches.value("graph.scc_labels")((s, dir) =>
    graft.graph.Scc.stronglyConnected(directedCoSupply(s, dir)))

  /** "Yesterday's" SCC labelling — the hash-parity two-thirds batch,
    * labelled from scratch. This is the incremental face's PREMISE
    * (daily maintenance starts from an existing labelling), so it is a
    * warmed shared stage like the edge bases: q_graph_scc_inc then
    * measures the ABSORB — contraction + the rerun on the contracted
    * graph — which is the operation the face exists to price. The thick
    * batch recovers most of the full SCC structure, so contraction
    * genuinely shrinks the rerun (the cc_inc shape).
    */
  private[queries] val sccLabelsBatch1 = QueryCaches.value("graph.scc_labels_batch1")(
    (s, dir) => graft.graph.Scc.stronglyConnected(
      directedCoSupply(s, dir).where(pmod(col("src") * 13 + col("dst"), lit(3)) =!= 0)))

  /** Unrolled k-truss peel: aR = surviving canonical edges after R
    * support-recount rounds. Same bounded-unroll-past-convergence
    * argument as [[kcoreConvOracle]] — the truss fixpoint is unique,
    * extra rounds are no-ops. Each round is MATERIALIZED: it references
    * its predecessor three times (two wedge sides + the closing
    * semi-join) and plain CTEs would re-expand the whole prefix 3^depth
    * times.
    */
  private def ktrussOracle(k: Int, depth: Int): String = {
    val rounds = (1 to depth).map { r =>
      s""",
         |w$r AS MATERIALIZED (
         |  SELECT e1.x AS a, e1.y AS b, e2.y AS c
         |  FROM a${r - 1} e1 JOIN a${r - 1} e2
         |    ON e2.x = e1.x AND e1.y < e2.y),
         |t$r AS MATERIALIZED (
         |  SELECT w.a, w.b, w.c FROM w$r w
         |  JOIN a${r - 1} z ON z.x = w.b AND z.y = w.c),
         |s$r AS (
         |  SELECT x, y, count(*) AS sup FROM (
         |    SELECT a AS x, b AS y FROM t$r
         |    UNION ALL SELECT a, c FROM t$r
         |    UNION ALL SELECT b, c FROM t$r)
         |  GROUP BY 1, 2),
         |a$r AS MATERIALIZED (
         |  SELECT e0.x, e0.y FROM a${r - 1} e0
         |  JOIN s$r s ON s.x = e0.x AND s.y = e0.y
         |  WHERE s.sup >= ${k - 2})""".stripMargin
    }.mkString
    s"""WITH sp AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity >= 49.0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.sk AS x, b.sk AS y
       |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk),
       |a0 AS MATERIALIZED (SELECT x, y FROM e)$rounds
       |SELECT e.x AS src, e.y AS dst, (s.x IS NOT NULL) AS in_truss
       |FROM e LEFT JOIN a$depth s ON s.x = e.x AND s.y = e.y""".stripMargin
  }

  /** Unrolled k-core peel to a fixed depth: aR = survivors after R
    * rounds. Rounds past the fixpoint are no-ops (the alive set stops
    * changing), so any depth ≥ the fixture's convergence depth yields
    * the converged core EXACTLY — the same bounded-unroll-past-
    * convergence trick the dedup-groups oracle uses, valid here
    * because the k-core fixpoint is unique and schedule-independent.
    */
  private def kcoreConvOracle(k: Int, depth: Int): String = {
    val rounds = (1 to depth).map { r =>
      s""",
         |i$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e
         |  JOIN a${r - 1} x ON x.node = e.src
         |  JOIN a${r - 1} y ON y.node = e.dst),
         |a$r AS MATERIALIZED (
         |  SELECT src AS node FROM i$r GROUP BY 1 HAVING count(*) >= $k)"""
        .stripMargin
    }.mkString
    // MATERIALIZED is load-bearing on every CTE: DuckDB inlines plain
    // CTEs, and round r+1 reads a$r twice, so plain rounds would
    // re-expand the first round 2^depth times — at depth 12 that
    // exhausts memory, as plain `e` would exhaust the open-file limit
    s"""WITH sp AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity >= 49.0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.sk AS src, b.sk AS dst
       |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |a0 AS (SELECT node FROM nodes)$rounds
       |SELECT n.node, (a.node IS NOT NULL) AS in_core
       |FROM nodes n LEFT JOIN a$depth a ON n.node = a.node""".stripMargin
  }

  /** Unrolled HITS iterations mirroring `Hits.run`: per iteration one
    * auth half-step then one hub half-step, each L∞-normalized by a
    * scalar-subquery max (the max over the raw aggregate equals the
    * max over the zero-padded full node set, since raws are ≥ 0). All
    * integer, all non-negative, so `//` matches Spark's `div`.
    */
  private def hitsOracle(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "h0" else s"h${r - 1}"
      s""",
         |ar$r AS (
         |  SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS s
         |  FROM e JOIN $prev h ON h.node = e.src GROUP BY 1),
         |a$r AS (
         |  SELECT n.node, (coalesce(x.s, CAST(0 AS BIGINT)) * 1000000)
         |    // (SELECT greatest(max(s), 1) FROM ar$r) AS s
         |  FROM nodes n LEFT JOIN ar$r x USING (node)),
         |hr$r AS (
         |  SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS s
         |  FROM e JOIN a$r a ON a.node = e.dst GROUP BY 1),
         |h$r AS (
         |  SELECT n.node, (coalesce(x.s, CAST(0 AS BIGINT)) * 1000000)
         |    // (SELECT greatest(max(s), 1) FROM hr$r) AS s
         |  FROM nodes n LEFT JOIN hr$r x USING (node))""".stripMargin
    }.mkString
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE l.l_quantity >= 45.0),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes)$rounds
       |SELECT h.node, h.s AS hub_s, a.s AS auth_s
       |FROM h$iters h JOIN a$iters a USING (node)""".stripMargin
  }

  /** Generated oracle for the CONVERGED PageRank face (closing the
    * r13 `no_oracle` gap, VERDICT r13 item 6): the convergence loop is
    * not CTE-unrollable to a FIXED depth, but its stopping rule is
    * re-derivable — unroll `maxK` exact integer iterations (every
    * layer identical to the q_graph_pagerank oracle's arithmetic),
    * compute each layer's max per-node delta, and emit the FIRST layer
    * whose delta is ≤ tolS = 10000 — exactly where
    * `PageRank.runConverged` stops. Measured stop depth on the test
    * fixtures: 1 (sf0.001, sf0.01) and 2 (sf0.1); maxK = 16 is 8× the
    * observed depth, and a fixture needing more returns an empty
    * oracle result, which FAILS the compare loudly instead of passing
    * vacuously. MATERIALIZED CTEs keep DuckDB from inlining the layer
    * chain exponentially.
    */
  private def pagerankConvOracle(maxK: Int): String = {
    val layers = (1 to maxK).map { k =>
      s""",
         |c$k AS (
         |  SELECT e.dst AS node, sum(r${k - 1}.r // deg.d) AS s
         |  FROM e JOIN deg USING (src) JOIN r${k - 1} ON r${k - 1}.node = e.src
         |  GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT n.node, 150000 + (85 * coalesce(c$k.s, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN c$k USING (node)),
         |d$k AS MATERIALIZED (
         |  SELECT max(abs(r$k.r - r${k - 1}.r)) AS d
         |  FROM r$k JOIN r${k - 1} USING (node))""".stripMargin
    }.mkString
    val dUnion = (1 to maxK)
      .map(k => s"SELECT $k AS k, (SELECT d FROM d$k) AS d")
      .mkString(" UNION ALL ")
    val branches = (1 to maxK)
      .map(k => s"SELECT node, r FROM r$k WHERE (SELECT k FROM stop) = $k")
      .mkString("\nUNION ALL\n")
    s"""WITH sp AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity >= 40.0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.sk AS src, b.sk AS dst
       |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY 1),
       |r0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)$layers,
       |dd AS MATERIALIZED ($dUnion),
       |stop AS MATERIALIZED (SELECT min(k) AS k FROM dd WHERE d <= 10000)
       |SELECT node, CAST(r AS BIGINT) AS rank_s FROM (
       |$branches)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_graph_pagerank_conv" -> pagerankConvOracle(16),

    // converged peel: 12-round unroll, 3-4× the fixture's measured
    // convergence depth (3 rounds at sf0.01, 4 at sf0.1)
    "q_graph_kcore_conv" -> kcoreConvOracle(16, 12),

    "q_graph_hits" -> hitsOracle(2),

    // same three overlap aggregates; // is floor division on the
    // non-negative fixed-point terms, identical to Spark's DIV
    "q_graph_link_pred" ->
      """WITH sp AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |canon AS MATERIALIZED (
        |  SELECT DISTINCT a.sk AS u, b.sk AS v
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk),
        |sym AS (
        |  SELECT u AS node, v AS nbr FROM canon
        |  UNION ALL SELECT v, u FROM canon),
        |deg AS (SELECT node, count(*) AS d FROM sym GROUP BY 1),
        |mid AS (
        |  SELECT s.node AS w, s.nbr AS ep, 1000000 // d.d AS ra1
        |  FROM sym s JOIN deg d ON d.node = s.node WHERE d.d <= 30),
        |pairs AS (
        |  SELECT a.ep AS u, b.ep AS v, count(*) AS cn,
        |    CAST(sum(a.ra1) AS BIGINT) AS ra_s
        |  FROM mid a JOIN mid b ON a.w = b.w AND a.ep < b.ep
        |  GROUP BY 1, 2 HAVING count(*) >= 4),
        |nonedge AS (
        |  SELECT p.* FROM pairs p
        |  LEFT JOIN canon c ON c.u = p.u AND c.v = p.v
        |  WHERE c.u IS NULL)
        |SELECT n.u, n.v, CAST(n.cn AS BIGINT) AS cn,
        |  (n.cn * 1000000) // (du.d + dv.d - n.cn) AS jaccard_s, n.ra_s
        |FROM nonedge n
        |JOIN deg du ON du.node = n.u
        |JOIN deg dv ON dv.node = n.v""".stripMargin,

    // 2-iteration unroll; all integer math (// is DuckDB floor
    // division, identical to Spark's `div` on positive longs), so the
    // compare is hash-exact with no float tolerance
    "q_graph_pagerank" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 40.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS node, sum(r0.r // deg.d) AS s1
        |  FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
        |  GROUP BY 1),
        |r1 AS (
        |  SELECT n.node, 150000 + (85 * coalesce(c1.s1, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (
        |  SELECT e.dst AS node, sum(r1.r // deg.d) AS s2
        |  FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
        |  GROUP BY 1),
        |r2 AS (
        |  SELECT n.node, 150000 + (85 * coalesce(c2.s2, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN c2 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_s FROM r2""".stripMargin,

    // warm-start unroll: 2 cold iterations on the even-parity subgraph,
    // coalesce-to-scale re-init over the full node set, 1 warm
    // iteration on the full graph — the engine's two-phase history
    // replayed exactly
    "q_graph_pagerank_warm" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 40.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |eo AS (SELECT src, dst FROM e WHERE (src + dst) % 2 = 0),
        |no AS (SELECT src AS node FROM eo UNION SELECT dst FROM eo),
        |dgo AS (SELECT src, count(*) AS d FROM eo GROUP BY 1),
        |o0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM no),
        |oc1 AS (
        |  SELECT eo.dst AS node, sum(o0.r // dgo.d) AS s1
        |  FROM eo JOIN dgo USING (src) JOIN o0 ON o0.node = eo.src
        |  GROUP BY 1),
        |o1 AS (
        |  SELECT n.node, 150000 + (85 * coalesce(oc1.s1, 0)) // 100 AS r
        |  FROM no n LEFT JOIN oc1 USING (node)),
        |oc2 AS (
        |  SELECT eo.dst AS node, sum(o1.r // dgo.d) AS s2
        |  FROM eo JOIN dgo USING (src) JOIN o1 ON o1.node = eo.src
        |  GROUP BY 1),
        |o2 AS (
        |  SELECT n.node, 150000 + (85 * coalesce(oc2.s2, 0)) // 100 AS r
        |  FROM no n LEFT JOIN oc2 USING (node)),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |w0 AS (
        |  SELECT n.node, coalesce(o2.r, CAST(1000000 AS BIGINT)) AS r
        |  FROM nodes n LEFT JOIN o2 USING (node)),
        |wc1 AS (
        |  SELECT e.dst AS node, sum(w0.r // deg.d) AS s1
        |  FROM e JOIN deg USING (src) JOIN w0 ON w0.node = e.src
        |  GROUP BY 1),
        |w1 AS (
        |  SELECT n.node, 150000 + (85 * coalesce(wc1.s1, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN wc1 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_s FROM w1""".stripMargin,

    // personalized 2-iteration unroll: seed-only base term, zero init
    // off seeds — same exact integer arithmetic
    "q_graph_ppr" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 40.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |nodes AS (
        |  SELECT node, node % 97 = 0 AS is_seed FROM (
        |    SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT node, CASE WHEN is_seed THEN CAST(1000000 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS r FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS node, sum(r0.r // deg.d) AS s1
        |  FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
        |  GROUP BY 1),
        |r1 AS (
        |  SELECT n.node,
        |    CASE WHEN n.is_seed THEN 150000 ELSE 0 END +
        |      (85 * coalesce(c1.s1, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (
        |  SELECT e.dst AS node, sum(r1.r // deg.d) AS s2
        |  FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
        |  GROUP BY 1),
        |r2 AS (
        |  SELECT n.node,
        |    CASE WHEN n.is_seed THEN 150000 ELSE 0 END +
        |      (85 * coalesce(c2.s2, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN c2 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_s FROM r2""".stripMargin,

    // weighted 2-iteration unroll: (r*w) // sw replaces r // deg
    "q_graph_pagerank_weighted" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 40.0),
        |e AS (
        |  SELECT a.sk AS src, b.sk AS dst, count(*) AS w
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk
        |  GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, sum(w) AS sw FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS node, sum((r0.r * e.w) // deg.sw) AS s1
        |  FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
        |  GROUP BY 1),
        |r1 AS (
        |  SELECT n.node, 150000 + (85 * coalesce(c1.s1, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (
        |  SELECT e.dst AS node, sum((r1.r * e.w) // deg.sw) AS s2
        |  FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
        |  GROUP BY 1),
        |r2 AS (
        |  SELECT n.node, 150000 + (85 * coalesce(c2.s2, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN c2 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_s FROM r2""".stripMargin,

    // two unrolled peeling rounds: degrees over the full graph, then
    // over the subgraph induced by round-1 survivors
    "q_graph_kcore" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |a1 AS (SELECT src AS node FROM e GROUP BY 1 HAVING count(*) >= 3),
        |i2 AS (
        |  SELECT e.src, e.dst FROM e
        |  JOIN a1 x ON x.node = e.src
        |  JOIN a1 y ON y.node = e.dst),
        |a2 AS (SELECT src AS node FROM i2 GROUP BY 1 HAVING count(*) >= 3)
        |SELECT n.node, (a.node IS NOT NULL) AS in_core
        |FROM nodes n LEFT JOIN a2 a ON n.node = a.node""".stripMargin,

    // canonical x<y<z enumeration — each triangle contributes one tri
    // row and three corner credits, mirroring the oriented-wedge count
    "q_graph_triangles" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |canon AS (
        |  SELECT DISTINCT a.sk AS x, b.sk AS y
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk),
        |nodes AS (SELECT x AS node FROM canon UNION SELECT y FROM canon),
        |tri AS (
        |  SELECT c1.x AS a, c1.y AS b, c2.y AS c
        |  FROM canon c1
        |  JOIN canon c2 ON c2.x = c1.y
        |  JOIN canon c3 ON c3.x = c1.x AND c3.y = c2.y),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |cnt AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY 1)
        |SELECT n.node, CAST(coalesce(cnt.n_triangles, 0) AS BIGINT) AS n_triangles
        |FROM nodes n LEFT JOIN cnt USING (node)""".stripMargin,

    // same canonical triangle enumeration plus the symmetric-list degree;
    // cc_s is exact integral division (DuckDB // matches Spark div on
    // non-negative operands — the modularity-oracle precedent)
    "q_graph_clustering" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |canon AS (SELECT src AS x, dst AS y FROM e WHERE src < dst),
        |tri AS (
        |  SELECT c1.x AS a, c1.y AS b, c2.y AS c
        |  FROM canon c1
        |  JOIN canon c2 ON c2.x = c1.y
        |  JOIN canon c3 ON c3.x = c1.x AND c3.y = c2.y),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |cnt AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY 1)
        |SELECT d.node, d.deg,
        |  CAST(coalesce(cnt.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN d.deg >= 2
        |    THEN (coalesce(cnt.n_triangles, 0) * 2000000) // (d.deg * (d.deg - 1))
        |    ELSE 0 END AS BIGINT) AS cc_s
        |FROM deg d LEFT JOIN cnt USING (node)""".stripMargin,

    // converged peel unrolled past the fixture's convergence depth
    // (12 rounds at sf0.01) — the truss fixpoint is unique, so extra
    // rounds are no-ops
    "q_graph_ktruss" -> ktrussOracle(k = 6, depth = 16),

    // two chained capped recursive waves; the second's seed is the
    // first's (hops DESC, node ASC) argmax row
    "q_graph_diameter" ->
      """WITH RECURSIVE sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |walk1(node, d) AS (
        |  SELECT (SELECT min(src) FROM e), 0
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM walk1 w JOIN e ON e.src = w.node
        |  WHERE w.d < 30),
        |d1 AS (SELECT node, min(d) AS hops FROM walk1 GROUP BY 1),
        |far1 AS (SELECT node, hops FROM d1 ORDER BY hops DESC, node ASC LIMIT 1),
        |walk2(node, d) AS (
        |  SELECT node, 0 FROM far1
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM walk2 w JOIN e ON e.src = w.node
        |  WHERE w.d < 30),
        |d2 AS (SELECT node, min(d) AS hops FROM walk2 GROUP BY 1),
        |far2 AS (SELECT node, hops FROM d2 ORDER BY hops DESC, node ASC LIMIT 1)
        |SELECT (SELECT min(src) FROM e) AS anchor,
        |  f1.node AS far_node, CAST(f1.hops AS BIGINT) AS ecc_anchor,
        |  f2.node AS far2_node, CAST(f2.hops AS BIGINT) AS diameter_lb
        |FROM far1 f1 CROSS JOIN far2 f2""".stripMargin,

    // edge-degree pairs through the q_profile_corr sufficient-statistic
    // shape (HUGEINT sums, one fixed double expression at the end)
    "q_graph_assortativity" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY 1),
        |x AS (
        |  SELECT d1.deg AS a, d2.deg AS b
        |  FROM e JOIN deg d1 ON d1.node = e.src
        |  JOIN deg d2 ON d2.node = e.dst),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(a AS HUGEINT)) AS sa, sum(CAST(b AS HUGEINT)) AS sb,
        |    sum(CAST(a * a AS HUGEINT)) AS paa,
        |    sum(CAST(a * b AS HUGEINT)) AS pab,
        |    sum(CAST(b * b AS HUGEINT)) AS pbb
        |  FROM x),
        |p AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) * CAST(pab AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS cov,
        |    CAST(n AS DOUBLE) * CAST(paa AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS vi,
        |    CAST(n AS DOUBLE) * CAST(pbb AS DOUBLE) -
        |      CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS vj
        |  FROM st)
        |SELECT 'deg_src' AS col_a, 'deg_dst' AS col_b, n AS n_rows,
        |  CASE WHEN vi > 0.0 AND vj > 0.0
        |    THEN CAST(floor(cov / sqrt(vi) / sqrt(vj) * 1000000) AS BIGINT)
        |    ELSE NULL END AS corr_s
        |FROM p""".stripMargin,

    // per-seed capped recursive wave (the q_graph_bfs oracle with the
    // seed carried): min(d) per (seed, node), then the Wasserman–Faust
    // closeness over exact integer sums
    "q_graph_closeness" ->
      """WITH RECURSIVE sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |seeds AS (
        |  SELECT DISTINCT s_suppkey AS node FROM supplier
        |  WHERE s_acctbal >= 9000.0),
        |walk(seed, node, d) AS (
        |  SELECT node, node, 0 FROM seeds
        |  UNION
        |  SELECT w.seed, e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.d < 30),
        |dist AS (SELECT seed, node, min(d) AS d FROM walk GROUP BY 1, 2),
        |agg AS (
        |  SELECT seed AS node, CAST(count(*) AS BIGINT) AS n_reached,
        |    CAST(sum(d) AS BIGINT) AS sum_hops
        |  FROM dist GROUP BY 1),
        |nn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes FROM e)
        |SELECT a.node, a.n_reached, a.sum_hops,
        |  CAST(CASE WHEN a.sum_hops > 0
        |    THEN ((a.n_reached - 1) * (a.n_reached - 1) * 1000000)
        |      // (a.sum_hops * (nn.n_nodes - 1))
        |    ELSE 0 END AS BIGINT) AS closeness_s
        |FROM agg a CROSS JOIN nn""".stripMargin,

    // capped recursive-CTE wave: UNION dedups (node, d) pairs and the
    // d < 30 guard bounds cycle walks; min(d) over the wave is the
    // shortest-path length — the same 30-hop cap as the engine's
    // maxHops, though the graph's diameter sits far below both
    "q_graph_bfs" ->
      """WITH RECURSIVE sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |seeds AS (
        |  SELECT DISTINCT s_suppkey AS node FROM supplier
        |  WHERE s_acctbal >= 9000.0),
        |walk(node, d) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.d < 30)
        |SELECT node, CAST(min(d) AS BIGINT) AS hops FROM walk GROUP BY 1""".stripMargin,

    // weighted wave: (node, accumulated cost) pairs, UNION-deduped,
    // bounded by the 300-cost guard (max edge cost 9, so any true
    // shortest distance sits far below it); min over the wave is the
    // exact distance — same schedule-independence as hops
    "q_graph_sssp" ->
      """WITH RECURSIVE sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e0 AS (
        |  SELECT a.sk AS src, b.sk AS dst, count(*) AS w
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT src, dst, greatest(1, 10 - w) AS cost FROM e0),
        |seeds AS (
        |  SELECT DISTINCT s_suppkey AS node FROM supplier
        |  WHERE s_acctbal >= 9000.0),
        |walk(node, d) AS (
        |  SELECT node, CAST(0 AS BIGINT) FROM seeds
        |  UNION
        |  SELECT e.dst, w.d + e.cost FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.d + e.cost <= 300)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY 1""".stripMargin,

    // transitive closure by recursive CTE (UNION deduplicates, so the
    // recursion terminates at the reachability fixpoint); the component
    // label is least(self, min reachable) — exactly the star-contraction
    // result, independent of either engine's iteration order. The
    // incremental face must land on the same fixpoint, so both engine
    // queries share this oracle
    "q_graph_cc" -> ccClosureSql,
    "q_graph_cc_inc" -> ccClosureSql,

    // batch-1 labels via the same transitive-closure fixpoint as the CC
    // oracle (restricted to even part-keys), then the modularity terms
    // over the full edge set; both DIV numerators are non-negative so
    // DuckDB // matches Spark DIV exactly
    "q_graph_modularity" ->
      """WITH RECURSIVE cp AS (
        |  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk, l.l_suppkey AS sk
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_quantity >= 45.0),
        |ew AS (
        |  SELECT DISTINCT a.ck AS src, b.ck AS dst, a.pk AS pk
        |  FROM cp a JOIN cp b
        |    ON a.pk = b.pk AND a.sk = b.sk AND a.ck < b.ck),
        |full_e AS (SELECT DISTINCT src, dst FROM ew),
        |b1 AS (SELECT DISTINCT src, dst FROM ew WHERE pk % 2 = 0),
        |b1s AS (
        |  SELECT src, dst FROM b1
        |  UNION
        |  SELECT dst, src FROM b1),
        |reach(a, b) AS (
        |  SELECT src, dst FROM b1s
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN b1s e ON r.b = e.src),
        |compb AS (
        |  SELECT a AS node, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT src AS node FROM full_e
        |    UNION ALL SELECT dst FROM full_e)
        |  GROUP BY 1),
        |lab AS (
        |  SELECT d.node, coalesce(c.component, d.node) AS component, d.deg
        |  FROM deg d LEFT JOIN compb c ON c.node = d.node),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM full_e),
        |cn AS (
        |  SELECT component, CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(deg) AS BIGINT) AS degree_sum
        |  FROM lab GROUP BY 1),
        |intra AS (
        |  SELECT la.component AS component, CAST(count(*) AS BIGINT) AS intra_edges
        |  FROM full_e e
        |  JOIN lab la ON la.node = e.src
        |  JOIN lab lb ON lb.node = e.dst
        |  WHERE la.component = lb.component
        |  GROUP BY 1)
        |SELECT cn.component, cn.n_nodes,
        |  CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
        |  cn.degree_sum,
        |  (1000000 * coalesce(i.intra_edges, 0)) // m.m
        |    - (1000000 * cn.degree_sum * cn.degree_sum) // (4 * m.m * m.m)
        |    AS q_term_s
        |FROM cn LEFT JOIN intra i USING (component) CROSS JOIN m""".stripMargin,

    // SCC family: labels from the mutual-reachability DEFINITION
    // (forward closure ∩ backward closure) — schedule-independent, so
    // the O(n·m) closure is a valid oracle on the fixture even though
    // the engine's trim/color/peel never materializes it
    "q_graph_scc" -> (sccOraclePrefix +
      """
        |SELECT CAST(node AS BIGINT) AS node, CAST(scc AS BIGINT) AS scc
        |FROM slab""".stripMargin),

    "q_graph_reciprocity" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |e AS (
        |  SELECT DISTINCT a.sk AS src, b.sk AS dst
        |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk <> b.sk),
        |ke AS (
        |  SELECT src, dst FROM e WHERE (src * 7 + dst * 3) % 5 < 2),
        |r AS (
        |  SELECT k.src, k.dst FROM ke k
        |  JOIN ke m ON m.src = k.dst AND m.dst = k.src)
        |SELECT ne.n AS n_edges, nr.n AS n_reciprocal,
        |  (nr.n * 1000000) // ne.n AS recip_ppm
        |FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM ke) ne,
        |     (SELECT CAST(count(*) AS BIGINT) AS n FROM r) nr""".stripMargin,

    "q_graph_scc_inc" -> (sccOraclePrefix +
      """
        |SELECT CAST(node AS BIGINT) AS node, CAST(scc AS BIGINT) AS scc
        |FROM slab""".stripMargin),

    "q_graph_condensation" -> (sccOraclePrefix +
      """
        |SELECT CAST(la.scc AS BIGINT) AS src_scc, CAST(lb.scc AS BIGINT) AS dst_scc,
        |  CAST(count(*) AS BIGINT) AS n_edges
        |FROM de JOIN slab la ON de.src = la.node JOIN slab lb ON de.dst = lb.node
        |WHERE la.scc <> lb.scc GROUP BY 1, 2""".stripMargin),

    // path-count enumeration: each fw/bw row IS one distinct path
    // (UNION ALL recursion), so count(*) per endpoint = the path count.
    // cdn is DISTINCT-over-UNION-ALL, not a bare UNION: under WITH
    // RECURSIVE, DuckDB iterates ANY two-branch UNION CTE as a
    // recursive union WITHOUT cross-iteration dedup, which here seeded
    // duplicate sources into the (dedup-free, deliberately) UNION ALL
    // path recursion and inflated every count. The other UNION CTEs in
    // this family survive only because a GROUP BY or dedup-UNION
    // recursion downstream masks the duplicates.
    "q_graph_dag_paths" -> (sccOraclePrefix +
      """,
        |cd AS (
        |  SELECT DISTINCT la.scc AS src, lb.scc AS dst
        |  FROM de JOIN slab la ON de.src = la.node JOIN slab lb ON de.dst = lb.node
        |  WHERE la.scc <> lb.scc),
        |cdn AS (SELECT DISTINCT n FROM
        |  (SELECT src AS n FROM cd UNION ALL SELECT dst FROM cd)),
        |srcs AS (SELECT n FROM cdn WHERE n NOT IN (SELECT dst FROM cd)),
        |snks AS (SELECT n FROM cdn WHERE n NOT IN (SELECT src FROM cd)),
        |fw(n) AS (
        |  SELECT n FROM srcs
        |  UNION ALL
        |  SELECT cd.dst FROM fw JOIN cd ON cd.src = fw.n),
        |bw(n) AS (
        |  SELECT n FROM snks
        |  UNION ALL
        |  SELECT cd.src FROM bw JOIN cd ON cd.dst = bw.n),
        |f AS (SELECT n, CAST(count(*) AS BIGINT) AS f_paths FROM fw GROUP BY n),
        |g AS (SELECT n, CAST(count(*) AS BIGINT) AS g_paths FROM bw GROUP BY n)
        |SELECT CAST(f.n AS BIGINT) AS node, f.f_paths, g.g_paths,
        |  CAST(f.f_paths * g.g_paths AS BIGINT) AS through_paths
        |FROM f JOIN g ON f.n = g.n""".stripMargin),

    "q_graph_dag_longest" -> (sccOraclePrefix +
      """,
        |cd AS (
        |  SELECT DISTINCT la.scc AS src, lb.scc AS dst
        |  FROM de JOIN slab la ON de.src = la.node JOIN slab lb ON de.dst = lb.node
        |  WHERE la.scc <> lb.scc),
        |cdn AS (SELECT src AS n FROM cd UNION SELECT dst FROM cd),
        |paths(n, d) AS (
        |  SELECT n, 0 FROM cdn
        |  UNION
        |  SELECT cd.dst, p.d + 1 FROM paths p JOIN cd ON cd.src = p.n)
        |SELECT CAST(n AS BIGINT) AS node, CAST(max(d) AS BIGINT) AS depth
        |FROM paths GROUP BY n""".stripMargin)
  )

  /** Shared oracle prelude of the SCC family: the directed fixture
    * (mirrors [[directedCoSupply]] exactly), its closure, and the
    * mutual-reachability labelling with component-minimum labels.
    */
  private lazy val sccOraclePrefix: String =
      """WITH RECURSIVE spx AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 49.0),
        |undx AS (
        |  SELECT DISTINCT a.sk AS u, b.sk AS v
        |  FROM spx a JOIN spx b ON a.pk = b.pk AND a.sk < b.sk),
        |de AS (
        |  SELECT CASE WHEN (u + v) % 2 = 0 THEN u ELSE v END AS src,
        |         CASE WHEN (u + v) % 2 = 0 THEN v ELSE u END AS dst
        |  FROM undx WHERE (u * 7 + v * 3) % 5 = 0),
        |dreach(a, b) AS (
        |  SELECT src, dst FROM de
        |  UNION
        |  SELECT r.a, de.dst FROM dreach r JOIN de ON r.b = de.src),
        |dnodes AS (SELECT src AS n FROM de UNION SELECT dst FROM de),
        |mut AS (
        |  SELECT r1.a AS v, r1.b AS u
        |  FROM dreach r1 JOIN dreach r2 ON r1.a = r2.b AND r1.b = r2.a),
        |slab AS (
        |  SELECT n.n AS node, least(n.n, coalesce(min(m.u), n.n)) AS scc
        |  FROM dnodes n LEFT JOIN mut m ON m.v = n.n GROUP BY n.n)""".stripMargin

  private lazy val ccClosureSql: String =
      """WITH RECURSIVE cp AS (
        |  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk, l.l_suppkey AS sk
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_quantity >= 45.0),
        |e0 AS (
        |  SELECT DISTINCT a.ck AS src, b.ck AS dst
        |  FROM cp a JOIN cp b
        |    ON a.pk = b.pk AND a.sk = b.sk AND a.ck < b.ck),
        |e AS (
        |  SELECT src, dst FROM e0
        |  UNION
        |  SELECT dst, src FROM e0),
        |reach(a, b) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |comp AS (
        |  SELECT a AS node, least(a, min(b)) AS component
        |  FROM reach GROUP BY a)
        |SELECT node, CAST(component AS BIGINT) AS component FROM comp""".stripMargin
}
