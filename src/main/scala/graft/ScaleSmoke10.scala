package graft

import graft.core.GraftSession

/** Second scale decade for the ITERATIVE operator family: sf1 → sf10
  * (10× and 100× of the driver's sf0.1 testdata, both synthesized with
  * [[ScaleSmoke.generate]]'s key-shifted replication). [[ScaleSmoke]]
  * proves one decade for every expensive query; the 100× claim for the
  * iterative fixpoints rested on that single decade, and their cost
  * model is the one place where a second decade genuinely adds
  * information — round counts must stay logarithmic (CC) or fixed
  * (Chinese Whispers) while per-round volume grows 10×, and the
  * delta-propagation ratio observed at sf1 (~3× on 11.4× edges,
  * SCALE.md) needed a second point to be read as a curve rather than a
  * replica-density artifact.
  *
  * Targets: the propagate/contract family plus the winnow pair join
  * (the VERDICT r8 watchlist): q_domain_cluster, q_graph_cc,
  * q_dedup_groups_cc, q_text_winnow_pairs.
  *
  * Usage: SPARK_DRIVER_MEM=64g sbt "runMain graft.ScaleSmoke10"
  * (generation writes ~60M-row tables under /tmp/graft_sf10). Bound:
  * sf10 ≤ 10× sf1 + 2 s, same contract as ScaleSmoke; exits 1 on FAIL.
  * Results are recorded in SCALE.md.
  */
object ScaleSmoke10 {

  val smokeQueries: Seq[String] = Seq(
    "q_domain_cluster", "q_graph_cc", "q_dedup_groups_cc",
    "q_text_winnow_pairs",
    // round-10 rider (VERDICT r9 item 7): the entity-resolution
    // composition rode sf1 at 2.32× — the highest passing ratio in
    // SCALE.md — because the sorted-neighborhood verify stage's pair
    // volume tracks window × corpus; the second decade confirms the
    // verify quadratic stays bounded by the df/window drop, not corpus²
    "q_pipeline_entities",
    // late round-10 rider: the SCC peel — sf0.1→sf1 ran FASTER at 10×
    // (round-latency-bound, rounds saturate with SCC diameter); the
    // second decade is where per-round volume finally outgrows the
    // latency floor and the cost model must hold
    "q_graph_scc",
    // round-11 rider (VERDICT r10 item 6): the condensation path-count
    // centrality — two sum-propagation waves whose round count is DAG
    // depth (saturates under replication) while per-round volume grows
    // with the edge set; the decade separates the two regimes the same
    // way scc's does
    "q_graph_dag_paths",
    // round-12 riders (VERDICT r11 item 9): the temporal-reach pair —
    // the broadcast-gated face and its forced shuffle-path twin. The
    // shuffle fallback is the 100 TB hot-wave posture; per-replica
    // event-time shifts keep contact volume linear in replicas, so the
    // decade measures the ENGINE's frontier-join scaling (per-round
    // cost must track frontier-adjacent contacts; the hop count
    // saturates with the per-replica contact diameter), not a
    // co-occurrence density artifact
    "q_events_temporal_reach", "q_events_temporal_reach_shuffle",
    // round-13 riders (VERDICT r12 item 8): the HTML/URL family rode
    // only the first decade — one rider each at sf1→sf10 confirms the
    // single-pass scanner stays scan-bound and the URL dedup stays
    // one-shuffle at 100× the base corpus. html_extract is the widest
    // map-only scan; block_density adds the second framed scan + the
    // explode; dedup_url is the groupBy+join-back shape over the
    // canonical key
    "q_text_html_extract", "q_text_html_block_density", "q_dedup_url")

  /** The registry stages the smoke faces consume, each warmed with the
    * upstream stages its builder reads: pieces (cluster), co-supply edges
    * (scc/dag_paths), co-purchase edges (cc), dedup pairs (groups_cc),
    * verified matches (entities). Warming the whole list is a disk kill
    * at sf10: the book reception chain, consumed by no smoke face, alone
    * spilled ~65 GB of shuffle (clusters saturate mod 500 while pieces
    * grow 100x, so its per-cluster expansion joins carry 120M-row sides).
    */
  private val warmStages: Seq[String] = Seq("domain.pieces", "graph.co_supply_49",
    "graph.co_purchase", "dedup.pairs", "dedup.verified_30")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mid = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val big = if (args.length > 2) args(2) else "/tmp/graft_sf10"
    val spark = GraftSession.local(cores = 32, shufflePartitions = 32,
      appName = "graft-scale-smoke-10")
    ScaleSmoke.ensure(spark, base, mid, replicas = 10, "scale10")
    ScaleSmoke.ensure(spark, base, big, replicas = 100, "scale10")
    val failed = ScaleSmoke.decade(spark, "scale10", "scale_smoke_10", smokeQueries,
      ScaleSmoke.Scale(mid, "sf1", "sf1"), ScaleSmoke.Scale(big, "sf10", "sf10"),
      dir => warmStages.foreach { n =>
        println(s"[scale10] prebuild $n @ $dir")
        graft.queries.QueryCaches.prebuild(spark, dir, n)
        // ContextCleaner reclaims superseded shuffle files only on a JVM
        // GC, and the sf10 chain builds over 60M-row inputs otherwise
        // accumulate dead spill across steps
        System.gc()
      })
    graft.queries.QueryCaches.clearAll()
    spark.stop()
    if (failed) sys.exit(1)
  }
}
