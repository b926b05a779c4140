package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs and authorities, Kleinberg) over a directed edge list —
  * the mutual-reinforcement companion to [[PageRank]]: a good hub
  * points at good authorities, a good authority is pointed at by good
  * hubs. On a bipartite interaction graph (buyer→seller, doc→cited
  * source, crawler→site) the two scores separate the sides: hubs rank
  * the pointing side, authorities the pointed-at side — the natural
  * "which sources does the well-curated half of the corpus rely on"
  * signal. The reference has no rank operator (its only iterative
  * graph op is Chinese Whispers label propagation,
  * `/root/reference/etl_textreuse/assets/chinese_label_propagation.py`);
  * this is an extension in the PageRank family.
  *
  * All arithmetic is INTEGER (scores in `scale`-units, floor
  * division), so results are exact and engine/partitioning/order
  * independent — the PageRank contract. HITS needs a normalization
  * each half-step (unnormalized scores grow without bound); the
  * classical L2 norm is irrational, so this uses the equally standard
  * L∞ (max) normalization, which is closed under integer arithmetic:
  *
  *   hub_0(u)  = scale
  *   auth_i(v) = Σ_{u→v} hub_{i-1}(u),   then  auth := (auth*scale) div max(auth)
  *   hub_i(u)  = Σ_{u→v} auth_i(v),      then  hub  := (hub*scale)  div max(hub)
  *
  * After each normalization the best node holds exactly `scale` and
  * every score is a floor-scaled fraction of the max — directly
  * comparable across iterations and runs.
  *
  * Scale shape: per half-step one equi-join edges⋈scores on a node id
  * + one partial-aggregated groupBy on the other endpoint — shuffles
  * carry (node, score) pairs only. The max attaches as a designed
  * 1-row broadcast (the [[Modularity]] pattern). The edge list is
  * persisted across iterations; each half-step localCheckpoints its
  * raw scores (consumed twice: max + rescale), which doubles as the
  * per-round lineage truncation.
  *
  * Fixed-point headroom: a raw half-step sum is ≤ degree·scale, and
  * the normalization multiplies by `scale` before dividing — overflow
  * needs degree·scale² > 2⁶³, i.e. max in-degree beyond ~9e6 at the
  * default scale. The cliff is GUARDED: the normalization's 1-row max
  * raise_errors past the bound (naming the remediation — lower
  * `scale`, 1e3 still separates ranks) instead of silently wrapping
  * the rescale — the [[Modularity]] guard pattern.
  */
object Hits {

  /** @param edges directed edges with `src` and `dst` columns
    * @return (node, hub_s, auth_s) in scale-units; nodes with no
    *         out-edges have hub_s 0, with no in-edges auth_s 0
    */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale > 0, s"scale must be positive, got $scale")
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // normalize to L∞=scale: the max is a 1-row designed broadcast;
    // greatest(.,1) guards the all-zero column (possible only when the
    // edge list is empty, where every score is already 0). The raw
    // scores take a LAZY localCheckpoint (Fixpoint.relax's merge): the
    // max aggregate's broadcast-build job materializes the partitions,
    // the rescale re-reads them; the eager variant paid one extra
    // scheduled job per half-step for the same bytes. Unmaterialized
    // double consumption would compound exponentially across half-steps
    // (each half-step's lineage embeds the previous one twice —
    // 2^(2·iters) recomputes; measured 10.2 s → 1.3 s at sf0.1 for
    // iters = 2), so the checkpoint itself stays load-bearing.
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val s = scores.localCheckpoint(false)
      // max·scale must fit 2⁶³−1 or the rescale wraps — guard the
      // 1-row aggregate (costs nothing; fires only past the cliff)
      val maxScore = Long.MaxValue / scale
      val mx = s.groupBy().agg(max(col(c)).as("mx"))
        .select(when(col("mx").isNull || col("mx") <= maxScore, col("mx"))
          .otherwise(raise_error(concat(
            lit(s"hits: half-step max "), col("mx").cast("string"),
            lit(s" exceeds the fixed-point headroom ($maxScore at " +
              s"scale=$scale) — lower `scale`")))).as("mx"))
      s.crossJoin(broadcast(mx))
        .select(col("node"), expr(s"($c * $scale) DIV greatest(mx, 1L)").as(c))
    }

    // SPARSE scores through the loop: a node absent from a score
    // table scores 0, and zeros are inert everywhere the loop looks —
    // they add nothing to a half-step sum, and they can never carry the
    // L∞ max (the previous max-holder keeps a positive reverse-edge
    // contribution alive). A dense table would left-join `nodes` and
    // coalesce zeros in EVERY half-step — two joins per iteration
    // shuffling |V| rows just to carry inert zeros; the dense fill
    // happens once, at the end. Half-step 1 is join-free: hub_0 is the
    // constant `scale`, so auth_1's raw sum is scale·indegree — one
    // partial-aggregated groupBy over the edge list.
    var auths = normalized(
      e.groupBy(col("dst").as("node"))
        .agg((count(lit(1)) * scale).as("auth_s")),
      "auth_s")
    var hubs: DataFrame = null
    for (i <- 1 to iters) {
      if (i > 1) {
        val authRaw = e
          .join(hubs.select(col("node").as("src"), col("hub_s")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum(col("hub_s")).as("auth_s"))
        auths = normalized(authRaw, "auth_s")
      }
      val hubRaw = e
        .join(auths.select(col("node").as("dst"), col("auth_s")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("auth_s")).as("hub_s"))
      hubs = normalized(hubRaw, "hub_s")
    }
    val out = nodes
      .join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub_s"), lit(0L)).as("hub_s"),
        coalesce(col("auth_s"), lit(0L)).as("auth_s"))
      .localCheckpoint()
    e.unpersist()
    nodes.unpersist()
    out
  }
}
