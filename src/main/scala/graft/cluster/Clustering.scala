package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, Schemas}

/** Chinese Whispers label propagation over the defragmented piece graph
  * (SURVEY.md §2.10; reference: chinese_label_propagation.py:58-200,
  * algorithm doc assets/README.md:225-258).
  *
  * The graph is relational: `adjacency_list(piece_id, other_piece_ids)`.
  * Each node keeps a vote multiset `cluster_counts: map<cluster,votes>`
  * over its neighbours' current clusters; every iteration each *active*
  * node adopts the argmax-vote cluster (uniform random tie-break, applied
  * with probability `updateProbability`), and only the *delta* of changed
  * votes is propagated to neighbours — nodes whose vote map did not
  * change are never touched. This delta formulation is what makes the
  * loop feasible at 10⁸+ nodes (reference scales knobs for >5×10⁸
  * active rows).
  *
  * Deliberate deviations from the reference (SURVEY.md §7.3):
  *  - randomness is a HASH of (piece_id, seed+iteration), not `rand()`:
  *    Spark's rand — even seeded — derives its stream from the partition
  *    index, so AQE re-coalescing, task retry, or any row-placement
  *    change redraws every node's tie-break and the "same seed" run
  *    clusters differently (observed as run-to-run artifact drift). A
  *    per-node hash is partition-layout-independent: same seed → same
  *    clustering, on any cluster, after any retry. Pass a different
  *    seed per run for production parity.
  *  - lineage truncation is a [[graft.core.Fixpoint.Checkpointer]]: a
  *    local checkpoint by default, or, for a caller that owns a
  *    directory to resume from, the durable parquet round-trip (the
  *    reference's alternating Hive checkpoint tables).
  *  - vote deltas are built with explode + sum instead of a nested
  *    map_concat fold — same result, but the aggregation stays in
  *    whole-stage codegen instead of a per-row O(k²) map rebuild.
  *
  * Round invariant: one message exchange per round. The state row
  * carries its node's adjacency (`other_piece_ids`, so the checkpoint
  * carries it too), the pick is a projection over that row, the changed
  * rows' ±1 vote deltas are repartitioned once on the receiving
  * piece_id and both aggregations run on that exchange, and one left
  * join folds the deltas back into the picked state. The exchange is
  * AQE-planned, so its partition count follows the round's actual
  * message volume as the active frontier shrinks (the dynamic form of
  * the reference's hand switch of shuffle width at 512M active rows,
  * chinese_label_propagation.py:140-143).
  */
object Clustering {

  /** Symmetrized adjacency list from defrag edges (reference:
    * chinese_label_propagation.py:32-50). Output:
    * (piece_id, other_piece_ids array<long>).
    */
  def adjacencyList(defragTextreuses: DataFrame): DataFrame =
    defragTextreuses
      .select(col("piece1_id").as("piece_id"), col("piece2_id").as("other_piece_id"))
      .unionAll(defragTextreuses
        .select(col("piece2_id").as("piece_id"), col("piece1_id").as("other_piece_id")))
      // canonicalize: drop self-edges and duplicate orientations so the
      // initial vote map (map_from_entries) never sees a duplicate key —
      // spark.sql.mapKeyDedupPolicy=EXCEPTION would throw at runtime
      .where(col("piece_id") =!= col("other_piece_id"))
      .distinct()
      .groupBy("piece_id")
      .agg(collect_list("other_piece_id").as("other_piece_ids"))

  /** Iteration-0 state: every node votes its neighbours, clusters itself
    * (reference: chinese_label_propagation.py:81-87). The row keeps its
    * adjacency, so a round needs no join to find its messages' targets.
    * Columns: [[graft.core.Schemas.clusterState]].
    */
  def initialState(adjacency: DataFrame): DataFrame =
    adjacency.select(
      col("piece_id"),
      col("piece_id").as("cluster_id"),
      map_from_entries(transform(col("other_piece_ids"),
        n => struct(n.as("key"), lit(1L).as("value")))).as("cluster_counts"),
      col("other_piece_ids"),
      lit(true).as("active"))

  /** Argmax vote with HASH-MIN uniform tie-break: fold over the vote
    * map keeping (best cluster, best votes, ties seen, best tie hash);
    * among max-vote clusters the winner is the one minimizing
    * xxhash64(cluster, salt) — pseudorandom (so the Chinese Whispers
    * tie contract stays uniform-ish) yet a pure function of
    * (cluster, node, round), which makes the fold ORDER-INDEPENDENT.
    * That matters because the vote map's entry order comes from
    * collect_list and varies with partition layout; the earlier
    * reservoir formulation ("keep the k-th tie with prob 1/k") read
    * entries in that order and re-clustered differently run to run.
    * Returns struct(cluster_id, tied) — `tied` keeps the node active.
    */
  private[graft] def pickCluster(votes: Column, salt: Column): Column =
    aggregate(
      map_entries(votes),
      struct(lit(-1L).as("c"), lit(-1L).as("n"), lit(0L).as("ties"),
        lit(Long.MaxValue).as("h")),
      (acc, e) => {
        val k = e.getField("key")
        val v = e.getField("value")
        val h = xxhash64(k, salt)
        when(v > acc.getField("n"),
            struct(k.as("c"), v.as("n"), lit(1L).as("ties"), h.as("h")))
          .when(v === acc.getField("n"),
            when(h < acc.getField("h"),
                struct(k.as("c"), acc.getField("n").as("n"),
                  (acc.getField("ties") + lit(1L)).as("ties"), h.as("h")))
              .otherwise(struct(acc.getField("c").as("c"),
                acc.getField("n").as("n"),
                (acc.getField("ties") + lit(1L)).as("ties"),
                acc.getField("h").as("h"))))
          .otherwise(acc)
      },
      acc => struct(acc.getField("c").as("cluster_id"),
        (acc.getField("ties") > 1L).as("tied")))

  /** One propagation round: state at `iteration` → state at
    * `iteration + 1`, through one exchange (see the round invariant in
    * the object doc).
    */
  def step(state: DataFrame, seed: Long, iteration: Int,
      updateProbability: Double = 0.9): DataFrame = {
    // the update coin is a per-node uniform hashed from (piece_id,
    // round): partition-layout-independent (see the header note —
    // seeded rand() still draws from the partition index); the
    // tie-break stream inside pickCluster salts per (cluster, node,
    // round), so the two are independent
    val updateCoin =
      pmod(xxhash64(col("piece_id"), lit(seed + iteration), lit(1)),
        lit(1000000000L)).cast("double") / 1e9
    // narrow pick: only active rows vote; inactive ones keep their
    // cluster and neither update nor stay tied
    val picked = state
      .select(col("*"), when(col("active"), pickCluster(col("cluster_counts"),
        xxhash64(col("piece_id"), lit(seed + iteration)))).as("pick"))
      .select(col("piece_id"), col("cluster_id").as("old_cluster_id"),
        col("cluster_counts"), col("other_piece_ids"),
        col("pick.cluster_id").as("new_cluster_id"),
        coalesce(col("pick.tied"), lit(false)).as("tied"),
        coalesce(col("active") && (col("pick.cluster_id") =!= col("cluster_id")) &&
          (updateCoin <= updateProbability), lit(false)).as("do_update"))

    // Vote deltas at each neighbour of a changed node: -1 for the old
    // cluster, +1 for the new, summed over all changed neighbours. The
    // one repartition on the receiving piece_id serves both aggregations.
    val deltas = picked
      .filter(col("do_update"))
      .select(explode(col("other_piece_ids")).as("piece_id"),
        col("old_cluster_id"), col("new_cluster_id"))
      .select(col("piece_id"), explode(array(
        struct(col("old_cluster_id").as("cluster"), lit(-1L).as("d")),
        struct(col("new_cluster_id").as("cluster"), lit(1L).as("d")))).as("e"))
      .repartition(col("piece_id"))
      .groupBy(col("piece_id"), col("e.cluster").as("cluster"))
      .agg(sum("e.d").as("d"))
      .groupBy("piece_id")
      .agg(map_from_entries(collect_list(struct(col("cluster"), col("d"))))
        .as("count_updates"))

    picked
      .join(deltas, Seq("piece_id"), "left")
      .select(
        col("piece_id"),
        when(col("do_update"), col("new_cluster_id"))
          .otherwise(col("old_cluster_id")).as("cluster_id"),
        when(col("count_updates").isNull, col("cluster_counts"))
          .otherwise(map_filter(
            map_zip_with(col("cluster_counts"), col("count_updates"),
              (_, v1, v2) => coalesce(v1, lit(0L)) + coalesce(v2, lit(0L))),
            (_, v) => v =!= 0L)).as("cluster_counts"),
        col("other_piece_ids"),
        (col("tied") || col("count_updates").isNotNull).as("active"))
  }

  /** Run label propagation to convergence (no active nodes) or maxIter.
    * Returns clustered_defrag_pieces(piece_id, cluster_id) (reference:
    * downstream_clusters.py:13-29).
    *
    * `resumeFrom = Some((state, k))` restarts a dead run from the
    * checkpointed state of iteration k (see
    * [[graft.core.Fixpoint.latestCheckpoint]]): the
    * loop continues at iteration k with the SAME per-node
    * hash(piece_id, seed + iteration) draws, so a killed-then-resumed
    * seeded run produces the same result as an unbroken one
    * (ClusteringSpec) — exactly, on any partition layout. A
    * multi-day production run that dies at iteration 60 of 100 resumes
    * from 60 instead of starting over. The resumed state must have every
    * column of [[graft.core.Schemas.clusterState]]; a missing one throws
    * IllegalArgumentException naming it.
    */
  def propagate(adjacency: DataFrame, seed: Long = 42L, maxIter: Int = 100,
      updateProbability: Double = 0.9,
      checkpointer: Option[Fixpoint.Checkpointer] = None,
      resumeFrom: Option[(DataFrame, Int)] = None): DataFrame = {
    val checkpoint = checkpointer.getOrElse(Fixpoint.localCheckpointer)
    def round(df: DataFrame, i: Int): (DataFrame, Long) =
      Fixpoint.observedRound(checkpoint, "graft_cw_active", i, df,
        sum(when(col("active"), 1L).otherwise(0L)))
    val (start, active, k) = resumeFrom match {
      case Some((st, k)) =>
        // a checkpoint written before the state carried its adjacency
        // would resume with no messages to send: refuse it by name
        for (f <- Schemas.clusterState.fieldNames)
          require(st.columns.contains(f),
            s"resume state lacks column `$f` (has ${st.columns.mkString(", ")})")
        // one count over the already-durable checkpoint, once per resume
        (st, st.filter(col("active")).count(), k)
      case None =>
        val (st, act) = round(initialState(adjacency), 0)
        (st, act, 0)
    }
    // bounded: iteration maxIter stops the loop, it does not throw
    Fixpoint.iterate("Chinese Whispers", maxIter - k, (start, active > 0 && k < maxIter)) {
      (state, r) =>
        val iter = k + r
        val (st, act) = round(step(state, seed, iter - 1, updateProbability), iter)
        (st, act > 0 && iter < maxIter)
    }.select("piece_id", "cluster_id")
  }
}
