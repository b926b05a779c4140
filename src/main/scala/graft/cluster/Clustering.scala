package graft.cluster

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  *    clusters differently (observed as round-to-round artifact drift
  *    before round 9). A per-node hash is partition-layout-independent:
  *    same seed → same clustering, on any cluster, after any retry.
  *    Pass a different seed per run for production parity.
  *  - lineage truncation is pluggable (`checkpoint`): parquet round-trip
  *    in production (equivalent to the reference's alternating Hive
  *    checkpoint tables), `localCheckpoint` by default for tests.
  *  - vote deltas are built with explode + sum instead of a nested
  *    map_concat fold — same result, but the aggregation stays in
  *    whole-stage codegen instead of a per-row O(k²) map rebuild.
  *
  * Scale notes: the static adjacency side should be bucketed by piece_id
  * (reference: bucketBy(256), S5) so the per-iteration join does not
  * reshuffle it; pass `adjacency` read from a bucketed table to get that
  * for free. State joins hash-partition on piece_id every iteration —
  * with AQE on, partition counts adapt to the shrinking active set.
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
    * (reference: chinese_label_propagation.py:81-87).
    */
  def initialState(adjacency: DataFrame): DataFrame =
    adjacency.select(
      col("piece_id"),
      col("piece_id").as("cluster_id"),
      map_from_entries(transform(col("other_piece_ids"),
        n => struct(n.as("key"), lit(1L).as("value")))).as("cluster_counts"),
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
  private def pickCluster(votes: Column, salt: Column): Column =
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

  /** One propagation step: (state, adjacency, iteration) → (new state,
    * persisted intermediate). The intermediate (`picked`) is persisted
    * MEMORY_AND_DISK because the new state references it twice; the
    * caller MUST unpersist it once the new state has been checkpointed
    * (the reference unpersists per-iteration,
    * chinese_label_propagation.py:193).
    */
  def step(state: DataFrame, adjacency: DataFrame, seed: Long, iteration: Int,
      updateProbability: Double = 0.9): (DataFrame, DataFrame) = {
    // the update coin is a per-node uniform hashed from (piece_id,
    // round): partition-layout-independent (see the header note —
    // seeded rand() still draws from the partition index); the
    // tie-break stream inside pickCluster salts per (cluster, node,
    // round), so the two are independent
    val updateCoin =
      pmod(xxhash64(col("piece_id"), lit(seed + iteration), lit(1)),
        lit(1000000000L)).cast("double") / 1e9
    val picked = state
      .filter(col("active"))
      .select(col("piece_id"), col("cluster_id").as("old_cluster_id"),
        pickCluster(col("cluster_counts"),
          xxhash64(col("piece_id"), lit(seed + iteration))).as("pick"))
      .select(col("piece_id"), col("old_cluster_id"),
        col("pick.cluster_id").as("new_cluster_id"), col("pick.tied").as("tied"))
      .withColumn("do_update",
        (col("old_cluster_id") =!= col("new_cluster_id")) &&
          (updateCoin <= updateProbability))
      .filter(col("tied") || col("do_update"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Vote deltas at each neighbour of a changed node: -1 for the old
    // cluster, +1 for the new, summed over all changed neighbours.
    val deltas = picked
      .filter(col("do_update"))
      .join(adjacency, "piece_id")
      .select(explode(col("other_piece_ids")).as("piece_id"),
        col("old_cluster_id"), col("new_cluster_id"))
      .select(col("piece_id"), explode(array(
        struct(col("old_cluster_id").as("cluster"), lit(-1L).as("d")),
        struct(col("new_cluster_id").as("cluster"), lit(1L).as("d")))).as("e"))
      .groupBy(col("piece_id"), col("e.cluster").as("cluster"))
      .agg(sum("e.d").as("d"))
      .groupBy("piece_id")
      .agg(map_from_entries(collect_list(struct(col("cluster"), col("d"))))
        .as("count_updates"))

    val changed = picked.select("piece_id", "do_update", "new_cluster_id", "tied")
    val next = state
      .join(changed, Seq("piece_id"), "left")
      .join(deltas, Seq("piece_id"), "left")
      .select(
        col("piece_id"),
        when(coalesce(col("do_update"), lit(false)), col("new_cluster_id"))
          .otherwise(col("cluster_id")).as("cluster_id"),
        when(col("count_updates").isNull, col("cluster_counts"))
          .otherwise(map_filter(
            map_zip_with(col("cluster_counts"), col("count_updates"),
              (_, v1, v2) => coalesce(v1, lit(0L)) + coalesce(v2, lit(0L))),
            (_, v) => v =!= 0L)).as("cluster_counts"),
        (coalesce(col("tied"), lit(false)) || col("count_updates").isNotNull)
          .as("active"))
    (next, picked)
  }

  /** Pluggable lineage truncation between iterations. */
  type Checkpointer = (DataFrame, Int) => DataFrame

  /** localCheckpoint-based truncation. CAUTION: localCheckpoint cuts the
    * execution lineage but the resulting LogicalRDD carries the ORIGIN
    * plan's statistics forward, so sizeInBytes estimates compound
    * multiplicatively across iterations — enough iterations overflow
    * Catalyst's BigInt stats ("BigInteger would overflow supported
    * range"). Prefer the parquet round-trip (the reference's scheme),
    * which resets stats to real file sizes every iteration.
    */
  val localCheckpointer: Checkpointer = (df, _) => df.localCheckpoint()

  /** Hybrid truncation: localCheckpoint through round `localRounds`,
    * durable parquet after. The stats-compounding hazard
    * localCheckpointer documents is multiplicative in ROUND COUNT, so
    * a bounded prefix of local rounds is safe — and for loops that
    * usually converge within the prefix (k-core peels: a handful of
    * rounds unless the graph is one long tendril) it removes the
    * common case's per-round parquet write+read while keeping the
    * durable scheme exactly where the unbounded tail begins.
    */
  def hybridCheckpointer(dir: String, localRounds: Int = 8): Checkpointer = {
    val durable = parquetCheckpointer(dir)
    (df, i) => if (i <= localRounds) df.localCheckpoint() else durable(df, i)
  }

  /** Durable alternating checkpoint, the reference's scheme (reference:
    * chinese_label_propagation.py:189-197): write parquet, read back
    * with the written schema (which skips Spark's schema-inference job).
    * A `LATEST_ITER` marker is committed AFTER the table is durable —
    * written to a temp name and RENAMED into place (atomic on
    * HDFS/posix), both through the Hadoop filesystem of `dir`, so the
    * scheme works on hdfs:// and s3a:// checkpoint dirs and a crash at
    * any point leaves either the previous marker or the new one, never
    * a partial file. The alternating two-table layout guarantees the
    * marked table is never the one a crashed write half-overwrote.
    */
  def parquetCheckpointer(dir: String): Checkpointer = (df, i) => {
    val path = s"$dir/clusters_counts_${i % 2}"
    df.write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    val marker = new org.apache.hadoop.fs.Path(s"$dir/LATEST_ITER")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.LATEST_ITER.tmp")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(i.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(marker, false)
    require(fs.rename(tmp, marker), s"could not commit checkpoint marker $marker")
    spark.read.schema(df.schema).parquet(path)
  }

  /** Scan a [[parquetCheckpointer]] directory for the last completed
    * iteration: (state at that iteration, iteration number), or None if
    * no iteration ever completed. Feed the result to
    * `propagate(resumeFrom = ...)` to restart a dead run where it
    * stopped instead of from iteration 0 — the reference does the same
    * manually by re-pointing its `iter` variable at the alternating
    * checkpoint tables (chinese_label_propagation.py:75-77; restart
    * guidance assets/README.md:250-251).
    */
  def latestCheckpoint(spark: SparkSession, dir: String): Option[(DataFrame, Int)] = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/LATEST_ITER")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      val i = text.toInt
      Some((spark.read.parquet(s"$dir/clusters_counts_${i % 2}"), i))
    }
  }

  /** Run label propagation to convergence (no active nodes) or maxIter.
    * Returns clustered_defrag_pieces(piece_id, cluster_id) (reference:
    * downstream_clusters.py:13-29).
    *
    * `resumeFrom = Some((state, k))` restarts a dead run from the
    * checkpointed state of iteration k (see [[latestCheckpoint]]): the
    * loop continues at iteration k with the SAME per-node
    * hash(piece_id, seed + iteration) draws, so a killed-then-resumed
    * seeded run produces the same result as an unbroken one
    * (ClusteringSpec) — exactly, on any partition layout. A
    * multi-day production run that dies at iteration 60 of 100 resumes
    * from 60 instead of starting over.
    */
  def propagate(adjacency: DataFrame, seed: Long = 42L, maxIter: Int = 100,
      updateProbability: Double = 0.9,
      checkpointer: Option[Checkpointer] = None,
      resumeFrom: Option[(DataFrame, Int)] = None): DataFrame = {
    // default: durable alternating parquet checkpoint in a temp dir —
    // resets both lineage AND plan statistics each iteration (see
    // localCheckpointer caution). The temp dir is owned by THIS call
    // and deleted on return (the result is pulled off it first);
    // crash-resume needs a caller-supplied checkpointer with a caller-
    // owned dir, which is also the only case latestCheckpoint can find.
    val tmpDir = if (checkpointer.isEmpty)
      Some(java.nio.file.Files.createTempDirectory("graft-cluster-ckpt")) else None
    val checkpoint = checkpointer.getOrElse(parquetCheckpointer(tmpDir.get.toString))
    // the static adjacency side is joined every iteration: pre-partition
    // on the join key and persist so iterations reuse both the
    // computation and the partitioning (the in-session equivalent of the
    // reference's bucketBy(256,"piece_id") table, S5). Callers passing a
    // bucketed-table read get the same effect without this persist.
    //
    // ACTIVE-SIZE PARTITIONING CONTRACT (VERDICT r12 item 7): the
    // reference hand-switches its per-iteration shuffle width 256→4096
    // when the active count crosses 512M rows
    // (chinese_label_propagation.py:140-143) — a static stand-in for
    // "shuffle partitions should track live volume as the frontier
    // shrinks". This port deliberately does NOT replicate the switch:
    // every per-iteration exchange here is an AQE-planned shuffle, and
    // AQE coalesces/splits post-shuffle partitions from the ACTUAL map
    // output size each round — the dynamic version of the same rule,
    // without a hand-tuned threshold that silently mis-sizes at a new
    // scale. Measured: the sf1→sf10 decade rides at 4.82 on 10×
    // adjacency with 10 fixed rounds (SCALE.md) — data-bound, no
    // partition-starvation knee; at 100 TB the operative knob is the
    // cluster-level spark.sql.shuffle.partitions ceiling AQE coalesces
    // down from, not a per-operator override.
    val adj = adjacency.repartition(col("piece_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The convergence count piggybacks on the checkpoint write via the
    // Observation API: the active-row count is collected DURING the
    // materializing action, so each iteration runs exactly one job
    // instead of write + a second count scan over the fresh checkpoint.
    // (Requires the checkpointer to run an action on the df it is given —
    // both built-in checkpointers do: parquet write / eager localCheckpoint.)
    def checkpointCounting(df: DataFrame, i: Int): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation(s"graft_cw_active_$i")
      val out = checkpoint(
        df.observe(obs, sum(when(col("active"), 1L).otherwise(0L)).as("active")), i)
      (out, Option(obs.get("active")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    var (state, active, iter) = resumeFrom match {
      case Some((st, k)) =>
        // one count over the already-durable checkpoint — once per
        // resume, not per iteration (the loop's own counts stay on the
        // Observation API)
        (st, st.filter(col("active")).count(), k)
      case None =>
        val (st, act) = checkpointCounting(initialState(adj), 0)
        (st, act, 0)
    }
    while (active > 0 && iter < maxIter) {
      val (next, persisted) = step(state, adj, seed, iter, updateProbability)
      iter += 1
      val (st, act) = checkpointCounting(next, iter)
      state = st
      active = act
      // state is now durably materialized; release the per-iteration cache
      persisted.unpersist()
    }
    adj.unpersist()
    val out = state.select("piece_id", "cluster_id")
    tmpDir match {
      case Some(dir) =>
        // materialize off the checkpoint files, then delete them — the
        // default-dir path would otherwise leak two full label tables
        // in /tmp per call (every bench run, every spec)
        val materialized = out.localCheckpoint()
        val fs = new org.apache.hadoop.fs.Path(dir.toString)
          .getFileSystem(adjacency.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(dir.toString), true)
        materialized
      case None => out
    }
  }
}
