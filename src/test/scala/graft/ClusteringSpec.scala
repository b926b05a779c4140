package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cluster.Clustering
import graft.core.Fixpoint

/** Chinese Whispers clustering (SURVEY.md §2.10, FIXTURES.md §4):
  * disjoint cliques converge to one cluster per clique for any seed.
  */
class ClusteringSpec extends SparkTestBase {

  import spark.implicits._

  /** Edge list → defrag_textreuses-shaped DF. */
  private def edges(es: Seq[(Long, Long)]) =
    es.toDF("piece1_id", "piece2_id")

  private def clique(ids: Seq[Long]): Seq[(Long, Long)] =
    for {
      (a, i) <- ids.zipWithIndex
      b <- ids.drop(i + 1)
    } yield (a, b)

  /** Cliques {1..4} and {10..13} and node 100 linked to one node of
    * each: the bridge's 1-1 tie keeps it active, so seed 11 never
    * converges and every run goes to maxIter.
    */
  private val bridgeGraph =
    clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((100L, 1L), (100L, 10L))

  /** A seeded random graph of a few hundred nodes: cliques of 3-8,
    * single-edge bridges between random members of cliques, and tails
    * (paths of 1-4 nodes) hanging off clique members.
    */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    var next = 0L
    def fresh(): Long = { next += 1; next }
    val cliques = Seq.fill(40)(Seq.fill(3 + rnd.nextInt(6))(fresh()))
    def member(): Long = { val c = cliques(rnd.nextInt(cliques.size)); c(rnd.nextInt(c.size)) }
    val bridges = Seq.fill(25)((member(), member()))
    val tails = Seq.fill(15) {
      val path = member() +: Seq.fill(1 + rnd.nextInt(4))(fresh())
      path.zip(path.tail)
    }.flatten
    cliques.flatMap(clique) ++ bridges ++ tails
  }

  /** The round as it was before the state row carried its adjacency:
    * a picked frame persisted per round, the changed nodes joined back
    * to a persisted adjacency for their messages, and the state joined
    * to the changed frame and then to the deltas. The equivalence test
    * holds the one-exchange round to this. One run returns the labels
    * `propagate(maxIter = m)` would give, for each m in `maxIters`.
    */
  private def referencePropagate(adjacency: DataFrame, seed: Long,
      maxIters: Seq[Int]): Map[Int, Set[(Long, Long)]] = {
    val dir = tempDir("graft-cw-reference").toString
    val checkpoint = Fixpoint.parquetCheckpointer(dir)
    val adj = adjacency.repartition(col("piece_id")).cache()
    var state = checkpoint(adj.select(
      col("piece_id"),
      col("piece_id").as("cluster_id"),
      map_from_entries(transform(col("other_piece_ids"),
        n => struct(n.as("key"), lit(1L).as("value")))).as("cluster_counts"),
      lit(true).as("active")), 0)
    var iter = 0
    val snapshots = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    while (state.filter(col("active")).count() > 0 && iter < maxIters.max) {
      val updateCoin =
        pmod(xxhash64(col("piece_id"), lit(seed + iter), lit(1)),
          lit(1000000000L)).cast("double") / 1e9
      val picked = state
        .filter(col("active"))
        .select(col("piece_id"), col("cluster_id").as("old_cluster_id"),
          Clustering.pickCluster(col("cluster_counts"),
            xxhash64(col("piece_id"), lit(seed + iter))).as("pick"))
        .select(col("piece_id"), col("old_cluster_id"),
          col("pick.cluster_id").as("new_cluster_id"), col("pick.tied").as("tied"))
        .withColumn("do_update",
          (col("old_cluster_id") =!= col("new_cluster_id")) && (updateCoin <= 0.9))
        .filter(col("tied") || col("do_update"))
        .cache()
      val deltas = picked
        .filter(col("do_update"))
        .join(adj, "piece_id")
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
      iter += 1
      state = checkpoint(next, iter)
      picked.unpersist()
      if (maxIters.contains(iter)) snapshots(iter) = labels(state)
    }
    adj.unpersist()
    // a run that converged before m rounds stops there
    val last = labels(state)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    maxIters.map(m => m -> snapshots.getOrElse(m, last)).toMap
  }

  private def labels(df: DataFrame): Set[(Long, Long)] =
    df.select("piece_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("adjacencyList symmetrizes and groups edges") {
    val adj = Clustering.adjacencyList(edges(Seq((1L, 2L), (1L, 3L))))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).sorted)
      .toMap
    assert(adj === Map(1L -> Seq(2L, 3L), 2L -> Seq(1L), 3L -> Seq(1L)))
  }

  test("disjoint cliques never merge; most seeds converge each clique") {
    // Chinese Whispers is seed-dependent and has absorbing states: a
    // node that loses the 0.9 update coin goes inactive with a stale
    // cluster (reference behavior, chinese_label_propagation.py:137) —
    // so clique purity is a per-seed likelihood, not a guarantee.
    // Disjoint components can NEVER merge, though: votes only travel
    // edges. Assert the hard invariant for every seed and full
    // convergence for most seeds.
    val g = edges(clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L)))
    val adj = Clustering.adjacencyList(g).cache()
    val converged = Seq(1L, 7L, 42L).count { seed =>
      val got = Clustering.propagate(adj, seed = seed, maxIter = 15)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val c1 = Seq(1L, 2L, 3L, 4L).map(got)
      val c2 = Seq(10L, 11L, 12L).map(got)
      assert(c1.toSet.intersect(c2.toSet).isEmpty, s"cliques merged under seed $seed: $got")
      c1.distinct.size == 1 && c2.distinct.size == 1
    }
    assert(converged >= 2, s"only $converged/3 seeds converged both cliques")
  }

  test("bridge node joins one of the two cliques") {
    // cliques {1..4} and {10..13}, node 100 linked to one node of each.
    // The bridge's 1-1 vote tie makes the outcome seed-dependent (it
    // stays `active` forever, like the reference's tied nodes) — accept
    // the first seed under which the schedule settles.
    val adj = Clustering.adjacencyList(edges(bridgeGraph)).cache()
    val ok = Seq(3L, 11L, 23L).exists { seed =>
      val got = Clustering.propagate(adj, seed = seed, maxIter = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val c1 = Seq(1L, 2L, 3L, 4L).map(got).distinct
      val c2 = Seq(10L, 11L, 12L, 13L).map(got).distinct
      c1.size == 1 && c2.size == 1 && Set(c1.head, c2.head).contains(got(100L))
    }
    assert(ok, "no tested seed settled the bridge graph into two cliques")
  }

  test("kill at iteration k + resume equals the unbroken seeded run") {
    // the bridge keeps one node tied-active forever, so the loop always
    // runs to maxIter — the resume path is genuinely exercised.
    val adj = Clustering.adjacencyList(edges(bridgeGraph)).cache()
    def tmp(p: String) = tempDir(p).toString
    val (dirFull, dirKilled) = (tmp("graft-ckpt-full"), tmp("graft-ckpt-killed"))
    val full = Clustering.propagate(adj, seed = 11L, maxIter = 6,
        checkpointer = Some(Fixpoint.parquetCheckpointer(dirFull)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    // "crashed" run: dies after completing iteration 2
    Clustering.propagate(adj, seed = 11L, maxIter = 2,
      checkpointer = Some(Fixpoint.parquetCheckpointer(dirKilled)))
      .collect()
    val resume = Fixpoint.latestCheckpoint(spark, dirKilled)
    assert(resume.map(_._2) === Some(2), "dir scan must find iteration 2")
    val resumed = Clustering.propagate(adj, seed = 11L, maxIter = 6,
        checkpointer = Some(Fixpoint.parquetCheckpointer(dirKilled)),
        resumeFrom = resume)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(resumed === full)
    assert(Fixpoint.latestCheckpoint(spark, tmp("graft-ckpt-empty")).isEmpty)
  }

  test("propagation is deterministic for a fixed seed") {
    val g = edges(clique(Seq(1L, 2L, 3L)) ++ clique(Seq(7L, 8L, 9L)) ++ Seq((3L, 7L)))
    val adj = Clustering.adjacencyList(g)
    val a = Clustering.propagate(adj, seed = 5L, maxIter = 12).collect().toSet
    val b = Clustering.propagate(adj, seed = 5L, maxIter = 12).collect().toSet
    assert(a === b)
  }

  test("same seed clusters identically across partition layouts") {
    // the round-9 regression: seeded rand() draws from the PARTITION
    // index and the vote-map fold read entries in collect_list order,
    // so re-partitioning (AQE, retries, a different cluster) silently
    // re-clustered "the same" seeded run. Both randomness sources are
    // now per-node/per-cluster hashes — the layout must not matter.
    val g = edges(clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(7L, 8L, 9L)) ++
      Seq((4L, 7L), (2L, 9L)))
    val adj = Clustering.adjacencyList(g)
    val want = Clustering.propagate(adj, seed = 11L, maxIter = 12)
      .collect().toSet
    for (parts <- Seq(1, 3, 17)) {
      val got = Clustering.propagate(adj.repartition(parts), seed = 11L,
        maxIter = 12).collect().toSet
      assert(got === want, s"clustering drifted at $parts partitions")
    }
  }

  test("the one-exchange round clusters as the three-join reference round") {
    // three random graphs as disjoint components of one input: votes
    // only travel edges and a converged component sends nothing, so
    // each component clusters exactly as it would alone
    val g = Seq(1L, 2L, 3L).flatMap { i =>
      randomGraph(i).map { case (a, b) => (a + i * 100000L, b + i * 100000L) }
    }
    val adj = Clustering.adjacencyList(edges(g)).cache()
    for (seed <- Seq(3L, 11L, 42L)) {
      val want = referencePropagate(adj, seed, Seq(1, 3, 12))
      assert(want(1) !== want(12), s"seed $seed: the fixture settles in one round")
      for (maxIter <- Seq(1, 3, 12); parts <- Seq(1, 3, 17)) {
        val got = labels(Clustering.propagate(adj.repartition(parts),
          seed = seed, maxIter = maxIter))
        val differ = got.diff(want(maxIter))
        assert(differ.isEmpty && got.size == want(maxIter).size,
          s"seed $seed, maxIter $maxIter, $parts partitions: ${differ.size} labels differ")
      }
    }
    adj.unpersist()
  }

  test("a round runs at most 4 Spark jobs") {
    // per round: the message shuffle, the deltas broadcast and the
    // checkpoint write; the three-join round ran 9-10
    val adj = Clustering.adjacencyList(edges(bridgeGraph)).cache()
    adj.count()
    def jobsAt(maxIter: Int) =
      jobsOf(Clustering.propagate(adj, seed = 11L, maxIter = maxIter).collect())._2
    val (two, six) = (jobsAt(2), jobsAt(6))
    assert(six - two <= 4 * 4, s"maxIter 2: $two jobs, maxIter 6: $six jobs")
    adj.unpersist()
  }

  test("resume refuses a checkpoint without the adjacency column") {
    // the state row before it carried other_piece_ids; resuming it would
    // send no messages and silently freeze every label
    val dir = tempDir("graft-ckpt-old").toString
    Seq((1L, 1L, Map(2L -> 1L), true), (2L, 2L, Map(1L -> 1L), true))
      .toDF("piece_id", "cluster_id", "cluster_counts", "active")
      .write.parquet(s"$dir/clusters_counts_0")
    Files.write(Paths.get(s"$dir/LATEST_ITER"), "2".getBytes)
    val resume = Fixpoint.latestCheckpoint(spark, dir)
    assert(resume.map(_._2) === Some(2))
    val adj = Clustering.adjacencyList(edges(Seq((1L, 2L))))
    val e = intercept[IllegalArgumentException](
      Clustering.propagate(adj, seed = 11L, maxIter = 6,
        checkpointer = Some(Fixpoint.parquetCheckpointer(dir)), resumeFrom = resume))
    assert(e.getMessage.contains("other_piece_ids"), e.getMessage)
  }
}
