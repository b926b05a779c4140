package graft

import org.apache.spark.sql.functions._

import graft.graph.ConnectedComponents

/** Large-star/small-star connected components: exactness against an
  * in-test union-find on seeded random graphs, logarithmic round
  * behaviour on a deep chain, label agreement with the min-label
  * propagation face, and isolated-node handling.
  */
class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference labels: plain union-find over the edge list, each node
    * labelled with its component minimum.
    */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def ccLabels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.largeStarSmallStar(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("matches union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 60 + trial * 20
      val edges = Seq.fill(n / 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val expected = unionFind(n, edges)
      val got = ccLabels(edges)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert(got.keySet === touched)
      for (node <- touched) assert(got(node) === expected(node),
        s"trial $trial node $node")
    }
  }

  test("child-with-two-parents intermediate state is not declared converged") {
    // Regression: after one alternation, (10,1),(10,5),(11,5),(11,2)
    // leaves node 5 under BOTH 1 and 2 — src and dst sets are disjoint,
    // so the parent∩child emptiness test alone wrongly declares a star
    // forest and returns duplicate labels (5→1 AND 5→2). The
    // single-parent half of the convergence test forces another round;
    // the whole graph is one component with minimum 1.
    val got = ccLabels(Seq((10L, 1L), (10L, 5L), (11L, 5L), (11L, 2L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("a 4096-node chain converges within 12 alternations") {
    // component diameter 4095: min-label propagation needs ~4095 rounds,
    // star contraction halves tree heights per alternation — 12 rounds
    // covers it or the maxRounds require fires. This is THE case that
    // separates the O(log n) face from the O(diameter) one.
    val chain = (0L until 4095L).map(i => (i, i + 1))
    val labels = ConnectedComponents
      .largeStarSmallStar(chain.toDF("src", "dst"), maxRounds = 12)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === 4096)
    assert(labels.values.forall(_ == 0L))
  }

  test("agrees with dedupGroupsConverged labels on the same pair graph") {
    val rnd = new scala.util.Random(7)
    val n = 200
    val pairs = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val docs = (0L until n.toLong).toDF("doc_id")
    val conv = graft.dedup.Dedup
      .dedupGroupsConverged(docs, pairs.toDF("doc_id_a", "doc_id_b"))
      .select("doc_id", "group_id").as[(Long, Long)].collect().toMap
    val css = ConnectedComponents.largeStarSmallStar(
      pairs.toDF("src", "dst"),
      nodes = Some(docs.select(col("doc_id").as("node"))))
      .as[(Long, Long)].collect().toMap
    assert(css === conv)
  }

  test("isolated nodes become singleton components; self-loops ignored") {
    val edges = Seq((1L, 2L), (3L, 3L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("node")
    val labels = ConnectedComponents.largeStarSmallStar(edges, Some(nodes))
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 9L -> 9L))
  }

  test("addEdges: incremental batches == from-scratch labelling, any split") {
    val rnd = new scala.util.Random(11)
    val n = 150
    val edges = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    for (nBatches <- Seq(2, 4)) {
      val batches = edges.zipWithIndex.groupBy(_._2 % nBatches)
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      var labels = ConnectedComponents.largeStarSmallStar(
        batches.head.toDF("src", "dst"))
      for (b <- batches.tail)
        labels = ConnectedComponents.addEdges(labels, b.toDF("src", "dst"))
      val scratch = ConnectedComponents.largeStarSmallStar(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(labels.as[(Long, Long)].collect().toMap === scratch,
        s"nBatches=$nBatches")
    }
  }

  test("addEdges: a bridge edge merges two settled components to the union minimum") {
    val labels = ConnectedComponents.largeStarSmallStar(
      Seq((1L, 2L), (10L, 11L)).toDF("src", "dst"))
    val merged = ConnectedComponents.addEdges(labels, Seq((2L, 10L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(merged === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    // and brand-new nodes in the batch join as their own component
    val withNew = ConnectedComponents.addEdges(labels, Seq((50L, 51L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(withNew === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L,
      50L -> 50L, 51L -> 50L))
  }

  test("empty edge list labels every node as itself") {
    val labels = ConnectedComponents.largeStarSmallStar(
      spark.emptyDataset[(Long, Long)].toDF("src", "dst"),
      Some(Seq(5L, 6L).toDF("node")))
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(5L -> 5L, 6L -> 6L))
  }
}
