package graft

import org.apache.spark.sql.functions._

import graft.graph.PageRank

class PageRankSpec extends SparkTestBase {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two iterations match the hand-computed fixed-point values") {
    // graph: 1→2, 2→1, 2→3, 3→1; deg 1:1, 2:2, 3:1; scale 1e6, d=85
    // iter1: r(1)=150000+85*(500000+1000000)//100 = 1425000
    //        r(2)=150000+85*1000000//100          = 1000000
    //        r(3)=150000+85*500000//100           =  575000
    // iter2: r(1)=150000+85*(500000+575000)//100  = 1063750
    //        r(2)=150000+85*1425000//100          = 1361250
    //        r(3)=150000+85*500000//100           =  575000
    val out = ranks(PageRank.run(edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L), iters = 2))
    assert(out === Map(1L -> 1063750L, 2L -> 1361250L, 3L -> 575000L))
  }

  test("zero iterations return the uniform initial rank") {
    val out = ranks(PageRank.run(edges(1L -> 2L, 2L -> 1L), iters = 0))
    assert(out === Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("dangling nodes receive rank but contribute none (mass dropped)") {
    // 1→2 only: 2 is dangling. iter1: r(2)=150000+850000=1000000,
    // r(1)=150000 (no in-edges). iter2: r(2)=150000+85*150000//100
    // =277500 — node 2's mass vanished, not redistributed.
    val out = ranks(PageRank.run(edges(1L -> 2L), iters = 2))
    assert(out === Map(1L -> 150000L, 2L -> 277500L))
  }

  test("result is exact under any input partitioning") {
    val e = edges((1L to 40L).flatMap(i => Seq(i -> (i % 40 + 1), i -> ((i + 7) % 40 + 1))): _*)
    val a = ranks(PageRank.run(e, iters = 3))
    val b = ranks(PageRank.run(e.repartition(13, col("dst")), iters = 3))
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("checkpointEvery truncation does not change results") {
    val e = edges((1L to 20L).map(i => i -> (i % 20 + 1)): _*)
    val a = ranks(PageRank.run(e, iters = 5, checkpointEvery = 2))
    val b = ranks(PageRank.run(e, iters = 5, checkpointEvery = 100))
    assert(a === b)
  }

  test("converged face agrees with a long fixed run within tolerance") {
    val e = edges((1L to 30L).flatMap(i => Seq(i -> (i % 30 + 1), (i % 30 + 1) -> i)): _*)
    val tol = 500L
    val conv = ranks(PageRank.runConverged(e, tolS = tol))
    val fixed = ranks(PageRank.run(e, iters = 60))
    assert(conv.keySet === fixed.keySet)
    for ((n, r) <- conv)
      assert(math.abs(r - fixed(n)) <= 2 * tol,
        s"node $n: converged $r vs fixed ${fixed(n)}")
  }

  test("converged face on a degree-1 cycle stops after one unchanged round") {
    // cycle: ranks stay exactly scale forever → delta 0 at iter 1
    val out = ranks(PageRank.runConverged(edges(1L -> 2L, 2L -> 3L, 3L -> 1L), tolS = 0L))
    assert(out.values.toSet === Set(1000000L))
  }

  test("converged face fails loudly when maxRounds is too low") {
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L)
    val cached = cachedRdds
    val ex = intercept[IllegalArgumentException] {
      PageRank.runConverged(e, tolS = 0L, maxRounds = 1)
    }
    assert(ex.getMessage.contains("PageRank did not converge within 1 rounds; raise maxRounds"))
    // the throw still releases the call's caches
    assert((cachedRdds -- cached).isEmpty)
  }

  test("weighted ranks split contributions proportionally (hand-computed)") {
    import spark.implicits._
    // 1→2 (w3), 1→3 (w1), 3→1 (w2): sw(1)=4, sw(3)=2
    // iter1: c(2)=(1e6*3)div4=750000, c(3)=250000, c(1)=(1e6*2)div2=1e6
    //   r1(1)=1000000, r1(2)=150000+637500=787500, r1(3)=362500
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L), (3L, 1L, 2L)).toDF("src", "dst", "w")
    val out = ranks(PageRank.run(e, iters = 1, weightCol = Some("w")))
    assert(out === Map(1L -> 1000000L, 2L -> 787500L, 3L -> 362500L))
  }

  test("zero-weight edges behave as absent; negative weights raise") {
    import spark.implicits._
    // without the guard, node 4's out-weight sum would be 0 and the
    // ANSI `div` would kill the job; with it, a w=0 edge IS no edge
    val withZero = Seq((1L, 2L, 3L), (1L, 3L, 1L), (3L, 1L, 2L), (4L, 1L, 0L))
      .toDF("src", "dst", "w")
    val without = Seq((1L, 2L, 3L), (1L, 3L, 1L), (3L, 1L, 2L))
      .toDF("src", "dst", "w")
    assert(ranks(PageRank.run(withZero, iters = 2, weightCol = Some("w"))) ===
      ranks(PageRank.run(without, iters = 2, weightCol = Some("w"))))
    // a negative weight is corrupt data: loud failure naming the value
    val neg = Seq((1L, 2L, 3L), (2L, 1L, -7L)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      PageRank.run(neg, iters = 1, weightCol = Some("w")).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("negative edge weight")),
      s"expected the weight-contract error, got: ${messages(ex)}")
  }

  test("warm start decomposes a cold run exactly; new nodes start at scale") {
    import spark.implicits._
    val e = (1L to 20L).flatMap(i => Seq(i -> (i % 20 + 1), i -> ((i + 7) % 20 + 1)))
      .toDF("src", "dst")
    // two-phase identity: k cold iterations == j cold + (k−j) warm from
    // the j-iteration ranks — the integer arithmetic makes this EXACT
    val cold3 = ranks(PageRank.run(e, iters = 3))
    val warm = ranks(PageRank.run(e, iters = 2,
      startRanks = Some(PageRank.run(e, iters = 1))))
    assert(warm === cold3)
    // a node missing from startRanks behaves as a cold node at scale:
    // warm-starting from an EMPTY rank table is a plain cold run
    val empty = Seq.empty[(Long, Long)].toDF("node", "rank_s")
    assert(ranks(PageRank.run(e, iters = 2, startRanks = Some(empty))) ===
      ranks(PageRank.run(e, iters = 2)))
  }

  test("weight 1 everywhere reproduces the unweighted ranks exactly") {
    import spark.implicits._
    val pairs = (1L to 30L).flatMap(i => Seq(i -> (i % 30 + 1), i -> ((i + 11) % 30 + 1)))
    val unw = ranks(PageRank.run(pairs.toDF("src", "dst"), iters = 3))
    val w1 = ranks(PageRank.run(
      pairs.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"),
      iters = 3, weightCol = Some("w")))
    assert(unw === w1)
  }

  private def undirected(pairs: (Long, Long)*) = {
    import spark.implicits._
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  private def tris(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangle counts: K4, pendant, square, star") {
    // K4: every node is in C(3,2)=3 triangles
    val k4 = undirected(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    assert(tris(PageRank.triangleCounts(k4)) ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle with a pendant node: pendant is in 0
    val pend = undirected(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
    assert(tris(PageRank.triangleCounts(pend)) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // 4-cycle: no triangles, every node still reported
    val square = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    assert(tris(PageRank.triangleCounts(square)).values.toSet === Set(0L))
    // star: hub wedges never close
    val star = undirected(9L -> 1L, 9L -> 2L, 9L -> 3L, 9L -> 4L)
    assert(tris(PageRank.triangleCounts(star)).values.toSet === Set(0L))
  }

  test("triangle counts match brute-force enumeration on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = (for (a <- 1L to 25L; b <- (a + 1) to 25L if rnd.nextDouble() < 0.3)
      yield (a, b)).toSeq
    val adj = pairs.toSet
    def linked(a: Long, b: Long) = adj.contains((a min b, a max b))
    val expected = (for {
      a <- 1L to 25L; b <- (a + 1) to 25L; c <- (b + 1) to 25L
      if linked(a, b) && linked(b, c) && linked(a, c)
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val got = tris(PageRank.triangleCounts(undirected(pairs: _*)))
    assert(got === nodes.map(n => n -> expected.getOrElse(n, 0L)).toMap)
  }

  test("total rank is conserved on a graph with no dangling nodes") {
    // every node has out-edges → each iteration redistributes all mass
    // (up to floor-division loss, bounded by edges count in scale units)
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L) // simple cycle, deg 1
    val out = ranks(PageRank.run(e, iters = 4))
    // cycle of degree-1 nodes: r stays exactly 1.0 forever
    assert(out.values.toSet === Set(1000000L))
  }

  test("personalized ranks: mass flows FROM the seed; off-seed holds zero") {
    import spark.implicits._
    // chain 1→2→3 plus isolated pair 4→5; seed {1}
    // r0 = (1e6, 0, 0, 0, 0)
    // iter1: r(1)=150000; r(2)=85*1e6//100=850000; rest 0
    // iter2: r(1)=150000; r(2)=85*150000//100=127500; r(3)=85*850000//100=722500
    val e = edges(1L -> 2L, 2L -> 3L, 4L -> 5L)
    val out = ranks(PageRank.runPersonalized(e,
      Seq(1L).toDF("node"), iters = 2))
    assert(out === Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L,
      4L -> 0L, 5L -> 0L))
  }

  test("personalized with ALL nodes seeded equals plain PageRank") {
    import spark.implicits._
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L)
    val plain = ranks(PageRank.run(e, iters = 2))
    val allSeeds = Seq(1L, 2L, 3L).toDF("node")
    val ppr = ranks(PageRank.runPersonalized(e, allSeeds, iters = 2))
    assert(ppr === plain)
  }
}
