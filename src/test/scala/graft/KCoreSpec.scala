package graft

import graft.graph.KCore

class KCoreSpec extends SparkTestBase {

  // K4 (1-2-3-4 complete) with a tendril chain 4—5—6
  private def fixture = {
    import spark.implicits._
    val pairs = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      4L -> 5L, 5L -> 6L)
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  private def cores(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
    df.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

  test("converged 2-core peels the whole tendril chain") {
    val out = cores(KCore.peelConverged(fixture, k = 2))
    assert(out === Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      5L -> false, 6L -> false))
  }

  test("fixed one round under-peels the chain (documented contract)") {
    // round 1 removes only the leaf (deg 1); node 5 still looks alive
    val out = cores(KCore.peel(fixture, k = 2, rounds = 1))
    assert(out === Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      5L -> true, 6L -> false))
    // two rounds reach the fixpoint on this graph — faces agree
    assert(cores(KCore.peel(fixture, k = 2, rounds = 2)) ===
      cores(KCore.peelConverged(fixture, k = 2)))
  }

  test("k above the max degree empties the core but reports every node") {
    val out = cores(KCore.peelConverged(fixture, k = 10))
    assert(out.keySet === (1L to 6L).toSet)
    assert(out.values.forall(_ == false))
  }

  test("converged peel fails loudly at its round cap and cleans up") {
    // one round removes node 6 only; the tendril needs a second
    val (dirs, cached) = (scratchDirs("graft-kcore"), cachedRdds)
    val e = intercept[IllegalArgumentException] {
      KCore.peelConverged(fixture, k = 2, maxRounds = 1)
    }
    assert(e.getMessage.contains("k-core peel did not converge"))
    assert(scratchDirs("graft-kcore") === dirs)
    assert((cachedRdds -- cached).isEmpty)
  }

  test("k=1 keeps every connected node") {
    val out = cores(KCore.peelConverged(fixture, k = 1))
    assert(out.values.forall(_ == true))
  }
}
