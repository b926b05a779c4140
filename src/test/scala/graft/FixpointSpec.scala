package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cluster.Clustering
import graft.core.Fixpoint

class FixpointSpec extends SparkTestBase {
  import spark.implicits._

  test("observedRound reads its aggregate in the checkpoint's job, null as 0") {
    val df = spark.range(10).toDF("id")
    val ((out, n), jobs) = jobsOf(Fixpoint.observedRound(Fixpoint.localCheckpointer,
      "graft_fixpoint_spec", 1, df, sum(col("id")), (col("id") * 2).as("twice")))
    assert(n === 45L)
    assert(jobs === 1)
    assert(out.columns.toSeq === Seq("twice"))
    val (_, empty) = Fixpoint.observedRound(Fixpoint.localCheckpointer,
      "graft_fixpoint_spec", 2, df.where(col("id") < 0), max(col("id")))
    assert(empty === 0L)
  }

  test("iterate: a loop still going at its cap throws, naming the loop") {
    var rounds = 0
    val e = intercept[IllegalArgumentException] {
      Fixpoint.iterate("spec loop", 3, (0, true)) { (s, _) => rounds += 1; (s + 1, true) }
    }
    assert(e.getMessage.contains("spec loop did not converge within 3 rounds"))
    assert(rounds === 3)
  }

  test("iterate: a go-on value that turns false at the bound returns without throwing") {
    // the Chinese Whispers and hopWave shape: the bound is folded into the
    // go-on value, so the last round stops the loop
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val out = Fixpoint.iterate("spec bounded", 3, (0, true)) { (s, r) =>
      seen += r
      (s + 1, r < 3)
    }
    assert(out === 3)
    assert(seen.toSeq === Seq(1, 2, 3))
  }

  test("iterate: an initial go-on value of false runs no round") {
    val out = Fixpoint.iterate("spec idle", 5, ("init", false)) { (_, _) =>
      fail("no round may run")
    }
    assert(out === "init")
    // an empty seed set: relax's frontier starts with zero rows
    var steps = 0
    Fixpoint.relax("spec empty seeds", Seq.empty[(Long, Long)].toDF("node", "d"), 5, _ < _) {
      (frontier, _) => steps += 1; frontier
    }
    assert(steps === 0)
    // Chinese Whispers at maxIter = 0, and resumed at k == maxIter: the
    // checkpointer sees round 0 only, then nothing
    val adjacency = Clustering.adjacencyList(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("piece1_id", "piece2_id"))
    val cut = scala.collection.mutable.ArrayBuffer[Int]()
    val recording: Fixpoint.Checkpointer = (df, i) => { cut += i; df.localCheckpoint() }
    def clusters(df: DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    val identity = (1L to 4L).map(n => n -> n).toMap
    assert(clusters(Clustering.propagate(adjacency, maxIter = 0,
      checkpointer = Some(recording))) === identity)
    assert(cut.toSeq === Seq(0))
    cut.clear()
    assert(clusters(Clustering.propagate(adjacency, maxIter = 3, checkpointer = Some(recording),
      resumeFrom = Some((Clustering.initialState(adjacency), 3)))) === identity)
    assert(cut.isEmpty)
  }

  test("iterate: the driver runs no job of its own") {
    // each round cuts and counts one frame: one job a round, none more
    val (rows, jobs) = jobsOf(Fixpoint.iterate("spec jobs", 10, (0L, true)) { (total, r) =>
      val (_, n) = Fixpoint.countedCut("graft_fixpoint_spec_jobs", r, spark.range(r).toDF("id"))
      (total + n, r < 4)
    })
    assert(rows === 10L)
    assert(jobs === 4)
  }

  /** Hop distance from node 0 along the path 0 → 1 → … → `n`, one hop a
    * round: `n` improving rounds and one that finds nothing. The step is
    * narrow over the implicit path, or joins a broadcast edge list, which
    * costs it one job a round.
    */
  private def pathDepth(n: Long, maxRounds: Int, viaEdges: Boolean = false): DataFrame = {
    val edges = spark.range(n).select(col("id").as("src"), (col("id") + 1).as("dst"))
    Fixpoint.relax("spec path", Seq((0L, 0L)).toDF("node", "d"), maxRounds, _ < _) { (frontier, _) =>
      if (viaEdges) frontier.join(broadcast(edges), col("node") === col("src"))
        .select(col("dst").as("node"), (col("d") + 1).as("d"))
      else frontier.where(col("node") < n)
        .select((col("node") + 1).as("node"), (col("d") + 1).as("d"))
    }
  }

  test("relax: a path longer than maxRounds x stride fails loudly, naming the loop") {
    assert(pathDepth(3, 4).as[(Long, Long)].collect().toMap ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    val e = intercept[IllegalArgumentException](pathDepth(10, 4))
    assert(e.getMessage.contains("spec path did not converge within 4 rounds"))
  }

  test("a round's cut carries its observed row count, so relax's estimates stay linear") {
    val (cut, n) = Fixpoint.countedCut("graft_fixpoint_spec_stats", 1, spark.range(37).toDF("id"))
    val stats = cut.queryExecution.optimizedPlan.stats
    assert(n === 37L)
    assert(stats.rowCount === Some(BigInt(37)))
    // an 8-byte row header and one long a row
    assert(stats.sizeInBytes === BigInt(37 * 16))
    // 15 labels of two longs: unstamped, the 14 rounds' joins compound the
    // estimate to thousands of digits
    val labels = pathDepth(14, 20).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(labels <= BigInt(2 * 15 * 24))
  }

  test("relax: a round costs one job beyond its exchanges', with AQE on") {
    // with adaptive execution each exchange is a job of its own: the
    // improvement join broadcasts the stamped labels, the step may
    // broadcast its edges, and the cut that counts the frontier is the
    // one job more. One more hop adds one round's jobs, three more add
    // three rounds'
    def extraJobs(viaEdges: Boolean): (Int, Int) = {
      val Seq(a, b, c) = Seq(6L, 7L, 10L).map(n => jobsOf(pathDepth(n, 20, viaEdges).count())._2)
      (b - a, c - b)
    }
    assert(extraJobs(viaEdges = false) === ((2, 6)))
    assert(extraJobs(viaEdges = true) === ((3, 9)))
  }

  test("relax: a better that is never true is a first-visit wave") {
    // 0 → 2 and 0 → 1 → 2 reach node 2 in waves 1 and 2, 2 → 3 → 0 closes
    // a cycle, and 9 → 0 leaves node 9 unreachable. The label falls by
    // one a wave, so under `_ < _` every later visit would relabel a node
    // and the cycle would never settle
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 0L), (9L, 0L))
      .toDF("src", "dst")
    var steps = 0
    val out = Fixpoint.relax("spec first visit", Seq((0L, 0L)).toDF("node", "d"), 10,
        (_, _) => lit(false)) { (frontier, _) =>
      steps += 1
      frontier.join(edges, col("node") === col("src"))
        .groupBy(col("dst").as("node")).agg(max(col("d") - 1).as("d"))
    }.as[(Long, Long)].collect()
    assert(out.length === 4)
    assert(out.toMap === Map(0L -> 0L, 1L -> -1L, 2L -> -1L, 3L -> -2L))
    assert(!out.exists(_._1 == 9L))
    // wave 3 reaches only node 0, already labelled, and the loop stops
    assert(steps === 3)
  }

  test("relax: an empty seed set returns an empty frame with the seeds' schema") {
    var steps = 0
    val seeds = Seq.empty[(Long, Long)].toDF("node", "d")
    val out = Fixpoint.relax("spec empty", seeds, 5, _ < _) { (frontier, _) =>
      steps += 1
      frontier
    }
    assert(out.schema === seeds.schema)
    assert(out.count() === 0L)
    assert(steps === 0)
  }
}
