package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}

/** The measurement harness: [[Profile.measure]]'s counters and plan
  * fingerprint, [[Profile.run]] end to end, and its two callers' own
  * logic — Bench's pass loop and the scale smokes' generation stamp.
  */
class ProfileSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def have: Boolean = new java.io.File(s"$dir/events.parquet").exists

  test("measure counts the jobs, stages, tasks, shuffle bytes and CPU of a one-shuffle RDD job") {
    val (sums, s) = Profile.measure(spark) {
      sc.parallelize(1 to 1000, 3).map(i => (i % 7, 1L)).reduceByKey(_ + _, 2).collect()
    }
    assert(sums.map(_._2).sum == 1000L)
    assert(s.jobs == 1)
    assert(s.stages.size == 2)
    assert(s.tasks == 3 + 2)
    assert(s.shuffleWriteBytes > 0L && s.shuffleReadBytes > 0L)
    assert(s.taskCpuS > 0.0)
    assert(s.inJobS > 0.0)
  }

  test("measure counts generated-class compiles: a new literal compiles, the same plan again does not") {
    // a literal inlined into generated code makes the class new to this JVM
    val df = spark.range(100).select((col("id") * lit(System.nanoTime())).as("x"))
    def compiles: Long = Profile.measure(spark)(Profile.runFace(spark, dir, (_, _) => df))._2.compiles
    assert(compiles > 0L)
    assert(compiles == 0L)
  }

  private def fingerprint(df: DataFrame): Profile.Fingerprint =
    Profile.measure(spark)(Profile.runFace(spark, dir, (_, _) => df))._2.fingerprint

  test("the plan fingerprint counts exchanges, joins and windows of the final plan") {
    val ids = spark.range(1000).toDF("id")
    val grouped = fingerprint(ids.groupBy((col("id") % 7).as("k")).count())
    assert(grouped.hashExchanges == 1)
    assert(grouped.singlePartitionExchanges == 0 && grouped.windows == 0)

    val ranked = fingerprint(ids.withColumn("r", row_number().over(Window.orderBy("id"))))
    assert(ranked.singlePartitionExchanges == 1)
    assert(ranked.windows == 1)
    assert(ranked.hashExchanges == 0)

    val joined = fingerprint(ids.join(broadcast(spark.range(10).toDF("id")), "id"))
    assert(joined.broadcastHashJoins == 1)
    assert(joined.broadcastExchanges == 1)
    assert(joined.sortMergeJoins == 0 && joined.hashExchanges == 0)
  }

  test("Profile.run profiles a domain face: jobs and its slowest operators") {
    assume(have, s"$dir not present on this machine")
    try {
      val Seq((name, s)) = Profile.run(spark, dir, Seq("q_domain_cluster_spans"))
      assert(name == "q_domain_cluster_spans")
      assert(s.jobs > 0)
      assert(s.operators.nonEmpty)
      assert(s.operators.map(_.timeS) == s.operators.map(_.timeS).sorted.reverse)
    } finally graft.queries.QueryCaches.clearAll()
  }

  test("Bench.passes lists a throwing face under failed and keeps it out of the timings") {
    val faces: Map[String, Profile.Face] = Map(
      "q_good" -> ((s, _) => s.range(10).toDF("id")),
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom")))
    val r = Bench.passes(spark, dir, faces)
    assert(r.failed == Seq("q_bad"))
    assert(r.timings.map(_._1) == Seq("q_good"))
    assert(r.timings.head._2._2 > 0)
    val (totalLine, fullLine) = Bench.lines(r, 10.0, dir)
    for (line <- Seq(totalLine, fullLine)) {
      assert(line.contains("\"failed\":[\"q_bad\"]"), line)
      assert(!line.contains("\"q_bad\":"), line)
    }
    assert(fullLine.contains("\"jobs\":{\"q_good\":"), fullLine)
    assert(totalLine.contains("\"n_queries\":1,"), totalLine)
  }

  test("ScaleSmoke.ensure reuses a dataset with its stamp and regenerates a gen-less one") {
    assume(have, s"$dir not present on this machine")
    val out = tempDir("graft-scale-ensure").resolve("x2")
    val marker = out.resolve("_GENERATED")
    try {
      assert(ScaleSmoke.ensure(spark, dir, out.toString, 2, "scale"))
      assert(java.nio.file.Files.readString(marker) == s"base=$dir replicas=2 gen=2")
      assert(spark.read.parquet(s"$out/documents.parquet").count() ==
        2 * spark.read.parquet(s"$dir/documents.parquet").count())
      assert(!ScaleSmoke.ensure(spark, dir, out.toString, 2, "scale"))
      // the marker a generator before the per-replica event-time shift wrote
      java.nio.file.Files.writeString(marker, s"base=$dir replicas=2")
      assert(ScaleSmoke.ensure(spark, dir, out.toString, 2, "scale"))
      assert(!ScaleSmoke.ensure(spark, dir, out.toString, 2, "scale"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.getParent.toFile)
  }
}
