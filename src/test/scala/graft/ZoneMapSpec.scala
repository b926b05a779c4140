package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.ZoneMap

/** Zone-map pruning: range reads equal the full filtered scan while
  * opening only the files whose span can match; empty ranges read
  * nothing and keep the schema.
  */
class ZoneMapSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = tempDir("graft_zonemap").toString + "/t"

  private val rows = (0L until 10000L).map(i => (i, s"v$i"))

  test("pruned range read == full scan + filter; prunes most files") {
    ZoneMap.writeClustered(rows.toDF("k", "v"), dir, "k", nFiles = 20)
    val total = spark.read.parquet(dir).inputFiles.length
    assert(total >= 15, s"fixture must produce many files, got $total")
    val got = ZoneMap.readRange(spark, dir, "k", 2300L, 2700L)
    // range-exchange BOUNDARIES are sampled (nondeterministic across
    // JVMs), so the 400-key span can straddle a few files — the
    // invariant is that MOST of the table is pruned, not a fixed count
    assert(got.inputFiles.length <= 5,
      s"range spanning ~1/25 of the domain opened ${got.inputFiles.length} of $total")
    assert(got.inputFiles.length * 3 < total,
      s"pruning ineffective: ${got.inputFiles.length} of $total files opened")
    val expect = rows.filter(r => r._1 >= 2300L && r._1 <= 2700L).toSet
    assert(got.as[(Long, String)].collect().toSet === expect)
  }

  test("clusteringDepth: 1 everywhere when range-clustered, ~nFiles when shuffled") {
    import spark.implicits._
    ZoneMap.writeClustered(rows.toDF("k", "v"), dir, "k", nFiles = 20)
    val clustered = ZoneMap.clusteringDepth(spark, dir)
      .select("depth").as[Long].collect()
    assert(clustered.forall(_ === 1L),
      s"range-clustered spans must be disjoint: ${clustered.toSeq}")
    // hash-shuffled layout: every file spans ~the whole domain
    val shuffledDir = dir + "_shuffled"
    rows.toDF("k", "v").repartition(20, col("v"))
      .write.mode("overwrite").parquet(shuffledDir)
    ZoneMap.writeManifest(spark, shuffledDir, "k")
    val shuffled = ZoneMap.clusteringDepth(spark, shuffledDir)
      .select("depth").as[Long].collect()
    assert(shuffled.forall(_ >= 15L),
      s"hash layout must overlap heavily: ${shuffled.toSeq}")
  }

  test("appendClustered: batches land without a history rescan; pruning stays exact") {
    import spark.implicits._
    val d2 = dir + "_inc"
    val b1 = (0L until 5000L).map(i => (i, s"a$i"))
    val b2 = (5000L until 10000L).map(i => (i, s"b$i"))
    ZoneMap.appendClustered(b1.toDF("k", "v"), d2, "k", nFiles = 10)
    ZoneMap.appendClustered(b2.toDF("k", "v"), d2, "k", nFiles = 10)
    // manifest covers every file of both batches
    val manifest = spark.read.parquet(s"$d2.zonemap")
    assert(manifest.count() === spark.read.parquet(d2).inputFiles.length.toLong)
    assert(manifest.agg(sum(col("n_rows"))).head().getLong(0) === 10000L)
    // a range inside batch 2 opens only a few batch-2 files and reads
    // exactly (sampled range boundaries make the exact count jitter by
    // one — the invariant is pruning most of the 20 files, not a count)
    val got = ZoneMap.readRange(spark, d2, "k", 7000L, 7499L)
    assert(got.inputFiles.length <= 4, s"opened ${got.inputFiles.length}")
    assert(got.as[(Long, String)].collect().toSet ===
      b2.filter(r => r._1 >= 7000L && r._1 <= 7499L).toSet)
    // overlapping appends stay CORRECT (pruning less sharp, never wrong)
    ZoneMap.appendClustered(Seq((7100L, "dup")).toDF("k", "v"), d2, "k", 1)
    val withDup = ZoneMap.readRange(spark, d2, "k", 7100L, 7100L)
      .as[(Long, String)].collect().toSet
    assert(withDup === Set((7100L, "b7100"), (7100L, "dup")))
  }

  test("point lookup opens one file; out-of-domain range opens zero") {
    ZoneMap.writeClustered(rows.toDF("k", "v"), dir, "k", nFiles = 20)
    val point = ZoneMap.readRange(spark, dir, "k", 7777L, 7777L)
    assert(point.inputFiles.length === 1)
    assert(point.as[(Long, String)].collect().toSeq === Seq((7777L, "v7777")))
    val none = ZoneMap.readRange(spark, dir, "k", 50000L, 60000L)
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("k", "v"), "empty read must keep schema")
  }
}
