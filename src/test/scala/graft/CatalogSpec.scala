package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.core.Catalog

/** RawLocalFileSystem that refuses renames of any PUBLISHED path —
  * only the output committer's `_temporary` staging moves (which real
  * object-store deployments replace with dedicated committers) are
  * allowed through. A publish protocol that relies on directory swap
  * fails its first call here; the pointer-commit protocol must not.
  */
class NoRenameOutsideStagingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (src.toString.contains("_temporary") ||
      dst.toString.contains("_temporary")) super.rename(src, dst)
    else throw new UnsupportedOperationException(
      s"rename of a published path is forbidden on this fs: $src -> $dst")
  }
}

class CatalogSpec extends SparkTestBase {

  private def newCatalog(): Catalog =
    new Catalog(spark, tempDir("graft-catalog").toString)

  test("materializeAtomic bounds version history to current + predecessor") {
    val cat = newCatalog()
    import spark.implicits._
    for (n <- 1 to 4) cat.materializeAtomic("vb", (1L to n.toLong).toDF("id"))
    assert(cat.get("vb").count() === 4L)
    assert(cat.versions("vb") === Seq(3L, 4L),
      "each publish must reap versions older than the predecessor")
    // the predecessor stays readable as rollback insurance
    assert(cat.getVersion("vb", 3L).count() === 3L)
  }

  test("atomic publish needs NO rename outside the committer's staging " +
      "(object-store-safe)") {
    // RawLocalFileSystem variant that forbids every rename except the
    // FileOutputCommitter's own `_temporary` staging moves (object
    // stores handle THOSE with dedicated committers; the catalog layer
    // must not add renames of its own). The old directory-swap
    // protocol dies on the first publish here; pointer commit never
    // renames a published path.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[NoRenameOutsideStagingFs].getName)
    val base = tempDir("graft-norename").toString
    val cat = new Catalog(spark, s"norename://$base")
    import spark.implicits._
    cat.materializeAtomic("nr", Seq(1L, 2L).toDF("id"))
    assert(cat.get("nr").count() === 2L)
    cat.materializeAtomic("nr", Seq(3L).toDF("id"))
    assert(cat.get("nr").count() === 1L)
    // the audited path (write → audit → pointer commit) as well
    val e = intercept[IllegalStateException] {
      cat.materializeAudited("nr", spark.range(0).selectExpr("id"),
        Seq("nonempty" -> (org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)) > 0L)))
    }
    assert(e.getMessage.contains("nonempty"))
    assert(cat.get("nr").count() === 1L, "failed audit must not move the pointer")
  }

  test("crash between data write and pointer commit keeps the old version live") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materializeAtomic("cw", Seq(1L, 2L, 3L).toDF("id"))
    // simulate the crash: the next version's data lands COMPLETE
    // (with its _SUCCESS marker) but the process dies before the
    // pointer write — exactly the window a rename-based protocol
    // cannot survive on an object store
    val crashed = new java.io.File(cat.path("cw"))
      .getParent + "/cw.versions/v00002.parquet"
    Seq(9L).toDF("id").write.parquet(crashed)
    assert(new java.io.File(crashed, "_SUCCESS").exists())
    // every reader still resolves the committed version
    assert(cat.currentVersion("cw") === Some(1L))
    assert(cat.get("cw").count() === 3L)
    assert(cat.exists("cw"))
    // recovery is just the next publish: it sequences PAST the
    // abandoned version and becomes current
    cat.materializeAtomic("cw", Seq(7L, 8L).toDF("id"))
    assert(cat.currentVersion("cw") === Some(3L))
    assert(cat.get("cw").count() === 2L)
  }

  test("an incomplete (no _SUCCESS) version is invisible to reads and fallback") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materializeAtomic("ic", Seq(1L).toDF("id"))
    val partial = new java.io.File(new java.io.File(cat.path("ic"))
      .getParent + "/ic.versions/v00002.parquet")
    partial.mkdirs()
    Files.write(partial.toPath.resolve("part-00000.parquet"),
      "torn".getBytes)
    assert(cat.versions("ic") === Seq(1L), "partial version must not be listed")
    // even with the pointer lost, the fallback skips the torn directory
    new java.io.File(new java.io.File(cat.path("ic"))
      .getParent + "/ic.versions/_CURRENT").delete()
    assert(cat.currentVersion("ic") === Some(1L))
    assert(cat.get("ic").count() === 1L)
  }

  test("get of a published table submits no Spark job and keeps the " +
      "inferred schema") {
    val dir = tempDir("graft-catalog").toString
    import spark.implicits._
    val df = Seq((1L, Map("a" -> Seq(1, 2)), ("x", 2.0)),
      (2L, Map.empty[String, Seq[Int]], ("y", 3.0))).toDF("id", "m", "s")
    new Catalog(spark, dir).materializeAtomic("sj", df)
    // a fresh catalog over the same directory: nothing cached in-session
    val cat = new Catalog(spark, dir)
    val (got, jobs) = jobsOf(cat.get("sj"))
    assert(jobs === 0, "the schema file replaces Spark's footer-inference job")
    assert(got.schema === spark.read.parquet(cat.dataDir("sj")).schema)
    assert(got.orderBy("id").collect().toSeq === df.collect().toSeq)
  }

  test("a version whose schema file is missing or truncated reads by inference") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materializeAtomic("sf", Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val dir = cat.dataDir("sf")
    val inferred = spark.read.parquet(dir).schema
    val schemaFile = new Path(dir, Catalog.SchemaFile)
    val fs = schemaFile.getFileSystem(sc.hadoopConfiguration)
    val json = Files.readAllBytes(java.nio.file.Paths.get(dir, Catalog.SchemaFile))
    // a crash mid-write of the schema file leaves a prefix of it
    val out = fs.create(schemaFile, true)
    try out.write(json.take(json.length / 2)) finally out.close()
    val (truncated, truncatedJobs) = jobsOf(cat.get("sf"))
    assert(truncatedJobs > 0, "an unparsable schema file falls back to inference")
    assert(truncated.schema === inferred)
    assert(truncated.count() === 2L)
    assert(fs.delete(schemaFile, false))
    val (missing, missingJobs) = jobsOf(cat.get("sf"))
    assert(missingJobs > 0, "a missing schema file falls back to inference")
    assert(missing.schema === inferred)
    assert(missing.count() === 2L)
  }

  test("materialize + get round-trips and registers a view") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materialize("t1", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(cat.exists("t1"))
    assert(spark.sql("SELECT count(*) FROM t1").head.getLong(0) === 2L)
  }

  test("ifNotExists builds once, then reuses") {
    val cat = newCatalog()
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq(1L).toDF("id") }
    cat.ifNotExists("t2")(build)
    cat.ifNotExists("t2")(build)
    assert(builds === 1)
  }

  test("materializeAtomic replaces content and survives repeat calls") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materializeAtomic("t3", Seq(1L, 2L).toDF("id"))
    assert(cat.get("t3").count() === 2L)
    cat.materializeAtomic("t3", Seq(3L).toDF("id"))
    assert(cat.get("t3").count() === 1L)
    // no leftover tmp/old dirs
    val base = new java.io.File(cat.path("t3")).getParentFile
    assert(!base.listFiles().exists(f => f.getName.startsWith("_tmp_")
      || f.getName.startsWith("_old_")))
  }

  test("partitioned tables prune directories at planning time") {
    val cat = newCatalog()
    import spark.implicits._
    val docs = Seq((1L, "en", "x"), (2L, "en", "y"), (3L, "de", "z"), (4L, "zh", "w"))
      .toDF("doc_id", "lang", "text")
    cat.materializePartitioned("pdocs", docs, Seq("lang"))
    // static plans so the scan node is walkable (AQE wraps otherwise)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = cat.get("pdocs").where(col("lang") === "en")
      val scan = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      // the lang predicate must be a PARTITION filter (directory prune),
      // not a data filter evaluated over every row
      assert(scan.partitionFilters.nonEmpty,
        s"expected partition filters, got data filters only:\n$scan")
      assert(scan.relation.location.inputFiles.count(_.contains("lang=en")) > 0)
      assert(q.count() === 2)
      // and the scan actually selects only the en partition's files
      val selected = scan.selectedPartitions.toPartitionArray.map(_.urlEncodedPath)
      assert(selected.nonEmpty && selected.forall(_.contains("lang=en")),
        s"pruning read beyond lang=en: ${selected.mkString(", ")}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("mergeByKey keeps the newest version per key, updates winning ties") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materialize("kv", Seq(
      (1L, "old-1", 10L), (2L, "old-2", 20L), (3L, "old-3", 30L))
      .toDF("k", "v", "version"))
    val updates = Seq(
      (1L, "new-1", 11L),   // newer version → replaces
      (2L, "stale-2", 5L),  // older version → existing row survives
      (3L, "tie-3", 30L),   // same version → update wins (idempotent redelivery)
      (4L, "new-4", 40L))   // new key → inserted
      .toDF("k", "v", "version")
    val out = cat.mergeByKey("kv", updates, Seq("k"), "version")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out === Map(
      1L -> ("new-1", 11L), 2L -> ("old-2", 20L),
      3L -> ("tie-3", 30L), 4L -> ("new-4", 40L)))
    // re-applying the same updates is a no-op (idempotent)
    val again = cat.mergeByKey("kv", updates, Seq("k"), "version")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(again === out)
    // first merge into an absent table just materializes the updates
    val fresh = cat.mergeByKey("kv2", updates, Seq("k"), "version")
    assert(fresh.count() === 4)
  }

  test("analyze records row-count statistics for a metastore table") {
    val cat = newCatalog()
    import spark.implicits._
    val df = (1L to 321L).map(i => (i, s"v$i")).toDF("k", "v")
    cat.materializeBucketed("stats_t", df, buckets = 4, cols = Seq("k"))
    cat.analyze("stats_t", columns = Seq("k"))
    val stats = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("stats_t"))
      .stats
    assert(stats.isDefined, "ANALYZE left no table statistics")
    assert(stats.get.rowCount.contains(BigInt(321)),
      s"rowCount ${stats.get.rowCount} != 321")
    assert(stats.get.colStats.get("k").exists(_.distinctCount.isDefined),
      "column NDV missing after FOR COLUMNS analyze")
  }

  test("materializeAudited publishes only when every audit passes") {
    val cat = newCatalog()
    import spark.implicits._
    val audits = Seq(
      "nonempty" -> (count(lit(1)) > 0L),
      "no_null_keys" -> (count(when(col("id").isNull, 1)) === 0L))
    // good batch publishes
    cat.materializeAudited("aud", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), audits)
    assert(cat.get("aud").count() === 2L)
    // bad batch (null key) must throw, delete its tmp, and leave the
    // published version untouched
    val bad = Seq((Some(3L), "c"), (None, "d"))
      .toDF("id", "v")
    val e = intercept[IllegalStateException] {
      cat.materializeAudited("aud", bad, audits)
    }
    assert(e.getMessage.contains("no_null_keys"))
    assert(cat.get("aud").count() === 2L)
    assert(cat.get("aud").agg(max(col("id"))).head.getLong(0) === 2L)
    // empty batch trips the other audit
    val e2 = intercept[IllegalStateException] {
      cat.materializeAudited("aud", Seq.empty[(Long, String)].toDF("id", "v"), audits)
    }
    assert(e2.getMessage.contains("nonempty"))
    assert(cat.get("aud").count() === 2L)
    // no crash leftovers: vacuum finds nothing to reclaim
    assert(cat.vacuum().isEmpty)
  }

  test("compact coalesces a fragmented table without losing rows") {
    val cat = newCatalog()
    import spark.implicits._
    // a "many incremental drops" layout: 8 tiny files
    cat.materialize("frag", (1L to 800L).toDF("id").repartition(8))
    val (before, after) = cat.compact("frag", targetFileBytes = 512L * 1024 * 1024)
    assert(before === 8)
    assert(after === 1)
    // rows and content survive the rewrite
    assert(cat.get("frag").count() === 800L)
    assert(cat.get("frag").agg(sum(col("id"))).head.getLong(0) === 800L * 801L / 2)
    // idempotent: compacting a compact table stays at one file
    assert(cat.compact("frag") === ((1, 1)))
  }

  test("compact refuses a partitioned table rather than flattening it") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materializePartitioned("parted",
      Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), Seq("lang"))
    val e = intercept[IllegalArgumentException] { cat.compact("parted") }
    assert(e.getMessage.contains("partitioned"))
    // the table is untouched
    assert(cat.get("parted").count() === 2L)
  }

  test("vacuum removes only crash leftovers, never registered tables") {
    val cat = newCatalog()
    import spark.implicits._
    cat.materialize("keepme", Seq((1L, "a")).toDF("k", "v"))
    // simulate a crash: stranded staging + old-copy directories
    Seq((2L, "b")).toDF("k", "v").write.parquet(cat.path("keepme")
      .replace("keepme.parquet", "_tmp_dead.parquet"))
    Seq((3L, "c")).toDF("k", "v").write.parquet(cat.path("keepme")
      .replace("keepme.parquet", "_old_dead.parquet"))
    val deleted = cat.vacuum()
    assert(deleted.size === 2, s"expected 2 leftovers deleted, got $deleted")
    assert(deleted.forall(p => p.contains("_tmp_") || p.contains("_old_")))
    assert(cat.exists("keepme") && cat.get("keepme").count() === 1)
    assert(cat.vacuum().isEmpty) // idempotent
  }

  test("bucketed tables join without a shuffle exchange") {
    val cat = newCatalog()
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i * 2)).toDF("piece_id", "v")
    cat.materializeBucketed("ba", df, buckets = 4, cols = Seq("piece_id"))
    cat.materializeBucketed("bb", df, buckets = 4, cols = Seq("piece_id"))
    // force a sort-merge join so the assertion sees the bucketed-scan
    // path (a broadcast join would sidestep bucketing on small data)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("ba").join(spark.table("bb"), "piece_id")
      assert(joined.count() === 1000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(!finalPlan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle, got:\n$finalPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS ba")
    spark.sql("DROP TABLE IF EXISTS bb")
  }

  test("versioned publish: history kept, time travel, rollback, vacuum") {
    val cat = newCatalog()
    import spark.implicits._
    def batch(n: Int) = (1 to n).map(i => (i.toLong, s"v$n")).toDF("id", "tag")

    val (_, v1) = cat.materializeVersioned("vt", batch(3))
    val (_, v2) = cat.materializeVersioned("vt", batch(5))
    val (cur3, v3) = cat.materializeVersioned("vt", batch(7))
    assert((v1, v2, v3) === (1L, 2L, 3L))
    assert(cat.versions("vt") === Seq(1L, 2L, 3L))
    assert(cat.currentVersion("vt") === Some(3L))
    assert(cur3.count() === 7L)
    assert(spark.table("vt").count() === 7L, "view tracks the current version")

    // time travel reads an old version without moving the pointer
    assert(cat.getVersion("vt", 1L).count() === 3L)
    assert(cat.currentVersion("vt") === Some(3L))

    // rollback repoints, no data moves; versions all still present
    val rolled = cat.rollback("vt", 1L)
    assert(rolled.count() === 3L)
    assert(cat.currentVersion("vt") === Some(1L))
    assert(cat.versions("vt") === Seq(1L, 2L, 3L))

    // the NEXT publish continues the version sequence past the rollback
    val (_, v4) = cat.materializeVersioned("vt", batch(9))
    assert(v4 === 4L)
    assert(cat.getVersioned("vt").count() === 9L)

    // vacuum keeps the newest `keep` and never the pointer target
    cat.rollback("vt", 2L)
    val reaped = cat.vacuumVersions("vt", keep = 1)
    assert(reaped === Seq(1L, 3L), s"expected to reap 1 and 3, got $reaped")
    assert(cat.versions("vt") === Seq(2L, 4L))
    assert(cat.getVersioned("vt").count() === 5L, "pointer target survived vacuum")

    // unknown versions fail loudly
    intercept[IllegalArgumentException](cat.getVersion("vt", 42L))
    intercept[IllegalArgumentException](cat.rollback("vt", 42L))
  }

  test("versioned pointer loss recovers to the newest complete version") {
    val cat = newCatalog()
    import spark.implicits._
    val df = (1L to 4L).map(i => (i, i)).toDF("id", "x")
    cat.materializeVersioned("pt", df)
    cat.materializeVersioned("pt", df.limit(2))
    // simulate a crash that lost the pointer between write and repoint
    val dir = new java.io.File(cat.path("pt")).getParentFile
    val pointer = new java.io.File(s"${dir}/pt.versions/_CURRENT")
    assert(pointer.exists())
    pointer.delete()
    assert(cat.currentVersion("pt") === Some(2L),
      "missing pointer falls back to newest version on disk")
    assert(cat.getVersioned("pt").count() === 2L)
  }
}
