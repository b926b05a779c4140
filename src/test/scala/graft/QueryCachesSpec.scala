package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

import graft.queries.QueryCaches

/** The query layer's stage registry: re-entrant builds, one instance
  * per (session, dir, name), and a teardown that releases every cached
  * frame it held.
  */
class QueryCachesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def have: Boolean = new java.io.File(s"$sf/lineitem.parquet").exists

  private def names(dir: String): Set[String] =
    QueryCaches.held.keySet.collect { case (s, d, n) if (s eq spark) && d == dir => n }

  test("a stage whose builder calls other stages builds the whole chain on an empty registry") {
    QueryCaches.clearAll()
    // a deep chain: nested builds of many keys in one map is exactly
    // where a computeIfAbsent-based memo threw "Recursive update"
    val chain = (1 to 16).foldLeft(
        QueryCaches.frame("test.chain0")((s, _) => s.range(100).toDF("id"))) {
      (up, i) => QueryCaches.frame(s"test.chain$i")((s, dir) =>
        up(s, dir).where(s"id % ${i + 1} != 0"))
    }
    val df = chain(spark, "/chain")
    assert(df.count() > 0)
    assert(names("/chain") === (0 to 16).map(i => s"test.chain$i").toSet)
    QueryCaches.clearAll()
  }

  test("one instance per (session, dir, name); another dir builds anew") {
    QueryCaches.clearAll()
    var builds = 0
    val v = QueryCaches.value("test.value") { (_, _) => builds += 1; new Object }
    val f = QueryCaches.frame("test.frame")((s, _) => s.range(3).toDF("id"))
    val a = v(spark, "/a")
    assert(v(spark, "/a") eq a)
    assert(!(v(spark, "/b") eq a))
    assert(builds === 2)
    val fa = f(spark, "/a")
    assert(f(spark, "/a") eq fa)
    assert(!(f(spark, "/b") eq fa))
    assert(fa.storageLevel === StorageLevel.MEMORY_AND_DISK)
    QueryCaches.clearAll()
  }

  test("prebuild rejects a name that is not on the warm list") {
    intercept[IllegalArgumentException](QueryCaches.prebuild(spark, "/x", "no.such_stage"))
  }

  test("clearAll after prebuildAll unpersists every held frame and empties the registry") {
    assume(have, s"$sf not present on this machine")
    QueryCaches.clearAll()
    QueryCaches.prebuildAll(spark, sf)
    val frames: Seq[Dataset[_]] = QueryCaches.held.values.toSeq.flatMap {
      case d: Dataset[_] => Seq(d)
      case p: Product => p.productIterator.collect { case d: Dataset[_] => d }
      case _ => Nil
    }
    assert(frames.count(_.storageLevel != StorageLevel.NONE) > 20,
      "prebuildAll should leave the warm list's frame stages persisted")
    QueryCaches.clearAll()
    val stillCached = frames.filter(_.storageLevel != StorageLevel.NONE)
    assert(stillCached.isEmpty, s"${stillCached.size} frames still cached after clearAll")
    assert(QueryCaches.held.isEmpty)
  }
}
