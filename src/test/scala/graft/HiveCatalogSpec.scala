package graft

import org.apache.spark.sql.SparkSession

import graft.core.{Catalog, GraftSession}

/** Cross-session persistence of bucketed tables through the Hive
  * metastore (reference: spark_utils.py:34): a table bucketed+sorted by
  * `materializeBucketed` in one session must come back in a FRESH
  * session with its bucket spec intact — i.e. a self-join still plans
  * without a shuffle exchange. (The in-memory default catalog forgets
  * bucket specs at session end; Hive support is what carries them.)
  *
  * This spec manages its own sessions (stop → hive session → stop →
  * second hive session) and restores a clean slate afterwards; suites
  * run sequentially in the forked test JVM, and every other suite
  * getOrCreates lazily, so the handoff is safe.
  */
class HiveCatalogSpec extends SparkTestBase {

  private def resetSessions(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("bucketed table survives a session restart and still joins shuffle-free") {
    val dir = tempDir("graft-hive").toString
    def hiveSession(): SparkSession = GraftSession.local(cores = 4,
      shufflePartitions = 4, appName = "graft-hive-test",
      hive = true, warehouse = Some(dir))

    resetSessions()
    val s1 = hiveSession()
    try {
      import s1.implicits._
      val df = (1L to 1000L).map(i => (i, i * 2)).toDF("piece_id", "v")
      new Catalog(s1, s"$dir/tables")
        .materializeBucketed("hive_bucketed", df, buckets = 4, cols = Seq("piece_id"))
      assert(s1.table("hive_bucketed").count() === 1000L)
    } finally resetSessions()

    // a genuinely fresh session against the same metastore
    val s2 = hiveSession()
    try {
      val t = s2.table("hive_bucketed")
      assert(t.count() === 1000L)
      // force sort-merge (no broadcast) and a static plan (no AQE
      // re-write) so the exchange assertion reads the real join plan
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = t.join(s2.table("hive_bucketed"), "piece_id")
      assert(joined.count() === 1000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle after session restart, got:\n$plan")
      s2.sql("DROP TABLE IF EXISTS hive_bucketed")
    } finally resetSessions()
  }
}
