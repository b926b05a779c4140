package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.AsOf

class AsOfSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("asOfJoin attaches the latest right row at or before left time") {
    val left = Seq(
      (1L, 1L, ts(5)), (2L, 1L, ts(15)), (3L, 1L, ts(2)),
      (4L, 2L, ts(10))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(3), 30.0), (1L, ts(10), 100.0),
      (2L, ts(20), 7.0)).toDF("user_id", "ts", "v")
    val got = AsOf.asOfJoin(left, right, Seq("user_id"), "ts", Seq("v"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got(1L) === Some(30.0))  // ts 5 → right at ts 3
    assert(got(2L) === Some(100.0)) // ts 15 → right at ts 10
    assert(got(3L) === None)        // ts 2 → nothing before
    assert(got(4L) === None)        // user 2: right only at ts 20 > 10
  }

  test("asOfJoin is inclusive at equal timestamps") {
    val left = Seq((1L, 1L, ts(10))).toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(10), 5.0)).toDF("user_id", "ts", "v")
    val got = AsOf.asOfJoin(left, right, Seq("user_id"), "ts", Seq("v")).collect()
    assert(got.head.getDouble(3) === 5.0)
  }

  test("asOfJoin preserves left row count and extra left columns") {
    val left = Seq((1L, 1L, ts(5), "a"), (2L, 1L, ts(6), "b"))
      .toDF("event_id", "user_id", "ts", "tag")
    val right = Seq((1L, ts(1), 1.0)).toDF("user_id", "ts", "v")
    val out = AsOf.asOfJoin(left, right, Seq("user_id"), "ts", Seq("v"))
    assert(out.count() === 2)
    assert(out.columns.toSet === Set("user_id", "ts", "event_id", "tag", "v"))
    assert(out.where(col("tag") === "a").head.getDouble(4) === 1.0)
  }

  // ---- native Catalyst plan face (graft.plans.AsOfJoinExec) ----

  test("asOfJoinNative matches the basic as-of semantics") {
    val left = Seq(
      (1L, 1L, ts(5)), (2L, 1L, ts(15)), (3L, 1L, ts(2)),
      (4L, 2L, ts(10))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(3), 30.0), (1L, ts(10), 100.0),
      (2L, ts(20), 7.0)).toDF("user_id", "ts", "v")
    val out = AsOf.asOfJoinNative(left, right, Seq("user_id"), "ts", Seq("v"))
    assert(out.columns.toSeq === Seq("event_id", "user_id", "ts", "v"))
    val got = out.collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got(1L) === Some(30.0))
    assert(got(2L) === Some(100.0))
    assert(got(3L) === None)
    assert(got(4L) === None)
  }

  test("asOfJoinNative is inclusive at equal timestamps and plans AsOfJoinExec") {
    val left = Seq((1L, 1L, ts(10))).toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(10), 5.0)).toDF("user_id", "ts", "v")
    val out = AsOf.asOfJoinNative(left, right, Seq("user_id"), "ts", Seq("v"))
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.contains("AsOfJoin"), s"native node missing from plan:\n$planStr")
    assert(out.collect().head.getDouble(3) === 5.0)
  }

  test("asOfJoinNative handles null keys, null times, and empty right") {
    val left = Seq(
      (1L, Option(1L), Option(ts(5))),
      (2L, Option.empty[Long], Option(ts(5))),   // null key: no match
      (3L, Option(1L), Option.empty[java.sql.Timestamp]) // null time: no match
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (Option(1L), Option(ts(1)), 1.0),
      (Option.empty[Long], Option(ts(1)), 2.0),  // null right key: never matches
      (Option(1L), Option.empty[java.sql.Timestamp], 3.0) // null right time: skipped
    ).toDF("user_id", "ts", "v")
    val got = AsOf.asOfJoinNative(left, right, Seq("user_id"), "ts", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(got(1L) === Some(1.0))
    assert(got(2L) === None)
    assert(got(3L) === None)

    val empty = right.where(lit(false))
    val out2 = AsOf.asOfJoinNative(left, right.where(lit(false)),
      Seq("user_id"), "ts", Seq("v"))
    assert(out2.count() === 3)
    assert(out2.where(col("v").isNotNull).count() === 0)
  }

  test("asOfJoinNative agrees with the union+window composition on random data") {
    val rnd = new scala.util.Random(42)
    val left = Seq.tabulate(400) { i =>
      (i.toLong, rnd.nextInt(12).toLong, ts(rnd.nextInt(60)))
    }.toDF("event_id", "user_id", "ts")
    // unique (key, ts) on the right — as-of precondition on both faces
    val right = rnd.shuffle(
        (for (k <- 0 until 12; m <- 0 until 60) yield (k, m)).toSeq)
      .take(300)
      .map { case (k, m) => (k.toLong, ts(m), rnd.nextDouble()) }
      .toDF("user_id", "ts", "v")
    val composed = AsOf.asOfJoin(left, right, Seq("user_id"), "ts", Seq("v"))
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val native = AsOf.asOfJoinNative(left, right, Seq("user_id"), "ts", Seq("v"))
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(native === composed)
  }

  test("asOfJoinNative survives both sides derived from ONE scan (self-join exprIds)") {
    // regression: clicks and purchases carved from the same DataFrame
    // share attribute exprIds; without fresh per-side aliasing the
    // optimizer mis-prunes the right child (ATTRIBUTE_NOT_FOUND at the
    // exchange). Mirrors the q_events_asof_native shape.
    val ev = Seq(
      (1L, 1L, "click", ts(5), 0.0), (2L, 1L, "click", ts(15), 0.0),
      (3L, 1L, "purchase", ts(3), 30.0), (4L, 1L, "purchase", ts(10), 100.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("v"))
    val got = AsOf.asOfJoinNative(clicks, purchases, Seq("user_id"), "ts", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(got(1L) === Some(30.0))
    assert(got(2L) === Some(100.0))

    // the degenerate case: literally the same DataFrame on both sides
    val sameBoth = AsOf.asOfJoinNative(
      purchases.withColumnRenamed("v", "w"),
      purchases.withColumnRenamed("v", "w"),
      Seq("user_id"), "ts", Seq("w"))
    assert(sameBoth.count() === 2)
  }

  test("left-column filters push through the native as-of node; value filters stay above") {
    val dir = tempDir("graft-asof-pd").toFile
    Seq((1L, 1L, ts(5)), (2L, 2L, ts(6)))
      .toDF("event_id", "user_id", "ts").write.parquet(s"$dir/l.parquet")
    Seq((1L, ts(1), 1.0)).toDF("user_id", "ts", "v").write.parquet(s"$dir/r.parquet")
    val left = spark.read.parquet(s"$dir/l.parquet")
    val right = spark.read.parquet(s"$dir/r.parquet")
    // AQE wraps executedPlan in an opaque adaptive node; plan the query
    // statically so the scan assertions can walk the tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = AsOf.asOfJoinNative(left, right, Seq("user_id"), "ts", Seq("v"))
        .where(col("event_id") === 1L && col("v").isNotNull)
      // the left-only conjunct reaches the left parquet scan's pushed
      // filters (custom nodes are pushdown barriers without the rule)
      val scans = out.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      val leftScan = scans.find(_.output.exists(_.name == "event_id")).get
      assert(leftScan.metadata("PushedFilters").contains("event_id"),
        s"left filter not pushed: ${leftScan.metadata("PushedFilters")}")
      // the value-column conjunct must NOT move below the join (it would
      // change which right row is latest — outer-join preserved-side rule)
      val optimized = out.queryExecution.optimizedPlan
      val above = optimized.collect {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _: graft.plans.AsOfJoin) => c
      }
      assert(above.exists(_.references.map(_.name).toSet == Set("v")),
        s"value filter should remain above the join:\n$optimized")
      assert(out.count() === 1)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("asOfJoinNative supports composite keys") {
    val left = Seq((1L, 1L, "a", ts(10)), (2L, 1L, "b", ts(10)))
      .toDF("event_id", "k1", "k2", "ts")
    val right = Seq((1L, "a", ts(5), 1.0), (1L, "b", ts(20), 2.0))
      .toDF("k1", "k2", "ts", "v")
    val got = AsOf.asOfJoinNative(left, right, Seq("k1", "k2"), "ts", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(4))).toMap
    assert(got(1L) === Some(1.0))
    assert(got(2L) === None)
  }
}
