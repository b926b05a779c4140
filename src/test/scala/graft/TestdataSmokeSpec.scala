package graft

/** Executes EVERY registered driver query end-to-end against the real
  * driver parquet (TESTDATA.md, sf0.001) — the gate ContractSpec cannot
  * provide. Round 6 lost seven q_events_* queries from the correctness
  * tree because the driver regenerated events.parquet with a different
  * physical timestamp type (nanos → micros/NTZ) and no spec ever read
  * the actual testdata: every suite uses hand-built fixtures, so the
  * analysis-time cast failures only surfaced in the driver's Verify run
  * where they are caught, logged, and silently dropped. This suite runs
  * each query against the same files Verify reads and forces full
  * execution through the noop sink (a count() would let Catalyst prune
  * the very projections most likely to break).
  *
  * Skips (not fails) when the harness testdata directory is absent, so
  * the build stays green on machines without /root/testdata.
  *
  * The faces run over a registry warmed the way Bench warms it, so the
  * last test can check the warm list's coverage.
  */
class TestdataSmokeSpec extends SparkTestBase with org.scalatest.BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private def have: Boolean = new java.io.File(s"$dir/events.parquet").exists

  private def stageNames: Set[String] = graft.queries.QueryCaches.held.keySet
    .collect { case (s, d, n) if (s eq spark) && d == dir => n }

  private var warmed = Set.empty[String]

  override def beforeAll(): Unit = if (have) {
    graft.queries.QueryCaches.clearAll()
    graft.queries.QueryCaches.prebuildAll(spark, dir)
    warmed = stageNames
  }

  test("events.ts normalizes to a session-zone TIMESTAMP for every generation") {
    assume(have, s"$dir not present on this machine")
    // the exact round-6 regression: whatever physical type the driver
    // writes (nanos-long, micros NTZ, micros UTC), Tables.events must
    // hand queries a plain TimestampType column
    val t = graft.queries.Tables.events(spark, dir).schema("ts").dataType
    assert(t == org.apache.spark.sql.types.TimestampType,
      s"events.ts surfaced as $t — downstream epoch casts/window fns will fail analysis")
  }

  /** Column types the driver's canonicalizer cannot sort/hash: its
    * pandas `sort_values` dies on array cells (`TypeError: unhashable
    * type: 'numpy.ndarray'` — the round-7 `q_sketch_quantile_union`
    * red row), and map/struct cells fail the same way. Registered
    * query FACES must flatten to scalar columns (`element_at`,
    * `explode`, struct field projection); only engine APIs may return
    * nested types.
    */
  private def unhashableColumns(
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.sql}"
    }.toSeq
  }

  test("the nested-output lint itself rejects an array-returning query") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val offender = Seq(1).toDF("x").select(array(col("x")).as("xs"))
    assert(unhashableColumns(offender.schema) === Seq("xs: ARRAY<INT>"))
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name executes on driver testdata") {
      assume(have, s"$dir not present on this machine")
      val df = fn(spark, dir)
      val nested = unhashableColumns(df.schema)
      assert(nested.isEmpty,
        s"$name emits nested-typed columns the driver canon cannot " +
          s"sort/hash — flatten them in the query face: $nested")
      df.write.format("noop").mode("overwrite").save()
    }
  }

  test("after every face has run, the registry gained only the stages faces pay on the clock") {
    assume(have, s"$dir not present on this machine")
    // a stage missing from the warm list would show up here, its build
    // charged to the first face that reads it
    assert(stageNames -- warmed === Set("graph.scc_labels"))
  }
}
