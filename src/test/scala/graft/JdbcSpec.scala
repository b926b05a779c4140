package graft

import graft.sink.Jdbc

/** JDBC bulk sink against embedded Derby (the JDBC engine that ships
  * with Spark) — DDL, parallel insert, parity assert, index DDL.
  */
class JdbcSpec extends SparkTestBase {

  import spark.implicits._

  test("loadTable creates, bulk-loads, verifies parity and indexes") {
    val dir = tempDir("graft-derby").resolve("db")
    val url = s"jdbc:derby:$dir;create=true"
    val df = (1L to 500L).map(i => (i, s"name_$i", i * 1.5)).toDF("id", "name", "score")
    val result = Jdbc.loadTable(df, url, "t_load",
      "CREATE TABLE t_load (id BIGINT, name VARCHAR(64), score DOUBLE)",
      indexDdl = Seq("CREATE INDEX idx_t_load_id ON t_load (id)"))
    assert(result.rows === 500L)
    assert(result.loadSeconds > 0.0)
    // read back through Spark's JDBC source and spot-check
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t_load").load()
    assert(back.count() === 500L)
    assert(back.where($"id" === 42L).select("name").head.getString(0) === "name_42")
  }

  test("readTable splits the scan into range-partitioned parallel reads") {
    val dir = tempDir("graft-derby").resolve("db")
    val url = s"jdbc:derby:$dir;create=true"
    val df = (1L to 1000L).map(i => (i, s"v_$i")).toDF("id", "v")
    Jdbc.loadTable(df, url, "t_read",
      "CREATE TABLE t_read (id BIGINT, v VARCHAR(64))")
    val back = Jdbc.readTable(spark, url, "t_read", partitionCol = "id",
      numPartitions = 4)
    // parallel scan: the source reports the requested partition split
    assert(back.rdd.getNumPartitions === 4)
    // complete and correct despite the range predicates (boundary rows
    // must appear exactly once)
    assert(back.count() === 1000L)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      === 500500L)
    // explicit bounds path skips the min/max round-trip
    val bounded = Jdbc.readTable(spark, url, "t_read", partitionCol = "id",
      numPartitions = 3, bounds = Some((1L, 1000L)))
    assert(bounded.count() === 1000L)
  }

  test("narrow32Ids loads ids inside the unsigned-32 contract and indexes them") {
    val dir = tempDir("graft-derby3").resolve("db")
    val url = s"jdbc:derby:$dir;create=true"
    // 2^31 < id < 2^32 is VALID under the MariaDB `int(11) unsigned`
    // contract — the DDL must use a 64-bit db type outside MariaDB
    val df = Seq((0L, 1L), (42L, (1L << 31) + 5L), ((1L << 32) - 1L, 7L))
      .toDF("trs_id", "piece_id")
    val r = Jdbc.loadTable(df, url, "t_narrow",
      "CREATE TABLE t_narrow (trs_id BIGINT, piece_id BIGINT)",
      narrow32Ids = Seq("trs_id"))
    assert(r.rows === 3L)
  }

  test("an id outside the unsigned-32 contract fails the load loudly") {
    val dir = tempDir("graft-derby4").resolve("db")
    val url = s"jdbc:derby:$dir;create=true"
    for (bad <- Seq(1L << 32, -1L)) {
      val df = Seq((1L, 1L), (bad, 2L)).toDF("trs_id", "piece_id")
      val e = intercept[Exception] {
        Jdbc.loadTable(df, url, "t_overflow",
          "CREATE TABLE t_overflow (trs_id BIGINT, piece_id BIGINT)",
          narrow32Ids = Seq("trs_id"))
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("32-bit unsigned id contract")),
        s"expected the id-contract error for $bad, got: $e")
    }
  }

  test("loadTable replaces an existing table") {
    val dir = tempDir("graft-derby2").resolve("db")
    val url = s"jdbc:derby:$dir;create=true"
    val ddl = "CREATE TABLE t_re (id BIGINT)"
    Jdbc.loadTable((1L to 10L).toDF("id"), url, "t_re", ddl)
    val r2 = Jdbc.loadTable((1L to 3L).toDF("id"), url, "t_re", ddl)
    assert(r2.rows === 3L)
  }
}
