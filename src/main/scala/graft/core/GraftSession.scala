package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the reference's session conventions (reference:
  * etl_textreuse/spark_utils.py:20-44 — UTC-safe date handling, zstd
  * parquet, checkpoint dir) re-expressed as idiomatic Spark 4 config:
  * AQE on (skew-join + partition coalescing replace the reference's
  * hand-tuned repartition counts), shuffle partitions sized for the
  * local harness but overridable for a real cluster.
  */
object GraftSession {

  /** Cap of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Invariant: the
    * generated-class working set of one textreuse build must fit the
    * cache, or every build compiles, class-loads and JIT-warms its code
    * again. One perfbench `etl_build` pass compiles about 250 classes,
    * and Guava splits the cap across its 4 segments, each an LRU of
    * cap / 4; 1000 leaves each segment about 4x a build's share.
    */
  val CodegenCacheEntries: Int = 1000

  /** Config shared by local test/bench sessions and (unchanged) a real
    * cluster deployment — only master/memory differ at scale.
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      // driver testdata stores TIMESTAMP(NANOS); read as nanos longs
      // (Tables.events converts to micros timestamps)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // graft planner strategies (native as-of join, …) — see graft.plans
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      // static: it must be on the builder before the session exists; a
      // cluster deployment passes it through SparkConf to every executor
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** @param hive enable a Hive metastore-backed external catalog
    *   (reference: spark_utils.py:34 `enableHiveSupport()`), so bucketed
    *   tables written by `Catalog.materializeBucketed` keep their bucket
    *   spec ACROSS sessions — the way the reference's alternating
    *   checkpoint tables survive job restarts. Without it the in-memory
    *   session catalog forgets bucketing when the session ends.
    * @param warehouse when set, pins both the table warehouse and the
    *   embedded-Derby metastore under this directory — the knob that
    *   makes cross-session persistence (and tests of it) deterministic.
    *   A cluster deployment would point the metastore at a real
    *   thrift/RDBMS URI instead.
    */
  def local(cores: Int = 32, shufflePartitions: Int = 32, appName: String = "graft",
      hive: Boolean = false, warehouse: Option[String] = None): SparkSession = {
    var b = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions)
    warehouse.foreach { dir =>
      b = b.config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
    }
    if (hive) b = b.enableHiveSupport()
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
