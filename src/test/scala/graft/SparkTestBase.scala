package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (getOrCreate reuses one JVM
  * session across suites; Test/fork uses a single forked JVM).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // driver testdata generations have stored TIMESTAMP(NANOS), which is
    // unreadable without this flag (TestdataSmokeSpec reads the real files)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sc = spark.sparkContext

  /** Names under `java.io.tmpdir` that start with `prefix`. */
  def scratchDirs(prefix: String): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith(prefix)).toSet

  /** Ids of the persisted RDDs that are not checkpoints: the computed
    * partitions of cached Datasets, without the local checkpoints a
    * loop's rounds leave for the context cleaner.
    */
  def cachedRdds: Set[Int] =
    sc.getPersistentRDDs.collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet

  /** `body`'s result and the Spark jobs it submitted (see [[Profile.measure]]). */
  def jobsOf[T](body: => T): (T, Int) = {
    val (out, s) = Profile.measure(spark)(body)
    (out, s.jobs)
  }
}
