package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local SparkSession for all specs (getOrCreate reuses one JVM
  * session across suites; Test/fork uses a single forked JVM).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // driver testdata generations have stored TIMESTAMP(NANOS), which is
    // unreadable without this flag (TestdataSmokeSpec reads the real files)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toString)
    .getOrCreate()

  def sc = spark.sparkContext

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory under `java.io.tmpdir` whose name starts with
    * `prefix`; it is deleted, with all it holds, when the suite ends.
    */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach { dir =>
      if (Files.exists(dir)) {
        val paths = Files.walk(dir)
        try paths.sorted(Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
        finally paths.close()
      }
    }

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
