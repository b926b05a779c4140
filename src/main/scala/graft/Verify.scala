package graft
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: only dump queries whose name starts with one
    // of these prefixes (dev iteration on a single oracle; the driver
    // always runs the full two-arg form)
    val prefixes = args.drop(2)
    def selected(name: String): Boolean =
      prefixes.isEmpty || prefixes.exists(name.startsWith)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cores = cpus, shufflePartitions = cpus,
      appName = "graft-verify")
    // clear stale dumps from previous runs: a query that crashes this run
    // must NOT pass the gate via last run's output directory
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    rmrf(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full declared-query list so the local gate can flag queries that
    // crashed before producing an output dir (ADVICE r1 item 2)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    graft.queries.QueryCaches.clearAll()
    spark.stop()
  }
}
