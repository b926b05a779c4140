package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Coverages

/** Flagship gaps-and-islands coverage pipeline (SURVEY.md §7.2) over
  * testdata: textreuse-shaped intervals are synthesized deterministically
  * from lineitem (FIXTURES.md §5) so the DuckDB oracle reproduces them
  * from the same parquet with pure integer arithmetic.
  */
object CoverageQueries {

  /** Deterministic textreuses-shaped intervals from lineitem. The
    * table feeds four branches of the coverage plan (two island sides,
    * two length builds), so it is a registry stage: the distinct-shuffle
    * runs once per (session, dir).
    */
  private[queries] val synthTextreuses =
    QueryCaches.frame("coverage.synth_textreuses")(buildSynthTextreuses)

  private def buildSynthTextreuses(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(
        (col("l_orderkey") % 97).cast("long").as("trs1_id"),
        ((col("l_partkey") % 89) + 100).cast("long").as("trs2_id"),
        ((col("l_orderkey") * 7 + col("l_linenumber") * 13) % 1000).cast("int").as("trs1_start"),
        ((col("l_partkey") * 11 + col("l_suppkey") * 17) % 1200).cast("int").as("trs2_start"),
        floor(col("l_quantity")).cast("int").as("qty"))
      .select(col("trs1_id"), col("trs2_id"),
        col("trs1_start"), (col("trs1_start") + 5 + col("qty") * 3).cast("int").as("trs1_end"),
        col("trs2_start"), (col("trs2_start") + 4 + col("qty") * 2).cast("int").as("trs2_end"))
      .distinct()

  /** Constant-length source lengths covering every synthesized trs id. */
  def synthLengths(tr: DataFrame): DataFrame =
    tr.select(col("trs1_id").as("trs_id"))
      .union(tr.select(col("trs2_id").as("trs_id")))
      .distinct()
      .select(col("trs_id"), lit(2000).as("text_length"))

  /** The same synthesis as a DuckDB CTE (must mirror synthTextreuses). */
  private val trCte: String =
    """tr AS (
      |  SELECT DISTINCT trs1_id, trs2_id,
      |    trs1_start, CAST(trs1_start + 5 + qty * 3 AS INT) AS trs1_end,
      |    trs2_start, CAST(trs2_start + 4 + qty * 2 AS INT) AS trs2_end
      |  FROM (
      |    SELECT
      |      CAST(l_orderkey % 97 AS BIGINT) AS trs1_id,
      |      CAST((l_partkey % 89) + 100 AS BIGINT) AS trs2_id,
      |      CAST((l_orderkey * 7 + l_linenumber * 13) % 1000 AS INT) AS trs1_start,
      |      CAST((l_partkey * 11 + l_suppkey * 17) % 1200 AS INT) AS trs2_start,
      |      CAST(floor(l_quantity) AS INT) AS qty
      |    FROM lineitem))""".stripMargin

  private def islandsCte(side: Int): String = {
    val (st, en) = (s"trs${side}_start", s"trs${side}_end")
    val (n, len) = if (side == 1) ("t1_reuses", "reuse_t1_t2") else ("t2_reuses", "reuse_t2_t1")
    s"""g$side AS (
       |  SELECT trs1_id, trs2_id, $st, $en,
       |    CASE WHEN max($en) OVER (PARTITION BY trs1_id, trs2_id
       |        ORDER BY $st, $en
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1 >= $st
       |      THEN 0 ELSE 1 END AS new_island
       |  FROM tr),
       |i$side AS (
       |  SELECT trs1_id, trs2_id, $st, $en,
       |    sum(new_island) OVER (PARTITION BY trs1_id, trs2_id
       |      ORDER BY $st, $en) AS island_id
       |  FROM g$side),
       |a$side AS (
       |  SELECT trs1_id, trs2_id, island_id,
       |    CAST(max($en) - min($st) AS BIGINT) AS island_len
       |  FROM i$side GROUP BY 1, 2, 3),
       |t$side AS (
       |  SELECT trs1_id, trs2_id, count(*) AS $n,
       |    CAST(sum(island_len) AS BIGINT) AS $len
       |  FROM a$side GROUP BY 1, 2)""".stripMargin
  }

  def coverages(s: SparkSession, dir: String): DataFrame = {
    val tr = synthTextreuses(s, dir)
    Coverages.coverages(tr, synthLengths(tr))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // W1+W2+W3+A1-A3+J6: the full coverage pipeline
    "q_coverages" -> ((s, dir) => coverages(s, dir)),

    // islands only (one side) — the reusable gaps-and-islands operator
    "q_islands" -> ((s, dir) => {
      val tr = synthTextreuses(s, dir)
      Coverages.islandStats(tr.select("trs1_id", "trs2_id", "trs1_start", "trs1_end"),
        Seq("trs1_id", "trs2_id"), "trs1_start", "trs1_end", "n_islands", "covered_len")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_coverages" ->
      s"""WITH $trCte,
         |${islandsCte(1)},
         |${islandsCte(2)},
         |lengths AS (
         |  SELECT trs_id, 2000 AS text_length FROM (
         |    SELECT trs1_id AS trs_id FROM tr UNION SELECT trs2_id FROM tr))
         |SELECT trs1_id, trs2_id, t1_reuses, t2_reuses, reuse_t1_t2, reuse_t2_t1,
         |  reuse_t1_t2 / l1.text_length * 100.0 AS coverage_t1_t2,
         |  reuse_t2_t1 / l2.text_length * 100.0 AS coverage_t2_t1
         |FROM t1 JOIN t2 USING (trs1_id, trs2_id)
         |LEFT JOIN lengths l1 ON l1.trs_id = trs1_id
         |LEFT JOIN lengths l2 ON l2.trs_id = trs2_id""".stripMargin,

    "q_islands" ->
      s"""WITH $trCte,
         |${islandsCte(1)}
         |SELECT trs1_id, trs2_id, t1_reuses AS n_islands, reuse_t1_t2 AS covered_len
         |FROM t1""".stripMargin
  )
}
