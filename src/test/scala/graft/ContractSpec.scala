package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: the correctness gate compares per query
  * NAME, so a key typo between `queries` and `oracleSql` would silently
  * demote a hash-checked operator to a rows-only check (or orphan an
  * oracle entirely). This spec pins both directions and the documented
  * rows-only set, so any drift fails the build instead of the round.
  */
class ContractSpec extends AnyFunSuite {

  /** Queries deliberately WITHOUT an oracle — iterative/convergence
    * semantics that ANSI CTEs cannot unroll; each has a dedicated
    * ScalaTest spec instead (SURVEY.md §5).
    */
  private val rowsOnly = Set(
    "q_domain_cluster",          // Chinese Whispers (seeded iteration)
    // q_dedup_groups_conv and q_graph_cc are NOT here: converged
    // component labels are a fixpoint, re-derivable by a recursive-CTE
    // transitive closure — those two convergence loops ARE oracle-checked
    // q_graph_kcore_conv is NOT here: the k-core fixpoint is unique and
    // schedule-independent, so a bounded unroll past convergence
    // re-derives it exactly (kcoreConvOracle)
    "q_sketch_heavy_hitters",    // sketch output is eviction-order-dependent
    "q_sketch_distinct_union",   // DataSketches HLL bytes have no DuckDB twin
    "q_sketch_quantile_union")   // KLL compaction is randomized (SketchSpec bounds)

  test("every oracle names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries (typo?): $orphans")
  }

  test("every query is oracle-checked unless documented rows-only") {
    val undocumented = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet) -- rowsOnly
    assert(undocumented.isEmpty,
      s"queries silently missing an oracle: $undocumented")
    val stale = rowsOnly -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"rows-only entries naming no query: $stale")
    val overdocumented = rowsOnly.filter(SparkEntry.oracleSql.contains)
    assert(overdocumented.isEmpty,
      s"rows-only entries that actually HAVE oracles now: $overdocumented")
  }

  test("oracle SQL references only tables the driver registers") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // (?!\.) skips qualified column refs; the null-safe comparison
    // operator "IS [NOT] DISTINCT FROM x" is rewritten away first so
    // its FROM keyword is not mistaken for a table reference
    val known = ("""\bFROM\s+([a-z_0-9]+)\b(?!\.)""".r)
    for ((name, rawSql) <- SparkEntry.oracleSql) {
      val sql = rawSql.replaceAll("(?i)IS\\s+(NOT\\s+)?DISTINCT\\s+FROM", "<=>")
      // the optional (col, ...) group admits recursive-CTE headers like
      // "reach(a, b) AS ("; the MATERIALIZED group admits DuckDB's
      // inlining-suppression hint ("e AS MATERIALIZED (")
      val ctes = ("""(?i)\b([a-z_0-9]+)\s*(?:\([a-z_0-9, ]*\))?\s+AS\s*(?:(?:NOT\s+)?MATERIALIZED\s*)?\(""".r)
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = known.findAllMatchIn(sql).map(_.group(1)).toSet
      val unknown = refs -- tables -- ctes
      assert(unknown.isEmpty,
        s"$name references tables the driver will not register: $unknown")
    }
  }
}
