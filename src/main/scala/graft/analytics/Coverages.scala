package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gaps-and-islands interval union + pairwise coverage metrics.
  *
  * Re-expresses the reference's `coverages` asset (reference:
  * coverages.py:43-163) Spark-first: window running-max → per-row
  * island contributions → one aggregation → broadcast join with
  * per-document lengths.
  *
  * Exact semantics preserved from the reference:
  *  - `prev_end + 1 >= start` merges *adjacent* intervals ((1,6)+(7,12)
  *    → one island, reference: coverages.py:81);
  *  - island length = MAX(end) − MIN(start), no +1 (coverages.py:95);
  *  - islands are computed per (trs1_id, trs2_id) pair, once over the
  *    t1 intervals and once over the t2 intervals (two orderings).
  *
  * Island stats are computed WITHOUT materializing island ids: with
  * rows sorted by (start, end) and M_i = running max(end) over earlier
  * rows, an island spanning rows r_1..r_k telescopes to
  *   max(end) − min(start) = (end_1 − start_1) + Σ_{i≥2} max(0, end_i − M_{i−1}),
  * so per-row contributions (island-open rows contribute end − start,
  * later rows the positive running-max increment) sum to the island
  * length, and the island-open flags sum to the island count. One
  * running-max window + one aggregation replaces the id-assignment
  * window plus the per-island intermediate groupBy (optimization guide
  * §1.1 first-principles plan / §2.3 aggregate before you shuffle).
  * Requires end ≥ start per row (true of every producer: intervals are
  * text spans; the CoveragesSpec/PropertySpec brute-force generators
  * enforce it too). Tie rows (equal sort keys) are bitwise-identical
  * rows, whose contributions are order-invariant — safe under
  * retries/partition changes like the RANGE-frame formulation it
  * replaces.
  *
  * Scale notes: one shuffle on (trs1_id, trs2_id) feeds both window
  * passes and both aggregations; the lengths side is broadcast (the
  * reference hints BROADCAST at coverages.py:156).
  */
object Coverages {

  /** Merged-interval (island) stats per key group: island count and
    * total covered length (sum over islands of max(end)−min(start)).
    *
    * One partial-aggregated collect per group feeds the native
    * [[graft.expressions.IslandStats]] scan: one exchange on the keys,
    * no per-partition full-data sort and no WindowExec. The expression
    * sorts each group by (start, end) and sums the telescoping
    * contributions of a running-max sweep (CoveragesSpec/PropertySpec
    * brute-force pins).
    */
  def islandStats(df: DataFrame, keys: Seq[String], startCol: String,
      endCol: String, nCol: String, lenCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col(startCol).cast("long").as("s"),
        col(endCol).cast("long").as("e"))).as("_iv"))
      .select(keys.map(col) :+
        graft.expressions.IslandStats(col("_iv"), 1).as("_st"): _*)
      .select(keys.map(col) :+ col("_st.n_0").as(nCol) :+
        col("_st.len_0").as(lenCol): _*)

  /** Island stats of TWO interval families sharing the same pair keys
    * (one row carries both an a-side and a b-side interval), over a
    * single exchange and ONE collect: the expression computes both
    * families from the same collected array. Replaces
    * islandStats(a) ⋈ islandStats(b) — both sides derive from the same
    * rows, so the key sets are identical and the join is redundant
    * (guide §2.4 remove shuffles outright).
    */
  def pairedIslandStats(df: DataFrame, keys: Seq[String],
      aStart: String, aEnd: String, aN: String, aLen: String,
      bStart: String, bEnd: String, bN: String, bLen: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(
        col(aStart).cast("long").as("as"), col(aEnd).cast("long").as("ae"),
        col(bStart).cast("long").as("bs"), col(bEnd).cast("long").as("be")))
        .as("_iv"))
      .select(keys.map(col) :+
        graft.expressions.IslandStats(col("_iv"), 2).as("_st"): _*)
      .select(keys.map(col) :+ col("_st.n_0").as(aN) :+
        col("_st.len_0").as(aLen) :+ col("_st.n_1").as(bN) :+
        col("_st.len_1").as(bLen): _*)

  /** Full pairwise coverage table (SURVEY.md §1.4 `coverages`).
    *
    * @param textreuses columns (trs1_id, trs2_id, trs1_start, trs1_end,
    *                   trs2_start, trs2_end) — one row per hit
    * @param lengths    columns (trs_id, text_length)
    */
  def coverages(textreuses: DataFrame, lengths: DataFrame): DataFrame = {
    val keys = Seq("trs1_id", "trs2_id")
    val stats = pairedIslandStats(
      textreuses.select("trs1_id", "trs2_id", "trs1_start", "trs1_end",
        "trs2_start", "trs2_end"),
      keys, "trs1_start", "trs1_end", "t1_reuses", "reuse_t1_t2",
      "trs2_start", "trs2_end", "t2_reuses", "reuse_t2_t1")
    val len1 = lengths.select(col("trs_id").as("trs1_id"), col("text_length").as("t1_length"))
    val len2 = lengths.select(col("trs_id").as("trs2_id"), col("text_length").as("t2_length"))
    // lengths joins are LEFT (reference: coverages.py:158-160 LEFT JOINs
    // textreuse_source_lengths): a trs missing a length row yields null
    // coverage rather than silently dropping the pair
    stats
      .join(broadcast(len1), Seq("trs1_id"), "left")
      .join(broadcast(len2), Seq("trs2_id"), "left")
      .select(col("trs1_id"), col("trs2_id"),
        col("t1_reuses"), col("t2_reuses"),
        col("reuse_t1_t2"), col("reuse_t2_t1"),
        (col("reuse_t1_t2") / col("t1_length") * lit(100.0)).as("coverage_t1_t2"),
        (col("reuse_t2_t1") / col("t2_length") * lit(100.0)).as("coverage_t2_t1"))
  }
}
