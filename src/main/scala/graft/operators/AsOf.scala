package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** As-of (point-in-time) join — an operator Spark lacks natively,
  * composed from existing operators per the preference order in the
  * build brief: for every left row, attach the value of the latest
  * right row with `right.time <= left.time` in the same key group.
  *
  * Shape: tag both sides, UNION, one window pass per key ordered by
  * (time, side) with `last(value, ignoreNulls)` over the running frame,
  * keep left rows. One shuffle on the key, linear in |left|+|right| —
  * no per-key loop, no O(|left|·|right|) range join, no state that
  * outgrows an executor (skewed keys fall back to the same salting
  * guards as any window op).
  *
  * Ties: right rows sort before left rows at equal time, so the match
  * is inclusive (right.time <= left.time) — the same semantics as
  * DuckDB/QuestDB ASOF JOIN, which the oracle exploits.
  */
object AsOf {

  /** @param left      probe side
    * @param right     reference side; must be unique per (keys, timeCol)
    *                  (pre-aggregate otherwise — ambiguous as-of matches
    *                  are nondeterministic in any engine)
    * @param keys      equi-join key columns (present on both sides)
    * @param timeCol   ordering column name (present on both sides)
    * @param valueCols right-side columns to attach to left rows
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("_side", lit(1))
      .select((keys.map(col) :+ col(timeCol) :+ lit(1).as("_side")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_v_$c")) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol)
          .map(c => col(c).as(s"_l_$c")): _*)
    val rTagged = right
      .select((keys.map(col) :+ col(timeCol) :+ lit(0).as("_side")) ++
        valueCols.map(c => col(c).as(s"_v_$c")) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(s"_l_$c")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attached = lTagged.unionByName(rTagged)
      .select((keys.map(col) :+ col(timeCol) :+ col("_side")) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol).map(c => col(s"_l_$c")) ++
        valueCols.map(c => last(col(s"_v_$c"), ignoreNulls = true).over(w).as(c)): _*)
    attached.where(col("_side") === 1)
      .select((keys.map(col) :+ col(timeCol)) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol)
          .map(c => col(s"_l_$c").as(c)) ++
        valueCols.map(col): _*)
  }

  /** Native-plan face of [[asOfJoin]] — identical semantics, planned as
    * the custom Catalyst operator [[graft.plans.AsOfJoinExec]] (merge
    * join over co-partitioned sorted children) instead of the
    * union+window composition. Output columns: all left columns, then
    * `valueCols` (nullable).
    *
    * Prefer this face when right is too big to broadcast and left is
    * wide: each side shuffles only its own columns, and no window frame
    * is materialized.
    */
  def asOfJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, valueCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    Shim.ensureStrategy(spark, graft.plans.GraftStrategy)
    Shim.ensureOptimizerRule(spark, graft.plans.PushFilterThroughAsOfJoin)
    // re-alias every column on both sides so the children carry FRESH,
    // disjoint exprIds: analyzer-built joins get this from
    // DeduplicateRelations, but a hand-built node must do it itself or
    // self-joins (both sides derived from one scan) leave ambiguous
    // attribute ids that break column pruning
    val lPlan = left.select(left.columns.toSeq.map(c => left(c).as(c)): _*)
      .queryExecution.analyzed
    val rPlan = right.select(right.columns.toSeq.map(c => right(c).as(c)): _*)
      .queryExecution.analyzed
    def resolve(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(s"column $n not found on $side side"))
    val lk = keys.map(resolve(lPlan.output, _, "left"))
    val rk = keys.map(resolve(rPlan.output, _, "right"))
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"key type mismatch: ${a.name} ${a.dataType} vs ${b.dataType}") }
    val lt = resolve(lPlan.output, timeCol, "left")
    val rt = resolve(rPlan.output, timeCol, "right")
    require(lt.dataType == rt.dataType,
      s"time type mismatch: ${lt.dataType} vs ${rt.dataType}")
    val rv = valueCols.map(resolve(rPlan.output, _, "right"))
    Shim.ofRows(spark, graft.plans.AsOfJoin(lPlan, rPlan, lk, rk, lt, rt, rv))
  }
}
