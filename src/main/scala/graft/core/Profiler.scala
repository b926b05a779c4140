package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass column profiler — the first job run against any new corpus
  * drop: row count, per-column null count, exact distinct count, and
  * min/max. Every statistic computes in a SINGLE aggregate over ONE
  * scan (profiling at 100 TB is scan-bound — never one job per
  * column), then pivots to long form with a literal struct-explode, no
  * second scan.
  *
  * min/max evaluate in the column's native type and are string-rendered
  * afterwards, so the output schema is type-independent without
  * changing ordering semantics. Exact distincts make Catalyst Expand
  * the input once per counted column (the standard multi-distinct
  * plan); for a quick look at a very wide table use
  * `graft.sketch.Sketches.approxDistinct` instead — one exchange total.
  */
object Profiler {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    } :+ count(lit(1)).as("__total")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(lit(c).as("col_name"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"${c}__nn")).as("n_nulls"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"))
    }
    wide.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
  }

  /** Equi-width histogram of an integral column — the distribution
    * companion to [[profile]]'s min/max. Bin edges derive from the
    * observed [lo, hi] range; every row maps to
    * bin = ((v − lo) · bins) div (hi − lo + 1), which lands in
    * [0, bins−1] by construction (no clamp needed) and is EXACT: the
    * division uses the subtract-remainder form, all in long arithmetic,
    * so the DuckDB twin reproduces bins bit-for-bit — equi-width is the
    * scale-safe histogram (equi-DEPTH needs a global rank; for that use
    * the quantile operator).
    *
    * Scale shape: one 1-row bounded min/max aggregate attaches by
    * broadcast (the designed BNLJ shape), then a map-only bin
    * expression and one partial-aggregated groupBy on ≤`bins` keys.
    * Nulls are excluded (a null has no position in the range).
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val v = col(valueCol).cast("long")
    val bounds = boundsWithSpan(
      df.where(v.isNotNull).agg(min(v).as("_lo"), max(v).as("_hi")), bins)
    df.where(v.isNotNull)
      .join(broadcast(bounds))
      .withColumn("_x", (v - col("_lo")) * bins)
      .withColumn("bin", expr("(_x - pmod(_x, _d)) div _d"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"), min(v).as("min_v"), max(v).as("max_v"))
  }

  /** Attaches the bin divisor `_d = hi − lo + 1` with a loud guard on
    * the two long-arithmetic cliffs of the bin expression: a span so
    * wide that `hi − lo` itself wraps (shows up as `_d ≤ 0`), and a
    * span where `(v − lo) · bins` would exceed 2⁶³ (span >
    * Long.MaxValue / bins). Either silently misbins every row, so
    * fail the JOB instead — the PageRank negative-weight precedent.
    */
  private def boundsWithSpan(bounds: DataFrame, bins: Int): DataFrame = {
    val maxSpan = Long.MaxValue / bins
    val d = col("_hi") - col("_lo") + lit(1L)
    bounds.withColumn("_d",
      when(d > 0L && d <= maxSpan, d)
        .otherwise(raise_error(concat(
          lit("histogram: value span [" ), col("_lo").cast("string"),
          lit(", "), col("_hi").cast("string"),
          lit(s"] exceeds Long.MaxValue/bins = $maxSpan — " +
            "rescale the column or lower bins")))))
  }

  /** Distribution drift between two corpus slices — the "did this
    * crawl snapshot shift" monitor: both slices bin on SHARED
    * [[histogram]] edges (derived from their union, so bins align by
    * construction), and each bin reports both counts plus the
    * fixed-point deviation |n_ref/N_ref − n_cur/N_cur|·1e6 — summing
    * dev_s over bins and halving gives total-variation distance, the
    * standard drift alarm threshold. An empty side reports null
    * deviations (no distribution to compare), not a division crash.
    *
    * Scale shape: one union scan → the same 1-row broadcast bounds +
    * map-only binning as [[histogram]] → one ≤`bins`-key groupBy
    * carrying both counts (the side flag rides the scan; neither slice
    * is scanned twice) → a 1-row broadcast of the totals. The
    * deviation is a fixed double expression evaluated identically in
    * any IEEE engine.
    */
  def histogramDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val v = col(valueCol).cast("long")
    val all = ref.select(v.as("v"), lit(0L).as("side"))
      .unionAll(cur.select(v.as("v"), lit(1L).as("side")))
      .where(col("v").isNotNull)
    val bounds = boundsWithSpan(
      all.agg(min("v").as("_lo"), max("v").as("_hi")), bins)
    val binned = all.join(broadcast(bounds))
      .withColumn("_x", (col("v") - col("_lo")) * bins)
      .withColumn("bin", expr("(_x - pmod(_x, _d)) div _d"))
      .groupBy("bin")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("n_cur"))
    val totals = binned.agg(sum("n_ref").as("_tr"), sum("n_cur").as("_tc"))
    binned.join(broadcast(totals))
      .withColumn("dev_s",
        when(col("_tr") === 0L || col("_tc") === 0L, lit(null).cast("long"))
          .otherwise(floor(abs(
            col("n_ref").cast("double") / col("_tr").cast("double") -
              col("n_cur").cast("double") / col("_tc").cast("double")) *
            1000000.0).cast("long")))
      .select("bin", "n_ref", "n_cur", "dev_s")
  }

  /** Exact Pearson correlation matrix over integral columns in ONE
    * scan — the which-metrics-move-together companion to [[profile]]
    * (quality-signal redundancy, "does length explain the score",
    * feature pre-screening before a model fit). All five sufficient
    * statistics per pair (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as
    * DECIMAL(38,0) sums of long products — exact and order-independent,
    * where double sums would drift with partitioning — and only the
    * final r = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²))
    * evaluates in doubles, one fixed expression shape any IEEE engine
    * reproduces bit-for-bit. Fixed-point output ×`scale`; zero-variance
    * columns yield null (undefined), not a division crash. Rows with a
    * null in ANY profiled column are excluded (listwise deletion, the
    * textbook matrix convention).
    *
    * Inputs must fit 32 bits (|x| ≤ 2³¹−1) so products fit a long —
    * guarded per row with raise_error; rescale wider metrics first
    * (the fixed-point family note).
    *
    * Scale shape: ONE aggregate over one scan computes all
    * |cols|·(|cols|+1)/2 + |cols| + 1 statistics (map-side partial
    * aggregation; no per-pair pass, no shuffle beyond the 1-row agg),
    * then a literal struct-explode emits the pair rows.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
      scale: Long = 1000000L): DataFrame = {
    require(cols.size >= 2, s"need at least two columns, got $cols")
    require(scale > 0, s"scale must be positive, got $scale")
    val bound = Int.MaxValue.toLong
    def v(c: String): Column = {
      val x = col(c).cast("long")
      when(abs(x) <= bound, x).otherwise(raise_error(concat(
        lit(s"correlationMatrix: |$c| = "), abs(x).cast("string"),
        lit(s" exceeds the 32-bit product headroom ($bound) — rescale the column"))))
    }
    val rows = df.where(cols.map(col(_).isNotNull).reduce(_ && _))
    val pairs = for (i <- cols.indices; j <- i until cols.size) yield (i, j)
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(v(c).cast("decimal(38,0)")).as(s"s_$c")) ++
      pairs.map { case (i, j) =>
        sum((v(cols(i)) * v(cols(j))).cast("decimal(38,0)")).as(s"p_${i}_$j")
      }
    val wide = rows.agg(aggs.head, aggs.tail: _*)
    val entries = for (i <- cols.indices; j <- (i + 1) until cols.size) yield {
      val n = col("n").cast("double")
      def sd(c: String) = col(s"s_$c").cast("double")
      def pd(a: Int, b: Int) = col(s"p_${a}_$b").cast("double")
      val cov = n * pd(i, j) - sd(cols(i)) * sd(cols(j))
      val vi = n * pd(i, i) - sd(cols(i)) * sd(cols(i))
      val vj = n * pd(j, j) - sd(cols(j)) * sd(cols(j))
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        col("n").as("n_rows"),
        when(vi > 0.0 && vj > 0.0,
          floor(cov / sqrt(vi) / sqrt(vj) * scale).cast("long"))
          .otherwise(lit(null).cast("long")).as("corr_s"))
    }
    wide.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
  }

  /** Robust per-group statistics — the outlier-proof face of the
    * moment profiler (mean/stddev move with a single corrupted row;
    * median/MAD don't, which is why corpus length/quality monitoring
    * wants these): doubled exact median (2·median of an integer column
    * is an integer — the ×2 keeps the even-count midpoint exact where
    * a half would need a double), doubled MAD on the same trick, and
    * the 10-90% trimmed mean in fixed-point ×100.
    *
    * Scale shape — selection over the VALUE HISTOGRAM, never a per-row
    * rank: the only full-data shuffle is a (group, value) frequency
    * count (partial map-side combine); medians, MAD and the trimmed
    * mean all read off the histogram's running counts. The windows
    * therefore run over |distinct values| rows per group, not |rows| —
    * a per-row rank window (`row_number` partitioned by a 3-value
    * group column) funnels each group's ENTIRE value column through
    * one task's sort, the single-reducer collapse that killed this
    * operator's first formulation at scale. The MAD histogram derives
    * from the value histogram arithmetically (|2v − med2| preserves
    * multiplicity), so the second "pass" never rescans rows at all.
    */
  def robustStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("long")
    val rows = df.where(v.isNotNull).select(col(groupCol), v.as("v"))
    // the one full-data aggregation; everything below is histogram-
    // sized (left lazy: its consumers evaluate as parallel stages of
    // one job, and a checkpoint here measured slower than the
    // recompute at every tested scale)
    val hist = rows.groupBy(col(groupCol), col("v"))
      .agg(count(lit(1)).as("_cnt"))

    // running count ≤ value and group total, on histogram rows
    def cum(h: DataFrame, c: String): DataFrame =
      h.withColumn("_cum",
          sum("_cnt").over(Window.partitionBy(groupCol).orderBy(col(c))))
        .withColumn("_n", sum("_cnt").over(Window.partitionBy(groupCol)))

    // ONE window pass over the value histogram feeds BOTH the median
    // and the trimmed mean:
    //   - doubled median by TWO ORDER STATISTICS: ranks (n+1) div 2
    //     and n div 2 + 1 (1-based) — for odd n both hit the middle
    //     value (summing it twice), for even n the two middle values;
    //     their sum is exactly 2·median, all integer. The value at
    //     rank r is the smallest value whose running count reaches r
    //     (min-when over the monotone _cum).
    //   - 10-90% trim: a value's copies occupy ranks (_cum−_cnt,
    //     _cum]; the kept window is (cut, n−cut]; the overlap length
    //     is how many copies survive — a cut inside a tie run keeps
    //     exactly the right number of copies, value-neutral like a
    //     rank formulation.
    // `div` keeps the exactly-divisible quotients in LONG arithmetic
    // (double `/` would round them off by one past 2^53 numerators).
    val base = cum(hist, "v")
      .withColumn("_cut", expr("_n div 10"))
      .withColumn("_keep", greatest(lit(0L),
        least(col("_cum"), col("_n") - col("_cut")) -
          greatest(col("_cum") - col("_cnt"), col("_cut"))))
      .groupBy(groupCol)
      .agg((min(when(col("_cum") >= expr("(_n + 1) div 2"), col("v"))) +
        min(when(col("_cum") >= expr("_n div 2 + 1"), col("v")))).as("med2"),
        max(col("_n")).as("n_rows"),
        sum(col("v") * col("_keep")).as("_s"), sum(col("_keep")).as("_k"))

    // MAD histogram from the value histogram: |2v − med2| carries each
    // value's multiplicity; deviations that collide re-aggregate.
    // Median of doubled deviations, doubled again: mad4 = 4·MAD exact.
    val devHist = hist
      .join(broadcast(base.select(col(groupCol), col("med2"))), Seq(groupCol))
      .withColumn("dev2", abs(col("v") * 2L - col("med2")))
      .groupBy(col(groupCol), col("dev2")).agg(sum("_cnt").as("_cnt"))
    val mad = cum(devHist, "dev2").groupBy(groupCol)
      .agg((min(when(col("_cum") >= expr("(_n + 1) div 2"), col("dev2"))) +
        min(when(col("_cum") >= expr("_n div 2 + 1"), col("dev2")))).as("mad4"))

    base.join(mad, Seq(groupCol))
      .select(col(groupCol), col("n_rows"), col("med2"), col("mad4"),
        expr("(_s * 100 - pmod(_s * 100, _k)) div _k").as("trimmed_mean_x100"))
  }

  /** Functional-dependency check over a candidate list — the schema-
    * discovery face ("is det → dep actually a rule in this drop, and if
    * not, how broken is it"): for each (det, dep) pair,
    *   n_violations = Σ over det-groups of (distinct deps − 1),
    * so 0 ⟺ the FD holds exactly and the magnitude says how many extra
    * dep values exist. NULL dets are a group like any other; NULL deps
    * are ignored (both engines' count(DISTINCT) convention).
    *
    * Scale shape: one 2-column projected groupBy per candidate (the
    * candidate list is bounded — this is a targeted check, not the
    * exponential lattice search of full FD mining; TANE-style discovery
    * composes this by feeding the surviving level-k pairs as level-k+1
    * candidates), then a ≤|candidates|-row union of 1-row aggregates.
    * Column pruning keeps each scan at exactly two columns.
    */
  def functionalDependencies(df: DataFrame,
      candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "need at least one (det, dep) candidate")
    candidates.map { case (det, dep) =>
      df.select(col(det), col(dep))
        .groupBy(col(det))
        .agg(countDistinct(col(dep)).as("nd"))
        .agg(count(lit(1)).as("n_keys"),
          sum(greatest(col("nd") - 1, lit(0L))).as("n_violations"))
        .select(lit(det).as("det_col"), lit(dep).as("dep_col"),
          col("n_keys"), col("n_violations"),
          (col("n_violations") === 0).as("holds"))
    }.reduce(_.unionAll(_))
  }

  /** Gini concentration coefficient of per-group mass — the one-number
    * skew summary ("how unequal are the shards/users/domains"): 0 =
    * perfectly even, →1 = one group holds everything. Exact integer
    * form over the rank-ordered group masses x₁ ≤ … ≤ x_n,
    *   gini_s = (2·Σ i·x_i − (n+1)·Σx) · 1e6  div  (n·Σx),
    * emitted with the counts so the reader can judge significance.
    *
    * Scale shape: one partial-aggregated groupBy to the per-group mass
    * table, then the rank window over GROUPS (the profiler contract:
    * group cardinality is the bounded dimension — users, shards,
    * languages; for unbounded keys profile a bucketed rollup first).
    * Headroom: the rank-weighted sum and the ·1e6 numerator accumulate
    * in DECIMAL(38,0) (long would wrap SILENTLY past n·Σx ≈ 9.2e12
    * while the DuckDB twin errors — the neymanAllocation convention),
    * so the only bound is decimal's 38 digits, unreachable here.
    *
    * @return one row (n_groups, total, gini_s)
    */
  def giniOfGroups(df: DataFrame, groupCol: String): DataFrame = {
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("x"))
    // rank over group masses via the two-level bucketed rank
    // (core.Ranks): an unpartitioned row_number window would hold every
    // group in one task
    Ranks.rowNumber(sizes, Seq(col("x"), col(groupCol)), out = "i")
      .select(col("x"), col("i"))
      .agg(count(lit(1)).as("n_groups"), sum(col("x")).as("total"),
        sum(col("i").cast("decimal(38,0)") * col("x")).as("ix"))
      .select(col("n_groups"), col("total"),
        expr("""cast(((2 * ix - (cast(n_groups as decimal(38,0)) + 1) * total)
                      * 1000000) div (cast(n_groups as decimal(38,0)) * total)
                as bigint)""").as("gini_s"))
  }

  /** Shannon entropy of a categorical column, floor-scaled 1e-6 nats —
    * the diversity dual of [[giniOfGroups]] (how many effective
    * categories): H = −Σ p_c ln p_c with every log taking EXACT-INTEGER
    * ratio arguments (c/N), floored per term before the weighted sum
    * (the perplexityScore contract), one final pmod-subtract floor
    * division. exp(H) is the effective category count.
    *
    * @return one row (n_categories, n_rows, entropy_s)
    */
  def entropyOf(df: DataFrame, colName: String): DataFrame = {
    val counts = df.where(col(colName).isNotNull)
      .groupBy(col(colName)).agg(count(lit(1)).as("c"))
    val n = counts.agg(sum(col("c")).as("n"))
    counts.crossJoin(broadcast(n))
      .select(col("c"), col("n"),
        (col("c") * floor(log(col("c").cast("double") / col("n").cast("double"))
          * 1e6).cast("long")).as("t"))
      .agg(count(lit(1)).as("n_categories"), max(col("n")).as("n_rows"),
        sum(col("t")).as("st"))
      .select(col("n_categories"), col("n_rows"),
        (-expr("(st - pmod(st, n_rows)) div n_rows")).as("entropy_s"))
  }

  /** Expected Benford first-digit masses, floor-scaled 1e-6 — ONE Scala
    * value feeds the operator and the oracle's literal list.
    */
  val benfordExpected: Seq[(Int, Long)] = (1 to 9).map(d =>
    d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)

  /** Benford's-law audit of a positive numeric column — the fabricated-
    * data / unit-mixup tripwire (naturally multiplicative quantities
    * follow log-uniform leading digits; uniform or capped synthetics
    * don't, and a drop that suddenly diverges from its own baseline is
    * the signal): per leading digit d ∈ [1, 9],
    *   n_obs, exp_s = floor(log10(1 + 1/d)·1e6),
    *   dev_s = (n_obs·1e6) div N − exp_s  (observed − expected mass).
    * Values < 1 are excluded (their integer part has no leading digit);
    * the caller pre-scales if sub-unit values matter.
    *
    * Scale shape: map-only digit extraction (string head of the long
    * integer part — exact, locale-free) + one ≤9-key partial-aggregated
    * groupBy + a 1-row broadcast of N. Headroom: n_obs·1e6 < 2⁶³ to
    * ~9.2e12 rows.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val obs = df
      .where(col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val n = obs.agg(sum(col("n_obs")).as("n_total"))
    val domain = benfordExpected
      .map { case (d, e) => struct(lit(d.toLong).as("digit"), lit(e).as("exp_s")) }
    obs.sparkSession.range(1).select(explode(array(domain: _*)).as("e"))
      .select(col("e.digit").as("digit"), col("e.exp_s").as("exp_s"))
      .join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(n))
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("exp_s"),
        (expr("(coalesce(n_obs, 0L) * 1000000L) div n_total") - col("exp_s"))
          .as("dev_s"))
  }
}
