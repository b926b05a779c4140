package graft.analytics

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence analysis: frequent item pairs and
  * association rules (support / confidence / lift) — the classic
  * "customers who bought X also bought Y" family, and the same primitive
  * a training-data pipeline uses for tag/domain co-occurrence audits.
  *
  * Scale design (the whole point of this operator at 100 TB):
  *   - **Apriori prune first.** An item pair can only reach `minSupport`
  *     if BOTH items individually do (downward closure), so infrequent
  *     items are dropped BEFORE the quadratic per-basket expansion. On a
  *     heavy-tailed item catalogue this removes almost all of it.
  *   - **Hot-basket cap.** Per-basket pair fan-out is C(size, 2); one
  *     pathological basket with 10⁶ items would emit 5·10¹¹ pairs (the
  *     same hazard class as the k-truss low-id hub). Baskets with more
  *     than `maxBasketItems` distinct frequent items are excluded
  *     deterministically — [[cappedBaskets]] is the audit query that
  *     makes the exclusions visible (no silent caps) — bounding every
  *     basket's fan-out at cap²/2. The cap is a HAVING on a counted
  *     aggregate — no window, no skewed shuffle.
  *   - The pair self-join shuffles on the basket key once; pair rows are
  *     (item, item) ids only — item payloads never travel.
  *
  * Exactness: supports are longs; confidence/lift are emitted as
  * floor-scaled ppm with DECIMAL(38,0) intermediates (the
  * neymanAllocation/gini convention) — lift's numerator pair·N·1e6
  * would wrap a silent long past N ≈ 3·10⁶ baskets.
  *
  * Reference context: the reference has no basket operator; this extends
  * the reception-edge m2m expansion shape (reference:
  * etl_textreuse/assets/reception.py:56-60) to the co-occurrence
  * statistics family.
  */
object Basket {

  /** Distinct (basket, item, item_supp) rows restricted to frequent
    * items and capped baskets — the shared base of every basket face.
    * PUBLIC so callers computing several statistics over one basket
    * table (pairs + rules + top-k) can persist THIS stage once and feed
    * the `fi`-taking overloads: the prune/cap chain is two shuffles
    * over the raw basket lines, and recomputing it per statistic is
    * the dominant cost at any scale.
    */
  def frequentItems(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketItems: Int): DataFrame = {
    val bi = baskets.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .where(col("bk").isNotNull && col("item").isNotNull)
      .distinct()
    // downward closure: prune items below minSupport before any pairing
    val freq = bi.groupBy(col("item")).agg(count(lit(1)).as("item_supp"))
      .where(col("item_supp") >= minSupport)
    // hot-basket cap: bound the quadratic fan-out per basket
    val okBaskets = bi.join(freq, "item")
      .groupBy(col("bk")).agg(count(lit(1)).as("sz"))
      .where(col("sz") <= maxBasketItems)
      .select("bk")
    bi.join(freq, "item").join(okBaskets, "bk")
      .select(col("bk"), col("item"), col("item_supp"))
  }

  /** The baskets [[frequentItems]]' hot-basket cap EXCLUDES, with their
    * frequent-item sizes — the no-silent-caps audit face of the family:
    * the cap is a deliberate, deterministic drop, and this is the one
    * query that makes the drop visible (count it, alert on it, or raise
    * the cap). Same two shuffles as the prune/cap chain itself; empty
    * when no basket exceeds the cap.
    */
  def cappedBaskets(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketItems: Int): DataFrame = {
    val bi = baskets.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .where(col("bk").isNotNull && col("item").isNotNull)
      .distinct()
    val freq = bi.groupBy(col("item")).agg(count(lit(1)).as("item_supp"))
      .where(col("item_supp") >= minSupport)
    bi.join(freq, "item")
      .groupBy(col("bk")).agg(count(lit(1)).as("frequent_items"))
      .where(col("frequent_items") > maxBasketItems)
  }

  /** Frequent co-occurring item pairs: (item_a < item_b, pair_supp)
    * with pair_supp ≥ minSupport. One shuffle on the basket key for the
    * expansion, one on the pair key for the count.
    */
  def frequentPairs(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketItems: Int = 10000): DataFrame =
    frequentPairs(
      frequentItems(baskets, basketCol, itemCol, minSupport, maxBasketItems),
      minSupport)

  /** [[frequentPairs]] over a precomputed (ideally persisted)
    * [[frequentItems]] stage.
    */
  def frequentPairs(fi: DataFrame, minSupport: Long): DataFrame = {
    val b = fi.select("bk", "item")
    b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("pair_supp"))
      .where(col("pair_supp") >= minSupport)
  }

  /** Association rules a→b over the frequent pairs (both directions):
    * conf_ppm = ⌊supp(a,b)·10⁶ / supp(a)⌋,
    * lift_ppm = ⌊supp(a,b)·N·10⁶ / (supp(a)·supp(b))⌋ with N = basket
    * count over the capped frequent-item base (DECIMAL(38,0) terms).
    * The 1-row N attaches by broadcast crossJoin (the bounded-aggregate
    * shape on PlanAuditSpec's allowlist).
    */
  def associationRules(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketItems: Int = 10000): DataFrame =
    associationRules(
      frequentItems(baskets, basketCol, itemCol, minSupport, maxBasketItems),
      minSupport)

  /** [[associationRules]] over a precomputed (ideally persisted)
    * [[frequentItems]] stage — everything (supports, pairs, N) derives
    * from the one `fi` scan. Item supports are RECOUNTED over the
    * capped basket set: the pre-cap `item_supp` carried by `fi` mixes
    * statistical bases with pair_supp/n_baskets whenever the hot-basket
    * cap actually excludes baskets, biasing confidence and lift; here
    * all four terms share the one capped base.
    */
  def associationRules(fi: DataFrame, minSupport: Long): DataFrame = {
    // fi rows are distinct (bk, item), so count(*) per item IS the
    // per-item basket support over the capped base
    val supp = fi.groupBy("item").agg(count(lit(1)).as("item_supp"))
    val pairs = frequentPairs(fi, minSupport)
    val rules = pairs.select(
        col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("pair_supp"))
      .unionAll(pairs.select(
        col("item_b").as("antecedent"), col("item_a").as("consequent"),
        col("pair_supp")))
    val n = fi.select("bk").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    rules
      .join(supp.select(col("item").as("antecedent"), col("item_supp").as("supp_a")),
        "antecedent")
      .join(supp.select(col("item").as("consequent"), col("item_supp").as("supp_c")),
        "consequent")
      .crossJoin(F.broadcast(n))
      .select(col("antecedent"), col("consequent"), col("pair_supp"),
        col("supp_a"), col("supp_c"), col("n_baskets"),
        expr("cast((cast(pair_supp as decimal(38,0)) * 1000000) div supp_a as bigint)")
          .as("conf_ppm"),
        expr("""cast((cast(pair_supp as decimal(38,0)) * n_baskets * 1000000)
                     div (cast(supp_a as decimal(38,0)) * supp_c) as bigint)""")
          .as("lift_ppm"))
  }
}
