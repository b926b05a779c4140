package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Basket

/** Market-basket faces (graft.analytics.Basket), oracle-checked.
  *
  * Fixture: orders are baskets; the item is the (brand, size) class of
  * each ordered part — ~1000 item classes, 4 distinct items per basket
  * on average, item supports 14–220 at sf0.01 (873 max at sf0.1), so a
  * minSupport of 5 leaves a real frequent-pair set (88 pairs at sf0.01)
  * while the Apriori prune and the hot-basket cap stay live code paths.
  */
object BasketQueries {

  private val minSupport = 5L

  // the prune/cap chain (Basket.frequentItems) is the shared expensive stage
  // of all three faces — a registry stage like the graph family's edge
  // bases
  private[queries] val frequentItems = QueryCaches.frame("basket.frequent_items") {
    (s, dir) =>
      val items = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("bk"),
          concat(col("p_brand"), lit("/"), col("p_size").cast("string")).as("item"))
      Basket.frequentItems(items, "bk", "item", minSupport, maxBasketItems = 10000)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // frequent co-occurring item pairs with support (Apriori-pruned,
    // hot-basket-capped — see Basket Scaladoc for the 100 TB posture)
    "q_basket_pairs" -> ((s, dir) =>
      Basket.frequentPairs(frequentItems(s, dir), minSupport)),

    // association rules a→b: confidence / lift in floor-scaled ppm,
    // DECIMAL(38,0) intermediates (lift's pair·N·1e6 wraps a silent
    // long past ~3e6 baskets)
    "q_basket_rules" -> ((s, dir) =>
      Basket.associationRules(frequentItems(s, dir), minSupport)),

    // "customers who bought X also bought" — top-3 partners per item by
    // (lift, confidence, id) with a fully deterministic tie-break; the
    // rank window partitions by ITEM (bounded groups), so the filter
    // plans a map-side WindowGroupLimit like the other top-k faces
    "q_basket_topk_partners" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("antecedent"))
        .orderBy(col("lift_ppm").desc, col("conf_ppm").desc, col("consequent"))
      Basket.associationRules(frequentItems(s, dir), minSupport)
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select("antecedent", "consequent", "conf_ppm", "lift_ppm", "rk")
    }),

    // no-silent-caps audit (VERDICT r10): the baskets a cap of 5 would
    // exclude, with their frequent-item counts — the drop the pair/rule
    // faces' cap makes is a query away, never invisible. (The shared fi
    // stage caps at 10000, which excludes nothing on this fixture; the
    // audit runs the tighter cap the operator would alert on.)
    "q_basket_cap_audit" -> ((s, dir) => {
      val items = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("bk"),
          concat(col("p_brand"), lit("/"), col("p_size").cast("string")).as("item"))
      Basket.cappedBaskets(items, "bk", "item", minSupport, maxBasketItems = 5)
    })
  )

  private val biSql: String =
    """bi AS (
      |  SELECT DISTINCT l.l_orderkey AS bk,
      |    p.p_brand || '/' || CAST(p.p_size AS VARCHAR) AS item
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |freq AS (
      |  SELECT item, CAST(count(*) AS BIGINT) AS item_supp
      |  FROM bi GROUP BY item HAVING count(*) >= 5),
      |okb AS (
      |  SELECT bi.bk FROM bi JOIN freq USING (item)
      |  GROUP BY bi.bk HAVING count(*) <= 10000),
      |fi AS (
      |  SELECT bi.bk, bi.item, freq.item_supp
      |  FROM bi JOIN freq USING (item) JOIN okb USING (bk)),
      |supp AS (
      |  SELECT item, CAST(count(*) AS BIGINT) AS item_supp
      |  FROM fi GROUP BY item),
      |pairs AS (
      |  SELECT a.item AS item_a, b.item AS item_b,
      |    CAST(count(*) AS BIGINT) AS pair_supp
      |  FROM fi a JOIN fi b ON a.bk = b.bk AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q_basket_pairs" ->
      s"""WITH $biSql
         |SELECT item_a, item_b, pair_supp FROM pairs""".stripMargin,

    // HUGEINT (not DECIMAL) intermediates: DuckDB's // on DECIMAL
    // divides at result scale THEN floors (rounding artifact — one ulp
    // off Spark's truncating decimal div), while HUGEINT // is true
    // integer floor division, identical to Spark's div on the
    // non-negative terms
    "q_basket_rules" ->
      s"""WITH $biSql,
         |rules AS (
         |  SELECT item_a AS antecedent, item_b AS consequent, pair_supp FROM pairs
         |  UNION ALL
         |  SELECT item_b, item_a, pair_supp FROM pairs),
         |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM fi)
         |SELECT r.antecedent, r.consequent, r.pair_supp,
         |  sa.item_supp AS supp_a, sc.item_supp AS supp_c, n.n_baskets,
         |  CAST((CAST(r.pair_supp AS HUGEINT) * 1000000) // sa.item_supp
         |    AS BIGINT) AS conf_ppm,
         |  CAST((CAST(r.pair_supp AS HUGEINT) * n.n_baskets * 1000000)
         |    // (CAST(sa.item_supp AS HUGEINT) * sc.item_supp)
         |    AS BIGINT) AS lift_ppm
         |FROM rules r
         |JOIN supp sa ON sa.item = r.antecedent
         |JOIN supp sc ON sc.item = r.consequent
         |CROSS JOIN n""".stripMargin,

    "q_basket_topk_partners" ->
      s"""WITH $biSql,
         |rules AS (
         |  SELECT item_a AS antecedent, item_b AS consequent, pair_supp FROM pairs
         |  UNION ALL
         |  SELECT item_b, item_a, pair_supp FROM pairs),
         |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM fi),
         |scored AS (
         |  SELECT r.antecedent, r.consequent,
         |    CAST((CAST(r.pair_supp AS HUGEINT) * 1000000) // sa.item_supp
         |      AS BIGINT) AS conf_ppm,
         |    CAST((CAST(r.pair_supp AS HUGEINT) * n.n_baskets * 1000000)
         |      // (CAST(sa.item_supp AS HUGEINT) * sc.item_supp)
         |      AS BIGINT) AS lift_ppm
         |  FROM rules r
         |  JOIN supp sa ON sa.item = r.antecedent
         |  JOIN supp sc ON sc.item = r.consequent
         |  CROSS JOIN n),
         |rk AS (
         |  SELECT antecedent, consequent, conf_ppm, lift_ppm,
         |    CAST(row_number() OVER (PARTITION BY antecedent
         |      ORDER BY lift_ppm DESC, conf_ppm DESC, consequent) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT antecedent, consequent, conf_ppm, lift_ppm, rk
         |FROM rk WHERE rk <= 3""".stripMargin,

    "q_basket_cap_audit" ->
      """WITH bi AS (
        |  SELECT DISTINCT l.l_orderkey AS bk,
        |    p.p_brand || '/' || CAST(p.p_size AS VARCHAR) AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |freq AS (
        |  SELECT item FROM bi GROUP BY item HAVING count(*) >= 5)
        |SELECT bk, CAST(count(*) AS BIGINT) AS frequent_items
        |FROM bi JOIN freq USING (item)
        |GROUP BY bk HAVING count(*) > 5""".stripMargin
  )
}
