package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Similarity-search queries over `embeddings(vec_id, embedding, label)`.
  *
  * ALL THREE top-k variants are fully hash-checked against DuckDB: every
  * numeric ingredient is deterministic by construction — fixed-point
  * dots (element-wise floor to 1e-6 summed as BIGINT), integer
  * pseudo-hyperplanes for the LSH buckets, lowest-id IVF centroids —
  * so bucketing, cell assignment, cosine doubles and the final ranking
  * reproduce bit-identically across engines.
  */
object SimilarityQueries {

  private val dotSql =
    """CAST(list_sum(list_transform(list_zip(%s, %s),
      |  p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1000000.0) AS BIGINT)))
      |  AS BIGINT)""".stripMargin

  /** cosine from two embedding expressions, via fixed-point parts —
    * the TOTAL twin of Similarity.cosine: zero-norm inputs yield the
    * −2 sentinel instead of 0/0
    */
  private def cosineSql(a: String, b: String): String = {
    val dot = dotSql.format(a, b)
    val na = dotSql.format(a, a)
    val nb = dotSql.format(b, b)
    s"""(CASE WHEN $na > 0 AND $nb > 0
       |      THEN CAST($dot AS DOUBLE) /
       |        sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE))
       |      ELSE -2.0 END)""".stripMargin
  }

  /** Rotated view of the embedding for LSH table `t` — the SQL twin of
    * Similarity.shuffleForTable (element rotation by 7t).
    */
  private def rotSql(t: Int): String =
    if (t == 0) "embedding"
    else s"embedding[${t * 7 + 1}:] || embedding[1:${t * 7}]"

  /** Sign-bit bucket of `nPlanes` integer pseudo-hyperplanes over a
    * rotated embedding — the SQL twin of Similarity.lshBucket:
    * plane weight w(p,d) = ((p*64+1+d) * 2654435761) % 1000003 − 501001,
    * projection = Σ floor(x_d · w(p,d)), bit p set iff projection > 0.
    */
  private def bucketSql(rot: String, nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val proj =
        s"""CAST(list_sum(list_transform($rot, (x, i) ->
           |  CAST(floor(CAST(x AS DOUBLE) *
           |    CAST((((${p * 64 + 1} + (i - 1)) * 2654435761) % 1000003) - 501001 AS DOUBLE))
           |    AS BIGINT))) AS BIGINT)""".stripMargin
      s"(CASE WHEN $proj > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB twin of Similarity.ivfTopK with `iters` Lloyd refinement
    * passes: a chain of CTE blocks, one per pass — score vs current
    * centroids (sc_i), rank-1 assign (a_i), per-dimension fixed-point
    * sums (sums_i), refined means (refined_i) — each feeding
    * cells_{i+1}; a cell with no members keeps its PREVIOUS centroid
    * (LEFT JOIN against cells_i, exactly like the Spark loop).
    */
  /** The shared Lloyd WITH-chain: `cells_0` seeds (16 lowest-id
    * vectors) through `iters` refinement blocks to `cells_$iters`,
    * then `scored_cells` (every vector × final centroid cosine) —
    * appended-to by [[kmeansSql]] and the standalone
    * q_sim_kmeans_assign / q_sim_kmeans_cells oracles.
    */
  private def kmeansChainSql(iters: Int): String = {
    val iterBlocks = (0 until iters).map { it =>
      s"""sc_$it AS (
         |  SELECT v.vec_id, v.embedding, c.cell_id,
         |    ${cosineSql("v.embedding", "c.cell_emb")} AS ccos
         |  FROM embeddings v CROSS JOIN cells_$it c),
         |a_$it AS (
         |  SELECT vec_id, embedding, cell_id FROM (
         |    SELECT vec_id, embedding, cell_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell_id) AS r
         |    FROM sc_$it) WHERE r = 1),
         |sums_$it AS (
         |  SELECT cell_id, i AS pos,
         |    CAST(sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0) AS BIGINT))
         |      AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM a_$it, unnest(range(len(embedding))) AS u(i)
         |  GROUP BY cell_id, i),
         |refined_$it AS (
         |  SELECT cell_id,
         |    list(CAST(s AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)) ORDER BY pos)
         |      AS new_emb
         |  FROM sums_$it GROUP BY cell_id),
         |cells_${it + 1} AS (
         |  SELECT c.cell_id, coalesce(r.new_emb, c.cell_emb) AS cell_emb
         |  FROM cells_$it c LEFT JOIN refined_$it r USING (cell_id))""".stripMargin
    }.mkString(",\n")
    val blocks = if (iters == 0) "" else s"$iterBlocks,\n"
    s"""cells_0 AS (
       |  SELECT vec_id AS cell_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cell_emb
       |  FROM embeddings ORDER BY vec_id LIMIT 16),
       |${blocks}scored_cells AS (
       |  SELECT v.vec_id, c.cell_id,
       |    ${cosineSql("v.embedding", "c.cell_emb")} AS ccos
       |  FROM embeddings v CROSS JOIN cells_$iters c)""".stripMargin
  }

  private def kmeansSql(iters: Int): String = {
    s"""WITH ${kmeansChainSql(iters)},
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cell_id) AS r
       |    FROM scored_cells) WHERE r = 1),
       |probed AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cell_id) AS r
       |    FROM scored_cells WHERE vec_id < 8) WHERE r <= 4),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probed p JOIN assigned a USING (cell_id)
       |  WHERE p.query_id != a.vec_id),
       |scored AS (
       |  SELECT p.query_id, p.vec_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine
       |  FROM pairs p
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings c ON c.vec_id = p.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** The literal weight matrix behind q_infer_weights — ONE Scala value
    * feeds both the Spark face and the oracle's SQL lists. 4 classes ×
    * 8 dims, small centered integers: w(c,d) = ((c·7 + d·3) mod 11) − 5.
    */
  private val inferWeights: Seq[Seq[Long]] =
    (0 until 4).map(c => (0 until 8).map(d => ((c * 7 + d * 3) % 11 - 5).toLong))

  /** The exact GD replay behind q_ml_logistic_train/_eval — the SQL
    * twin of `graft.ml.Training` (see its scaladoc for the fixed-point
    * spec): `ex` is the exploded 1e-6 feature table with parity labels,
    * `w_0` the zero head, and each iteration block computes margin →
    * hard-sigmoid proba → (dim)-keyed gradient → floor-div update with
    * lr = 1/2. All divisions are pmod-subtract + `//` (exact BIGINT,
    * floor semantics after the mod subtraction). Ends at `w_$iters`.
    */
  /** Portable list dot product: Σ aᵢ·bᵢ as BIGINT. */
  private def kcDotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT)"

  /** Signed-squared cosine (1e-6 fixed point) between two quantized
    * rows, pmod-subtract floor — mirrors Similarity.kCenters' sim.
    */
  private def kcSimSql(c: String, s: String): String = {
    val d = kcDotSql(s"$c.q", s"$s.q")
    val num = s"($d * abs($d) * 1000000)"
    val den = s"($c.n2 * $s.n2)"
    s"(($num - (($num % $den + $den) % $den)) // $den)"
  }

  /** The farthest-first traversal chain (quantize → norms → k argmin
    * rounds), shared verbatim by q_sim_kcenters and its coverage face.
    * Ends at the 1-row CTEs s1, p2..p$k.
    */
  private def kcentersChainSql(k: Int): String = {
    val rounds = (2 to k).map { r =>
      val prev = (1 until r).map(i => if (i == 1) "s1" else s"p$i")
      val aliases = prev.zipWithIndex.map { case (p, i) => s"$p x$i" }
      val sims = prev.indices.map(i => kcSimSql("c", s"x$i"))
      val ms = if (sims.size == 1) sims.head
        else s"greatest(${sims.mkString(", ")})"
      val notIn = prev.indices.map(i => s"x$i.vec_id").mkString(", ")
      s""",
         |p$r AS (
         |  SELECT c.vec_id, c.n2, c.q, $ms AS ms
         |  FROM qnf c, ${aliases.mkString(", ")}
         |  WHERE c.vec_id NOT IN ($notIn)
         |  ORDER BY ms, c.vec_id LIMIT 1)""".stripMargin
    }.mkString
    s"""sc AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
       |  FROM embeddings),
       |qq AS MATERIALIZED (
       |  SELECT vec_id,
       |    CASE WHEN amax > 0 THEN list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS INTEGER))
       |    ELSE list_transform(embedding, x -> 0) END AS q
       |  FROM sc),
       |qn AS (SELECT vec_id, q, ${kcDotSql("q", "q")} AS n2 FROM qq),
       |qnf AS MATERIALIZED (SELECT * FROM qn WHERE n2 > 0),
       |s1 AS (SELECT vec_id, n2, q FROM qnf ORDER BY vec_id LIMIT 1)$rounds"""
      .stripMargin
  }

  private def logisticChainSql(iters: Int): String = {
    val blocks = (0 until iters).map { it =>
      s"""z_$it AS (
         |  SELECT e.vec_id, max(e.ys) AS ys,
         |    CAST(sum(e.xs * w.w) AS BIGINT) AS z
         |  FROM ex e JOIN w_$it w USING (dim) GROUP BY e.vec_id),
         |p_$it AS (
         |  SELECT vec_id, ys,
         |    least(greatest(500000 +
         |      (z - ((z % 4000000 + 4000000) % 4000000)) // 4000000,
         |      0), 1000000) AS ps
         |  FROM z_$it),
         |g_$it AS (
         |  SELECT e.dim, CAST(sum((p.ps - p.ys) * e.xs) AS BIGINT) AS g
         |  FROM ex e JOIN p_$it p USING (vec_id) GROUP BY e.dim),
         |w_${it + 1} AS (
         |  SELECT w.dim, CAST(w.w -
         |    (g.g - ((g.g % d.d + d.d) % d.d)) // d.d AS BIGINT) AS w
         |  FROM w_$it w JOIN g_$it g USING (dim)
         |  CROSS JOIN (SELECT n * 2 * 1000000 AS d FROM nn) d)""".stripMargin
    }.mkString(",\n")
    s"""ex AS (
       |  SELECT vec_id, CAST(label % 2 AS BIGINT) * 1000000 AS ys,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
       |      AS BIGINT) AS xs
       |  FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |w_0 AS (SELECT DISTINCT dim, CAST(0 AS BIGINT) AS w FROM ex),
       |$blocks""".stripMargin
  }

  /** The prototype-classifier replay: exploded 1e-6 features with the
    * FULL multiclass label, per-(class, dim) floor-mean centroid
    * weights — ends at `ex(vec_id, y, dim, xs)` and `cw(cls, dim, w)`.
    */
  private lazy val ncmChainSql: String =
    s"""ex AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS y,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
       |      AS BIGINT) AS xs
       |  FROM embeddings),
       |cw AS (
       |  SELECT y AS cls, dim,
       |    CAST((s - ((s % n + n) % n)) // n AS BIGINT) AS w
       |  FROM (
       |    SELECT y, dim, CAST(count(*) AS BIGINT) AS n,
       |      CAST(sum(xs) AS BIGINT) AS s
       |    FROM ex GROUP BY 1, 2))""".stripMargin

  /** The k-fold CV replay behind q_ml_cv_eval: the same fixed-point GD
    * blocks as [[logisticChainSql]], instantiated once per fold with
    * train rows `fold <> f` (fold = vec_id mod k, portable), then each
    * fold's head scored on its HELD-OUT rows and the per-fold confusion
    * unioned. Dense embeddings ⇒ every dim has a gradient each round,
    * so the inner update join is safe (the sparse text chain is the one
    * needing LEFT).
    */
  private def cvChainSql(nFolds: Int, iters: Int): String = {
    val foldBlocks = (0 until nFolds).map { f =>
      val blocks = (0 until iters).map { it =>
        s"""zf${f}_$it AS (
           |  SELECT e.vec_id, max(e.ys) AS ys,
           |    CAST(sum(e.xs * w.w) AS BIGINT) AS z
           |  FROM ex e JOIN wf${f}_$it w USING (dim)
           |  WHERE e.fold <> $f GROUP BY e.vec_id),
           |pf${f}_$it AS (
           |  SELECT vec_id, ys,
           |    least(greatest(500000 +
           |      (z - ((z % 4000000 + 4000000) % 4000000)) // 4000000,
           |      0), 1000000) AS ps
           |  FROM zf${f}_$it),
           |gf${f}_$it AS (
           |  SELECT e.dim, CAST(sum((p.ps - p.ys) * e.xs) AS BIGINT) AS g
           |  FROM ex e JOIN pf${f}_$it p USING (vec_id) GROUP BY e.dim),
           |wf${f}_${it + 1} AS (
           |  SELECT w.dim, CAST(w.w -
           |    (g.g - ((g.g % d.d + d.d) % d.d)) // d.d AS BIGINT) AS w
           |  FROM wf${f}_$it w JOIN gf${f}_$it g USING (dim)
           |  CROSS JOIN (SELECT n * 2 * 1000000 AS d FROM nnf$f) d)""".stripMargin
      }.mkString(",\n")
      s"""nnf$f AS (
         |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n
         |  FROM ex WHERE fold <> $f),
         |wf${f}_0 AS (SELECT DISTINCT dim, CAST(0 AS BIGINT) AS w FROM ex),
         |$blocks,
         |sf$f AS (
         |  SELECT e.vec_id, max(e.ys) AS ys,
         |    CAST(sum(e.xs * w.w) AS BIGINT) AS z
         |  FROM ex e JOIN wf${f}_$iters w USING (dim)
         |  WHERE e.fold = $f GROUP BY e.vec_id),
         |rf$f AS (
         |  SELECT CAST($f AS BIGINT) AS fold, ys // 1000000 AS y,
         |    CASE WHEN least(greatest(500000 +
         |        (z - ((z % 4000000 + 4000000) % 4000000)) // 4000000,
         |        0), 1000000) >= 500000
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred
         |  FROM sf$f)""".stripMargin
    }.mkString(",\n")
    val unioned = (0 until nFolds)
      .map(f => s"SELECT fold, y, pred FROM rf$f")
      .mkString("\nUNION ALL\n")
    s"""ex AS (
       |  SELECT vec_id, vec_id % $nFolds AS fold,
       |    CAST(label % 2 AS BIGINT) * 1000000 AS ys,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
       |      AS BIGINT) AS xs
       |  FROM embeddings),
       |$foldBlocks,
       |allf AS (
       |$unioned)""".stripMargin
  }

  /** [[logisticChainSql]](3) extended with the final corpus scoring:
    * ends at `fp(vec_id, y, ps)` — the shared base of the eval / AUC /
    * sweep oracles (the SQL twin of [[logisticScored]]).
    */
  private lazy val logisticScoredSql: String =
    s"""${logisticChainSql(3)},
       |fz AS (
       |  SELECT e.vec_id, max(e.ys) AS ys,
       |    CAST(sum(e.xs * w.w) AS BIGINT) AS z
       |  FROM ex e JOIN w_3 w USING (dim) GROUP BY e.vec_id),
       |fp AS (
       |  SELECT vec_id, ys // 1000000 AS y,
       |    least(greatest(500000 +
       |      (z - ((z % 4000000 + 4000000) % 4000000)) // 4000000,
       |      0), 1000000) AS ps
       |  FROM fz)""".stripMargin

  private def labeledEmb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").withColumn("y", pmod(col("label"), lit(2)))

  /** Trained head for the ml eval family (train / eval / auc / sweep
    * share one 3-iteration GD fit — the pipeline shape: fit once,
    * measure and threshold the same head). Weights are a dims-length
    * driver array; Bench's warm-up pays the training jobs off the clock.
    */
  private[queries] val trainedHead = QueryCaches.value("similarity.trained_head")(
    (s, dir) => graft.ml.Training.trainLogisticWeights(labeledEmb(s, dir), "y", iters = 3))

  /** NCM prototype table — one centroid pass shared by the train and
    * eval faces (the trainedHead pattern).
    */
  private[queries] val ncmProtos = QueryCaches.value("similarity.ncm_protos")((s, dir) =>
    graft.ml.Training.centroidWeights(Tables(s, dir, "embeddings"), "label"))

  /** Scored corpus (y, p_s) under the memoized head — the shared input
    * of the AUC and threshold-sweep faces.
    */
  private def logisticScored(s: SparkSession, dir: String): DataFrame = {
    val emb = labeledEmb(s, dir)
    graft.ml.Training.logisticPredict(emb, trainedHead(s, dir))
      .join(emb.select(col("vec_id"), col("y").cast("long").as("y")), "vec_id")
      .select("y", "p_s")
  }

  /** ONE Scala value feeds the sweep face and its oracle's unnest list. */
  private val sweepThresholds: Seq[Long] = (0 to 10).map(_ * 100000L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // brute-force cosine top-5 for 8 query vectors over all candidates
    "q_sim_brute_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteTopK(emb.where(col("vec_id") < 8), emb, k = 5)
    }),

    // hard-negative mining for contrastive training: per query, the 5
    // most-similar DIFFERENT-label vectors (the negatives nearest the
    // decision boundary — where the training signal is)
    "q_sim_hard_negatives" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.hardNegatives(emb.where(col("vec_id") < 8), emb, k = 5)
    }),

    // multi-table hyperplane-LSH ANN (hash-checked: integer
    // pseudo-hyperplanes make bucketing deterministic; recall vs brute
    // force additionally asserted in SimilaritySpec)
    "q_sim_lsh_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb.where(col("vec_id") < 8), emb, k = 5)
    }),

    // IVF ANN: nearest-centroid cells, nProbe-cell query scan
    // (hash-checked: lowest-id centroids + fixed-point cosines; recall +
    // exact-equivalence additionally asserted in SimilaritySpec)
    "q_sim_ivf_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, k = 5)
    }),

    // IVF with one Lloyd (k-means) refinement pass over the seed
    // centroids — fixed-point means keep the refined centroids (and
    // therefore assignment, probing, and ranking) oracle-exact
    "q_sim_ivf_kmeans" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, k = 5, kmeansIters = 1)
    }),

    // two Lloyd passes — proves the fixed-point-mean loop stays
    // oracle-exact under COMPOSITION (iteration 2 consumes iteration 1's
    // refined centroids, incl. the keep-previous-centroid empty-cell rule)
    "q_sim_ivf_kmeans2" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, k = 5, kmeansIters = 2)
    }),

    // standalone k-means data map: cluster membership + fixed-point
    // centroid-cosine confidence after 2 deterministic Lloyd passes
    "q_sim_kmeans_assign" -> ((s, dir) =>
      Similarity.kmeansAssign(Tables(s, dir, "embeddings"), nCells = 16, iters = 2)),

    // per-cluster cohesion summary (spherical inertia analogue)
    "q_sim_kmeans_cells" -> ((s, dir) =>
      Similarity.kmeansSummary(Tables(s, dir, "embeddings"), nCells = 16, iters = 2)),

    // per-label centroid component sums — exact fixed-point math
    "q_sim_centroids" -> ((s, dir) =>
      Similarity.centroidStats(Tables(s, dir, "embeddings"), groupCol = "label")),

    // embedding outliers: cosine to the own-label centroid, flagged
    // below 0.0 (the ~p10 tail on this corpus)
    "q_sim_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(Tables(s, dir, "embeddings"),
        groupCol = "label", minCosine = 0.0)),

    // matryoshka truncate-to-8 + renormalize, exploded to scalar
    // components for the hash compare (array columns don't hash-sort)
    "q_sim_truncate_norm" -> ((s, dir) =>
      Similarity.truncateNormalize(Tables(s, dir, "embeddings"), dims = 8)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") * 1000000.0).cast("long").as("comp_s"))),

    // SemDeDup semantic dedup: nearest-centroid cells bound the pairwise
    // term; lowest-id representative survives each near-dup neighborhood
    "q_dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(Tables(s, dir, "embeddings"),
        nCells = 16, threshold = 0.35)),

    // int8 scalar quantization, exploded to (vec_id, dim, qv) codes +
    // the per-vector max-abs scale (IEEE-exact → hash-checked)
    "q_sim_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("amax"), posexplode(col("q")).as(Seq("dim", "qv")))
        .select(col("vec_id"), col("amax"), col("dim").cast("long").as("dim"),
          col("qv"))),

    // Johnson–Lindenstrauss sign projection of the int8 codes down to
    // 16 dims: ±1 entries from the portable mid-square parity, exact
    // BIGINT outputs, map-only (hash-checked)
    "q_sim_sign_project" -> ((s, dir) =>
      Similarity.signProject(Tables(s, dir, "embeddings"), outDims = 16)),

    // brute-force top-k over the QUANTIZED codes — the compressed search
    // path; integer code dots/norms, scale factors cancel in the cosine
    "q_sim_quantized_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.quantizedTopK(emb.where(col("vec_id") < 8), emb, k = 5)
    }),

    // margin-based mining (Artetxe–Schwenk): every 41st vector probes
    // the rest; candidates scored RELATIVE to both endpoints' top-4
    // neighborhoods (2k-scaled integer margin), hubs self-normalize out
    "q_sim_bitext_margin" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.marginMine(
        emb.where(col("vec_id") % 41 === 0),
        emb.where(col("vec_id") % 41 =!= 0), k = 4, topPairs = 2)
    }),

    // product-quantization ANN: 4 subspaces × 16 codewords, ADC scoring
    // over the broadcast query LUT — integer fixed-point throughout
    "q_sim_pq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.pqTopK(emb.where(col("vec_id") < 8), emb, k = 5, m = 4, nCodes = 16)
    }),

    // IVF-PQ: coarse cell restriction × PQ-ADC scoring — the production
    // ANN composition (cells, codebook, codes, LUT all deterministic)
    "q_sim_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb.where(col("vec_id") < 8), emb, k = 5,
        nCells = 16, nProbe = 4, m = 4, nCodes = 16)
    }),

    // 1-bit binary sketch search: 48 sign bits per vector, Hamming
    // ranking by bit_count(xor) — the extreme compression end
    "q_sim_hamming_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.hammingTopK(emb.where(col("vec_id") < 8), emb, k = 5, nPlanes = 48)
    }),

    // batch linear-classifier inference (graft.ml.Inference): argmax
    // class + fixed-point score + runner-up margin per vector — the
    // "apply the quality/topic model to the whole corpus" step, as a
    // map-only codegen'd projection (no UDF, no shuffle)
    "q_infer_linear" -> ((s, dir) =>
      graft.ml.Inference.linearClassify(Tables(s, dir, "embeddings"),
        nClasses = 4)),

    // the trained-model face: an explicit 4×8 integer weight matrix as
    // plan literals (8-wide rows score the embedding prefix — the
    // documented zip_with contract); the SAME Scala value generates the
    // oracle's literal lists, so the two cannot drift
    "q_infer_weights" -> ((s, dir) =>
      graft.ml.Inference.linearClassifyWeights(Tables(s, dir, "embeddings"),
        inferWeights)),

    // distributed TRAINING of the binary quality head (graft.ml
    // .Training): 3 hard-sigmoid GD iterations, lr = 1/2, label parity
    // as the binary target; output is the learned fixed-point weight
    // table (dim, w_s) — every iteration replayed exactly by the
    // DuckDB oracle (rational hard sigmoid, no exp())
    "q_ml_logistic_train" -> ((s, dir) => {
      import s.implicits._
      trainedHead(s, dir).toIndexedSeq.zipWithIndex
        .map { case (wv, d) => (d.toLong, wv) }.toDF("dim", "w_s")
    }),

    // train-then-evaluate composition: confusion-matrix counts of the
    // trained head on the training corpus — the filter-model quality
    // gate before full-corpus application
    "q_ml_logistic_eval" -> ((s, dir) =>
      logisticScored(s, dir)
        .withColumn("pred", (col("p_s") >= lit(500000L)).cast("long"))
        .groupBy("y", "pred").agg(count(lit(1)).as("n_rows"))),

    // exact tie-corrected ROC-AUC of the trained head (Mann-Whitney U
    // in 2-scaled integer arithmetic over the bounded per-score grid)
    "q_ml_auc" -> ((s, dir) =>
      graft.ml.Evaluation.aucExact(logisticScored(s, dir), "y", "p_s")),

    // operating-point sweep: confusion + fixed-point precision/recall
    // at 11 thresholds — how the filter threshold gets picked
    "q_ml_threshold_sweep" -> ((s, dir) =>
      graft.ml.Evaluation.thresholdSweep(logisticScored(s, dir), "y", "p_s",
        sweepThresholds)),

    // reliability-diagram bins of the trained head: per score decile,
    // count / observed positives / summed predicted score — whether the
    // head's probabilities are trustworthy as soft-filter weights
    "q_ml_calibration" -> ((s, dir) =>
      graft.ml.Evaluation.calibrationBins(logisticScored(s, dir), "y", "p_s")),

    // 3-fold cross-validated confusion of the logistic head: held-out
    // generalization counts, the honest twin of in-sample q_ml_logistic_eval
    "q_ml_cv_eval" -> ((s, dir) =>
      graft.ml.Training.crossValEval(labeledEmb(s, dir), "y", nFolds = 3)),

    // nearest-class-mean prototypes: per (class, dim) centroid weights
    // at the 1e-6 grid — the few-shot classifier's persistable model
    "q_ml_ncm_train" -> ((s, dir) => {
      import s.implicits._
      ncmProtos(s, dir)
        .flatMap { case (cls, w) =>
          w.toIndexedSeq.zipWithIndex.map { case (wv, d) => (cls, d.toLong, wv) }
        }.toDF("cls", "dim", "w_s")
    }),

    // 10-class prototype classification of the corpus: confusion counts
    // under argmax integer-dot scoring, ties to the lowest class
    "q_ml_ncm_eval" -> ((s, dir) =>
      graft.ml.Training.ncmEvalWith(Tables(s, dir, "embeddings"), "label",
        ncmProtos(s, dir))),

    // greedy k-center coreset: 6 maximally-diverse vectors by
    // farthest-first traversal over signed-squared int8 cosines —
    // deterministic anchor (lowest nonzero id), ties to lowest id,
    // every selection re-derivable → exact unrolled oracle
    "q_sim_kcenters" -> ((s, dir) =>
      Similarity.kCenters(Tables(s, dir, "embeddings"), k = 6)),

    // per-center coverage of the same traversal: assignment mass + the
    // k-center objective (worst assigned similarity per center)
    "q_sim_kcenters_cover" -> ((s, dir) =>
      Similarity.kCentersCover(Tables(s, dir, "embeddings"), k = 6)),

    // dominant principal direction by 2-step power iteration over the
    // int8 Gram matrix (never materialized): the corpus-geometry /
    // anisotropy summary. Fixed iterations → exact CTE unroll; all
    // integer with driver-side L∞ renormalization (dims-bounded
    // collect, the classifier-head budget)
    "q_ml_pca_top" -> ((s, dir) =>
      graft.ml.Pca.topComponent(Tables(s, dir, "embeddings"),
        dims = 64, iters = 2)),

    // measured recall@5 of the LSH retriever against the brute-force
    // ground truth — the ANN ladder's quality gate as a QUERY, not
    // just a spec assertion
    "q_sim_ann_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      Similarity.annRecall(
        Similarity.bruteTopK(q, emb, k = 5),
        Similarity.lshTopK(q, emb, k = 5))
    }),

    // one-number corpus diversity: mean pairwise signed-squared cosine
    // over the id-mod-11 sample — the anisotropy / mode-collapse
    // monitor (near scale = collapsed, near 0 = diverse)
    "q_sim_diversity" -> ((s, dir) =>
      Similarity.pairwiseDiversity(Tables(s, dir, "embeddings"))),

    // MRR@5 of the LSH retriever vs the brute-force truth — recall's
    // how-much twin answered with how-soon; misses score 0, not a
    // dropped row
    "q_sim_mrr" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      Similarity.mrr(
        Similarity.bruteTopK(q, emb, k = 5),
        Similarity.lshTopK(q, emb, k = 5))
    }),

    // per-dimension fixed-point mean drift between the even/odd
    // pseudo-snapshots — the embedding-side histogramDrift
    "q_sim_drift" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.embeddingDrift(
        emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1))
    }),

    // reciprocal-rank fusion of the LSH and IVF retriever rankings —
    // consensus top-k, fixed-point RRF scores
    "q_sim_rrf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      Similarity.rrfFuse(Seq(
        Similarity.lshTopK(q, emb, k = 5),
        Similarity.ivfTopK(q, emb, k = 5)), k = 5)
    }),

    // end-to-end embedding index build — the similarity-family flagship
    // COMPOSITION (the peer of q_pipeline_curation / q_pipeline_dedup):
    // semantic dedup keep → int8 quantization → per-cell index report
    // (kept count, fixed-point norm and scale sums). Each stage is
    // individually oracle-checked by its own query elsewhere.
    "q_pipeline_embeddings" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val kept = Similarity.semanticDedup(emb, nCells = 16, threshold = 0.35)
        .where(col("keep")).select("vec_id", "cell_id")
      val qz = Similarity.quantizeInt8(emb)
        .select(col("vec_id"), floor(col("amax") * 1000000.0).cast("long").as("amax_s"))
      emb.join(kept, Seq("vec_id")).join(qz, Seq("vec_id"))
        .groupBy("cell_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(Similarity.normFp(col("embedding"))).as("sum_norm_s"),
          sum(col("amax_s")).as("sum_amax_s"))
    })
  )

  /** The SemDeDup CTE chain (cells → assignment → within-cell dup
    * pairs → dropped set), shared by the q_dedup_semantic oracle and
    * the q_pipeline_embeddings composition oracle — one definition, so
    * the faces cannot desynchronize. Callers prepend `WITH ` and append
    * their final SELECT over `assigned`/`dropped`.
    */
  private val semanticChainSql: String =
    s"""cells AS (
       |  SELECT vec_id AS cell_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cell_emb
       |  FROM embeddings ORDER BY vec_id LIMIT 16),
       |scored_cells AS (
       |  SELECT v.vec_id, c.cell_id,
       |    ${cosineSql("v.embedding", "c.cell_emb")} AS ccos
       |  FROM embeddings v CROSS JOIN cells c),
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cell_id) AS r
       |    FROM scored_cells) WHERE r = 1),
       |j AS (
       |  SELECT e.vec_id, a.cell_id, e.embedding
       |  FROM embeddings e JOIN assigned a USING (vec_id)),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM j a JOIN j b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.35)""".stripMargin

  /** Centroid-outlier twin — its own oracle key, and embedded as a
    * derived table by the cross-family q_curation_report oracle
    * (TextQueries).
    */
  private[queries] val outlierSql: String =
    s"""WITH sums AS (
       |  SELECT label, generate_subscripts(embedding, 1) AS dim,
       |    unnest(embedding) AS x
       |  FROM embeddings),
       |s2 AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
       |      AS BIGINT) AS s,
       |    count(*) AS n
       |  FROM sums GROUP BY 1, 2),
       |cent AS (
       |  SELECT label,
       |    list(CAST(s AS DOUBLE) / (1000000.0 * n) ORDER BY dim) AS c_emb
       |  FROM s2 GROUP BY 1),
       |sc AS (
       |  SELECT e.vec_id, e.label,
       |    ${cosineSql("e.embedding", "c.c_emb")} AS cos_centroid
       |  FROM embeddings e JOIN cent c USING (label))
       |SELECT vec_id, label, cos_centroid,
       |  cos_centroid < 0.0 AS is_outlier
       |FROM sc""".stripMargin

  /** Shared retriever twins: referenced by their own oracle keys AND
    * embedded verbatim as derived tables in the RRF fusion oracle.
    */
  private val lshOracle: String = {
    // one bucket branch per LSH table (8 tables, 4 planes each)
    val branches = (0 until 8).map(t =>
      s"""  SELECT vec_id, $t AS tbl,
         |    ${bucketSql(rotSql(t), nPlanes = 4)} AS bucket
         |  FROM embeddings""".stripMargin).mkString("\n  UNION ALL\n")
    s"""WITH buckets AS (
       |$branches),
       |pairs AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       |  FROM buckets q
       |  JOIN buckets c ON c.tbl = q.tbl AND c.bucket = q.bucket
       |    AND c.vec_id != q.vec_id
       |  WHERE q.vec_id < 8),
       |scored AS (
       |  SELECT p.query_id, p.vec_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine
       |  FROM pairs p
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings c ON c.vec_id = p.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  private val ivfOracle: String =
    s"""WITH cells AS (
       |  SELECT vec_id AS cell_id, embedding AS cell_emb
       |  FROM embeddings ORDER BY vec_id LIMIT 16),
       |scored_cells AS (
       |  SELECT v.vec_id, c.cell_id,
       |    ${cosineSql("v.embedding", "c.cell_emb")} AS ccos
       |  FROM embeddings v CROSS JOIN cells c),
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cell_id) AS r
       |    FROM scored_cells) WHERE r = 1),
       |probed AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cell_id) AS r
       |    FROM scored_cells WHERE vec_id < 8) WHERE r <= 4),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probed p JOIN assigned a USING (cell_id)
       |  WHERE p.query_id != a.vec_id),
       |scored AS (
       |  SELECT p.query_id, p.vec_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine
       |  FROM pairs p
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings c ON c.vec_id = p.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** The brute-force ground-truth oracle — shared verbatim by its own
    * face and the recall measurement (the rrf embed pattern).
    */
  private lazy val bruteOracle: String = {
    val dotQC = dotSql.format("q.embedding", "c.embedding")
    val normQ = dotSql.format("q.embedding", "q.embedding")
    val normC = dotSql.format("c.embedding", "c.embedding")
    val normSelf = dotSql.format("embedding", "embedding")
    // nz mirrors the operator's zero-norm guard: degenerate vectors
    // have no defined cosine and never appear on either side
    s"""WITH nz AS (
       |  SELECT * FROM embeddings WHERE $normSelf > 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |    CAST($dotQC AS DOUBLE) /
       |      sqrt(CAST($normQ AS DOUBLE) * CAST($normC AS DOUBLE)) AS cosine
       |  FROM (SELECT * FROM nz WHERE vec_id < 8) q
       |  JOIN nz c ON q.vec_id != c.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_sim_brute_topk" -> bruteOracle,

    // both retriever oracles embed verbatim; recall = hits over truth
    "q_sim_ann_recall" ->
      s"""WITH t AS (SELECT query_id, vec_id FROM ($bruteOracle)),
         |r AS (SELECT query_id, vec_id FROM ($lshOracle)),
         |j AS (
         |  SELECT t.query_id,
         |    CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM t LEFT JOIN r USING (query_id, vec_id))
         |SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(hit) AS BIGINT) AS n_hit,
         |  CAST((CAST(sum(hit) AS BIGINT) * 1000000) //
         |    CAST(count(*) AS BIGINT) AS BIGINT) AS recall_s
         |FROM j GROUP BY 1""".stripMargin,

    // same quantize ladder; pairwise signed-squared cosines with the
    // pmod-subtract floor ladder on both the per-pair sim and the mean
    // (sims and their sum are legitimately negative)
    "q_sim_diversity" ->
      s"""WITH sc AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |qq AS (
         |  SELECT vec_id,
         |    CASE WHEN amax > 0 THEN list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS INTEGER))
         |    ELSE list_transform(embedding, x -> 0) END AS q
         |  FROM sc),
         |qn AS (SELECT vec_id, q, ${kcDotSql("q", "q")} AS n2 FROM qq),
         |qnf AS MATERIALIZED (
         |  SELECT * FROM qn WHERE n2 > 0 AND vec_id % 11 = 0),
         |p AS (
         |  SELECT ${kcSimSql("a", "b")} AS sim_s
         |  FROM qnf a JOIN qnf b ON a.vec_id < b.vec_id),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(sim_s) AS BIGINT) AS s FROM p)
         |SELECT n_pairs,
         |  (s - ((s % greatest(n_pairs, 1) + greatest(n_pairs, 1))
         |    % greatest(n_pairs, 1))) // greatest(n_pairs, 1) AS mean_sim_s
         |FROM g""".stripMargin,

    // the truth/retrieved chains are the same brute/LSH oracles the
    // recall face embeds; // on positive ranks matches DIV
    "q_sim_mrr" ->
      s"""WITH t AS (SELECT query_id, vec_id FROM ($bruteOracle)),
         |r AS (SELECT query_id, vec_id, rank FROM ($lshOracle)),
         |j AS (
         |  SELECT t.query_id, min(r.rank) AS first_hit_rank
         |  FROM t LEFT JOIN r USING (query_id, vec_id)
         |  GROUP BY 1)
         |SELECT query_id, first_hit_rank,
         |  CASE WHEN first_hit_rank IS NULL THEN CAST(0 AS BIGINT)
         |    ELSE 1000000 // first_hit_rank END AS rr_s
         |FROM j""".stripMargin,

    // mirrors Similarity.embeddingDrift: side flag off vec_id parity,
    // one dims-keyed aggregate, pmod-subtract floor means
    "q_sim_drift" ->
      s"""WITH u AS (
         |  SELECT vec_id % 2 AS side,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
         |      AS BIGINT) AS xs
         |  FROM embeddings),
         |g AS (
         |  SELECT dim,
         |    CAST(sum(CASE WHEN side = 0 THEN xs ELSE 0 END) AS BIGINT) AS sr,
         |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
         |    CAST(sum(CASE WHEN side = 1 THEN xs ELSE 0 END) AS BIGINT) AS sc,
         |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc
         |  FROM u GROUP BY 1),
         |m AS (
         |  SELECT dim,
         |    CASE WHEN nr = 0 THEN NULL
         |      ELSE (sr - ((sr % nr + nr) % nr)) // nr END AS mean_ref_s,
         |    CASE WHEN nc = 0 THEN NULL
         |      ELSE (sc - ((sc % nc + nc) % nc)) // nc END AS mean_cur_s
         |  FROM g)
         |SELECT dim, mean_ref_s, mean_cur_s,
         |  abs(mean_ref_s - mean_cur_s) AS dev_s
         |FROM m""".stripMargin,

    "q_sim_hard_negatives" -> {
      val dotQC = dotSql.format("q.embedding", "c.embedding")
      val normQ = dotSql.format("q.embedding", "q.embedding")
      val normC = dotSql.format("c.embedding", "c.embedding")
      val normSelf = dotSql.format("embedding", "embedding")
      // same zero-norm guard as the brute oracle; the join predicate is
      // label inequality instead of id inequality
      s"""WITH nz AS (
         |  SELECT * FROM embeddings WHERE $normSelf > 0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS query_label,
         |    c.vec_id AS vec_id, c.label AS neg_label,
         |    CAST($dotQC AS DOUBLE) /
         |      sqrt(CAST($normQ AS DOUBLE) * CAST($normC AS DOUBLE)) AS cosine
         |  FROM (SELECT * FROM nz WHERE vec_id < 8) q
         |  JOIN nz c ON q.label != c.label),
         |ranked AS (
         |  SELECT query_id, query_label, vec_id, neg_label, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, query_label, vec_id, neg_label, cosine, rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    },

    "q_sim_lsh_topk" -> lshOracle,

    "q_sim_ivf_kmeans" -> kmeansSql(1),

    "q_sim_ivf_kmeans2" -> kmeansSql(2),

    "q_sim_kmeans_assign" ->
      s"""WITH ${kmeansChainSql(2)}
         |SELECT vec_id, cell_id,
         |  CAST(floor(ccos * 1000000.0) AS BIGINT) AS ccos_s
         |FROM (
         |  SELECT vec_id, cell_id, ccos, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cell_id) AS r
         |  FROM scored_cells) WHERE r = 1""".stripMargin,

    "q_sim_kmeans_cells" ->
      s"""WITH ${kmeansChainSql(2)},
         |assigned AS (
         |  SELECT vec_id, cell_id,
         |    CAST(floor(ccos * 1000000.0) AS BIGINT) AS ccos_s
         |  FROM (
         |    SELECT vec_id, cell_id, ccos, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell_id) AS r
         |    FROM scored_cells) WHERE r = 1)
         |SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(ccos_s) AS BIGINT) AS sum_ccos_s
         |FROM assigned GROUP BY 1""".stripMargin,

    "q_sim_ivf_topk" -> ivfOracle,

    "q_sim_centroids" ->
      """WITH e AS (
        |  SELECT label, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings)
        |SELECT label, CAST(dim - 1 AS BIGINT) AS dim,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
        |    AS BIGINT) AS sum_s
        |FROM e GROUP BY 1, 2""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH $semanticChainSql
         |SELECT a.vec_id, a.cell_id, (d.vec_id IS NULL) AS keep
         |FROM assigned a LEFT JOIN dropped d USING (vec_id)""".stripMargin,

    "q_pipeline_embeddings" -> {
      val normS = dotSql.format("embedding", "embedding")
      s"""WITH $semanticChainSql,
         |kept AS (
         |  SELECT a.vec_id, a.cell_id
         |  FROM assigned a LEFT JOIN dropped d USING (vec_id)
         |  WHERE d.vec_id IS NULL),
         |qa AS (
         |  SELECT vec_id,
         |    CAST(floor(list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) * 1000000.0) AS BIGINT) AS amax_s
         |  FROM embeddings),
         |nrm AS (SELECT vec_id, $normS AS norm_s FROM embeddings)
         |SELECT k.cell_id, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(n.norm_s) AS BIGINT) AS sum_norm_s,
         |  CAST(sum(q.amax_s) AS BIGINT) AS sum_amax_s
         |FROM kept k
         |JOIN nrm n USING (vec_id)
         |JOIN qa q USING (vec_id)
         |GROUP BY 1""".stripMargin
    },

    "q_sim_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, amax,
        |    CASE WHEN amax > 0 THEN
        |      list_transform(embedding, x ->
        |        CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS INTEGER))
        |    ELSE list_transform(embedding, x -> 0) END AS q
        |  FROM s)
        |SELECT vec_id, amax,
        |  CAST(generate_subscripts(q, 1) - 1 AS BIGINT) AS dim,
        |  unnest(q) AS qv
        |FROM q""".stripMargin,

    // same quantize ladder as q_sim_quantize, then the exploded-form
    // twin of the engine's map-only HOF: sign = mid-square parity of
    // the cell key, summed per (vec_id, out-dim). % on non-negative
    // intermediates matches Spark's pmod-free arithmetic exactly.
    "q_sim_sign_project" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN amax > 0 THEN
        |      list_transform(embedding, x ->
        |        CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS INTEGER))
        |    ELSE list_transform(embedding, x -> 0) END AS q
        |  FROM s),
        |expl AS (
        |  SELECT vec_id,
        |    CAST(generate_subscripts(q, 1) - 1 AS BIGINT) AS i,
        |    CAST(unnest(q) AS BIGINT) AS qv
        |  FROM q),
        |dims AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11,
        |  12, 13, 14, 15]) AS j),
        |terms AS (
        |  SELECT e.vec_id, CAST(d.j AS BIGINT) AS dim,
        |    CASE WHEN ((((e.i * 4096 + d.j) * (e.i * 4096 + d.j) + 12345)
        |        % 2147483647)
        |      * (((e.i * 4096 + d.j) * (e.i * 4096 + d.j) + 12345)
        |        % 2147483647)
        |      + 6789) % 2147483647 % 2 = 0
        |    THEN e.qv ELSE -e.qv END AS t
        |  FROM expl e CROSS JOIN dims d)
        |SELECT vec_id, dim, CAST(sum(t) AS BIGINT) AS proj
        |FROM terms GROUP BY 1, 2""".stripMargin,

    "q_sim_quantized_topk" -> {
      val qdotSql =
        """CAST(list_sum(list_transform(list_zip(%s, %s),
          |  p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
          |  AS BIGINT)""".stripMargin
      val dotQC = qdotSql.format("q.q", "c.q")
      val normQ = qdotSql.format("q.q", "q.q")
      val normC = qdotSql.format("c.q", "c.q")
      s"""WITH s AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |qz0 AS (
         |  SELECT vec_id,
         |    CASE WHEN amax > 0 THEN
         |      list_transform(embedding, x ->
         |        CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS INTEGER))
         |    ELSE list_transform(embedding, x -> 0) END AS q
         |  FROM s),
         |qz AS (
         |  SELECT * FROM qz0 WHERE ${qdotSql.format("q", "q")} > 0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    CAST($dotQC AS DOUBLE) /
         |      sqrt(CAST($normQ AS DOUBLE) * CAST($normC AS DOUBLE)) AS qcosine
         |  FROM (SELECT * FROM qz WHERE vec_id < 8) q
         |  JOIN qz c ON q.vec_id != c.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, qcosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY qcosine DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, qcosine, rank FROM ranked WHERE rank <= 5""".stripMargin
    },

    "q_sim_bitext_margin" -> {
      val qdotSql =
        """CAST(list_sum(list_transform(list_zip(%s, %s),
          |  p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
          |  AS BIGINT)""".stripMargin
      val dotXY = qdotSql.format("x.q", "y.q")
      val normX = qdotSql.format("x.q", "x.q")
      val normY = qdotSql.format("y.q", "y.q")
      s"""WITH s AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |qz0 AS (
         |  SELECT vec_id,
         |    CASE WHEN amax > 0 THEN
         |      list_transform(embedding, x ->
         |        CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS INTEGER))
         |    ELSE list_transform(embedding, x -> 0) END AS q
         |  FROM s),
         |qz AS (
         |  SELECT * FROM qz0 WHERE ${qdotSql.format("q", "q")} > 0),
         |xs AS (SELECT vec_id AS src_id, q FROM qz WHERE vec_id % 41 = 0),
         |ys AS (SELECT vec_id AS dst_id, q FROM qz WHERE vec_id % 41 <> 0),
         |pairs AS (
         |  SELECT x.src_id, y.dst_id,
         |    CAST(floor(1000000.0 * CAST($dotXY AS DOUBLE) /
         |      sqrt(CAST($normX AS DOUBLE) * CAST($normY AS DOUBLE)))
         |      AS BIGINT) AS cos_s
         |  FROM xs x JOIN ys y ON x.src_id <> y.dst_id),
         |fwd AS (
         |  SELECT src_id, CAST(sum(cos_s) AS BIGINT) AS sum_fwd FROM (
         |    SELECT src_id, cos_s, row_number() OVER (PARTITION BY src_id
         |      ORDER BY cos_s DESC, dst_id) AS r
         |    FROM pairs)
         |  WHERE r <= 4 GROUP BY 1),
         |bwd AS (
         |  SELECT dst_id, CAST(sum(cos_s) AS BIGINT) AS sum_bwd FROM (
         |    SELECT dst_id, cos_s, row_number() OVER (PARTITION BY dst_id
         |      ORDER BY cos_s DESC, src_id) AS r
         |    FROM pairs)
         |  WHERE r <= 4 GROUP BY 1),
         |marg AS (
         |  SELECT p.src_id, p.dst_id, p.cos_s,
         |    8 * p.cos_s - f.sum_fwd - b.sum_bwd AS margin_s
         |  FROM pairs p JOIN fwd f USING (src_id) JOIN bwd b USING (dst_id)),
         |ranked AS (
         |  SELECT src_id, dst_id, cos_s, margin_s,
         |    CAST(row_number() OVER (PARTITION BY src_id
         |      ORDER BY margin_s DESC, dst_id) AS BIGINT) AS rank
         |  FROM marg)
         |SELECT src_id, dst_id, cos_s, margin_s, rank
         |FROM ranked WHERE rank <= 2""".stripMargin
    },

    "q_sim_hamming_topk" -> {
      val sig = bucketSql("embedding", nPlanes = 48)
      val normSelf = dotSql.format("embedding", "embedding")
      s"""WITH sigs AS (
         |  SELECT vec_id, CAST($sig AS BIGINT) AS sig FROM embeddings
         |  WHERE $normSelf > 0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) AS hamming
         |  FROM (SELECT * FROM sigs WHERE vec_id < 8) q
         |  JOIN sigs c ON q.vec_id != c.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, hamming,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming ASC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, hamming, rank FROM ranked WHERE rank <= 5""".stripMargin
    },

    // mirrors Inference.linearClassifyWeights over the shared literal
    // matrix: list_zip pads the 8-wide weight rows against the full
    // embedding with NULLs, coalesced to 0 exactly like the Spark face
    "q_infer_weights" -> {
      val scoreRows = inferWeights.zipWithIndex.map { case (w, c) =>
        val wList = w.mkString("[", ", ", "]")
        s"""SELECT vec_id, CAST($c AS BIGINT) AS c,
           |  CAST(list_sum(list_transform(list_zip(embedding, $wList),
           |    p -> coalesce(CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))
           |      AS BIGINT), 0))) AS BIGINT) AS score_s
           |FROM embeddings""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (
         |$scoreRows),
         |r AS (
         |  SELECT vec_id, c, score_s,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY score_s DESC, c) AS rk
         |  FROM s)
         |SELECT a.vec_id, a.c AS pred_class,
         |  a.score_s AS pred_score_s, a.score_s - b.score_s AS margin_s
         |FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2""".stripMargin
    },

    // mirrors Inference.linearClassify: same integer weight grid
    // w(c,d) = ((c·64+1+d)·2654435761) mod 1000003 − 501001 (d 0-based),
    // floor(x·w) BIGINT sums, argmax by (score desc, class asc), margin
    // vs the rank-2 class
    "q_infer_linear" ->
      s"""WITH s AS (
         |  SELECT vec_id, u.c AS c,
         |    CAST(list_sum(list_transform(embedding, (x, i) ->
         |      CAST(floor(CAST(x AS DOUBLE) *
         |        CAST((((u.c * 64 + 1 + (i - 1)) * 2654435761) % 1000003) - 501001
         |          AS DOUBLE)) AS BIGINT))) AS BIGINT) AS score_s
         |  FROM embeddings, unnest(range(4)) AS u(c)),
         |r AS (
         |  SELECT vec_id, c, score_s,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY score_s DESC, c) AS rk
         |  FROM s)
         |SELECT a.vec_id, CAST(a.c AS BIGINT) AS pred_class,
         |  a.score_s AS pred_score_s, a.score_s - b.score_s AS margin_s
         |FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2""".stripMargin,

    "q_ml_logistic_train" ->
      s"""WITH ${logisticChainSql(3)}
         |SELECT dim, w AS w_s FROM w_3""".stripMargin,

    "q_ml_logistic_eval" ->
      s"""WITH $logisticScoredSql
         |SELECT CAST(y AS BIGINT) AS y,
         |  CAST(CASE WHEN ps >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM fp GROUP BY 1, 2""".stripMargin,

    // mirrors Evaluation.aucExact: per-score grid → strictly-smaller
    // cumulative → 2-scaled average-rank Mann-Whitney U
    "q_ml_auc" ->
      s"""WITH $logisticScoredSql,
         |per AS (
         |  SELECT ps AS s, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM fp GROUP BY 1),
         |rk AS (
         |  SELECT s, n, n_pos,
         |    CAST(coalesce(sum(n) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_less
         |  FROM per),
         |a AS (
         |  SELECT CAST(sum(n_pos * (2 * cum_less + n + 1)) AS BIGINT) AS sum_pos_r2,
         |    CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |    CAST(sum(n - n_pos) AS BIGINT) AS n_neg
         |  FROM rk)
         |SELECT n_pos, n_neg,
         |  CAST(sum_pos_r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num_x2,
         |  CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den_x2,
         |  CASE WHEN n_pos * n_neg = 0 THEN NULL
         |    ELSE CAST(sum_pos_r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |      CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
         |FROM a""".stripMargin,

    // mirrors Evaluation.thresholdSweep: bounded per-score grid fanned
    // across the SAME literal threshold list the Spark face uses
    "q_ml_threshold_sweep" ->
      s"""WITH $logisticScoredSql,
         |per AS (
         |  SELECT ps AS s, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM fp GROUP BY 1),
         |t AS (SELECT unnest([${sweepThresholds.mkString(", ")}]) AS thr_s),
         |conf AS (
         |  SELECT thr_s,
         |    CAST(sum(CASE WHEN s >= thr_s THEN n_pos ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN s >= thr_s THEN n - n_pos ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN s < thr_s THEN n_pos ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN s < thr_s THEN n - n_pos ELSE 0 END) AS BIGINT) AS tn
         |  FROM per CROSS JOIN t GROUP BY 1)
         |SELECT CAST(thr_s AS BIGINT) AS thr_s, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |    ELSE (tp * 1000000) // (tp + fp) END AS precision_s,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |    ELSE (tp * 1000000) // (tp + fn) END AS recall_s
         |FROM conf""".stripMargin,

    "q_ml_cv_eval" ->
      s"""WITH ${cvChainSql(3, 3)}
         |SELECT fold, y, pred, CAST(count(*) AS BIGINT) AS n_rows
         |FROM allf GROUP BY 1, 2, 3""".stripMargin,

    "q_ml_ncm_train" ->
      s"""WITH $ncmChainSql
         |SELECT cls, dim, w AS w_s FROM cw""".stripMargin,

    // unrolled farthest-first traversal mirroring Similarity.kCenters:
    // each round is a 1-row argmin CTE (min max-sim, ties to lowest
    // id) over the candidates crossed with the previously-selected
    // 1-row CTEs; signed-squared cosine with the pmod-subtract floor
    // ladder (sims are legitimately negative)
    "q_sim_kcenters" -> {
      val out = (2 to 6).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, CAST(ms AS BIGINT) FROM p$r")
        .mkString("\n")
      s"""WITH ${kcentersChainSql(6)}
         |SELECT CAST(1 AS BIGINT) AS sel_round, vec_id,
         |  CAST(NULL AS BIGINT) AS max_sim_s FROM s1
         |$out""".stripMargin
    },

    // the coverage report over the SAME traversal chain: every vector
    // assigned to its best center (greatest of the six sims; the CASE
    // ladder takes the FIRST = lowest-round match on ties, mirroring
    // the engine's fold), per-center mass + worst assigned similarity
    "q_sim_kcenters_cover" -> {
      val aliases = (1 to 6).map(r => if (r == 1) "s1" else s"p$r")
        .zipWithIndex.map { case (p, i) => s"$p x$i" }
      val sims = (0 until 6).map(i => s"sim_$i")
      val simDefs = (0 until 6).map(i =>
        s"${kcSimSql("c", s"x$i")} AS sim_$i").mkString(",\n    ")
      val ladder = (0 until 6).map(i =>
        s"WHEN ${sims(i)} = best THEN CAST(${i + 1} AS BIGINT)")
        .mkString(" ")
      s"""WITH ${kcentersChainSql(6)},
         |sims AS (
         |  SELECT c.vec_id,
         |    $simDefs
         |  FROM qnf c, ${aliases.mkString(", ")}),
         |bst AS (
         |  SELECT vec_id, greatest(${sims.mkString(", ")}) AS best,
         |    ${sims.mkString(", ")}
         |  FROM sims),
         |asn AS (
         |  SELECT vec_id, best, CASE $ladder END AS center_round
         |  FROM bst)
         |SELECT center_round, CAST(count(*) AS BIGINT) AS n_assigned,
         |  CAST(min(best) AS BIGINT) AS min_sim_s
         |FROM asn GROUP BY 1""".stripMargin
    },

    // unrolled power iteration mirroring Pca.topComponent: quantize →
    // explode; per round one vec-keyed dot and one dim-keyed
    // projection sum, L∞-renormalized by the round's max; coordinates
    // are legitimately negative, where DuckDB's // TRUNCATES — the
    // pmod-subtract ladder restores floor semantics to match the
    // engine's Math.floorDiv (the logisticChainSql convention)
    "q_ml_pca_top" -> {
      val rounds = (1 to 2).map { r =>
        s""",
           |s$r AS (
           |  SELECT e.vec_id, CAST(sum(e.qv * v.v) AS BIGINT) AS s
           |  FROM expl e JOIN v${r - 1} v USING (dim) GROUP BY 1),
           |u$r AS (
           |  SELECT e.dim, CAST(sum(e.qv * s.s) AS BIGINT) AS u
           |  FROM expl e JOIN s$r s USING (vec_id) GROUP BY 1),
           |v$r AS (
           |  SELECT dim, CAST((n - ((n % m + m) % m)) // m AS BIGINT) AS v
           |  FROM (SELECT dim, CAST(u AS HUGEINT) * 1000000 AS n,
           |          CAST(g.m AS HUGEINT) AS m
           |        FROM u$r, (SELECT greatest(max(abs(u)), 1) AS m
           |                   FROM u$r) g))"""
        .stripMargin
      }.mkString
      s"""WITH sc AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |qq AS MATERIALIZED (
         |  SELECT vec_id,
         |    CASE WHEN amax > 0 THEN list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS INTEGER))
         |    ELSE list_transform(embedding, x -> 0) END AS q
         |  FROM sc),
         |expl AS MATERIALIZED (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(q, 1) - 1 AS BIGINT) AS dim,
         |    CAST(unnest(q) AS BIGINT) AS qv
         |  FROM qq),
         |v0 AS (SELECT DISTINCT dim, CAST(1000000 AS BIGINT) AS v FROM expl)$rounds
         |SELECT dim, v AS v_s FROM v2""".stripMargin
    },

    // argmax by (score desc, cls asc) — the face's fold keeps the
    // earlier (lower) class on ties
    "q_ml_ncm_eval" ->
      s"""WITH $ncmChainSql,
         |sc AS (
         |  SELECT e.vec_id, max(e.y) AS y, c.cls,
         |    CAST(sum(e.xs * c.w) AS BIGINT) AS score
         |  FROM ex e JOIN cw c USING (dim)
         |  GROUP BY e.vec_id, c.cls),
         |best AS (
         |  SELECT vec_id, y, cls AS pred FROM (
         |    SELECT vec_id, y, cls,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY score DESC, cls) AS rn
         |    FROM sc) WHERE rn = 1)
         |SELECT y, pred, CAST(count(*) AS BIGINT) AS n_rows
         |FROM best GROUP BY 1, 2""".stripMargin,

    // mirrors Evaluation.calibrationBins: equal-width score bins with a
    // closed top bin (least-clamp), exact integer outputs
    "q_ml_calibration" ->
      s"""WITH $logisticScoredSql
         |SELECT least(ps // 100000, 9) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(ps) AS BIGINT) AS sum_score_s
         |FROM fp GROUP BY 1""".stripMargin,

    "q_sim_rrf" -> {
      // the two retriever oracles embed verbatim as derived tables — a
      // retriever-twin tweak cannot desynchronize the fusion oracle
      def listSql(inner: String) =
        s"""SELECT query_id, vec_id,
           |  CAST(floor(1000000.0 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS s
           |FROM ($inner)""".stripMargin
      s"""WITH u AS (
         |${listSql(lshOracle)}
         |UNION ALL
         |${listSql(ivfOracle)}),
         |fused AS (
         |  SELECT query_id, vec_id, CAST(sum(s) AS BIGINT) AS rrf_s,
         |    CAST(count(*) AS BIGINT) AS n_lists
         |  FROM u GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, vec_id, rrf_s, n_lists,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_s DESC, vec_id) AS BIGINT) AS rank
         |  FROM fused)
         |SELECT query_id, vec_id, rrf_s, n_lists, rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    },

    "q_sim_outliers" -> outlierSql,

    "q_sim_pq_topk" -> {
      // m=4 subspaces of 16 dims (64-dim embeddings), 16 codewords each
      val l2Sql =
        """CAST(list_sum(list_transform(list_zip(%s, %s),
          |  p -> CAST(floor((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
          |    (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * 1000000.0) AS BIGINT)))
          |  AS BIGINT)""".stripMargin
      val cbBranches = (0 until 4).map(s =>
        s"""  SELECT $s AS sub, vec_id AS code_id,
           |    list_transform(embedding[${s * 16 + 1}:${(s + 1) * 16}],
           |      x -> CAST(x AS DOUBLE)) AS code_emb
           |  FROM seeds""".stripMargin).mkString("\n  UNION ALL\n")
      val svBranches = (0 until 4).map(s =>
        s"""  SELECT vec_id, $s AS sub,
           |    embedding[${s * 16 + 1}:${(s + 1) * 16}] AS sv
           |  FROM embeddings""".stripMargin).mkString("\n  UNION ALL\n")
      s"""WITH seeds AS (
         |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
         |codebook AS (
         |$cbBranches),
         |subsv AS (
         |$svBranches),
         |assigned AS (
         |  SELECT vec_id, sub, code_id FROM (
         |    SELECT v.vec_id, v.sub, c.code_id,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub
         |        ORDER BY ${l2Sql.format("v.sv", "c.code_emb")}, c.code_id) AS r
         |    FROM subsv v JOIN codebook c ON c.sub = v.sub) WHERE r = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, q.sub, c.code_id,
         |    ${dotSql.format("q.sv", "c.code_emb")} AS dot
         |  FROM (SELECT * FROM subsv WHERE vec_id < 8) q
         |  JOIN codebook c ON c.sub = q.sub),
         |scored AS (
         |  SELECT l.query_id, a.vec_id, CAST(sum(l.dot) AS BIGINT) AS score_s
         |  FROM assigned a JOIN lut l ON l.sub = a.sub AND l.code_id = a.code_id
         |  WHERE l.query_id != a.vec_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, vec_id, score_s,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_s DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, score_s, rank FROM ranked WHERE rank <= 5""".stripMargin
    },

    "q_sim_ivfpq_topk" -> {
      val l2Sql =
        """CAST(list_sum(list_transform(list_zip(%s, %s),
          |  p -> CAST(floor((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
          |    (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * 1000000.0) AS BIGINT)))
          |  AS BIGINT)""".stripMargin
      val cbBranches = (0 until 4).map(s =>
        s"""  SELECT $s AS sub, vec_id AS code_id,
           |    list_transform(embedding[${s * 16 + 1}:${(s + 1) * 16}],
           |      x -> CAST(x AS DOUBLE)) AS code_emb
           |  FROM seeds""".stripMargin).mkString("\n  UNION ALL\n")
      val svBranches = (0 until 4).map(s =>
        s"""  SELECT vec_id, $s AS sub,
           |    embedding[${s * 16 + 1}:${(s + 1) * 16}] AS sv
           |  FROM embeddings""".stripMargin).mkString("\n  UNION ALL\n")
      s"""WITH cells AS (
         |  SELECT vec_id AS cell_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cell_emb
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |scored_cells AS (
         |  SELECT v.vec_id, c.cell_id,
         |    ${cosineSql("v.embedding", "c.cell_emb")} AS ccos
         |  FROM embeddings v CROSS JOIN cells c),
         |cell_assigned AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell_id) AS r
         |    FROM scored_cells) WHERE r = 1),
         |probed AS (
         |  SELECT vec_id AS query_id, cell_id FROM (
         |    SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell_id) AS r
         |    FROM scored_cells WHERE vec_id < 8) WHERE r <= 4),
         |seeds AS (
         |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
         |codebook AS (
         |$cbBranches),
         |subsv AS (
         |$svBranches),
         |codes AS (
         |  SELECT vec_id, sub, code_id FROM (
         |    SELECT v.vec_id, v.sub, c.code_id,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub
         |        ORDER BY ${l2Sql.format("v.sv", "c.code_emb")}, c.code_id) AS r
         |    FROM subsv v JOIN codebook c ON c.sub = v.sub) WHERE r = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, q.sub, c.code_id,
         |    ${dotSql.format("q.sv", "c.code_emb")} AS dot
         |  FROM (SELECT * FROM subsv WHERE vec_id < 8) q
         |  JOIN codebook c ON c.sub = q.sub),
         |scored AS (
         |  SELECT l.query_id, co.vec_id, CAST(sum(l.dot) AS BIGINT) AS score_s
         |  FROM codes co
         |  JOIN cell_assigned ca ON ca.vec_id = co.vec_id
         |  JOIN probed p ON p.cell_id = ca.cell_id
         |  JOIN lut l ON l.query_id = p.query_id
         |    AND l.sub = co.sub AND l.code_id = co.code_id
         |  WHERE l.query_id != co.vec_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, vec_id, score_s,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_s DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, score_s, rank FROM ranked WHERE rank <= 5""".stripMargin
    },

    "q_sim_truncate_norm" -> {
      val normS = dotSql.format("embedding[1:8]", "embedding[1:8]")
      s"""WITH t AS (
         |  SELECT vec_id, embedding[1:8] AS emb_t, $normS AS norm_s
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id,
         |    CASE WHEN norm_s > 0 THEN
         |      list_transform(emb_t, x -> CAST(CAST(x AS DOUBLE) /
         |        sqrt(CAST(norm_s AS DOUBLE) / 1000000.0) AS FLOAT))
         |    ELSE emb_t END AS embedding
         |  FROM t)
         |SELECT vec_id,
         |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT)
         |    AS comp_s
         |FROM n""".stripMargin
    }
  )
}
