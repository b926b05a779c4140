package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Deduplication operator queries over `documents`, with DuckDB oracles
  * that re-derive the identical polynomial hashes / LSH bands /
  * fixed-point cosines, so even the MinHash pipeline is hash-checked
  * end-to-end (not just rows-only).
  */
object DedupQueries {

  private val P = TextAnalysis.HashMod

  /** ONE Scala value feeds the single-link level faces and the oracle's
    * per-level closures.
    */
  private val singleLinkLevels: Seq[Long] = Seq(300000L, 500000L, 950000L)

  // ---------- shared DuckDB fragments (must mirror TextAnalysis/Dedup) ----
  private def charHash(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(acc, c) -> (acc * 31 + c) % $P)"

  private val toks = "regexp_split_to_array(trim(text), '\\s+')"

  /** Per-token rolling hashes (TextAnalysis.tokenHashTable's `th`). */
  private val thSql = s"list_transform($toks, tk -> ${charHash("tk")})"

  /** ONE Scala value feeds the q_dedup_leakage_split Spark face and its
    * oracle's CASE ladder (the q_sample_splits pattern).
    */
  private val leakageSplits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** The 4-round min-label group chain shared by the q_dedup_groups and
    * q_dedup_leakage_split oracles: shingle sets → windowed candidates →
    * exact Jaccard ≥ 0.2 pair graph → l0 identity labels → l1..l4
    * (adopt min(own, neighbours' previous labels)) — mirrors
    * Dedup.dedupGroups exactly. Ends at `l4(doc_id, group_id)`.
    */
  /** The near-dup pair graph as SQL, ending at the symmetric edge list
    * `e(doc_id, nbr)` — the CTE twin of [[dedupPairs]], shared by the
    * dedup-groups chain and the label-propagation oracle.
    */
  private lazy val pairGraphSql: String =
    s"""tht AS (SELECT doc_id, $thSql AS th FROM documents),
       |hs AS (
       |  SELECT doc_id, list_distinct($shingleHashSql) AS hs
       |  FROM tht),
       |hn AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_sh FROM hs),
       |cand AS (
       |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM (SELECT doc_id FROM documents) a
       |  JOIN (SELECT doc_id FROM documents) b
       |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25),
       |j AS (
       |  SELECT doc_id_a, doc_id_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
       |    sa.n_sh + sb.n_sh AS n_a_b
       |  FROM cand
       |  JOIN hn sa ON sa.doc_id = doc_id_a
       |  JOIN hn sb ON sb.doc_id = doc_id_b),
       |p AS (
       |  SELECT doc_id_a, doc_id_b FROM j
       |  WHERE n_a_b - n_common > 0
       |    AND CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE) >= 0.2),
       |e AS (
       |  SELECT doc_id_a AS doc_id, doc_id_b AS nbr FROM p
       |  UNION ALL
       |  SELECT doc_id_b, doc_id_a FROM p)""".stripMargin

  private lazy val groupsChainSql: String = {
    val rounds = (1 to 4).map { r =>
      s"""l$r AS (
         |  SELECT l.doc_id,
         |    least(l.group_id, coalesce(m.nbr_min, l.group_id)) AS group_id
         |  FROM l${r - 1} l LEFT JOIN (
         |    SELECT e.doc_id, min(x.group_id) AS nbr_min
         |    FROM e JOIN l${r - 1} x ON x.doc_id = e.nbr
         |    GROUP BY e.doc_id) m USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""$pairGraphSql,
       |l0 AS (SELECT doc_id, doc_id AS group_id FROM documents),
       |$rounds""".stripMargin
  }

  /** The label-propagation replay (mirrors Dedup.propagateLabels over
    * [[pairGraphSql]], seeds = doc_id % 10 = 0 carrying lang): per
    * round, labeled-neighbour votes → per-node max count → min-label
    * argmax → non-seeds adopt, seeds clamp. Ends at `lp$rounds`.
    */
  private def labelPropChainSql(rounds: Int): String = {
    val blocks = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT e.doc_id, x.label AS nl, CAST(count(*) AS BIGINT) AS cnt
         |  FROM e JOIN lp${r - 1} x ON x.doc_id = e.nbr
         |  WHERE x.label IS NOT NULL
         |  GROUP BY 1, 2),
         |w$r AS (
         |  SELECT v.doc_id, min(v.nl) AS vote
         |  FROM v$r v JOIN (SELECT doc_id, max(cnt) AS mc FROM v$r GROUP BY 1) b
         |    ON b.doc_id = v.doc_id AND v.cnt = b.mc
         |  GROUP BY 1),
         |lp$r AS (
         |  SELECT l.doc_id, l.is_seed,
         |    CASE WHEN l.is_seed THEN l.label
         |      ELSE coalesce(w.vote, l.label) END AS label
         |  FROM lp${r - 1} l LEFT JOIN w$r w USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""$pairGraphSql,
       |lp0 AS (
       |  SELECT doc_id, doc_id % 10 = 0 AS is_seed,
       |    CASE WHEN doc_id % 10 = 0 THEN lang ELSE NULL END AS label
       |  FROM documents),
       |$blocks""".stripMargin
  }

  /** 3-gram shingle hashes by polynomial combination of token hashes
    * (TextAnalysis.shingleHashes): fold(h*131 + th_j) mod p.
    */
  private val shingleHashSql =
    s"""CASE WHEN len(th) >= 3
       |  THEN list_transform(range(len(th) - 2),
       |    i -> (((th[i+1] * 131 + th[i+2]) % $P) * 131 + th[i+3]) % $P)
       |  ELSE [] END""".stripMargin

  /** Near-dup pair graph (doc_id window candidates → exact 3-gram
    * Jaccard ≥ 0.2) — the shared input of all three dedup-groups faces
    * (fixed-round, converged, star-contraction), which would otherwise
    * each recompute the shingle + verify pipeline.
    */
  private[queries] val dedupPairs = QueryCaches.frame("dedup.pairs") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val ids = docs.select(col("doc_id"))
    val cands = ids.select(col("doc_id").as("doc_id_a"),
        explode(sequence(col("doc_id") + 1, col("doc_id") + 25)).as("doc_id_b"))
      .join(ids.select(col("doc_id").as("doc_id_b")), Seq("doc_id_b"), "left_semi")
    Dedup.ngramJaccard(docs, cands).where(col("jaccard") >= 0.2)
      .select("doc_id_a", "doc_id_b")
  }

  /** HISTORY band table for the incremental minhash face — the
    * persisted artifact the operator's contract is built around: in
    * production, yesterday's bands are a materialized table and only
    * the new batch is shingled/minhashed on the clock. Recomputing the
    * history bands from raw text inside the query face would charge
    * the incremental operator the full-corpus cost it exists to avoid.
    */
  private[queries] val historyBands = QueryCaches.frame("dedup.history_bands")((s, dir) =>
    Dedup.minhashBands(Tables(s, dir, "documents").where(col("doc_id") < 250)))

  /** Sorted-neighborhood verified matches — the shared verify stage of
    * the whole entity-resolution family (flagship, incremental, golden
    * record, dedup weights, dendrogram levels, and the
    * sorted-neighborhood face itself). The banded levenshtein is the
    * expensive stage; recomputing it per face charged the family ~8
    * verify passes (the dendrogram face alone paid 3× — measured 48 s
    * at sf0.1, 8.6 s shared). In production the verified match table
    * IS a persisted artifact (the historyBands convention). One stage
    * per maxDist: the dendrogram ladder verifies a 90-wide band, the
    * match faces the standard 30.
    */
  private def verifiedMatches(s: SparkSession, dir: String, maxDist: Int): DataFrame = {
    val docs = Tables(s, dir, "documents")
    Dedup.editDistanceVerify(docs,
      Dedup.sortedNeighborhoodCandidates(docs, window = 10),
      prefixLen = 120, maxDist = maxDist)
  }

  private[queries] val verified30 =
    QueryCaches.frame("dedup.verified_30")(verifiedMatches(_, _, 30))
  private[queries] val verified90 =
    QueryCaches.frame("dedup.verified_90")(verifiedMatches(_, _, 90))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: canonicalize → hash → group (SURVEY: the LLM-pipeline
    // extension; same shape as the reference's DISTINCT piece dedup)
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables(s, dir, "documents"))),

    // candidate pairs from a doc_id window block + exact 3-gram Jaccard.
    // Targets are GENERATED with sequence+explode then equi-joined — a
    // range predicate (b BETWEEN a+1 AND a+25) would plan as a nested-
    // loop join, quadratic in |docs|.
    "q_dedup_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val ids = docs.select(col("doc_id"))
      val cands = ids.select(col("doc_id").as("doc_id_a"),
          explode(sequence(col("doc_id") + 1, col("doc_id") + 25)).as("doc_id_b"))
        .join(ids.select(col("doc_id").as("doc_id_b")), Seq("doc_id_b"), "left_semi")
      Dedup.ngramJaccard(docs, cands).where(col("jaccard") > 0.0)
    }),

    // asymmetric containment over the same window candidates: the
    // subset/quotation detector (tiny Jaccard, near-1 containment on
    // the contained side); only overlapping pairs reported
    "q_dedup_containment" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val ids = docs.select(col("doc_id"))
      val cands = ids.select(col("doc_id").as("doc_id_a"),
          explode(sequence(col("doc_id") + 1, col("doc_id") + 25)).as("doc_id_b"))
        .join(ids.select(col("doc_id").as("doc_id_b")), Seq("doc_id_b"), "left_semi")
      Dedup.ngramContainment(docs, cands).where(col("n_common") > 0L)
    }),

    // sorted-neighborhood blocking + banded edit-distance verify — the
    // third candidate family (prefix-locality) composed with the
    // confirmation pass
    "q_dedup_sorted_neighborhood" -> ((s, dir) =>
      verified30(s, dir)),

    // single-link dendrogram levels: exact connected components of the
    // verified match graph at a similarity-threshold ladder — the
    // hierarchical view of entity resolution (how clusters merge as the
    // bar drops; single-link clustering at level t IS CC over edges
    // ≥ t). Per level: cluster count, biggest cluster, non-singletons.
    // The fixture ladder demonstrates single-link's textbook chaining
    // pathology: at 0.30 the boilerplate-similarity noise floor chains
    // 497 of 500 docs into ONE cluster, while 0.50/0.95 resolve the
    // true near-dup groups — the picture that justifies the 0.50 bar
    // the flagship entities face uses. Cost note: the 0.30 level's CC
    // runs on that deliberately-pathological chained graph (27k noise
    // edges at sf0.1 → a giant component → the full O(log n) star
    // rounds); the face's bench line is dominated by those rounds'
    // fixed local-mode overhead, the q_domain_cluster cost class —
    // the verify stage itself is memoized across the family
    "q_dedup_single_link_levels" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val verified = verified90(s, dir)
      val nodes = docs.select(col("doc_id").as("node"))
      // CONCURRENT levels (r13, re-confirmed by measurement in r14):
      // the r14 lock-step alternative — one batched star contraction
      // keyed by the threshold (ConnectedComponents.
      // largeStarSmallStarLevels, kept as API with its agreement spec)
      // — was built and benchmarked: scheduled jobs fell 158 → 102,
      // but wall clock ROSE 10.8 → 12.1 s at a matched floor, because
      // the batched loop is one serial job chain while the concurrent
      // futures overlap the two cheap levels' rounds inside the 0.30
      // level's scheduler stalls (guide §2.6) — locally the overlap is
      // worth more than the saved convergence tests. At cluster scale
      // the same overlap argument holds (three independent DAGs, one
      // pool), so the concurrent shape stays. The levels DO inherit
      // the r14 contraction stride (two alternations per checkpoint +
      // star-forest test after round 2), which is what the jobs map
      // shows as the per-level round-economy delta.
      def statsOf(labels: org.apache.spark.sql.DataFrame, thr: Long) =
        labels.groupBy("component").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_clusters"), max(col("n")).as("max_cluster"),
            coalesce(sum(when(col("n") > 1, 1L)), lit(0L)).as("n_nontrivial"))
          .select(lit(thr).as("threshold_s"), col("n_clusters"),
            col("max_cluster"), col("n_nontrivial"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val levelLabels = singleLinkLevels.map { thr =>
        thr -> Future {
          graft.graph.ConnectedComponents.largeStarSmallStar(
            verified.where(col("sim_s") >= thr)
              .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst")),
            nodes = Some(nodes))
        }
      }
      levelLabels.map { case (thr, fut) =>
        statsOf(Await.result(fut, Duration.Inf), thr)
      }.reduce(_ unionAll _)
    }),

    // duplicate-aware sampling weights: every member of an entity
    // cluster carries weight 1/|cluster| (exact ppm), so per-slice
    // EFFECTIVE mass counts each entity once regardless of how many
    // near-copies crawled in — the reweighting alternative to hard
    // dedup (keeps all copies for robustness, un-biases the mixture)
    "q_pipeline_dedup_weights" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val edges = verified30(s, dir).where(col("sim_s") >= 500000L)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      val ent = graft.graph.ConnectedComponents.largeStarSmallStar(
          edges, nodes = Some(docs.select(col("doc_id").as("node"))))
        .select(col("node").as("doc_id"), col("component").as("entity_id"))
      val sizes = ent.groupBy("entity_id").agg(count(lit(1)).as("n_members"))
      docs.join(ent, "doc_id").join(sizes, "entity_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("entity_id")).as("n_entities"),
          sum(expr("1000000L div n_members")).as("eff_mass_ppm"))
    }),

    // survivorship: one golden record per resolved entity — longest-text
    // representative (tie → lowest doc_id) and modal language (tie →
    // lexicographically first), the field-merge step every MDM/dedup
    // pipeline runs after clustering. Deterministic argmaxes as
    // max/min-struct aggregates — no per-entity sort of the corpus
    "q_pipeline_golden_record" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val edges = verified30(s, dir).where(col("sim_s") >= 500000L)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      val ent = graft.graph.ConnectedComponents.largeStarSmallStar(
          edges, nodes = Some(docs.select(col("doc_id").as("node"))))
        .select(col("node").as("doc_id"), col("component").as("entity_id"))
      val joined = docs.join(ent, "doc_id")
      val base = joined.groupBy("entity_id").agg(
          count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("m"))
        .select(col("entity_id"), col("n_members"),
          (-col("m.nd")).as("rep_doc"), col("m.n_chars").as("max_chars"))
      val modal = joined.groupBy("entity_id", "lang")
        .agg(count(lit(1)).as("ln"))
        .groupBy("entity_id")
        .agg(min(struct((-col("ln")).as("nn"), col("lang"))).as("lm"))
        .select(col("entity_id"), col("lm.lang").as("modal_lang"),
          (-col("lm.nn")).as("modal_lang_n"))
      base.join(modal, "entity_id")
    }),

    // the incremental-maintenance face of entity resolution: docs ≥ 400
    // arrive as today's drop. Yesterday's labels come from CC over the
    // old-old match edges only; today the verifier runs ONLY on
    // candidate pairs touching a new doc (the winnow_inc pattern — the
    // quadratic verify work tracks the drop, not the corpus), and
    // component contraction absorbs them. Old-only ∪ new-touching = ALL
    // edges, so the result must equal the from-scratch labelling —
    // it SHARES q_pipeline_entities' oracle verbatim (the cc_inc trade)
    "q_pipeline_entities_inc" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // the verified match table is the persisted artifact (the
      // historyBands convention): yesterday's old-old matches are
      // already on disk, today only new-touching pairs verify —
      // compute-wise both read the memoized table here
      val v = verified30(s, dir).where(col("sim_s") >= 500000L)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      val oldEdges = v.where(col("src") < 400 && col("dst") < 400)
      val newEdges = v.where(col("src") >= 400 || col("dst") >= 400)
      val labelsOld = graft.graph.ConnectedComponents.largeStarSmallStar(
        oldEdges, nodes = Some(Tables(s, dir, "documents")
          .where(col("doc_id") < 400).select(col("doc_id").as("node"))))
      val merged = graft.graph.ConnectedComponents.addEdges(labelsOld, newEdges)
      val ent = docs.select(col("doc_id"))
        .join(merged.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("entity_id"))
      val sizes = ent.groupBy("entity_id").agg(count(lit(1)).as("n_members"))
      ent.join(sizes, "entity_id")
        .select(col("doc_id"), col("entity_id"), col("n_members"))
    }),

    // entity resolution end-to-end: sorted-neighborhood blocking →
    // banded edit-distance verify → ≥50%-similarity match edges →
    // exact connected components (singletons self-label) → per-entity
    // member counts. The record-linkage flagship: each stage is
    // oracle-checked alone elsewhere; this face proves the composition
    // (id pairs shuffle, the text stays in its scan + verify join)
    "q_pipeline_entities" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val edges = verified30(s, dir).where(col("sim_s") >= 500000L)
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      val ent = graft.graph.ConnectedComponents.largeStarSmallStar(
        edges, nodes = Some(docs.select(col("doc_id").as("node"))))
      val sizes = ent.groupBy("component").agg(count(lit(1)).as("n_members"))
      ent.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("entity_id"),
          col("n_members"))
    }),

    // end-to-end curation pipeline — the operators are designed to
    // COMPOSE: length gate → exact-dedup keep → deterministic 50%
    // hash sample → per-(lang, source) accounting. One flagship query
    // proving interop; each stage is individually oracle-checked by
    // its own query elsewhere.
    "q_pipeline_curation" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val sized = docs.where(col("n_chars") >= 200 && col("n_chars") <= 2000)
      val kept = Dedup.exact(sized).where(col("is_kept")).select(col("doc_id"))
      val deduped = sized.join(kept, Seq("doc_id"))
      val sampled = graft.sampling.Sampling
        .sampleByHash(deduped, "doc_id", fraction = 0.5, salt = 11)
      sampled.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // exact Levenshtein verification over the same sliding candidate
    // window — the post-LSH confirmation pass, prefix-capped
    "q_dedup_edit_distance" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val ids = docs.select(col("doc_id"))
      val cands = ids.select(col("doc_id").as("doc_id_a"),
          explode(sequence(col("doc_id") + 1, col("doc_id") + 25)).as("doc_id_b"))
        .join(ids.select(col("doc_id").as("doc_id_b")), Seq("doc_id_b"), "left_semi")
      Dedup.editDistanceVerify(docs, cands, prefixLen = 120)
    }),

    // full MinHash+LSH near-dup pipeline (threshold 0.1 so the synthetic
    // corpus yields a non-trivial result set)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDups(Tables(s, dir, "documents"), threshold = 0.1)),

    // end-to-end dedup pipeline — the dedup-family counterpart of
    // q_pipeline_curation: MinHash+LSH candidates → exact-Jaccard verify
    // → connected groups (4 min-label rounds) → lowest-id representative
    // keep → per-(lang, source) survivor accounting. Each stage is
    // individually oracle-checked elsewhere; this query proves they
    // COMPOSE (the 100 TB shape: candidates/groups shuffle id pairs
    // only, the wide text never leaves its scan).
    "q_pipeline_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, threshold = 0.1)
        .select("doc_id_a", "doc_id_b")
      val groups = Dedup.dedupGroups(docs, pairs, rounds = 4)
      docs.join(groups, Seq("doc_id"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("is_canonical"), 1)).as("n_kept"),
          sum(when(col("is_canonical"), col("n_chars"))).as("chars_kept"))
    }),

    // LSH calibration: signature-agreement level vs exact Jaccard per
    // candidate pair — the s-curve diagnostic behind the k/bands choice
    "q_dedup_calibration" -> ((s, dir) =>
      Dedup.minhashCalibration(Tables(s, dir, "documents"))),

    // incremental banding as a driver query: docs < 250 are "history"
    // (persisted band table), the rest arrive as the new batch —
    // candidates must involve at least one new doc, with the combined
    // hot-bucket cap
    "q_dedup_minhash_inc" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // history bands (doc_id < 250) come from the memoized persisted
      // table (the operator's production contract); only the NEW batch
      // (doc_id >= 250) pays shingle+minhash cost here
      Dedup.minhashCandidatesIncremental(
        Dedup.minhashBands(docs.where(col("doc_id") >= 250)),
        historyBands(s, dir))
    }),

    // SimHash near-dups: 32-bit fingerprints, 8-bit blocks, hamming <= 6
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables(s, dir, "documents"), bits = 32,
        blockBits = 8, maxHamming = 6)),

    // SimHash calibration: fingerprint Hamming distance vs exact
    // Jaccard per block candidate — the curve behind the maxHamming
    // threshold choice (the Hamming twin of q_dedup_calibration)
    "q_dedup_simhash_calibration" -> ((s, dir) =>
      Dedup.simhashCalibration(Tables(s, dir, "documents"))),

    // embedding-cosine near-dups blocked by the coarse label column
    "q_dedup_embedding" -> ((s, dir) =>
      graft.similarity.Similarity.nearDupPairs(
        Tables(s, dir, "embeddings"), "label", threshold = 0.5)),

    // near-dup pairs → connected dedup groups + canonical representative
    // (4 fixed min-label rounds — deterministic, so the oracle unrolls
    // the same 4 rounds as CTE blocks)
    "q_dedup_groups" -> ((s, dir) => {
      Dedup.dedupGroups(Tables(s, dir, "documents"),
        dedupPairs(s, dir), rounds = 4)
    }),

    // the ML-family flagship COMPOSITION (peer of the curation/dedup/
    // embeddings/export pipelines): hashed tf features → LEAKAGE-SAFE
    // dedup-group split (near-duplicates never straddle train/test) →
    // fixed-point GD fit on train → HELD-OUT confusion on test — the
    // "train a corpus filter without contaminating its own eval" story,
    // every stage individually oracle-checked elsewhere
    "q_pipeline_classifier" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val groups = Dedup.dedupGroups(docs, dedupPairs(s, dir), rounds = 4)
        .select("doc_id", "group_id")
      val splits = graft.sampling.Sampling
        .splitByGroup(docs.select("doc_id"), "doc_id",
          groups, "doc_id", "group_id", leakageSplits, salt = 11)
        .select(col("doc_id").as("vec_id"), col("split"))
      // materialize the (features, label, split) table ONCE — the GD
      // fit and the held-out scoring both read it; without the barrier
      // the test side re-runs the whole featurize + group chain
      val feats = graft.ml.Features
        .hashedFeatures(docs, TextQueries.TextFeatDims)
        .join(docs.select(col("doc_id").as("vec_id"),
          (col("lang") === "en").cast("long").as("y")), "vec_id")
        .join(splits, "vec_id")
        .localCheckpoint()
      val w = graft.ml.Training.trainLogisticWeights(
        feats.where(col("split") === "train"), "y", iters = 3)
      val test = feats.where(col("split") === "test")
      graft.ml.Training.logisticPredict(test, w)
        .join(test.select("vec_id", "y"), "vec_id")
        .groupBy("y", "pred").agg(count(lit(1)).as("n_rows"))
    }),

    // weak-supervision expansion: every 10th doc is a trusted seed
    // (its lang tag); 4 synchronous majority-vote rounds spread the
    // labels over the near-dup graph, min-label tie-break (exact)
    "q_dedup_label_prop" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.propagateLabels(docs, dedupPairs(s, dir),
        docs.where(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("lang").as("label")),
        rounds = 4)
    }),

    // leakage-safe 80/10/10 split: the split hashes the dedup-GROUP
    // representative, so near-duplicate documents can never straddle
    // train/val/test — the contamination guard a training pipeline
    // runs BETWEEN dedup-grouping and export
    "q_dedup_leakage_split" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val groups = Dedup.dedupGroups(docs, dedupPairs(s, dir), rounds = 4)
        .select("doc_id", "group_id")
      graft.sampling.Sampling.splitByGroup(docs.select("doc_id"), "doc_id",
        groups, "doc_id", "group_id", leakageSplits, salt = 11)
    }),

    // the convergence face of the same operator: identical pair graph,
    // min-label rounds until an Observation-counted zero-change round.
    // Oracle-checked EXACTLY (unlike the other convergence loops): the
    // converged label is the component minimum — a fixpoint, not a
    // round-count artifact — so a DuckDB recursive-CTE transitive
    // closure re-derives it without mirroring the iteration schedule.
    // DedupSpec additionally asserts the fixed-k/converged agreement
    // on k-sufficient graphs and the past-the-horizon merge contrast.
    "q_dedup_groups_conv" -> ((s, dir) => {
      Dedup.dedupGroupsConverged(Tables(s, dir, "documents"),
        dedupPairs(s, dir))
    }),

    // the O(log n)-round face of the same operator: identical pair
    // graph, labels from alternating large-star/small-star contraction
    // (graph.ConnectedComponents) instead of min-label rounds. Same
    // fixpoint (component minimum) ⇒ same recursive-CTE oracle; the
    // difference is pure scale posture — round count logarithmic in
    // component SIZE, not linear in DIAMETER, which is what survives
    // the 10k-hop duplicate chains a crawl corpus actually produces.
    "q_dedup_groups_cc" -> ((s, dir) => {
      val pairs = dedupPairs(s, dir)
      graft.graph.ConnectedComponents.largeStarSmallStar(
          pairs.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst")),
          nodes = Some(Tables(s, dir, "documents")
            .select(col("doc_id").as("node"))))
        .select(col("node").as("doc_id"), col("component").as("group_id"),
          (col("node") === col("component")).as("is_canonical"))
    }),

    // fuzzy (MinHash-band) decontamination: near-match leaks the exact
    // shingle scan misses; probe bands broadcast, corpus never
    // self-joins
    // width-1 bands (16 of them): flag on ANY shared minhash — the
    // sensitive end of the s-curve (P = 1−(1−J)^16), which is where a
    // decontamination screen should sit; the strict 4-wide default is
    // the dedup operating point, not the leak-screen one
    "q_dedup_fuzzy_contamination" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.fuzzyContamination(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 10 === 1),
        k = 16, bands = 16)
    }),

    // EXACT threshold similarity join (AllPairs/PPJoin prefix
    // filtering): every pair with 3-gram Jaccard >= 4/5, zero false
    // negatives — the exact counterpart of the MinHash-banding
    // candidate generator; rational threshold keeps all membership
    // decisions in integer arithmetic. t=0.8 is the representative
    // operating point: prefix filtering prunes by excluding all but
    // the rarest (1−t)·|d|+1 shingles per doc, so a HIGH threshold is
    // where it earns its keep (measured on this corpus: 43.5k
    // candidates at 4/5 vs 596k at 3/10, identical result set —
    // DedupSpec still proves exactness at the adversarial 3/10)
    "q_dedup_prefix_join" -> ((s, dir) =>
      Dedup.prefixFilterNearDups(Tables(s, dir, "documents"), tNum = 4, tDen = 5)),

    // corpus-wide repeated-span removal (C4/RefinedWeb sub-document
    // dedup): 8-token spans present in >= 2 distinct documents are
    // stripped from every document
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.dedupSpans(Tables(s, dir, "documents"), tokensPerSpan = 8, minDocs = 2)),

    // maximal repeated regions at arbitrary alignment (the sliding-
    // n-gram approximation of suffix-array substring dedup): corpus-
    // frequent 3-grams mark their token positions; marks merge into
    // islands
    "q_dedup_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables(s, dir, "documents"), n = 3, minCount = 4)),

    // the removal face: tokens under any maximal repeated region are
    // cut, survivors reassemble in order (detect → remediate, like
    // piiScan → redactPii)
    "q_dedup_repeated_clean" -> ((s, dir) =>
      Dedup.removeRepeatedSpans(Tables(s, dir, "documents"), n = 3, minCount = 4))
  )

  // MinHash signature as SQL: k salted minima over shingle hashes, with
  // the exact (a_i, b_i) constants from TextAnalysis.hashA/hashB
  private def sigSql(k: Int): String =
    (0 until k).map { i =>
      s"list_min(list_transform(hh, h -> (h * ${TextAnalysis.hashA(i)} + ${TextAnalysis.hashB(i)}) % $P))"
    }.mkString("[\n       ", ",\n       ", "]")

  private def simhashMaskSql(bits: Int): String =
    (0 until bits).map(j => 1L << j).mkString("[", ", ", "]")

  /** Shared CTE chain of the repeated-spans family (token hashes →
    * sliding 3-gram hashes with positions → corpus-frequent hits →
    * islands): the detection oracle aggregates `spans` directly; the
    * removal oracle extends the same chain — one definition, no twin
    * drift.
    */
  private val repeatedSpansChainSql: String =
    s"""th AS (SELECT doc_id, $thSql AS th FROM documents),
       |sh AS (SELECT doc_id, $shingleHashSql AS sh FROM th),
       |occ AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, sh[CAST(u.i AS INT) + 1] AS g
       |  FROM sh, unnest(range(len(sh))) AS u(i)),
       |freq AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 4),
       |hits AS (
       |  SELECT o.doc_id, o.pos AS start_tok, o.pos + 2 AS end_tok
       |  FROM occ o JOIN freq USING (g)),
       |flagged AS (
       |  SELECT doc_id, start_tok, end_tok,
       |    CASE WHEN start_tok > coalesce(max(end_tok) OVER (
       |        PARTITION BY doc_id ORDER BY start_tok
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
       |      THEN 1 ELSE 0 END AS new_span
       |  FROM hits),
       |spans AS (
       |  SELECT doc_id, start_tok, end_tok,
       |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY start_tok
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM flagged)""".stripMargin

  /** Exact-dedup twin — its own oracle key, and embedded as a derived
    * table by the cross-family q_curation_report oracle (TextQueries).
    */
  private[queries] val exactDedupSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ${charHash("regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")} AS canon_hash
       |  FROM documents)
       |SELECT doc_id, canon_hash,
       |  CAST(count(*) OVER (PARTITION BY canon_hash) AS BIGINT) AS group_size,
       |  doc_id = min(doc_id) OVER (PARTITION BY canon_hash) AS is_kept
       |FROM h""".stripMargin

  // Same pair graph as q_dedup_groups, but the label is the EXACT
  // component minimum from a recursive-CTE transitive closure — the
  // fixpoint both convergence engine faces (min-label rounds, star
  // contraction) reach regardless of iteration schedule.
  private val dedupGroupsFixpointSql: String =
    s"""WITH RECURSIVE tht AS (SELECT doc_id, $thSql AS th FROM documents),
       |hs AS (
       |  SELECT doc_id, list_distinct($shingleHashSql) AS hs
       |  FROM tht),
       |hn AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_sh FROM hs),
       |cand AS (
       |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM (SELECT doc_id FROM documents) a
       |  JOIN (SELECT doc_id FROM documents) b
       |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25),
       |j AS (
       |  SELECT doc_id_a, doc_id_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
       |    sa.n_sh + sb.n_sh AS n_a_b
       |  FROM cand
       |  JOIN hn sa ON sa.doc_id = doc_id_a
       |  JOIN hn sb ON sb.doc_id = doc_id_b),
       |p AS (
       |  SELECT doc_id_a, doc_id_b FROM j
       |  WHERE n_a_b - n_common > 0
       |    AND CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE) >= 0.2),
       |e AS (
       |  SELECT doc_id_a AS doc_id, doc_id_b AS nbr FROM p
       |  UNION ALL
       |  SELECT doc_id_b, doc_id_a FROM p),
       |reach(a, b) AS (
       |  SELECT doc_id, nbr FROM e
       |  UNION
       |  SELECT r.a, e.nbr FROM reach r JOIN e ON r.b = e.doc_id),
       |comp AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS group_id
       |  FROM reach GROUP BY a)
       |SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id,
       |  d.doc_id = coalesce(c.group_id, d.doc_id) AS is_canonical
       |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  /** Shared oracle of the entity-resolution pair: the verify chain at
    * >=50% similarity into the transitive-closure least-label fixpoint
    * with LEFT-join singleton fill; the incremental face must land on
    * the same labelling.
    */
  private lazy val entitiesChainSql: String =
    """WITH RECURSIVE keyed AS (
        |  SELECT doc_id, lower(trim(substring(text, 1, 40))) AS snk
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY snk, doc_id) AS BIGINT) AS rank
        |  FROM keyed),
        |cand AS (
        |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        |  FROM ranked a JOIN ranked b
        |    ON b.rank BETWEEN a.rank + 1 AND a.rank + 10),
        |t AS (SELECT doc_id, substring(text, 1, 120) AS p FROM documents),
        |d AS (
        |  SELECT c.doc_id_a, c.doc_id_b,
        |    levenshtein(ta.p, tb.p) AS ed,
        |    greatest(length(ta.p), length(tb.p), 1) AS ml
        |  FROM cand c
        |  JOIN t ta ON ta.doc_id = c.doc_id_a
        |  JOIN t tb ON tb.doc_id = c.doc_id_b),
        |e0 AS (
        |  SELECT doc_id_a AS src, doc_id_b AS dst FROM d
        |  WHERE ed <= 30
        |    AND floor((1.0 - CAST(ed AS DOUBLE) / CAST(ml AS DOUBLE))
        |      * 1000000.0) >= 500000),
        |es AS (
        |  SELECT src, dst FROM e0
        |  UNION
        |  SELECT dst, src FROM e0),
        |reach(a, b) AS (
        |  SELECT src, dst FROM es
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN es e ON r.b = e.src),
        |comp AS (
        |  SELECT a AS node, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |ent AS (
        |  SELECT doc_id, coalesce(c.component, doc_id) AS entity_id
        |  FROM documents LEFT JOIN comp c ON c.node = doc_id),
        |sizes AS (
        |  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
        |  FROM ent GROUP BY 1)""".stripMargin

  private lazy val entitiesOracleSql: String =
    s"""$entitiesChainSql
       |SELECT e.doc_id, e.entity_id, s.n_members
       |FROM ent e JOIN sizes s USING (entity_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" -> exactDedupSql,

    // row_number is fine in the ORACLE (DuckDB, small SF); the engine
    // face uses the range-partitioned zipWithRowId instead
    "q_dedup_sorted_neighborhood" ->
      """WITH keyed AS (
        |  SELECT doc_id, lower(trim(substring(text, 1, 40))) AS snk
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY snk, doc_id) AS BIGINT) AS rank
        |  FROM keyed),
        |cand AS (
        |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        |  FROM ranked a JOIN ranked b
        |    ON b.rank BETWEEN a.rank + 1 AND a.rank + 10),
        |t AS (SELECT doc_id, substring(text, 1, 120) AS p FROM documents),
        |d AS (
        |  SELECT c.doc_id_a, c.doc_id_b,
        |    CASE WHEN levenshtein(ta.p, tb.p) <= 30
        |      THEN CAST(levenshtein(ta.p, tb.p) AS BIGINT)
        |      ELSE CAST(-1 AS BIGINT) END AS edit_dist,
        |    CAST(greatest(length(ta.p), length(tb.p), 1) AS BIGINT) AS max_len
        |  FROM cand c
        |  JOIN t ta ON ta.doc_id = c.doc_id_a
        |  JOIN t tb ON tb.doc_id = c.doc_id_b)
        |SELECT doc_id_a, doc_id_b, edit_dist, max_len,
        |  CASE WHEN edit_dist >= 0
        |    THEN CAST(floor((1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE))
        |      * 1000000.0) AS BIGINT)
        |    ELSE CAST(-1 AS BIGINT) END AS sim_s
        |FROM d""".stripMargin,

    // the sorted-neighborhood verify chain filtered at ≥50% similarity,
    // then the transitive-closure least-label fixpoint (the q_graph_cc
    // oracle pattern) with LEFT-join singleton fill. The incremental
    // face must land on the same labelling, so both keys share this
    // oracle (the cc/cc_inc convention)
    "q_pipeline_entities" -> entitiesOracleSql,
    "q_pipeline_entities_inc" -> entitiesOracleSql,

    // one shared verify chain, one least-label closure PER level
    // (suffixed CTE families), 3-row union — every constant from the
    // SAME Scala level list
    "q_dedup_single_link_levels" -> {
      val levels = singleLinkLevels.zipWithIndex.map { case (thr, i) =>
        s""",
           |e$i AS (
           |  SELECT doc_id_a AS src, doc_id_b AS dst FROM d
           |  WHERE ed <= 90
           |    AND floor((1.0 - CAST(ed AS DOUBLE) / CAST(ml AS DOUBLE))
           |      * 1000000.0) >= $thr),
           |es$i AS (
           |  SELECT src, dst FROM e$i
           |  UNION
           |  SELECT dst, src FROM e$i),
           |reach$i(a, b) AS (
           |  SELECT src, dst FROM es$i
           |  UNION
           |  SELECT r.a, e.dst FROM reach$i r JOIN es$i e ON r.b = e.src),
           |comp$i AS (
           |  SELECT a AS node, least(a, min(b)) AS component
           |  FROM reach$i GROUP BY a),
           |ent$i AS (
           |  SELECT doc_id, coalesce(c.component, doc_id) AS entity_id
           |  FROM documents LEFT JOIN comp$i c ON c.node = doc_id),
           |sz$i AS (SELECT entity_id, count(*) AS n FROM ent$i GROUP BY 1),
           |lvl$i AS (
           |  SELECT CAST($thr AS BIGINT) AS threshold_s,
           |    CAST(count(*) AS BIGINT) AS n_clusters,
           |    CAST(max(n) AS BIGINT) AS max_cluster,
           |    CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT)
           |      AS n_nontrivial
           |  FROM sz$i)""".stripMargin
      }.mkString
      val union = singleLinkLevels.indices
        .map(i => s"SELECT * FROM lvl$i").mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE keyed AS (
         |  SELECT doc_id, lower(trim(substring(text, 1, 40))) AS snk
         |  FROM documents),
         |ranked AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY snk, doc_id) AS BIGINT) AS rank
         |  FROM keyed),
         |cand AS (
         |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM ranked a JOIN ranked b
         |    ON b.rank BETWEEN a.rank + 1 AND a.rank + 10),
         |t AS (SELECT doc_id, substring(text, 1, 120) AS p FROM documents),
         |d AS (
         |  SELECT c.doc_id_a, c.doc_id_b,
         |    levenshtein(ta.p, tb.p) AS ed,
         |    greatest(length(ta.p), length(tb.p), 1) AS ml
         |  FROM cand c
         |  JOIN t ta ON ta.doc_id = c.doc_id_a
         |  JOIN t tb ON tb.doc_id = c.doc_id_b)$levels
         |$union""".stripMargin
    },

    // the shared entity chain + 1/|cluster| ppm weights per slice.
    // n_entities counts an entity under EVERY lang its members carry
    // (both engines' count-distinct-per-group semantics)
    "q_pipeline_dedup_weights" ->
      s"""$entitiesChainSql,
         |j AS (
         |  SELECT d.lang, e.entity_id, s.n_members
         |  FROM ent e JOIN documents d USING (doc_id)
         |  JOIN sizes s USING (entity_id))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT entity_id) AS BIGINT) AS n_entities,
         |  CAST(sum(1000000 // n_members) AS BIGINT) AS eff_mass_ppm
         |FROM j GROUP BY 1""".stripMargin,

    // the shared entity chain + per-entity survivorship argmaxes
    // (n_chars DESC, doc_id ASC / count DESC, lang ASC — the
    // max/min-struct tie-breaks spelled as window ranks)
    "q_pipeline_golden_record" ->
      s"""$entitiesChainSql,
         |j AS (
         |  SELECT e.entity_id, d.doc_id, d.n_chars, d.lang
         |  FROM ent e JOIN documents d USING (doc_id)),
         |base AS (
         |  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(max(n_chars) AS BIGINT) AS max_chars
         |  FROM j GROUP BY 1),
         |rep AS (
         |  SELECT entity_id, doc_id AS rep_doc FROM (
         |    SELECT entity_id, doc_id,
         |      row_number() OVER (PARTITION BY entity_id
         |        ORDER BY n_chars DESC, doc_id ASC) AS rn
         |    FROM j)
         |  WHERE rn = 1),
         |lc AS (
         |  SELECT entity_id, lang, CAST(count(*) AS BIGINT) AS ln
         |  FROM j GROUP BY 1, 2),
         |ml AS (
         |  SELECT entity_id, lang AS modal_lang, ln AS modal_lang_n FROM (
         |    SELECT entity_id, lang, ln,
         |      row_number() OVER (PARTITION BY entity_id
         |        ORDER BY ln DESC, lang ASC) AS rn
         |    FROM lc)
         |  WHERE rn = 1)
         |SELECT b.entity_id, b.n_members, r.rep_doc, b.max_chars,
         |  m.modal_lang, m.modal_lang_n
         |FROM base b JOIN rep r USING (entity_id)
         |JOIN ml m USING (entity_id)""".stripMargin,


    "q_pipeline_curation" -> {
      val a = TextAnalysis.hashA(11)
      val b = TextAnalysis.hashB(11)
      s"""WITH sized AS (
         |  SELECT * FROM documents WHERE n_chars BETWEEN 200 AND 2000),
         |h AS (
         |  SELECT doc_id, lang, source, n_chars,
         |    ${charHash("regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")} AS canon_hash
         |  FROM sized),
         |kept AS (
         |  SELECT doc_id, lang, source, n_chars FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY canon_hash) AS keep_id
         |    FROM h)
         |  WHERE doc_id = keep_id),
         |sampled AS (
         |  SELECT * FROM kept
         |  WHERE (((doc_id % $P) * $a + $b) % $P) % 1000 < 500)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM sampled GROUP BY 1, 2""".stripMargin
    },

    // DuckDB has no banded levenshtein — the oracle computes the full
    // distance and applies the threshold contract afterwards (> 30 → −1)
    "q_dedup_edit_distance" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |cand AS (
        |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        |  FROM ids a JOIN ids b
        |    ON b.doc_id BETWEEN a.doc_id + 1 AND a.doc_id + 25),
        |t AS (SELECT doc_id, substring(text, 1, 120) AS p FROM documents),
        |d AS (
        |  SELECT c.doc_id_a, c.doc_id_b,
        |    CASE WHEN levenshtein(ta.p, tb.p) <= 30
        |      THEN CAST(levenshtein(ta.p, tb.p) AS BIGINT)
        |      ELSE CAST(-1 AS BIGINT) END AS edit_dist,
        |    CAST(greatest(length(ta.p), length(tb.p), 1) AS BIGINT) AS max_len
        |  FROM cand c
        |  JOIN t ta ON ta.doc_id = c.doc_id_a
        |  JOIN t tb ON tb.doc_id = c.doc_id_b)
        |SELECT doc_id_a, doc_id_b, edit_dist, max_len,
        |  CASE WHEN edit_dist >= 0
        |    THEN CAST(floor((1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE))
        |      * 1000000.0) AS BIGINT)
        |    ELSE CAST(-1 AS BIGINT) END AS sim_s
        |FROM d""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |hs AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hs
         |  FROM tht),
         |hn AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_sh FROM hs),
         |cand AS (
         |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM (SELECT doc_id FROM documents) a
         |  JOIN (SELECT doc_id FROM documents) b
         |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25),
         |j AS (
         |  SELECT doc_id_a, doc_id_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
         |    sa.n_sh + sb.n_sh AS n_a_b
         |  FROM cand
         |  JOIN hn sa ON sa.doc_id = doc_id_a
         |  JOIN hn sb ON sb.doc_id = doc_id_b)
         |SELECT doc_id_a, doc_id_b, n_common, n_a_b - n_common AS n_union,
         |  CASE WHEN n_a_b - n_common > 0
         |    THEN CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE)
         |    ELSE 0.0 END AS jaccard
         |FROM j
         |WHERE (CASE WHEN n_a_b - n_common > 0
         |  THEN CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE)
         |  ELSE 0.0 END) > 0.0""".stripMargin,

    // the same shingle sets/candidates as the jaccard oracle with
    // asymmetric fixed-point divisions
    "q_dedup_containment" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |hs AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hs
         |  FROM tht),
         |hn AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_sh FROM hs),
         |cand AS (
         |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM (SELECT doc_id FROM documents) a
         |  JOIN (SELECT doc_id FROM documents) b
         |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25),
         |j AS (
         |  SELECT doc_id_a, doc_id_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
         |    sa.n_sh AS n_a, sb.n_sh AS n_b
         |  FROM cand
         |  JOIN hn sa ON sa.doc_id = doc_id_a
         |  JOIN hn sb ON sb.doc_id = doc_id_b)
         |SELECT doc_id_a, doc_id_b, n_common, n_a, n_b,
         |  CASE WHEN n_a = 0 THEN NULL
         |    ELSE (n_common * 1000000) // n_a END AS containment_a_s,
         |  CASE WHEN n_b = 0 THEN NULL
         |    ELSE (n_common * 1000000) // n_b END AS containment_b_s
         |FROM j WHERE n_common > 0""".stripMargin,

    // the same shingle sets; prefix = first |d| − ceil(4|d|/5) + 1
    // shingles in global (document-frequency, hash) order; integer
    // ceil-division and cross-multiplied thresholds mirror the engine
    "q_dedup_prefix_join" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |shl AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hs
         |  FROM tht),
         |s AS (
         |  SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_sh
         |  FROM shl WHERE len(hs) > 0),
         |occ AS (SELECT doc_id, n_sh, u.g FROM s, unnest(hs) AS u(g)),
         |dfreq AS (SELECT g, CAST(count(*) AS BIGINT) AS df_g FROM occ GROUP BY g),
         |ranked AS (
         |  SELECT o.doc_id, o.n_sh, o.g,
         |    row_number() OVER (PARTITION BY o.doc_id ORDER BY d.df_g, o.g) AS rnk
         |  FROM occ o JOIN dfreq d USING (g)),
         |pref AS (
         |  SELECT doc_id, n_sh, g FROM ranked
         |  WHERE rnk <= n_sh - ((n_sh * 4 + 4) // 5) + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM pref a JOIN pref b
         |    ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE b.n_sh * 5 >= a.n_sh * 4 AND a.n_sh * 5 >= b.n_sh * 4),
         |j AS (
         |  SELECT c.doc_id_a, c.doc_id_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
         |    sa.n_sh + sb.n_sh
         |      - CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_union
         |  FROM cand c
         |  JOIN s sa ON sa.doc_id = c.doc_id_a
         |  JOIN s sb ON sb.doc_id = c.doc_id_b)
         |SELECT doc_id_a, doc_id_b, n_common, n_union,
         |  CASE WHEN n_union > 0
         |    THEN CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE)
         |    ELSE 0.0 END AS jaccard
         |FROM j WHERE n_common * 5 >= n_union * 4""".stripMargin,

    // corpus = even ids, probes = ids ≡ 1 (mod 10) — the same split as
    // the exact contamination faces; a doc is flagged on ANY shared
    // band. Band values are pure functions of each doc's text, so the
    // twin recomputes both band tables and the semi-join exactly
    "q_dedup_fuzzy_contamination" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents
         |  WHERE doc_id % 2 = 0),
         |hh AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hh
         |  FROM tht WHERE len(th) >= 3),
         |sig AS (SELECT doc_id, ${sigSql(16)} AS sig FROM hh),
         |bands AS (
         |  SELECT doc_id, b,
         |    array_to_string(list_slice(sig, b + 1, b + 1), '_') AS band_key
         |  FROM sig, unnest(range(16)) AS t(b)),
         |ptht AS (SELECT doc_id, $thSql AS th FROM documents
         |  WHERE doc_id % 10 = 1),
         |phh AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hh
         |  FROM ptht WHERE len(th) >= 3),
         |psig AS (SELECT doc_id, ${sigSql(16)} AS sig FROM phh),
         |pbands AS (
         |  SELECT DISTINCT b,
         |    array_to_string(list_slice(sig, b + 1, b + 1), '_') AS band_key
         |  FROM psig, unnest(range(16)) AS t(b)),
         |hit AS (
         |  SELECT DISTINCT c.doc_id FROM bands c
         |  JOIN pbands p ON p.b = c.b AND p.band_key = c.band_key)
         |SELECT d.doc_id, h.doc_id IS NOT NULL AS is_contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
         |LEFT JOIN hit h USING (doc_id)""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |hh AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hh
         |  FROM tht WHERE len(th) >= 3),
         |sig AS (SELECT doc_id, ${sigSql(16)} AS sig FROM hh),
         |bands0 AS (
         |  SELECT doc_id, b,
         |    array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS band_key
         |  FROM sig, unnest(range(4)) AS t(b)),
         |bands AS (
         |  SELECT doc_id, b, band_key FROM (
         |    SELECT doc_id, b, band_key,
         |      count(*) OVER (PARTITION BY b, band_key) AS bucket_n
         |    FROM bands0) WHERE bucket_n <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |hs2 AS (
         |  SELECT doc_id, list_distinct(hh) AS hs,
         |    CAST(len(list_distinct(hh)) AS BIGINT) AS n_sh
         |  FROM hh),
         |j AS (
         |  SELECT doc_id_a, doc_id_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
         |    sa.n_sh + sb.n_sh AS n_a_b
         |  FROM cand
         |  JOIN hs2 sa ON sa.doc_id = doc_id_a
         |  JOIN hs2 sb ON sb.doc_id = doc_id_b)
         |SELECT doc_id_a, doc_id_b,
         |  CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE) AS jaccard
         |FROM j
         |WHERE n_a_b - n_common > 0
         |  AND CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE) >= 0.1""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform($toks, tk -> ${charHash("tk")}) AS th
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(${simhashMaskSql(32)},
         |      m -> CASE WHEN CAST(list_sum(list_transform(th,
         |             h -> CASE WHEN (h & m) != 0 THEN 1 ELSE -1 END)) AS BIGINT) > 0
         |           THEN m ELSE 0 END)) AS BIGINT) AS sig
         |  FROM th),
         |blocked0 AS (
         |  SELECT doc_id, sig, b, (sig >> (b * 8)) & 255 AS block_key
         |  FROM sig, unnest(range(4)) AS t(b)),
         |blocked AS (
         |  SELECT doc_id, sig, b, block_key FROM (
         |    SELECT doc_id, sig, b, block_key,
         |      count(*) OVER (PARTITION BY b, block_key) AS bucket_n
         |    FROM blocked0) WHERE bucket_n <= 64),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM blocked a JOIN blocked b
         |    ON a.b = b.b AND a.block_key = b.block_key AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, hamming FROM pairs WHERE hamming <= 6""".stripMargin,

    // the q_dedup_simhash chain WITHOUT the hamming filter + the
    // jaccard chain, grouped per distance
    "q_dedup_simhash_calibration" ->
      s"""WITH th0 AS (
         |  SELECT doc_id, $thSql AS th
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(${simhashMaskSql(32)},
         |      m -> CASE WHEN CAST(list_sum(list_transform(th,
         |             h -> CASE WHEN (h & m) != 0 THEN 1 ELSE -1 END)) AS BIGINT) > 0
         |           THEN m ELSE 0 END)) AS BIGINT) AS sig
         |  FROM th0),
         |blocked0 AS (
         |  SELECT doc_id, sig, b, (sig >> (b * 8)) & 255 AS block_key
         |  FROM sig, unnest(range(4)) AS t(b)),
         |blocked AS (
         |  SELECT doc_id, sig, b, block_key FROM (
         |    SELECT doc_id, sig, b, block_key,
         |      count(*) OVER (PARTITION BY b, block_key) AS bucket_n
         |    FROM blocked0) WHERE bucket_n <= 64),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM blocked a JOIN blocked b
         |    ON a.b = b.b AND a.block_key = b.block_key AND a.doc_id < b.doc_id),
         |hs AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hs
         |  FROM (SELECT doc_id, th FROM th0) tht),
         |hn AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n_sh FROM hs),
         |j AS (
         |  SELECT p.hamming,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
         |    sa.n_sh + sb.n_sh AS n_a_b
         |  FROM pairs p
         |  JOIN hn sa ON sa.doc_id = p.doc_id_a
         |  JOIN hn sb ON sb.doc_id = p.doc_id_b)
         |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CAST(floor((CASE WHEN n_a_b - n_common > 0
         |    THEN CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE)
         |    ELSE 0.0 END) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_jaccard_s
         |FROM j GROUP BY 1""".stripMargin,

    "q_dedup_groups" ->
      s"""WITH $groupsChainSql
         |SELECT doc_id, group_id, doc_id = group_id AS is_canonical FROM l4""".stripMargin,

    "q_dedup_label_prop" ->
      s"""WITH ${labelPropChainSql(4)}
         |SELECT doc_id, is_seed, label FROM lp4""".stripMargin,

    // group chain + split ladder (both verbatim from their own oracles)
    // feed the TEXT-classifier GD blocks (verbatim from TextQueries —
    // one definition, the replay arithmetic cannot fork): train on the
    // 'train' split, score the held-out 'test' split
    "q_pipeline_classifier" -> {
      val a = TextAnalysis.hashA(11)
      val b = TextAnalysis.hashB(11)
      val cums = leakageSplits.map(_._2 * 1000.0)
        .scanLeft(0L)((acc, f) => acc + f.toLong).tail
      val whens = leakageSplits.zip(cums)
        .map { case ((name, _), cum) => s"WHEN bucket < $cum THEN '$name'" }
        .mkString(" ")
      s"""WITH $groupsChainSql,
         |sp AS (
         |  SELECT doc_id, CASE $whens END AS split FROM (
         |    SELECT doc_id,
         |      (((group_id % $P) * $a + $b) % $P) % 1000 AS bucket
         |    FROM l4)),
         |sfeat AS (${TextQueries.textFeatSql}),
         |nt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks
         |       FROM sfeat GROUP BY 1),
         |lab AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1000000 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS ys
         |  FROM documents),
         |exa AS (
         |  SELECT f.doc_id AS vec_id, f.dim,
         |    CAST(floor(CAST(f.c AS DOUBLE) / CAST(t.n_toks AS DOUBLE)
         |      * 1000000.0) AS BIGINT) AS xs,
         |    l.ys, s.split
         |  FROM sfeat f JOIN nt t USING (doc_id) JOIN lab l USING (doc_id)
         |  JOIN sp s USING (doc_id)),
         |ex AS (SELECT vec_id, dim, xs, ys FROM exa WHERE split = 'train'),
         |nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM ex),
         |w_0 AS (${TextQueries.gdZeroHeadSql}),
         |${TextQueries.gdIterBlocksSql(3)},
         |te AS (SELECT vec_id, dim, xs, ys FROM exa WHERE split = 'test'),
         |fz AS (
         |  SELECT e.vec_id, max(e.ys) AS ys,
         |    CAST(sum(e.xs * w.w) AS BIGINT) AS z
         |  FROM te e JOIN w_3 w USING (dim) GROUP BY e.vec_id),
         |fp AS (
         |  SELECT vec_id, ys // 1000000 AS y,
         |    least(greatest(500000 +
         |      (z - ((z % 4000000 + 4000000) % 4000000)) // 4000000,
         |      0), 1000000) AS ps
         |  FROM fz)
         |SELECT y,
         |  CASE WHEN ps >= 500000 THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS pred,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM fp GROUP BY 1, 2""".stripMargin
    },

    // leakage-safe split: the SAME 4-round group chain, then the
    // q_sample_splits hash ladder applied to the GROUP representative —
    // near-duplicate groups cannot straddle train/val/test
    "q_dedup_leakage_split" -> {
      val a = TextAnalysis.hashA(11)
      val b = TextAnalysis.hashB(11)
      val cums = leakageSplits.map(_._2 * 1000.0)
        .scanLeft(0L)((acc, f) => acc + f.toLong).tail
      val whens = leakageSplits.zip(cums)
        .map { case ((name, _), cum) => s"WHEN bucket < $cum THEN '$name'" }
        .mkString(" ")
      s"""WITH $groupsChainSql,
         |gb AS (
         |  SELECT doc_id, group_id,
         |    (((group_id % $P) * $a + $b) % $P) % 1000 AS bucket
         |  FROM l4)
         |SELECT doc_id, group_id, CASE $whens END AS split FROM gb""".stripMargin
    },

    // same pair graph as q_dedup_groups, but the label is the EXACT
    // component minimum from a recursive-CTE transitive closure — the
    // fixpoint BOTH convergence engine faces reach (min-label rounds
    // and large-star/small-star contraction) regardless of iteration
    // schedule, so the two queries share one oracle
    "q_dedup_groups_conv" -> dedupGroupsFixpointSql,
    "q_dedup_groups_cc" -> dedupGroupsFixpointSql,

    // band values depend only on each doc's text, so the twin computes
    // bands over ALL docs and applies the at-least-one-new filter; the
    // bucket cap counts the combined bucket exactly like the engine
    "q_dedup_minhash_inc" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |hh AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hh
         |  FROM tht WHERE len(th) >= 3),
         |sig AS (SELECT doc_id, ${sigSql(16)} AS sig FROM hh),
         |bands0 AS (
         |  SELECT doc_id, b,
         |    array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS band_key
         |  FROM sig, unnest(range(4)) AS t(b)),
         |bands AS (
         |  SELECT doc_id, b, band_key FROM (
         |    SELECT doc_id, b, band_key,
         |      count(*) OVER (PARTITION BY b, band_key) AS bucket_n
         |    FROM bands0) WHERE bucket_n <= 64)
         |SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |FROM bands a JOIN bands b
         |  ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |WHERE a.doc_id >= 250 OR b.doc_id >= 250""".stripMargin,

    // the q_dedup_minhash candidate chain + per-pair signature agreement
    // (list_zip equality count) + exact Jaccard, grouped by agreement
    "q_dedup_calibration" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |hh AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hh
         |  FROM tht WHERE len(th) >= 3),
         |sig AS (SELECT doc_id, ${sigSql(16)} AS sig FROM hh),
         |bands0 AS (
         |  SELECT doc_id, b,
         |    array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS band_key
         |  FROM sig, unnest(range(4)) AS t(b)),
         |bands AS (
         |  SELECT doc_id, b, band_key FROM (
         |    SELECT doc_id, b, band_key,
         |      count(*) OVER (PARTITION BY b, band_key) AS bucket_n
         |    FROM bands0) WHERE bucket_n <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |agree AS (
         |  SELECT c.doc_id_a, c.doc_id_b,
         |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
         |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_id_a
         |  JOIN sig sb ON sb.doc_id = c.doc_id_b),
         |hs2 AS (
         |  SELECT doc_id, list_distinct(hh) AS hs,
         |    CAST(len(list_distinct(hh)) AS BIGINT) AS n_sh
         |  FROM hh),
         |jac AS (
         |  SELECT c.doc_id_a, c.doc_id_b,
         |    CASE WHEN sa.n_sh + sb.n_sh
         |        - CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) > 0
         |      THEN CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
         |        / CAST(sa.n_sh + sb.n_sh
         |          - CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS DOUBLE)
         |      ELSE 0.0 END AS jaccard
         |  FROM cand c
         |  JOIN hs2 sa ON sa.doc_id = c.doc_id_a
         |  JOIN hs2 sb ON sb.doc_id = c.doc_id_b)
         |SELECT a.n_match, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CAST(floor(j.jaccard * 1000000.0) AS BIGINT)) AS BIGINT)
         |    AS sum_jaccard_s
         |FROM agree a
         |JOIN jac j ON j.doc_id_a = a.doc_id_a AND j.doc_id_b = a.doc_id_b
         |GROUP BY 1""".stripMargin,

    // the composed pipeline: the q_dedup_minhash chain (bands, bucket
    // cap, Jaccard >= 0.1) feeding the q_dedup_groups 4-round min-label
    // unroll, aggregated per (lang, source)
    "q_pipeline_dedup" -> {
      val rounds = (1 to 4).map { r =>
        s"""l$r AS (
           |  SELECT l.doc_id,
           |    least(l.group_id, coalesce(m.nbr_min, l.group_id)) AS group_id
           |  FROM l${r - 1} l LEFT JOIN (
           |    SELECT e.doc_id, min(x.group_id) AS nbr_min
           |    FROM e JOIN l${r - 1} x ON x.doc_id = e.nbr
           |    GROUP BY e.doc_id) m USING (doc_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |hh AS (
         |  SELECT doc_id, list_distinct($shingleHashSql) AS hh
         |  FROM tht WHERE len(th) >= 3),
         |sig AS (SELECT doc_id, ${sigSql(16)} AS sig FROM hh),
         |bands0 AS (
         |  SELECT doc_id, b,
         |    array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS band_key
         |  FROM sig, unnest(range(4)) AS t(b)),
         |bands AS (
         |  SELECT doc_id, b, band_key FROM (
         |    SELECT doc_id, b, band_key,
         |      count(*) OVER (PARTITION BY b, band_key) AS bucket_n
         |    FROM bands0) WHERE bucket_n <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |hs2 AS (
         |  SELECT doc_id, list_distinct(hh) AS hs,
         |    CAST(len(list_distinct(hh)) AS BIGINT) AS n_sh
         |  FROM hh),
         |j AS (
         |  SELECT doc_id_a, doc_id_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_common,
         |    sa.n_sh + sb.n_sh AS n_a_b
         |  FROM cand
         |  JOIN hs2 sa ON sa.doc_id = doc_id_a
         |  JOIN hs2 sb ON sb.doc_id = doc_id_b),
         |p AS (
         |  SELECT doc_id_a, doc_id_b FROM j
         |  WHERE n_a_b - n_common > 0
         |    AND CAST(n_common AS DOUBLE) / CAST(n_a_b - n_common AS DOUBLE) >= 0.1),
         |e AS (
         |  SELECT doc_id_a AS doc_id, doc_id_b AS nbr FROM p
         |  UNION ALL
         |  SELECT doc_id_b, doc_id_a FROM p),
         |l0 AS (SELECT doc_id, doc_id AS group_id FROM documents),
         |$rounds
         |SELECT d.lang, d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (WHERE l.doc_id = l.group_id) AS BIGINT) AS n_kept,
         |  CAST(sum(d.n_chars) FILTER (WHERE l.doc_id = l.group_id) AS BIGINT)
         |    AS chars_kept
         |FROM l4 l JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },

    // mirrors Dedup.dedupSpans: same 1-based inclusive slice windows
    // (DuckDB l[a:b] == Spark slice), same distinct-doc threshold, same
    // order-preserving reassembly (list(... ORDER BY span_idx))
    "q_dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |n AS (SELECT doc_id, CAST(ceil(len(w)/8.0) AS BIGINT) AS n_spans FROM t),
        |c AS (SELECT t.doc_id AS doc_id, CAST(u.i AS BIGINT) AS span_idx,
        |        array_to_string(w[(CAST(u.i AS INT)*8+1):(CAST(u.i AS INT)*8+8)], ' ') AS span
        |      FROM t, unnest(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS u(i)),
        |hot AS (SELECT span FROM c GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        array_to_string(list(span ORDER BY span_idx), ' ') AS text_clean
        |      FROM c ANTI JOIN hot USING (span) GROUP BY doc_id)
        |SELECT n.doc_id, coalesce(k.text_clean, '') AS text_clean, n.n_spans,
        |       n.n_spans - coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_removed
        |FROM n LEFT JOIN k USING (doc_id)""".stripMargin,

    // mirrors Dedup.repeatedSpans: same token/shingle hashes, corpus
    // count >= 4 on the 3-gram hash, the same running-max islands merge
    // (adjacent coverage merges: new span iff start > prev_max_end + 1)
    "q_dedup_repeated_spans" ->
      s"""WITH $repeatedSpansChainSql
         |SELECT doc_id, CAST(min(start_tok) AS BIGINT) AS span_start,
         |  CAST(max(end_tok) AS BIGINT) AS span_end,
         |  CAST(max(end_tok) - min(start_tok) + 1 AS BIGINT) AS span_len
         |FROM spans GROUP BY doc_id, span_id""".stripMargin,

    // mirrors Dedup.removeRepeatedSpans: the shared span chain, spans
    // exploded to covered positions, token anti-join, ordered
    // reassembly (the dedupSpans list ORDER BY pattern)
    "q_dedup_repeated_clean" ->
      s"""WITH $repeatedSpansChainSql,
         |merged AS (
         |  SELECT doc_id, min(start_tok) AS s, max(end_tok) AS e
         |  FROM spans GROUP BY doc_id, span_id),
         |covered AS (
         |  SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM merged),
         |tw AS (SELECT doc_id, $toks AS t FROM documents),
         |tk AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, t[CAST(u.i AS INT) + 1] AS tok
         |  FROM tw, unnest(range(len(t))) AS u(i)),
         |kept AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list(tok ORDER BY pos), ' ') AS text_clean
         |  FROM tk ANTI JOIN covered USING (doc_id, pos) GROUP BY doc_id),
         |tot AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents)
         |SELECT t.doc_id, coalesce(k.text_clean, '') AS text_clean, t.n_tokens,
         |  t.n_tokens - coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_removed
         |FROM tot t LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // the cosine is the TOTAL form (zero-norm pair → −2 sentinel, same
    // as Similarity.cosine) so a degenerate vector can never pair
    "q_dedup_embedding" -> {
      val cosExpr =
        """(CASE WHEN a.norm > 0 AND b.norm > 0
          |    THEN CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
          |      p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1000000.0) AS BIGINT)))
          |    AS BIGINT) AS DOUBLE)
          |    / sqrt(CAST(a.norm AS DOUBLE) * CAST(b.norm AS DOUBLE))
          |    ELSE -2.0 END)""".stripMargin
      s"""WITH v AS (
         |  SELECT label AS block, vec_id, embedding,
         |    CAST(list_sum(list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))
         |      AS BIGINT) AS norm
         |  FROM embeddings)
         |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         |  $cosExpr AS cosine
         |FROM v a JOIN v b ON a.block = b.block AND a.vec_id < b.vec_id
         |WHERE $cosExpr >= 0.5""".stripMargin
    }
  )
}
