package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions.{col, count, lit}

/** Plan-REGRESSION gates for the load-bearing physical plans (VERDICT r3
  * item 4): graft.Profile prints a plan fingerprint for humans; this
  * spec FAILS the build if a future change silently adds an exchange,
  * drops a broadcast, or reintroduces a whole-partition Window on a
  * dedup hot key. Assertions run on `queryExecution.sparkPlan` — the
  * physical plan before AQE wrapping — so they are deterministic and
  * independent of runtime re-optimization.
  */
class PlanAuditSpec extends SparkTestBase with org.scalatest.BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  // Exchanges are inserted by EnsureRequirements, which runs in the
  // executedPlan preparation phase — and under AQE the executedPlan is
  // an opaque AdaptiveSparkPlanExec wrapper that collect() cannot see
  // through. Disable AQE for this suite so executedPlan is the concrete
  // statically-planned tree the assertions can walk. Memo caches are
  // cleared on both sides so (a) stages replan under this conf and
  // (b) other suites never see plans built under it.
  override def beforeAll(): Unit = {
    graft.queries.QueryCaches.clearAll()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // events.parquet stores TIMESTAMP(NANOS) — readable only as long
    // (the harness sessions set this too; Tables.events converts)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  private def windows(p: SparkPlan): Seq[WindowExec] =
    p.collect { case w: WindowExec => w }

  private def bhj(p: SparkPlan): Seq[BroadcastHashJoinExec] =
    p.collect { case j: BroadcastHashJoinExec => j }

  private def partitionKeys(e: ShuffleExchangeExec): Seq[String] =
    e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case _ => Seq.empty
    }

  test("dedup candidate generation has NO whole-partition Window (hot-key cap)") {
    // the maxBucket guard must stay a partial-aggregated groupBy +
    // join-back: a count(*) Window on (band, band_key) funnels the hot
    // key the cap exists to defend against onto one reducer
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_exact")) {
      val w = windows(plan(q))
      assert(w.isEmpty, s"$q grew a Window operator: ${w.mkString("; ")}")
    }
  }

  test("exact dedup is a single shuffle (partial agg + exchange-reused join-back)") {
    val s = shuffles(plan("q_dedup_exact"))
    assert(s.size == 1, s"q_dedup_exact expected 1 shuffle, got ${s.size}")
    assert(partitionKeys(s.head) == Seq("canon_hash"))
  }

  test("shard shuffle is ONE exchange on shard; inference plans no exchange") {
    // shuffleToShards' contract: the only data movement is the hash
    // shuffle on shard (the window sort happens inside the shard
    // partition — the same layout the sharded write needs anyway)
    val s = shuffles(plan("q_sample_shards"))
    assert(s.size == 1, s"q_sample_shards expected 1 shuffle, got ${s.size}")
    assert(partitionKeys(s.head) == Seq("shard"))
    // batch inference is a pure projection — a shuffle appearing here
    // means the argmax regressed to an aggregate/window formulation
    assert(shuffles(plan("q_infer_linear")).isEmpty,
      "q_infer_linear must stay map-only")
  }

  test("coverages: one pair-key collect, no Window, no per-partition sort") {
    val p = plan("q_coverages")
    // r14: island stats run inside the native IslandStats expression
    // over ONE partial-aggregated collect per pair — the running-max
    // windows (and their per-partition full-data sorts) are gone
    assert(windows(p).isEmpty,
      s"q_coverages grew a Window operator back: ${windows(p)}")
    val sorts = p.collect { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.isEmpty, s"q_coverages grew a Sort back: $sorts")
    // the only shuffles are the pair-key exchange feeding the collect,
    // plus the trs_id distinct that builds the (broadcast) lengths side
    val s = shuffles(p)
    assert(s.nonEmpty, "expected pair-key exchanges, found none")
    val bad = s.map(partitionKeys)
      .filterNot(k => k == Seq("trs1_id", "trs2_id") || k == Seq("trs_id"))
    assert(bad.isEmpty, s"unexpected shuffle keys in q_coverages: $bad")
    assert(bhj(p).size >= 2, "the two text_length joins must be broadcast")
  }

  test("stats star: all five metadata sides broadcast, no cartesian anywhere") {
    val p = plan("q_domain_source_piece_stats")
    // pieces×2, tem×2, edition_authors×2, twm×2 around the edge spine —
    // the metadata-cardinality sides must ALL be BroadcastHashJoin
    assert(bhj(p).size >= 5,
      s"expected >=5 broadcast joins in the stats star, got ${bhj(p).size}")
    val cart = p.collect {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(cart.isEmpty, s"cartesian/nested-loop join in stats star: $cart")
  }

  test("LSH candidate joins are equi-joins (no cross product)") {
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_sim_lsh_topk")) {
      val p = plan(q)
      val cart = p.collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$q contains a cartesian product")
    }
  }

  test("interval join and dedup groups plan as equi-joins, repetition has no Window") {
    for (q <- Seq("q_events_interval", "q_dedup_groups")) {
      val cart = plan(q).collect {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec => b
      }
      assert(cart.isEmpty,
        s"$q must hash-join on its key with the range/label predicate residual: $cart")
    }
    assert(windows(plan("q_text_repetition")).isEmpty,
      "repetition stats must stay two-level partial aggregation, no Window")
  }

  test("top-k rank filters plan a map-side partial WindowGroupLimit") {
    // row_number().over(w) <= n is only scale-safe because Spark 4's
    // InsertWindowGroupLimit pushes a partial top-n BEFORE the shuffle —
    // without it a hot group sorts its entire contents on one reducer.
    // Assert the node actually fires (Partial map-side + Final after the
    // exchange) for every top-k query, so a conf or shape regression
    // fails the build instead of silently degrading.
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    def wgl(q: String): Seq[WindowGroupLimitExec] =
      plan(q).collect { case w: WindowGroupLimitExec => w }
    for (q <- Seq("q_sample_cap", "q_sim_brute_topk", "q_sim_lsh_topk",
        "q_text_tfidf", "q_text_bm25", "q_sample_group_uniform",
        // the compressed-search family ranks with the same rank<=k shape
        "q_sim_quantized_topk", "q_sim_pq_topk", "q_sim_ivfpq_topk",
        "q_sim_hamming_topk", "q_sim_rrf",
        // windowed trending ranks per tumbling window, same shape
        "q_events_trending")) {
      val nodes = wgl(q)
      assert(nodes.size >= 2,
        s"$q expected Partial+Final WindowGroupLimit, got ${nodes.size}")
      assert(nodes.exists(_.mode.toString == "Partial"),
        s"$q has no map-side Partial WindowGroupLimit: ${nodes.map(_.mode)}")
    }
    // prove the gate detects the regression it guards against: with the
    // rule disabled the node disappears from the very same plan
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
    try assert(wgl("q_sample_cap").isEmpty,
      "disabling windowGroupLimitThreshold must remove the node (gate self-test)")
    finally spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")
  }

  test("sequence packing shuffles once, on shard only (no global ordering)") {
    val p = plan("q_pack_sequences")
    val s = shuffles(p)
    assert(s.size == 1, s"packing expected 1 shuffle, got ${s.size}")
    assert(partitionKeys(s.head) == Seq("shard"),
      s"packing must shuffle on shard, got ${s.map(partitionKeys)}")
    // and the running-sum window partitions on shard, never globally
    windows(p).foreach { w =>
      assert(w.partitionSpec.nonEmpty, "packing window must be partitioned")
    }
  }

  test("split assignment and weighted sampling stay map-only (no shuffle)") {
    for (q <- Seq("q_sample_splits", "q_sample_hash", "q_sample_weighted")) {
      val s = shuffles(plan(q))
      assert(s.isEmpty, s"$q must be map-only, found shuffles: ${s.size}")
    }
  }

  test("sign projection and gopher rules stay map-only (no shuffle)") {
    // both are per-row HOF pipelines — a shuffle appearing means the
    // projection/metrics regressed to an explode + groupBy formulation
    for (q <- Seq("q_sim_sign_project", "q_text_gopher_rules")) {
      val s = shuffles(plan(q))
      assert(s.isEmpty, s"$q must be map-only, found shuffles: ${s.size}")
    }
  }

  test("t-closeness: no row-level data past the checkpointed aggregate") {
    // the (class, value) aggregate is localCheckpoint-ed, so the final
    // plan must contain NO parquet scan — every exchange in it is
    // aggregate-sized by construction. A documents scan reappearing
    // means the checkpoint was dropped and row-level data re-enters
    // the term join-back.
    val p = plan("q_quality_t_closeness")
    val scans = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.isEmpty,
      s"expected all inputs sealed behind the checkpoint, found: $scans")
  }

  test("perplexity: model attaches by equi-joins, vocab is the only broadcast") {
    val p = plan("q_text_perplexity")
    val cart = p.collect { case c: CartesianProductExec => c }
    assert(cart.isEmpty, "bigram model joins must be hash equi-joins")
    // all model joins are EQUI-joins — at sf0.001 Spark rightly
    // broadcasts the small count tables (hash-keyed either way; at
    // corpus scale the size stats flip them to shuffled joins with no
    // plan change here) — but the only nested-loop join allowed is the
    // one-row V cross join
    val nested = p.collect { case b: BroadcastNestedLoopJoinExec => b }
    assert(nested.size <= 1,
      s"only the one-row V cross join may nest, got ${nested.size}")
  }

  test("native as-of join: merge exec over per-side exchanges, no union, no window") {
    val p = plan("q_events_asof_native")
    assert(p.collect { case a: graft.plans.AsOfJoinExec => a }.size == 1,
      s"expected AsOfJoinExec in plan:\n$p")
    // each side shuffles only its own columns: left clicks on user_id,
    // right purchase pre-agg on (user_id, ts) then user_id — and the
    // union+window shape (wide combined-schema shuffle + frame pass)
    // must NOT come back
    assert(windows(p).isEmpty, "native as-of must not plan a Window")
    assert(p.collect { case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty,
      "native as-of must not plan a Union")
    val s = shuffles(p)
    assert(s.size <= 3, s"native as-of expected <=3 exchanges, got ${s.size}")
    assert(s.exists(e => partitionKeys(e) == Seq("user_id")),
      s"expected a user_id exchange, got ${s.map(partitionKeys)}")
  }

  test("grouping-set queries: one Expand + one aggregation exchange, no rescan") {
    // ROLLUP/CUBE/GROUPING SETS must plan as a single-pass Expand +
    // two-phase hash aggregate — N grouping levels from ONE fact scan.
    // A rewrite into per-level scans unioned together would rescan the
    // fact table per level (quadratic-ish at 100 TB) and shuffle once
    // per level instead of once total.
    for (q <- Seq("q_agg_rollup", "q_agg_cube", "q_agg_grouping_sets")) {
      val p = plan(q)
      val expands = p.collect { case e: org.apache.spark.sql.execution.ExpandExec => e }
      assert(expands.size == 1, s"$q expected 1 Expand, got ${expands.size}")
      val s = shuffles(p)
      assert(s.size == 1, s"$q expected 1 shuffle (two-phase agg), got ${s.size}")
      assert(p.collect { case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty,
        s"$q rewrote grouping sets into a per-level union")
    }
  }

  test("rank family: five window functions share one Window node and one exchange") {
    // dense_rank/ntile/lead/percent_rank/cume_dist declare the same
    // (partition, order) spec — the planner must fuse them into a
    // single WindowExec over a single exchange+sort. A second Window
    // node would mean a redundant full sort of the input.
    val p = plan("q_window_rank_family")
    val w = windows(p)
    assert(w.size == 1, s"expected 1 fused Window node, got ${w.size}")
    assert(w.head.windowExpression.size == 5,
      s"expected all 5 functions in one node, got ${w.head.windowExpression.size}")
    assert(shuffles(p).size == 1,
      s"expected 1 exchange, got ${shuffles(p).size}")
  }

  test("parquet scans push filters down and prune to the referenced columns") {
    // pushdown: the event_type predicate must reach the scan node (a
    // post-scan Filter over a full read is the 100 TB anti-pattern)
    val scans1 = plan("q_events_interval").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans1.nonEmpty)
    assert(scans1.exists(_.metadata.get("PushedFilters").exists(_.contains("event_type"))),
      s"event_type filter not pushed: ${scans1.map(_.metadata.get("PushedFilters"))}")
    // pruning: langid reads (doc_id, text) — a scan that also reads
    // lang/source/n_chars ships 3 dead columns per row at 100 TB
    val scans2 = plan("q_text_langid").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans2.nonEmpty)
    val cols = scans2.head.requiredSchema.fieldNames.toSet
    assert(cols === Set("doc_id", "text"), s"scan reads extra columns: $cols")
  }

  test("runtime bloom-filter injection reduces a selective shuffle join") {
    // At 100 TB the cheapest shuffle is the one that never happens:
    // when a fact⋈dim join's dim side is selectively filtered but too
    // big to broadcast, Catalyst's InjectRuntimeFilter builds a bloom
    // filter from the dim keys and prunes the fact side BEFORE its
    // exchange (semi-join reduction). This gate proves the mechanism
    // fires on this Spark build under the documented confs — and that
    // disabling it is detectable, so a conf regression cannot silently
    // disable the reduction. Local thresholds are lowered because the
    // defaults key off multi-GB scan-size estimates.
    def planFor(enabled: Boolean): String = {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", enabled.toString)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "50MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val li = spark.read.parquet(s"/root/testdata/sf0.001/lineitem.parquet")
        val o = spark.read.parquet(s"/root/testdata/sf0.001/orders.parquet")
          .where(col("o_orderpriority") === "1-URGENT")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy("l_returnflag").agg(count(lit(1)))
          .queryExecution.optimizedPlan.toString
      } finally {
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    val on = planFor(enabled = true)
    assert(on.contains("might_contain") && on.contains("bloom_filter_agg"),
      s"runtime bloom filter not injected:\n${on.take(2000)}")
    val off = planFor(enabled = false)
    assert(!off.contains("might_contain"),
      "bloom injection survived being disabled — the assert is vacuous")
  }

  test("NO registered query plans a cartesian product; BNLJ only where designed") {
    // The one invariant that must hold across the whole contract: no
    // operator may quietly degrade to a cartesian product. Broadcast
    // nested-loop joins are allowed only for the three designed
    // 1-row/bounded-aggregate attaches (corpus totals, vocab, the
    // dictionary max shift) and the brute-force ANN baseline (broadcast
    // query set × corpus scan is the definition of brute force) —
    // anything else is a join that lost its equi-keys. sparkPlan
    // (pre-AQE) keeps this deterministic; eager queries
    // (localCheckpoint results) have truncated plans and pass
    // trivially but cost their sf0.001 materialization here.
    // the IVF family broadcasts its bounded centroid set against every
    // query/vector for rank-1 assignment — same designed shape
    // q_dedup_semantic shares the IVF bounded-centroid attach;
    // q_sim_quantized_topk is the brute-force baseline over int8 codes
    // bm25's corpus-totals attach is the same 1-row bounded-aggregate
    // shape as tfidf's
    val intendedBnlj = Set("q_text_perplexity", "q_text_tfidf", "q_text_bm25",
      "q_dict_extend",
      "q_sim_brute_topk", "q_sim_ivf_topk", "q_sim_ivf_kmeans", "q_sim_ivf_kmeans2",
      "q_dedup_semantic", "q_sim_quantized_topk", "q_sim_ivfpq_topk",
      // temperature mixing's grand-total attach is the same 1-row
      // bounded-aggregate shape as q_dict_extend; the importance
      // weighters attach their 1-row token-total the same way
      "q_sample_temperature", "q_sample_importance", "q_sample_importance_topk",
      // the weighting composition embeds the importance weighter; the
      // quality report's referential face joins two 1-row aggregates
      // (total × matched) — the same bounded-aggregate attach
      "q_pipeline_weighting", "q_quality_report",
      // t-closeness attaches its 1-row corpus total N twice (terms +
      // final divide) — the same bounded-aggregate shape; kappa joins
      // its two 1-row aggregates (totals × chance mass)
      "q_quality_t_closeness", "q_ml_kappa",
      // the ppl-filter composition embeds cross-perplexity and
      // inherits its 1-row vocab-size attach; PMI attaches its 1-row
      // bigram/token totals the same way
      "q_pipeline_ppl_filter", "q_text_pmi",
      // hamming is a brute-force sketch scan; rrf and the embedding
      // pipeline embed retrievers/semantic-dedup and inherit their
      // designed centroid attaches
      "q_sim_hamming_topk", "q_sim_rrf", "q_pipeline_embeddings",
      // skew diagnostic's 1-row corpus-total attach; the histogram's
      // 1-row min/max bounds attach is the same designed shape
      "q_profile_skew", "q_profile_histogram",
      // hard-negative mining is the brute-force broadcast scan with a
      // label-inequality predicate — the same designed shape as
      // q_sim_brute_topk (its scale path composes with IVF cells)
      "q_sim_hard_negatives",
      // the sketch scoring faces probe EVERY (group, key) pair by
      // design — a bounded distinct-group set (≤5 rows, broadcast)
      // fanned across the probe corpus; the sketch lookups themselves
      // stay broadcast hash equi-joins
      "q_sketch_bloom_fpr", "q_sketch_cms_est",
      // more-like-this attaches the 1-row corpus count for its integer
      // rarity weights — the q_text_tfidf bounded-aggregate shape
      "q_text_more_like_this",
      // the standalone k-means faces share the IVF bounded-centroid
      // broadcast attach (assignCells) — same designed shape as
      // q_sim_ivf_kmeans
      "q_sim_kmeans_assign", "q_sim_kmeans_cells",
      // drift's 1-row bounds + 1-row totals attaches — the
      // q_profile_histogram designed shape, twice
      "q_profile_drift",
      // cross-perplexity attaches the reference vocab size exactly as
      // the self-trained perplexity face does; Kneser-Ney attaches its
      // 1-row bigram-type count B the same way
      "q_text_cross_perplexity", "q_text_kn_perplexity",
      // the recall face embeds the brute-force ground truth — it
      // inherits q_sim_brute_topk's designed broadcast scan
      "q_sim_ann_recall", "q_sim_mrr",
      // diversity's pair join is sample²-bounded BY CONSTRUCTION (the
      // id-mod gate), the designed bounded-BNLJ shape
      "q_sim_diversity",
      // margin mining scores a bounded broadcast probe set against the
      // corpus — q_sim_quantized_topk's designed shape with the
      // id-inequality predicate riding the broadcast join
      "q_sim_bitext_margin",
      // modularity attaches the 1-row edge-count scalar m — the
      // q_dict_extend bounded-aggregate shape
      "q_graph_modularity",
      // χ² and naive Bayes attach their 1-row class/token totals; the
      // NB eval face inherits both the model-fit total and the prior
      // attach — all the q_dict_extend bounded-aggregate shape
      "q_ml_chi2", "q_ml_nb_model", "q_ml_nb_eval",
      // closeness attaches the 1-row node count n; Benford the 1-row
      // total N — same shape
      "q_graph_closeness", "q_profile_benford",
      // conformal attaches the 1-row calibration count and fans the
      // |α|-row threshold table across the eval side — the bounded
      // broadcast attach, twice
      "q_ml_conformal",
      // JS divergence builds its |slices|²-bounded pair table by an
      // inequality join of two |slices|-row aggregates — the bounded
      // broadcast attach shape
      "q_text_js_divergence",
      // the two-sweep diameter assembles its single output row from
      // three 1-row frames; bootstrap-CI attaches its two 1-row rank
      // selections; label-noise its 1-row threshold pair — all the
      // bounded-aggregate attach
      "q_graph_diameter", "q_profile_bootstrap_ci", "q_ml_label_noise",
      // the stump attaches its 1-row class totals; Neyman its 1-row
      // weight total; entropy its 1-row N; stickiness its 1-row
      // max-day cap — the same shape
      "q_ml_stump", "q_sample_neyman", "q_profile_entropy",
      "q_events_stickiness",
      // association rules attach the 1-row basket count N for the
      // lift denominator — the q_dict_extend bounded-aggregate shape;
      // the top-k partners face ranks over the same rules and inherits
      // the attach
      "q_basket_rules", "q_basket_topk_partners",
      // the two-level bucketed rank (core.Ranks, the r14 de-serialized
      // global windows) attaches its 1-row min/max bounds by broadcast
      // when the caller knows no domain — the q_profile_histogram
      // designed shape; curriculum additionally attaches the 1-row
      // corpus count for ntile's arithmetic definition
      "q_pipeline_curriculum", "q_profile_gini")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, dir).queryExecution.sparkPlan
      val cart = p.collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$name plans a CartesianProduct")
      if (!intendedBnlj(name)) {
        val bnlj = p.collect { case j: BroadcastNestedLoopJoinExec => j }
        assert(bnlj.isEmpty, s"$name plans an unintended BroadcastNestedLoopJoin")
      }
    }
  }

  /** (file name, line, code) for every line of the sources of the given
    * `graft` packages; code is the line with its comment stripped (empty
    * on a Scaladoc or block-comment line).
    */
  private def sourceLines(packages: String*): Seq[(String, String, String)] =
    packages.flatMap { pkg =>
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      assert(dir.isDirectory, s"missing ${dir.getPath}")
      for {
        f <- dir.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
        line <- java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
        comment = line.trim.startsWith("*") || line.trim.startsWith("/*")
      } yield (f.getName, line, if (comment) "" else line.takeWhile(_ != '/'))
    }

  test("graph family: every broadcast() call site is audited bounded (lint)") {
    // the r9 hazard class: Bfs.earliestArrival broadcast an iteration
    // FRONTIER unconditionally — a set that grows with the reachable
    // set, not the seed set, so one hot wave on a 100 TB graph OOMs
    // the driver. This source lint sweeps graft/graph for broadcast()
    // call sites and fails on any not in the audited allowlist below,
    // so that class of bug cannot re-enter silently: a new graph
    // broadcast must be added HERE with its boundedness argument.
    val allowed: Map[String, Set[String]] = Map(
      // size-gated: only taken when frontierRows <= broadcastRowLimit
      // (the gate's presence is asserted separately below)
      "Bfs.scala" -> Set("broadcast(frontier)",
        // 1-row argmax frames assembling the diameter output row
        "broadcast(far1", "broadcast(far2"),
      // 1-row node count n attached to the per-seed aggregate
      "Centrality.scala" -> Set("broadcast(n)"),
      // 1-row half-step max (the fixed-point rescale guard)
      "Hits.scala" -> Set("broadcast(mx)"),
      // 1-row total edge count m
      "Modularity.scala" -> Set("broadcast(m)"))
    for ((file, line, code) <- sourceLines("graph") if code.contains("broadcast(")) {
      val ok = allowed.getOrElse(file, Set.empty).exists(code.contains)
      assert(ok, s"$file: unaudited broadcast() call site " +
        s"'${line.trim}' — prove the broadcast side is bounded " +
        "(1-row aggregate or size-gated) and add it to the allowlist")
    }
    // and the one frontier broadcast must STAY behind its size gate
    val bfs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/graph/Bfs.scala")))
    assert(bfs.contains("frontierRows <= broadcastRowLimit"),
      "earliestArrival's frontier broadcast lost its size gate")
  }

  test("graph family: no count() call, rounds cut and count in core.Fixpoint (lint)") {
    // a lazy checkpoint read by count() costs one job more than
    // Fixpoint.countedCut, whose checkpoint job also counts the rows
    // (count()'s single-partition final stage is a job of its own under
    // adaptive execution); the graph loops cut and count through it
    for ((file, line, code) <- sourceLines("graph"))
      assert(!code.contains(".count()"), s"$file: '${line.trim}' counts on its own; " +
        "cut and count the frame with Fixpoint.countedCut or Fixpoint.observedRound")
  }

  test("iterative families: no hand-written while loop, rounds run on Fixpoint.iterate (lint)") {
    // the round counter, the cap check and the cap message live once, in
    // the driver; a hand-written loop brings back its own copies
    for ((file, line, code) <- sourceLines("graph", "cluster", "dedup"))
      assert(!code.contains("while ("), s"$file: '${line.trim}' loops by hand; " +
        "run the rounds on Fixpoint.iterate")
  }

  test("prefix-filter join: equi-joins only, windows partition per-doc") {
    // the exact similarity join must never degrade to a cartesian (its
    // whole point is joining on rare prefix shingles), and its only
    // window is the per-doc prefix rank — partitioned on doc_id, never
    // whole-partition
    val p = plan("q_dedup_prefix_join")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      "prefix join grew a cartesian product")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "prefix join grew a nested-loop join")
    windows(p).foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "prefix rank window must partition (per-doc), found a global window")
    }
  }

  test("ppl-filter percentile windows partition per language") {
    // the cut selection runs on the value HISTOGRAM partitioned by
    // lang — a global (unpartitioned) window means the order statistic
    // regressed to a per-row corpus-wide rank
    windows(plan("q_pipeline_ppl_filter")).foreach { w =>
      assert(w.partitionSpec.flatMap(_.references.map(_.name)) == Seq("lang"),
        s"cut window must partition by lang, got ${w.partitionSpec}")
    }
  }

  test("snapshot merge is one join on the key, no extra exchanges") {
    // merge's contract: one full-outer sort-merge join on the key —
    // one exchange per side, nothing else (the classified projection
    // is map-only)
    val p = plan("q_merge_snapshot")
    val smj = p.collect { case j: SortMergeJoinExec => j }
    assert(smj.size == 1, s"merge expected 1 sort-merge join, got ${smj.size}")
    assert(smj.head.joinType.toString == "FullOuter",
      s"merge join must be FullOuter, got ${smj.head.joinType}")
    val s = shuffles(p)
    assert(s.size <= 2, s"merge expected <=2 exchanges (one per side), got ${s.size}")
    s.foreach(e => assert(partitionKeys(e) == Seq("doc_id"),
      s"merge exchange must key on doc_id, got ${partitionKeys(e)}"))
  }

  test("hard-negative mining ranks through a map-side WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val nodes = plan("q_sim_hard_negatives")
      .collect { case w: WindowGroupLimitExec => w }
    assert(nodes.size >= 2,
      s"hard negatives expected Partial+Final WindowGroupLimit, got ${nodes.size}")
    assert(nodes.exists(_.mode.toString == "Partial"),
      s"hard negatives missing the map-side Partial: ${nodes.map(_.mode)}")
  }

  test("shuffle-count snapshots for the headline plans") {
    // upper bounds, not exact counts: a future change may legitimately
    // REMOVE a shuffle, but silently adding one fails loudly here
    val bounds = Map(
      "q_coverages" -> 10,
      "q_dedup_minhash" -> 8,
      "q_dedup_simhash" -> 6,
      "q_domain_source_piece_stats" -> 16)
    for ((q, bound) <- bounds) {
      val n = shuffles(plan(q)).size
      assert(n <= bound, s"$q shuffle count regressed: $n > $bound")
    }
  }

  test("SCD2 build: one exchange on user_id serves every window pass") {
    val p = plan("q_scd2_intervals")
    val s = shuffles(p)
    assert(s.size == 1, s"q_scd2_intervals expected 1 shuffle, got ${s.size}")
    assert(partitionKeys(s.head) == Seq("user_id"))
    windows(p).foreach { w =>
      assert(w.partitionSpec.flatMap(_.references.map(_.name)) == Seq("user_id"),
        "every SCD2 window must partition on the dimension key")
    }
  }

  test("importance weights: no Window, stats attach by broadcast only") {
    val p = plan("q_sample_importance")
    assert(windows(p).isEmpty, "importance weighting must stay window-free")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(bhj(p).nonEmpty,
      "the bucket-ratio table must broadcast back onto per-doc term counts")
    val n = shuffles(p).size
    assert(n <= 6, s"q_sample_importance shuffle count regressed: $n > 6")
  }

  test("inverted index: aggregation exchanges only, no window, no cartesian") {
    val p = plan("q_text_invindex")
    assert(windows(p).isEmpty)
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    val n = shuffles(p).size
    assert(n <= 5, s"q_text_invindex shuffle count regressed: $n > 5")
  }

  test("bloom/CMS sketch builds: one aggregation exchange, no window, no join") {
    // the build side of a persisted sketch must stay explode + ONE
    // partial-aggregated groupBy — a join or window in the build path
    // would defeat the multiplicity-independent cost contract
    for (q <- Seq("q_sketch_bloom", "q_sketch_cms")) {
      val p = plan(q)
      assert(windows(p).isEmpty, s"$q grew a window")
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, s"$q grew a join in the build path")
      val n = shuffles(p).size
      assert(n <= 1, s"$q sketch build expected <=1 exchange, got $n")
    }
  }

  test("bloom-pruned join: pruning filter present, single equi-join, no extra exchange") {
    val p = plan("q_join_bloom_pruned")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1, s"expected 1 join (the real one), got ${joins.size}")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    // the membership predicate must sit in a Filter below the join —
    // the native kernel's prettyName is its signature
    assert(p.toString.contains("graft_bloom_probe"),
      "native bloom membership filter missing from the probe side")
    // and it must stay inside whole-stage codegen: the Column
    // formulation it replaced blew the method budget and ran
    // interpreted at ~10x the plain join's cost
    val filterInWscg = p.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("graft_bloom_probe") => w
    }
    assert(filterInWscg.nonEmpty,
      "bloom probe filter fell out of whole-stage codegen")
  }

  test("cluster spans: top-100 plans as TakeOrdered, never a global sort") {
    val p = plan("q_domain_cluster_spans")
    assert(p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "widest-100 cut must be a TakeOrdered, not Sort+Limit")
    assert(p.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty, "no global sort materialization for a top-k")
  }

  test("conjunctive search: arity attaches by broadcast; index joins stay equi") {
    val p = plan("q_text_search_and")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(bhj(p).nonEmpty, "query-arity table must broadcast")
    // the term-ranking window subtree is referenced twice (index join +
    // arity side), so it appears twice pre-CSE; both copies are
    // lexicon-sized. Anything beyond that is a corpus-sized global sort
    assert(windows(p).count(_.partitionSpec.isEmpty) <= 2,
      "only the two copies of the lexicon-sized term-ranking window may be global")
  }

  test("more-like-this ranks through a map-side partial WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val nodes = plan("q_text_more_like_this")
      .collect { case w: WindowGroupLimitExec => w }
    assert(nodes.size >= 2,
      s"expected Partial+Final WindowGroupLimit, got ${nodes.size}")
    assert(nodes.exists(_.mode.toString == "Partial"),
      "rank cut must start map-side — a hot document must not sort its " +
        "whole candidate set on one reducer")
  }

  test("CC / BFS / SSSP queries: equi-joins only, no window, no cartesian") {
    // eager (localCheckpoint) faces have truncated top plans; the gate
    // still catches a cartesian/window sneaking into the FINAL stage,
    // and costs one sf0.001 materialization each
    for (q <- Seq("q_graph_cc", "q_graph_cc_inc", "q_graph_bfs",
        "q_graph_sssp", "q_dedup_groups_cc")) {
      val p = plan(q)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
        s"$q plans a cartesian")
      assert(windows(p).isEmpty, s"$q grew a window")
    }
  }

  test("winnowing: every window partitions by doc_id, no cartesian") {
    // the selection window must stay per-document — an unpartitioned
    // variant would funnel the whole corpus's k-gram stream through
    // one task's sort
    for (q <- Seq("q_text_winnow", "q_text_winnow_pairs")) {
      val p = plan(q)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
        s"$q plans a cartesian")
      val unpart = windows(p).filter(_.partitionSpec.isEmpty)
      assert(unpart.isEmpty, s"$q has an unpartitioned window")
    }
  }

  test("label propagation / novelty / source overlap: equi-joins, no window") {
    // label rounds are groupBy argmax (struct-min), novelty one
    // hash-keyed min + join-back, overlap a source-bounded self-join —
    // none of them may regress into a window or cartesian
    for (q <- Seq("q_dedup_label_prop", "q_text_novelty",
        "q_text_novelty_inc", "q_text_source_overlap")) {
      val p = plan(q)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
        s"$q plans a cartesian")
      assert(windows(p).isEmpty, s"$q grew a window")
    }
  }

  test("hashed features / drift / k-anonymity: aggregation plans, no join explosion") {
    // the featurizer is explode + two groupBys; drift and k-anonymity
    // are single aggregations with ≤1-row broadcast attachments — any
    // non-broadcast join here means a corpus-sized side sneaked in
    for (q <- Seq("q_ml_text_features", "q_quality_k_anonymity")) {
      val p = plan(q)
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, s"$q grew a join")
      assert(windows(p).isEmpty, s"$q grew a window")
    }
    val drift = plan("q_profile_drift")
    val nonBroadcast = drift.collect {
      case j: SortMergeJoinExec => j
      case c: CartesianProductExec => c
    }
    assert(nonBroadcast.isEmpty,
      "drift's bounds/totals must attach by broadcast, not shuffle join")
  }

  test("html curation pipeline: the extracted text never crosses an " +
      "exchange; no window; dedup keeps its single canon_hash shuffle") {
    // the wide columns (raw html, text_clean) must die at their scans:
    // the gates are map-only, the dedup stage shuffles (doc_id,
    // canon_hash)-shaped rows, and the accounting shuffles (lang,
    // source) partials — at 100 TB anything text-shaped in an exchange
    // is the whole bill
    val p = plan("q_pipeline_html_curation")
    assert(windows(p).isEmpty, "pipeline grew a window operator")
    val leaky = shuffles(p).filter(_.output.exists(a =>
      a.name.contains("text") || a.name.contains("html")))
    assert(leaky.isEmpty,
      s"text-shaped column crossed an exchange: ${leaky.mkString("; ")}")
    assert(shuffles(p).exists(partitionKeys(_) == Seq("canon_hash")),
      "the exact-dedup stage lost its canon_hash exchange")
  }

  test("per-block density stays MAP-ONLY: two framed scans + zip + " +
      "posexplode, no shuffle, no window (the scanner family's widest " +
      "composition must not grow an exchange)") {
    val p = plan("q_text_html_block_density")
    assert(shuffles(p).isEmpty,
      s"q_text_html_block_density grew a shuffle: $p")
    assert(windows(p).isEmpty, "q_text_html_block_density grew a window")
    // the content face reassembles kept blocks per doc with HOFs over
    // the framed arrays — the per-doc aggregate must NOT become an
    // explode + groupBy(doc_id) regroup (that is a full-corpus shuffle
    // at 100 TB for a value the row already holds)
    val c = plan("q_text_html_content")
    assert(shuffles(c).isEmpty, s"q_text_html_content grew a shuffle: $c")
    assert(windows(c).isEmpty, "q_text_html_content grew a window")
  }

  test("url dedup: one url_norm shuffle (partial agg + exchange-reused " +
      "join-back), no window — the exact-dedup posture on the canonical key") {
    val p = plan("q_dedup_url")
    assert(windows(p).isEmpty, "q_dedup_url grew a window operator")
    val s = shuffles(p)
    assert(s.size == 1, s"q_dedup_url expected 1 shuffle, got ${s.size}")
    assert(partitionKeys(s.head) == Seq("url_norm"))
  }

  // release the memoized domain-chain stages this suite materialized
  // under the spec-local scan conf, and restore the defaults
  override def afterAll(): Unit = {
    graft.queries.QueryCaches.clearAll()
    spark.conf.unset("spark.sql.adaptive.enabled")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }
}
