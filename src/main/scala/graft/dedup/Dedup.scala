package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Fixpoint
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines over
  * `documents(doc_id, text, ...)`:
  *
  *  - exact dedup (hash-groupBy on a canonicalized text hash);
  *  - word-n-gram Jaccard verification on candidate pairs;
  *  - MinHash + LSH banding (shingle → k minhashes → band keys →
  *    bucket self-join → candidate pairs, verified with exact Jaccard);
  *  - SimHash (64-bit sign-aggregated token hashes, near-dup =
  *    small Hamming distance within LSH-style prefix buckets).
  *
  * Scale design: every path is (per-doc codegen'd expressions) →
  * (explode on small per-doc arrays) → (shuffle ONLY on short band/bucket
  * keys). No cross join ever: candidate generation is an equi-join on
  * band keys, so 100 TB of documents shuffles |docs|·bands short rows,
  * and the quadratic blow-up is confined to within-bucket pairs (bounded
  * by design of the band width). Hashes are explicit polynomial/universal
  * families (TextAnalysis.rollingHash/saltedHash) — deterministic across
  * engines, reproducible in the DuckDB oracle.
  */
object Dedup {

  private val P = TextAnalysis.HashMod

  /** Exact duplicates by canonicalized content hash: lowercase +
    * whitespace-collapse, rolling hash, keep the smallest doc_id per
    * group. Returns (doc_id, canon_hash, group_size, is_kept).
    *
    * Shape: groupBy(canon_hash) + join back, NOT whole-partition windows
    * over canon_hash — the aggregate is partial (map-side combined)
    * before the shuffle, whereas a window must sort every duplicate of a
    * hot hash (a boilerplate page duplicated millions of times) on one
    * reducer. Both sides of the join hash-partition on canon_hash, so
    * the aggregate's exchange is reused and the plan stays one shuffle.
    */
  def exact(docs: DataFrame): DataFrame = {
    val canon = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val hashed = docs.select(col("doc_id"), TextAnalysis.rollingHash(canon).as("canon_hash"))
    val groups = hashed.groupBy("canon_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).cast("long").as("group_size"))
    hashed.join(groups, Seq("canon_hash"))
      .select(col("doc_id"), col("canon_hash"), col("group_size"),
        (col("doc_id") === col("keep_id")).as("is_kept"))
  }

  /** Sorted-neighborhood blocking — the third candidate-generation
    * family next to LSH banding and SimHash blocks: sort the corpus by
    * a locality-preserving key (normalized text prefix) and emit pairs
    * within `window` positions of each other. Catches near-dups that
    * share openings (boilerplate headers, templated pages) at O(n·w)
    * candidate pairs. The global rank comes from `Ids.zipWithRowId`
    * over a range-partitioned sort — NOT a `row_number() OVER ()`
    * whole-corpus window, which would funnel every row through one
    * reducer; the w-window pairs come from an offset explode joined
    * back on rank (the sliding-candidates shape, rank-keyed shuffles
    * only).
    */
  def sortedNeighborhoodCandidates(docs: DataFrame, window: Int = 10,
      prefixLen: Int = 40): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val keyed = docs.select(col("doc_id"),
      lower(trim(substring(col("text"), 1, prefixLen))).as("snk"))
    val ranked = graft.ids.Ids.zipWithRowId(keyed.orderBy("snk", "doc_id"), "rank")
    val right = ranked.select(col("rank").as("rank_b"), col("doc_id").as("doc_id_b"))
    ranked.select(col("doc_id").as("doc_id_a"),
        explode(sequence(col("rank") + 1, col("rank") + window)).as("rank_b"))
      .join(right, Seq("rank_b"))
      .select(col("doc_id_a"), col("doc_id_b"))
  }

  /** Incremental exact dedup — the daily-drop shape: dedup a NEW batch
    * against itself AND against the canon hashes of everything already
    * accepted, without rereading the historical corpus (only its hash
    * column ships). A new doc survives iff it is first in its batch
    * group AND its hash is unseen. `knownHashes` needs a `canon_hash`
    * column (e.g. the stored output of [[exact]]); the join is a
    * hash-keyed left, partial-agg distinct on the known side.
    */
  def exactIncremental(docs: DataFrame, knownHashes: DataFrame): DataFrame = {
    val known = knownHashes.select(col("canon_hash")).distinct()
      .withColumn("_seen", lit(true))
    exact(docs).join(known, Seq("canon_hash"), "left")
      .select(col("doc_id"), col("canon_hash"), col("group_size"),
        (col("is_kept") && col("_seen").isNull).as("is_kept"))
  }

  /** Spread candidate id-pairs across the session's full shuffle
    * parallelism before a CPU-heavy per-pair verify kernel. A keyed
    * `repartition(cols)` has its partition count COALESCED by AQE by
    * byte size — and an id-pair exchange is a few MB however many pairs
    * it holds (~16 B/row), so the O(len·maxDist) banded DP / O(|hs|)
    * set intersects collapse back to ONE task. An explicit partition
    * count (REPARTITION_BY_NUM) is exempt from AQE coalescing, and the
    * count is the session's configured shuffle parallelism —
    * scale-adaptive via conf, not a local-mode constant (guide §2.5:
    * AQE's advisory bytes are blind to CPU-per-row).
    */
  private def spreadPairs(candidates: DataFrame): DataFrame =
    candidates.repartition(
      candidates.sparkSession.sessionState.conf.numShufflePartitions,
      col("doc_id_a"), col("doc_id_b"))

  /** Word-n-gram Jaccard similarity for candidate pairs, over HASHED
    * shingle sets: shingles are rolling-hashed to longs per doc before
    * the pair join, so the per-pair set intersection works on bigint
    * arrays (cheap, codegen'd comparisons) instead of re-shipping and
    * comparing hundreds of strings per pair; the union size is derived
    * arithmetically (|A| + |B| − |A∩B|) instead of building a second
    * set. Hash collisions (p ≈ |sh|²/2·10⁻⁹ per doc) can merge two
    * distinct shingles — the standard, deterministic approximation.
    * `candidates` must have (doc_id_a, doc_id_b); texts are joined in.
    */
  def ngramJaccard(docs: DataFrame, candidates: DataFrame, n: Int = 3): DataFrame = {
    val sh = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"),
        array_distinct(TextAnalysis.shingleHashes(col("th"), n)).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n_sh"))
    // spread the candidate pairs before the per-pair set
    // intersection (the editDistanceVerify rationale — the shingle
    // sides broadcast, so the O(|hs|) intersect otherwise inherits the
    // candidate generator's task count; ids-only exchange)
    spreadPairs(candidates)
      .join(sh.select(col("doc_id").as("doc_id_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), Seq("doc_id_a"))
      .join(sh.select(col("doc_id").as("doc_id_b"), col("hs").as("hs_b"),
        col("n_sh").as("n_b")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("n_common"),
        col("n_a"), col("n_b"))
      .select(col("doc_id_a"), col("doc_id_b"), col("n_common"),
        (col("n_a") + col("n_b") - col("n_common")).as("n_union"))
      .withColumn("jaccard",
        when(col("n_union") > 0, col("n_common").cast("double") / col("n_union").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Asymmetric CONTAINMENT scoring over candidate pairs:
    * |A∩B|/|A| and |A∩B|/|B| per pair (fixed-point 1e-6) — the
    * subset/quotation detector symmetric Jaccard is blind to: a tweet
    * quoted inside an article has tiny Jaccard (the union is
    * article-sized) but containment ≈ 1 on the tweet side, which is
    * what quote-dedup, snippet-provenance, and contained-document
    * removal key on. Same single shingle-table + candidate-join shape
    * as [[ngramJaccard]]; empty shingle sets score null (containment
    * of nothing is undefined, not zero). The division is exact
    * integer floor (pmod-subtract), so the face hash-compares.
    */
  def ngramContainment(docs: DataFrame, candidates: DataFrame,
      n: Int = 3): DataFrame = {
    val sh = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"),
        array_distinct(TextAnalysis.shingleHashes(col("th"), n)).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n_sh"))
    def contS(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("long"))
        .otherwise(graft.ml.Training.floorDivP(num * lit(1000000L), den))
    // spread candidate pairs before the per-pair intersect (the
    // ngramJaccard note)
    spreadPairs(candidates)
      .join(sh.select(col("doc_id").as("doc_id_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), Seq("doc_id_a"))
      .join(sh.select(col("doc_id").as("doc_id_b"), col("hs").as("hs_b"),
        col("n_sh").as("n_b")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("n_common"),
        col("n_a"), col("n_b"))
      .withColumn("containment_a_s", contS(col("n_common"), col("n_a")))
      .withColumn("containment_b_s", contS(col("n_common"), col("n_b")))
  }

  /** EXACT threshold similarity join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): every pair with n-gram Jaccard >= tNum/tDen, with ZERO
    * false negatives — the exact counterpart of MinHash banding, whose
    * recall is probabilistic. Returns the verified pairs
    * (doc_id_a < doc_id_b, n_common, n_union, jaccard).
    *
    * Shingles order globally by (document frequency asc, hash asc);
    * doc d keeps only its first |d| − ceil(t·|d|) + 1 shingles as its
    * PREFIX. J(a,b) >= t implies |a∩b| >= ceil(t·max(|a|,|b|)), and by
    * the prefix-filtering lemma two sets with overlap >= α must share
    * an element within their (size − α + 1)-prefixes — so joining
    * prefixes on the shingle hash loses nothing. The standard size
    * filter (t·|a| <= |b| and t·|b| <= |a|, integer cross-multiplied)
    * prunes inside the join; exact verification ([[ngramJaccard]])
    * then keeps n_common·tDen >= n_union·tNum.
    *
    * The threshold is a RATIONAL tNum/tDen: prefix lengths use integer
    * ceil-division and the final filter cross-multiplies, so no IEEE
    * rounding ever decides membership — bit-identical across engines
    * (ceil(0.3·n) on doubles is a cross-engine hash hazard).
    *
    * Scale shape: shuffles key on the shingle hash (document-frequency
    * aggregate + prefix self-join) and on (doc_id_a, doc_id_b) (pair
    * dedup) — never on text. The df-ASCENDING prefix order is also the
    * skew defense: corpus-frequent shingles are pushed out of every
    * prefix, so the self-join only ever meets on RARE keys — the
    * opposite skew profile of a naive shared-shingle join. The per-doc
    * ranking window partitions on doc_id (bounded by one document's
    * distinct shingles, never corpus-scale).
    */
  def prefixFilterNearDups(docs: DataFrame, tNum: Int = 3, tDen: Int = 10,
      n: Int = 3): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold tNum/tDen must be in (0, 1]")
    val sh = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"),
        array_distinct(TextAnalysis.shingleHashes(col("th"), n)).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n_sh"))
      .where(col("n_sh") > 0)
    val occ = sh.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("g"))
    val dfreq = occ.groupBy(col("g")).agg(count(lit(1)).as("df_g"))
    // prefix length |d| − ceil(t·|d|) + 1, exact integer ceil-division
    // (SQL `div`: integer division on BIGINT — no IEEE rounding in play)
    val prefLen = expr(s"n_sh - ((n_sh * $tNum + ${tDen - 1}) div $tDen) + 1")
    val pref = occ.join(dfreq, Seq("g"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df_g"), col("g"))))
      .where(col("rnk") <= prefLen)
      .select(col("doc_id"), col("n_sh"), col("g"))
    val cands = pref.select(col("doc_id").as("doc_id_a"), col("n_sh").as("n_a"), col("g"))
      .join(pref.select(col("doc_id").as("doc_id_b"), col("n_sh").as("n_b"), col("g")), Seq("g"))
      .where(col("doc_id_a") < col("doc_id_b") &&
        col("n_b") * tDen >= col("n_a") * tNum &&
        col("n_a") * tDen >= col("n_b") * tNum)
      .select(col("doc_id_a"), col("doc_id_b")).distinct()
    ngramJaccard(docs, cands, n)
      .where(col("n_common") * tDen >= col("n_union") * tNum)
  }

  /** Exact edit-distance verification of candidate pairs — the final
    * filter after any approximate candidate generator (LSH bands,
    * SimHash blocks, fingerprints): Levenshtein is exact but O(len²)
    * per pair, so it only ever runs on candidates, never as its own
    * join, and two caps bound the DP cost per pair: `prefixLen` trims
    * the strings (near-dups disagree early; a 120-char prefix separates
    * them as reliably as full texts at 1/100th the cost) and `maxDist`
    * switches Spark to the BANDED DP (3-arg levenshtein, O(len×maxDist)
    * with early exit) — a pair farther than maxDist is already not a
    * duplicate, so its exact distance is worthless; it reports as −1.
    * sim_s is the fixed-point normalized similarity 1 − dist/maxlen
    * (−1 for beyond-threshold pairs).
    * `candidates` must have (doc_id_a, doc_id_b); texts are joined in.
    */
  def editDistanceVerify(docs: DataFrame, candidates: DataFrame,
      prefixLen: Int = 120, maxDist: Int = 30): DataFrame = {
    require(prefixLen > 0, "prefixLen must be positive")
    require(maxDist > 0, "maxDist must be positive")
    val t = docs.select(col("doc_id"),
      substring(col("text"), 1, prefixLen).as("p"))
    // guide §2.5 unsplittable-input remedy: the banded DP below is
    // O(prefixLen·maxDist) CPU per pair, but candidate generators are
    // map-side over the document scan and the text joins broadcast — so
    // without this spread the WHOLE verify inherits the scan's task
    // count (ONE task on a single-row-group input; measured: the verify
    // was the engine's largest non-iterative residual). One exchange of
    // bare (id, id) pairs — ~16 B/row against ~10 µs of DP per row —
    // buys full parallelism and per-pair skew balance at every scale.
    spreadPairs(candidates)
      .join(t.select(col("doc_id").as("doc_id_a"), col("p").as("pa")), Seq("doc_id_a"))
      .join(t.select(col("doc_id").as("doc_id_b"), col("p").as("pb")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("pa"), col("pb"), maxDist).cast("long").as("edit_dist"),
        greatest(length(col("pa")), length(col("pb")), lit(1))
          .cast("long").as("max_len"))
      .withColumn("sim_s",
        when(col("edit_dist") >= 0L,
          floor((lit(1.0) - col("edit_dist").cast("double") / col("max_len").cast("double"))
            * 1000000.0).cast("long"))
          .otherwise(lit(-1L)))
  }

  /** MinHash signatures via explode + grouped minima: one row per
    * (doc, shingle), the rolling hash computed ONCE per shingle, then k
    * codegen'd `min` aggregates build the signature.
    *
    * Why not an array expression (`array_min(transform(...))` × k)?
    * Catalyst's CollapseProject inlines the shared shingle-hash array
    * into every one of the k lambda copies, and higher-order lambdas run
    * interpreted — measured 20×+ slower. The explode shape keeps the
    * per-element work in one projection and the reduction in codegen'd
    * hash aggregation; it is also the shape that scales (rows shuffle by
    * doc_id, no wide arrays).
    *
    * Output: (doc_id, sig array<bigint> of length k); docs with no
    * shingles are absent.
    */
  def minhashSignatures(docs: DataFrame, k: Int, shingleN: Int = 3): DataFrame = {
    val perShingle = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.shingleHashes(col("th"), shingleN))).as("h"))
    perShingle
      .groupBy("doc_id")
      .agg(min(TextAnalysis.saltedHash(col("h"), 0)).as("m0"),
        (1 until k).map(i => min(TextAnalysis.saltedHash(col("h"), i)).as(s"m$i")): _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH candidate pairs: split the k-wide signature into `bands` bands
    * of k/bands rows each; docs sharing any (band index, band values)
    * key become a candidate pair. One shuffle on the band key; within a
    * bucket, pairs are generated by an equi self-join.
    *
    * `maxBucket` drops buckets larger than the cap before pairing: a
    * band key shared by that many documents carries no discriminative
    * signal, and without the cap a single hot bucket makes candidate
    * generation quadratic (the standard production guard; at 100 TB a
    * hot key would otherwise OOM one reducer).
    *
    * The cap itself is computed as groupBy(band, band_key) + join-back,
    * NOT a whole-partition Window: the exact hot key the cap defends
    * against is the key a Window would funnel onto one reducer *before*
    * the cap applies. The aggregate partial-combines map-side, and both
    * the aggregate and the join hash-partition on the same key, so the
    * exchange is reused and the plan stays one shuffle (same shape as
    * `exact()`).
    */
  def minhashCandidates(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, maxBucket: Int = 64): DataFrame = {
    val keyed = minhashBands(docs, k, bands, shingleN)
    val smallBuckets = keyed.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val banded = keyed.join(smallBuckets, Seq("band", "band_key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
  }

  /** The (doc_id, band, band_key) table behind [[minhashCandidates]] —
    * exposed because it is ALSO the state a periodic-drop pipeline
    * persists between batches (see [[minhashCandidatesIncremental]]).
    */
  def minhashBands(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3): DataFrame = {
    // the standard banding constraint: every minhash participates in
    // exactly one band. k % bands != 0 would silently drop the trailing
    // k - bands*(k/bands) hashes and change the similarity threshold the
    // band width encodes.
    require(k % bands == 0, s"signature width k=$k must be divisible by bands=$bands")
    val rows = k / bands
    minhashSignatures(docs, k, shingleN)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * rows + 1, lit(rows)))))
      .select(col("doc_id"), col("pos").as("band"),
        concat_ws("_", col("col")).as("band_key"))
  }

  /** Incremental LSH candidate generation — the daily-drop shape (the
    * banding twin of [[exactIncremental]]): signatures are computed for
    * the NEW batch only; `historyBands` is the persisted band table of
    * everything already ingested (its texts and signatures never load).
    * Returns candidate pairs with at least one new-batch member —
    * old×old pairs were already emitted when their batches arrived.
    * The bucket cap counts the COMBINED bucket, so a band key that
    * went hot across batches stops pairing exactly as it would have in
    * a full recompute; pairing and cap stay equi-key shuffles.
    */
  def minhashCandidatesIncremental(newBands: DataFrame, historyBands: DataFrame,
      maxBucket: Int = 64): DataFrame = {
    // A doc_id present in BOTH inputs (re-ingest before the history
    // table was refreshed) must count ONCE toward the bucket cap — the
    // raw union would double-count its band rows and could prematurely
    // suppress a bucket a full recompute keeps. Collapse to one row per
    // (doc_id, band, band_key), new-wins, so a re-ingested doc still
    // pairs as new. One extra partial-aggregated shuffle on the same
    // key the bucket count shuffles on; AQE coalesces the pair.
    val all = newBands.select("doc_id", "band", "band_key").withColumn("is_new", lit(true))
      .unionByName(historyBands.select("doc_id", "band", "band_key")
        .withColumn("is_new", lit(false)))
      .groupBy("doc_id", "band", "band_key")
      .agg(bool_or(col("is_new")).as("is_new"))
    val smallBuckets = all.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val banded = all.join(smallBuckets, Seq("band", "band_key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.is_new") || col("b.is_new")))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: candidates → exact Jaccard →
    * threshold. Returns (doc_id_a, doc_id_b, jaccard).
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5, k: Int = 16,
      bands: Int = 4, shingleN: Int = 3): DataFrame =
    ngramJaccard(docs, minhashCandidates(docs, k, bands, shingleN), shingleN)
      .where(col("jaccard") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))

  /** FUZZY decontamination — the near-duplicate face of
    * `TextAnalysis.contaminationScan`: a corpus document is flagged
    * when it shares at least one MinHash band with any benchmark probe,
    * catching the paraphrased / reformatted / partially-overlapping
    * leaks exact shingle matching misses (the Jaccard s-curve of
    * (k, bands) sets the sensitivity; calibrate with
    * [[minhashCalibration]]).
    *
    * Scale shape mirrors exact decontamination: the PROBE side is the
    * benchmark — thousands of docs, not the corpus — so its distinct
    * band table broadcasts; the corpus streams once through signature
    * computation and a left-semi band join, then a left join back
    * marks every document. No corpus self-join anywhere.
    */
  def fuzzyContamination(docs: DataFrame, probes: DataFrame, k: Int = 16,
      bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val hits = minhashBands(docs, k, bands, shingleN)
      .join(broadcast(
          minhashBands(probes, k, bands, shingleN)
            .select("band", "band_key").distinct()),
        Seq("band", "band_key"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("is_contaminated", lit(true))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"))
  }

  /** LSH calibration diagnostic — measure, don't guess: for every
    * candidate pair, the signature agreement count (the quantity the
    * banding s-curve is built on; E[n_match/k] = true Jaccard) next to
    * the EXACT n-gram Jaccard, aggregated per agreement level. Returns
    * (n_match, n_pairs, sum_jaccard_s) — consumers derive the mean true
    * similarity per level as sum_jaccard_s/1e6/n_pairs and read off
    * whether k/bands encode the threshold they intended before a 100 TB
    * pass burns a day on the wrong curve. Fixed-point Jaccard sum keeps
    * the aggregate order-independent (oracle-exact); candidate pairs
    * shuffle as id pairs, signatures join back by doc_id.
    */
  def minhashCalibration(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3): DataFrame = {
    val sig = minhashSignatures(docs, k, shingleN)
    val cands = minhashCandidates(docs, k, bands, shingleN)
    val agree = cands
      .join(sig.select(col("doc_id").as("doc_id_a"), col("sig").as("sig_a")),
        Seq("doc_id_a"))
      .join(sig.select(col("doc_id").as("doc_id_b"), col("sig").as("sig_b")),
        Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("n_match"))
    agree.join(ngramJaccard(docs, cands, shingleN), Seq("doc_id_a", "doc_id_b"))
      .groupBy("n_match")
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("jaccard") * 1000000.0).cast("long")).as("sum_jaccard_s"))
  }

  /** The near-dup pair graph as a symmetric (doc_id, nbr) edge list,
    * persisted so the (often expensive) pair generation upstream runs
    * once, not once per round; callers unpersist it. Cached
    * PRE-PARTITIONED on the round join key (guide §2.4): every round's
    * join clusters on `nbr`, so the cached layout satisfies the join's
    * distribution and only the (narrow) label side ever reshuffles —
    * unpartitioned, the full edge list would be re-exchanged every round
    * once the label side outgrows the broadcast threshold (always, at
    * corpus node counts). Locally AQE broadcasts the labels either way;
    * the repartition costs one extra exchange at cache build.
    */
  private def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_id_a").as("doc_id"), col("doc_id_b").as("nbr"))
      .unionAll(pairs.select(col("doc_id_b").as("doc_id"), col("doc_id_a").as("nbr")))
      .repartition(col("nbr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** One min-label round over [[symmetricEdges]]: (doc_id, group_id,
    * new_group), new_group the least of the doc's label and its
    * neighbours'.
    */
  private def minLabelRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.select(col("doc_id").as("nbr"), col("group_id").as("nbr_group")),
        Seq("nbr"))
      .groupBy("doc_id")
      .agg(min("nbr_group").as("nbr_min"))
    labels.join(nbrMin, Seq("doc_id"), "left")
      .select(col("doc_id"), col("group_id"),
        least(col("group_id"), coalesce(col("nbr_min"), col("group_id"))).as("new_group"))
  }

  /** Connected dedup groups from near-dup pairs by k rounds of MIN-LABEL
    * propagation: every doc starts as its own label; each round, a doc
    * adopts the minimum label among itself and its neighbours. After
    * enough rounds (graph diameter) every connected component carries
    * its minimum doc_id as group_id — the canonical-representative
    * convention (`is_canonical` marks the survivor a dedup pass keeps).
    *
    * `rounds` is a FIXED count, not a convergence loop, deliberately:
    * the result after exactly k rounds is deterministic and therefore
    * re-derivable by the DuckDB oracle as k unrolled CTE blocks
    * (convergence needs a driver-side probe per round — that is
    * [[dedupGroupsConverged]]). Near-dup graphs are dense inside a
    * group (LSH links most pair combinations), so small k covers real
    * components; DedupSpec asserts exact components on chains longer
    * than k as a reminder of the contract.
    *
    * Scale shape: each round is one self-contained
    * join-on-edges + groupBy(doc_id).min — shuffles (doc, label) pairs
    * on doc_id, partial-aggregated; edges are symmetrized once. k
    * rounds = k chained shuffles over shrinking-width rows, the classic
    * bounded-round component sketch.
    */
  def dedupGroups(docs: DataFrame, pairs: DataFrame, rounds: Int = 4): DataFrame = {
    // the final labels are materialized below so the edge cache can be
    // released before returning instead of pinning memory per call
    val edges = symmetricEdges(pairs)
    var labels = docs.select(col("doc_id"), col("doc_id").as("group_id"))
    for (r <- 1 to rounds) {
      labels = minLabelRound(edges, labels)
        .select(col("doc_id"), col("new_group").as("group_id"))
      // each round's plan references the previous labels TWICE (the
      // neighbour-min derivation and the join-back), so the lazy plan
      // doubles per round — 2^r subtree copies. Exchange reuse USUALLY
      // deduplicates them, but when AQE re-plans subtrees divergently
      // the reuse misses and the recompute goes exponential (observed:
      // the same 4-round run bimodal at 7 s vs 22 s in one bench).
      // Truncate every 2 rounds so at most 4 copies ever exist between
      // barriers. LAZY: the checkpointed RDD physically computes
      // ONCE when the final action first reads it and both consumers
      // then share the cached partitions — same recompute bound as the
      // eager form, minus its dedicated mid-loop job.
      if (r % 2 == 0 && r < rounds) labels = labels.localCheckpoint(false)
    }
    // materialize the result (cuts lineage off the edge cache), then
    // release the per-call edge cache — the returned DataFrame is
    // self-contained and nothing accumulates across calls
    val out = labels.select(col("doc_id"), col("group_id"),
        (col("doc_id") === col("group_id")).as("is_canonical"))
      .localCheckpoint()
    edges.unpersist()
    out
  }

  /** Observed-convergence twin of [[dedupGroups]] for production dedup
    * over long duplicate chains: min-label rounds run until a round
    * changes ZERO labels, so connected components of ANY diameter fully
    * merge — the fixed-k variant stays the oracle-checkable face (its
    * k-round result is re-derivable as unrolled CTEs), this one is the
    * convergence face. The changed-label count is an observed round
    * ([[graft.core.Fixpoint]]). Throws when `maxRounds` rounds still
    * change labels.
    *
    * Scale shape per round is identical to [[dedupGroups]]: one
    * edges-join + partial-aggregated groupBy(doc_id).min shuffling
    * (doc, label) pairs only; the edge list is persisted once.
    */
  def dedupGroupsConverged(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 100): DataFrame = {
    val edges = symmetricEdges(pairs)
    try {
      Fixpoint.iterate("dedupGroupsConverged", maxRounds,
          (docs.select(col("doc_id"), col("doc_id").as("group_id")), true)) { (labels, r) =>
        val (l, changed) = Fixpoint.observedRound(Fixpoint.localCheckpointer,
          "graft_dedup_conv", r,
          minLabelRound(edges, labels),
          sum(when(col("new_group") =!= col("group_id"), 1L).otherwise(0L)),
          col("doc_id"), col("new_group").as("group_id"))
        (l, changed > 0L)
      }.select(col("doc_id"), col("group_id"),
        (col("doc_id") === col("group_id")).as("is_canonical"))
    } finally edges.unpersist()
  }

  /** Semi-supervised label propagation over the near-dup pair graph —
    * weak-supervision expansion: a small SEED slice carries trusted
    * labels (human-reviewed quality/lang tags); `rounds` synchronous
    * votes spread them to unlabeled near-duplicates, the "label the
    * cluster by its reviewed member" step that lets a 1%-labeled corpus
    * drive a corpus-wide filter.
    *
    * Per round, every unlabeled-or-propagated node adopts the MAJORITY
    * label among its labeled neighbours, ties broken by MINIMUM label —
    * synchronous rounds + deterministic tie-break make the result exact
    * (unlike the schedule-dependent Chinese Whispers in `cluster`), so
    * a bounded-unroll CTE replays it. Seeds are clamped (never
    * overwritten); nodes never reached by any labeled neighbour keep
    * label null.
    *
    * Scale shape: labels exist only where seeds minted them, so they
    * DICTIONARY-ENCODE once up front (a label-count-bounded rank, the
    * Ids pattern) and rounds propagate small ids; the majority-with-
    * min-tie argmax is then ONE struct-min aggregate per round
    * ((−count, id) lexicographic — id rank order IS label order, so
    * min id ≡ min label) instead of a max-count self-join. Per round:
    * one edges-join + two partial-aggregated groupBys, only (id, id)
    * pairs on the wire; the symmetric edge list is persisted once and
    * labels checkpoint every 2 rounds (the [[dedupGroups]] lineage
    * discipline).
    */
  def propagateLabels(nodes: DataFrame, pairs: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // label dictionary in label sort order — bounded by the distinct
    // label count (languages, quality tiers), so the single-partition
    // rank window is a bounded task, not a corpus sort
    val dict = seeds.select(col("label")).where(col("label").isNotNull).distinct()
      .withColumn("lid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("label")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = symmetricEdges(pairs)
    var lab = nodes.select(col("doc_id"))
      .join(seeds.join(broadcast(dict), "label")
          .select(col("doc_id"), col("lid"), lit(true).as("is_seed")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("is_seed"), lit(false)).as("is_seed"),
        col("lid"))
    for (r <- 1 to rounds) {
      val vote = edges
        .join(lab.where(col("lid").isNotNull)
          .select(col("doc_id").as("nbr"), col("lid").as("nl")), "nbr")
        .groupBy("doc_id", "nl").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(min(struct((-col("cnt")).as("nc"), col("nl").as("nl"))).as("m"))
        .select(col("doc_id"), col("m.nl").as("vote"))
      lab = lab.join(vote, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_seed"),
          when(col("is_seed"), col("lid"))
            .otherwise(coalesce(col("vote"), col("lid"))).as("lid"))
      // LAZY mid-loop truncation, as in dedupGroups
      if (r % 2 == 0 && r < rounds) lab = lab.localCheckpoint(false)
    }
    val out = lab.join(broadcast(dict), Seq("lid"), "left")
      .select(col("doc_id"), col("is_seed"), col("label"))
      .localCheckpoint()
    edges.unpersist()
    dict.unpersist()
    out
  }

  /** Corpus-wide repeated-span removal — the C4/RefinedWeb sub-document
    * dedup shape: chunk every document into spans of `tokensPerSpan`
    * whitespace tokens; any span appearing in at least `minDocs`
    * DISTINCT documents is boilerplate/template text and is removed
    * from EVERY document; survivors are rejoined in original order.
    *
    * Output: (doc_id, text_clean, n_spans, n_removed) for every input
    * document (a fully-boilerplate document survives with empty text —
    * dropping rows silently would break downstream joins).
    *
    * Shape: one explode to (doc_id, span_idx, span), one
    * partial-aggregated groupBy(span) for the corpus-duplicated set, a
    * left-anti join back on the span (both sides hash-partition on the
    * same key, so the aggregate's exchange is reused), and one
    * groupBy(doc_id) re-assembly. The token array is materialized
    * behind an exchange barrier before the span lambda touches it —
    * CollapseProject would otherwise inline `split(text)` into the
    * lambda and re-split the whole document once per span (the
    * interpreted-HOF trap, see TextAnalysis.tokenHashTable). At larger
    * span widths, hash the span for the shuffle key; the string form
    * keeps the DuckDB oracle collision-free.
    */
  def dedupSpans(docs: DataFrame, tokensPerSpan: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val n = tokensPerSpan
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .repartition(col("doc_id"))
    val withCounts = toks.select(col("doc_id"), col("w"),
      ceil(size(col("w")) / lit(n.toDouble)).cast("long").as("n_spans"))
    val spans = withCounts.select(col("doc_id"), col("n_spans"),
        posexplode(transform(sequence(lit(0L), col("n_spans") - 1L),
          i => array_join(slice(col("w"), (i * n + 1L).cast("int"), lit(n)), " "))))
      .select(col("doc_id"), col("n_spans"),
        col("pos").cast("long").as("span_idx"), col("col").as("span"))
    val corpusDups = spans.groupBy("span")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= minDocs)
      .select("span")
    val kept = spans.join(corpusDups, Seq("span"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("span_idx"), col("span")))),
          s => s.getField("span")), " ").as("text_clean"))
    withCounts.select(col("doc_id"), col("n_spans"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_spans"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Maximal repeated regions at ARBITRARY alignment — the sliding-window
    * upgrade of [[dedupSpans]], whose fixed n-token blocks miss repeats
    * that straddle a block boundary. This is the bounded n-gram
    * approximation of suffix-array substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * word n-gram whose CORPUS-wide occurrence count reaches `minCount`
    * marks the n token positions it covers, and overlapping or adjacent
    * marks merge into maximal spans (the same running-max islands
    * pattern as the coverage queries). Returns
    * (doc_id, span_start, span_end, span_len) — token positions,
    * 0-based inclusive — the regions a cleaning pass would cut.
    *
    * Scale shape: per-doc token hashes (codegen'd RollingHash) →
    * sliding shingle hashes (native ShingleHashes) → posexplode → one
    * partial-aggregated groupBy on the 8-byte gram hash → equi-join
    * back on that hash (the frequent-gram set is corpus-sized in the
    * worst case, so it is NOT broadcast — both sides shuffle on the
    * key) → per-doc window for the island merge, bounded by document
    * length. Token strings never shuffle, only (doc_id, pos, hash).
    */
  def repeatedSpans(docs: DataFrame, n: Int = 3, minCount: Int = 4): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val tht = TextAnalysis.tokenHashTable(docs)
    val occ = tht.select(col("doc_id"),
      posexplode(TextAnalysis.shingleHashes(col("th"), n)).as(Seq("pos", "g")))
    val freq = occ.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select("g")
    val hits = occ.join(freq, Seq("g"))
      .select(col("doc_id"), col("pos").cast("long").as("start_tok"),
        (col("pos") + (n - 1)).cast("long").as("end_tok"))
    // islands: a hit opens a new span iff it starts past the running
    // max end + 1 (adjacent coverage merges — tokens are contiguous)
    val byStart = Window.partitionBy("doc_id").orderBy("start_tok")
    val prevMaxEnd = max(col("end_tok"))
      .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = hits
      .withColumn("new_span",
        when(col("start_tok") > coalesce(prevMaxEnd, lit(-2L)) + 1L, 1L)
          .otherwise(0L))
      .withColumn("span_id",
        sum(col("new_span")).over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("doc_id"), col("span_id"))
      .agg(min("start_tok").as("span_start"), max("end_tok").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** The REMOVAL face of [[repeatedSpans]] (detect → remediate, the
    * same pairing as piiScan → redactPii): tokens covered by any
    * maximal repeated region are cut and the survivors reassemble in
    * order. Returns (doc_id, text_clean, n_tokens, n_removed) for EVERY
    * input document — fully-repeated documents come back with empty
    * text_clean, the all-boilerplate case a cleaning pass must surface,
    * not drop.
    *
    * Scale shape: on top of the span pipeline, spans explode to their
    * covered positions (output ≤ token count), one anti-join on
    * (doc_id, pos), and one per-doc ordered reassembly — the same
    * bounded collect_list the fixed-block [[dedupSpans]] carries.
    */
  def removeRepeatedSpans(docs: DataFrame, n: Int = 3,
      minCount: Int = 4): DataFrame = {
    val spans = repeatedSpans(docs, n, minCount)
    val toks = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val kept = toks
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("text_clean"))
    docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** SimHash fingerprints via explode + grouped per-bit vote sums: bit j
    * of the fingerprint is the sign of sum over tokens of (bit j set in
    * the token hash ? +1 : -1). The token hash is computed once per
    * (doc, token) row and the `bits` vote sums are codegen'd aggregates
    * (see minhashSignatures for why not nested array lambdas).
    *
    * Output: (doc_id, sig bigint).
    */
  def simhashes(docs: DataFrame, bits: Int = 32): DataFrame = {
    val perToken = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"), explode(col("th")).as("h"))
    def vote(j: Int): Column =
      sum(when(col("h").bitwiseAND(1L << j) =!= 0L, 1L).otherwise(-1L)).as(s"v$j")
    perToken
      .groupBy("doc_id")
      .agg(vote(0), (1 until bits).map(vote): _*)
      .select(col("doc_id"),
        (0 until bits).map(j => when(col(s"v$j") > 0, 1L << j).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** SimHash near-dup candidates: docs whose fingerprints share a
    * bit-block (LSH over blocks) and differ in ≤ maxHamming bits.
    * `maxBucket` is the same hot-bucket guard as in minhashCandidates —
    * and the same groupBy+join-back shape, for the same reason: a hot
    * block key must be counted by a partial aggregate, not sorted onto
    * one reducer by a Window.
    */
  def simhashNearDups(docs: DataFrame, bits: Int = 32, blockBits: Int = 8,
      maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    val withSig = simhashes(docs, bits)
    val nBlocks = bits / blockBits
    val blockExprs = (0 until nBlocks).map(b =>
      shiftright(col("sig"), b * blockBits).bitwiseAND((1L << blockBits) - 1L))
    val keyed = withSig.select(col("doc_id"), col("sig"),
        posexplode(array(blockExprs: _*)))
      .select(col("doc_id"), col("sig"), col("pos").as("block"), col("col").as("block_key"))
    val smallBuckets = keyed.groupBy("block", "block_key")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val blocked = keyed.join(smallBuckets, Seq("block", "block_key"))
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.block") === col("b.block") && col("a.block_key") === col("b.block_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash calibration — the Hamming-side twin of
    * [[minhashCalibration]]: for every block-candidate pair, the
    * fingerprint Hamming distance next to the exact n-gram Jaccard,
    * aggregated per distance. This is the curve that justifies (or
    * refutes) a maxHamming threshold before a full pass runs with it;
    * fixed-point Jaccard sums keep the aggregate oracle-exact.
    * Candidates carry the full curve (maxHamming = bits, i.e. no
    * filter), which the block-bucket cap still bounds.
    */
  def simhashCalibration(docs: DataFrame, bits: Int = 32, blockBits: Int = 8,
      shingleN: Int = 3, maxBucket: Int = 64): DataFrame = {
    val pairs = simhashNearDups(docs, bits, blockBits, maxHamming = bits,
      maxBucket = maxBucket)
    pairs.join(ngramJaccard(docs, pairs.select("doc_id_a", "doc_id_b"), shingleN),
        Seq("doc_id_a", "doc_id_b"))
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("jaccard") * 1000000.0).cast("long")).as("sum_jaccard_s"))
  }
}
