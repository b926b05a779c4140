package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification and document
  * fingerprinting over a `documents(doc_id, text, ...)` table.
  *
  * Everything here is pure Catalyst column expressions (built-in
  * functions + higher-order lambdas) — no UDFs — so the whole pipeline
  * stays inside whole-stage codegen and scales linearly with executors:
  * per-document work, no shuffle until an explicit aggregation.
  *
  * Determinism: all hashes are explicit polynomial rolling hashes modulo
  * a 31-bit prime (not xxhash/murmur), so results are reproducible across
  * engines and versions; integer math stays < 2^63 under ANSI mode.
  */
object TextAnalysis {

  /** Large prime modulus for rolling hashes; acc*31+c stays < 2^35. */
  val HashMod = 1000000007L

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token COUNT without materializing the token array — the native
    * allocation-free twin of `size(tokens(text))` (see
    * [[graft.expressions.TokenCount]]); identical semantics including
    * the empty-string→1 split artifact.
    */
  def tokenCount(text: Column): Column = graft.expressions.TokenCount(text)

  /** Rolling polynomial hash of a string column: fold acc*31+codepoint
    * over characters, mod [[HashMod]] (the classic Rabin-Karp form).
    * Backed by the native codegen'd expression
    * (graft.expressions.RollingHash) — the HOF formulation
    * ([[rollingHashHof]]) computes the same values but runs interpreted
    * per character; parity is spec-tested.
    */
  def rollingHash(text: Column): Column = graft.expressions.RollingHash(text)

  /** The higher-order-function formulation of [[rollingHash]] (kept for
    * the parity spec and as executable documentation of the semantics).
    */
  def rollingHashHof(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => (acc * 31L + ascii(c)) % HashMod)

  /** Universal-hash family for MinHash permutations: h_i = (a_i*h + b_i)
    * mod p. The multipliers must be LARGE and well-spread — small odd
    * a_i (e.g. 2i+1) leave the argmin correlated across i, which
    * collapses LSH bands into mega-buckets and makes candidate
    * generation quadratic. Knuth's multiplier reseeded per i gives
    * independent-enough permutations; products stay < 2^63
    * (h < p ≈ 2^30, a_i < p).
    */
  def hashA(seed: Int): Long = (2654435761L * (2L * seed + 1L)) % HashMod
  def hashB(seed: Int): Long = (40503L * 65537L * (seed + 1L)) % HashMod

  def saltedHash(h: Column, seed: Int): Column =
    ((h * lit(hashA(seed))) + lit(hashB(seed))) % HashMod

  /** Word n-gram shingles (space-joined, distinct). Empty array when the
    * document has fewer than n tokens.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val grams = transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    when(size(toks) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** doc_id + token statistics: whitespace token count, distinct token
    * count, and a BPE-ish subword count (runs of letters, digits, or a
    * single punctuation mark — the common pre-tokenizer regex shape).
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))
        .cast("long").as("n_subwords"),
      length(col("text")).cast("long").as("n_chars"))
  }

  /** Quality-scoring signals per document: length, punctuation ratio,
    * stopword ratio, mean token length, all-caps ratio. The composite
    * score is a simple monotone blend in [0,1] — pipelines threshold it.
    */
  def qualityScore(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", ""))
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        (punct.cast("double") / greatest(length(col("text")).cast("double"), lit(1.0)))
          .as("punct_ratio"),
        (stopHits.cast("double") / greatest(nTok, lit(1.0))).as("stopword_ratio"),
        ((length(col("text")).cast("double") - nTok + lit(1.0)) / greatest(nTok, lit(1.0)))
          .as("mean_token_len"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens").cast("double") / lit(64.0))
          * (lit(1.0) - col("punct_ratio")))
  }

  /** Gopher-style quality RULES (Rae et al. 2021, appendix A): where
    * [[qualityScore]] emits graded signals for a learned threshold,
    * this is the rule-set face — each document gets explicit pass/fail
    * flags for the classic hard filters plus the conjunction, so the
    * output is simultaneously the keep-list and the per-rule audit
    * ("how many documents does each rule kill"). All metrics are
    * integers (mean word length in ×100 fixed point, percentages in
    * floor units), so the flags are engine-exact:
    *
    *   - words_ok:  minWords ≤ word count ≤ maxWords
    *   - mean_ok:   minMeanX100 ≤ (Σ word chars · 100) div words ≤ maxMeanX100
    *   - stop_ok:   at least minStop stopword hits
    *   - long_ok:   at least minLongPct% of words have ≥ 3 chars
    *
    * Scale shape: map-only — four higher-order expressions over the
    * token array, one scan, no shuffle; at 100 TB this runs at scan
    * speed and the flags column-prune everything but doc_id + text.
    */
  def gopherRules(docs: DataFrame,
      minWords: Long = 20L, maxWords: Long = 100000L,
      minMeanX100: Long = 300L, maxMeanX100: Long = 1000L,
      minStop: Long = 2L, minLongPct: Long = 80L,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    val toks = tokens(col("text"))
    val nWords = size(toks).cast("long")
    val sumChars = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val nStop = size(filter(toks,
      t => t.isin(stopwords.map(x => x: Any): _*))).cast("long")
    val nLong = size(filter(toks, t => length(t) >= 3)).cast("long")
    docs.select(col("doc_id"), nWords.as("n_words"), sumChars.as("sum_chars"),
        nStop.as("n_stop"), nLong.as("n_long"))
      .select(col("doc_id"), col("n_words"),
        expr("(sum_chars * 100) DIV greatest(n_words, 1L)").as("mean_len_x100"),
        col("n_stop"),
        expr("(n_long * 100) DIV greatest(n_words, 1L)").as("long_pct"))
      .withColumn("words_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("mean_ok",
        col("mean_len_x100") >= minMeanX100 && col("mean_len_x100") <= maxMeanX100)
      .withColumn("stop_ok", col("n_stop") >= minStop)
      .withColumn("long_ok", col("long_pct") >= minLongPct)
      .withColumn("keep",
        col("words_ok") && col("mean_ok") && col("stop_ok") && col("long_ok"))
  }

  /** Language identification by marker-token voting: count tokens from
    * each language's closed-class marker set; argmax wins, ties broken by
    * fixed language order, zero votes → "und" (undetermined). A
    * deterministic n-gram-free heuristic that runs fully in codegen.
    */
  val markerSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "y", "es", "las"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val votes = markerSets.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers.map(x => x: Any): _*))).cast("long")
    }
    val best = votes.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in declaration order) achieving the max vote count
    val pred = votes.reverse.foldLeft(lit("und")) { case (acc, (lang, v)) =>
      when(v === best && best > 0L, lit(lang)).otherwise(acc)
    }
    docs.select((col("doc_id") +: votes.map { case (l, v) => v.as(s"votes_$l") }
      :+ pred.as("pred_lang")): _*)
  }

  /** Rolling-hash document fingerprint plus a position-weighted token
    * fingerprint (order-sensitive, whitespace-insensitive).
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    // r13: native TokenHashes/TokenCount replace the split + HOF hash
    // chain (identical values — the parity spec); the token string
    // array is never materialized
    val tokenHashes = graft.expressions.TokenHashes(col("text"))
    val nToks = tokenCount(col("text"))
    val posWeighted = aggregate(
      zip_with(tokenHashes, sequence(lit(1), nToks.cast("int")), (h, i) => (h * i) % HashMod),
      lit(0L), (acc, x) => (acc + x) % HashMod)
    docs.select(
      col("doc_id"),
      rollingHash(col("text")).as("char_fingerprint"),
      when(nToks > 0, posWeighted).otherwise(lit(0L)).as("token_fingerprint"))
  }

  /** Winnowing fingerprint selection (the MOSS algorithm): from each
    * document's token k-gram hash stream, slide a window of `w`
    * consecutive hashes and select the window's minimum — ties broken
    * LEFTMOST (our contract; classic winnowing says rightmost — either
    * satisfies the guarantee). The selected `(fp_hash, fp_pos)` set is
    * the document's fingerprint, with winnowing's defining property:
    * any two documents sharing a token run of ≥ w+k−1 tokens share at
    * least one fingerprint, while only ~1/w of all k-grams are kept.
    * Documents with fewer than w k-grams emit no fingerprints (no full
    * window exists; the guarantee is vacuous below the threshold).
    *
    * The k-gram hash is FINALIZED with a mid-square mix
    * ((h² + 12345) mod p) before selection: raw rolling hashes of
    * similar token runs are strongly correlated (a near-monotonic
    * stream makes every window pick its leftmost element and the
    * density degrade from 2/(w+1) toward 1); the mix decorrelates
    * neighbors so the classic density holds on structured input too.
    *
    * The arg-min is one integer encoding `h·2³² + pos` under a plain
    * window MIN — engine-portable, no struct ordering needed. The
    * factor is exact for EVERY representable document: h < HashMod <
    * 2³⁰ keeps the product under 2⁶², and pos is a posexplode Int
    * (< 2³¹ by Spark's array-size bound), so encode is injective and
    * decode recovers (h, pos) losslessly — a narrower factor (an
    * earlier 1e6 draft) silently mis-decoded fingerprints of
    * million-k-gram documents.
    *
    * Scale shape: the window partitions by doc_id and orders by
    * position — per-document work bounded by document length, no
    * global sort; the DISTINCT is keyed (doc_id, hash, pos). The
    * selected set is the ~1/w-sized sketch that downstream candidate
    * joins ([[winnowCandidates]]) operate on instead of full shingle
    * sets.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val enc = 4294967296L // 2^32: h < 2^30 ⇒ h·enc < 2^62; pos (Int) < 2^31
    // r14: the whole selection (shingle fold + mid-square mix + sliding
    // arg-min + dedup) runs array-locally inside the scan projection via
    // the native WinnowSelect expression — the posexplode of EVERY
    // shingle hash, the per-document window sort behind an exchange, and
    // the closing DISTINCT exchange are gone, and only the selected
    // ~1/w-sized sketch is ever exploded into rows (guide §2.4: remove
    // shuffles outright). The tokenHashTable exchange is skipped too:
    // its barrier exists to stop CollapseProject re-splitting text once
    // per HOF lambda element, but WinnowSelect is ONE expression
    // evaluated once per row, so fusing TokenHashes into the scan
    // projection is exactly right and no text bytes ever shuffle.
    // Values are identical — the parity spec pins the expression
    // against the window formulation.
    docs
      .select(col("doc_id"),
        explode(graft.expressions.WinnowSelect(
          graft.expressions.TokenHashes(col("text")), k, w)).as("enc"))
      .select(col("doc_id"),
        expr(s"enc DIV $enc").as("fp_hash"),
        pmod(col("enc"), lit(enc)).as("fp_pos"))
  }

  /** Incremental [[winnowCandidates]] for the daily-drop loop: pair
    * ONLY the new batch's fingerprints (already winnowed — the small
    * persisted artifact, like the minhash history bands) against the
    * carried history ∪ themselves. The df-cut computes over the UNION
    * (full-corpus document frequency, so cut decisions match the
    * from-scratch run), and the result equals the full
    * [[winnowCandidates]] restricted to pairs touching ≥1 new
    * document — history×history pairs were yesterday's output and are
    * never regenerated. Unordered pairs canonicalize (least, greatest)
    * and dedup per hash so a new-new pair reached from both anchors
    * counts its shared hashes once.
    */
  def winnowCandidatesIncremental(newFps: DataFrame, historyFps: DataFrame,
      maxDf: Long = 50L): DataFrame = {
    val all = newFps.select(col("doc_id"), col("fp_hash"))
      .unionAll(historyFps.select(col("doc_id"), col("fp_hash")))
      .distinct()
    val kept = all.join(
      all.groupBy("fp_hash").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf),
      "fp_hash")
    val keptNew = kept.join(newFps.select("doc_id").distinct(),
      Seq("doc_id"), "left_semi")
    keptNew.select(col("fp_hash"), col("doc_id").as("x"))
      .join(kept.select(col("fp_hash"), col("doc_id").as("y")), "fp_hash")
      .where(col("x") =!= col("y"))
      .select(col("fp_hash"),
        least(col("x"), col("y")).as("doc_id_a"),
        greatest(col("x"), col("y")).as("doc_id_b"))
      .distinct()
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Plagiarism/near-copy candidate pairs from winnowing fingerprints:
    * documents sharing ≥ 1 selected fingerprint HASH, scored by how
    * many distinct hashes they share. Fingerprints present in more than
    * `maxDf` documents are dropped before pairing — the same df-cut
    * defense as the inverted index: a boilerplate fingerprint would
    * otherwise fan out df² pairs (and carries no copy signal).
    */
  def winnowCandidates(docs: DataFrame, k: Int = 3, w: Int = 4,
      maxDf: Long = 50L): DataFrame = {
    val fpd = winnowFingerprints(docs, k, w)
      .select(col("doc_id"), col("fp_hash")).distinct()
    val kept = fpd.join(
      fpd.groupBy("fp_hash").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf),
      "fp_hash")
    kept.select(col("fp_hash"), col("doc_id").as("doc_id_a"))
      .join(kept.select(col("fp_hash"), col("doc_id").as("doc_id_b")), "fp_hash")
      .where(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Zipf rank-frequency fit per language: OLS slope of
    * floor(log₂ freq) over floor(log₂ rank) for the top-`topN` tokens
    * — the "does this corpus look like natural language" diagnostic
    * (natural text slopes ≈ −1; templated/generated text deviates).
    *
    * The log is the INTEGER floor-log₂ via binary-string length
    * (`length(bin(v)) − 1`) — exact in any engine, so the whole fit
    * stays inside [[graft.ml.Regression.fitLineExact]]'s exact rational
    * arithmetic; the coarse integer grid is the price of portability
    * and still separates slope −1 from flat.
    *
    * Scale shape: one (lang, hash)-keyed count, then a per-language
    * top-N rank window (partitioned — rank cuts run map-side as
    * WindowGroupLimit) over vocabulary-sized data, then the one-pass
    * five-sum OLS aggregate over |langs|·topN points.
    */
  def zipfFit(docs: DataFrame, topN: Int = 256): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val tf = tokenHashTable(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("lang"), explode(col("th")).as("h"))
      .groupBy("lang", "h").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("lang").orderBy(col("freq").desc, col("h"))
    val pts = tf.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topN)
      .select(col("lang"),
        (length(bin(col("rank"))) - 1).cast("long").as("log2_rank"),
        (length(bin(col("freq"))) - 1).cast("long").as("log2_freq"))
    graft.ml.Regression.fitLineExact(pts, Seq("lang"), "log2_rank", "log2_freq")
  }

  /** Per-document n-gram novelty against everything EARLIER in the
    * corpus (doc_id order): of the document's distinct k-gram shingle
    * hashes, how many first appear in this document. The dataset-growth
    * diagnostic — a crawl snapshot whose new documents are mostly
    * non-novel is re-crawling what the corpus already holds, and
    * per-document novelty is the freshness weight mixing pipelines
    * use. The document introducing a shingle counts it as novel for
    * itself (first_doc == own id).
    *
    * Scale shape: distinct (doc_id, hash) → one hash-keyed min
    * aggregate (the first-seer table) → one hash-keyed join back → one
    * doc-keyed count fold. Only 8-byte hashes and ids shuffle; the
    * min-aggregate is partial (map-side) so a boilerplate shingle in
    * millions of documents folds before the exchange.
    */
  def noveltyScores(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = tokenHashTable(docs)
      .select(col("doc_id"), explode(shingleHashes(col("th"), k)).as("h"))
      .distinct()
    val first = sh.groupBy("h").agg(min("doc_id").as("first_doc"))
    sh.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** Heaps-law vocabulary growth curve: distinct-token count after the
    * first 2^k documents, for every k — "how fast does the vocabulary
    * still grow", the diminishing-returns diagnostic for continued
    * crawling (a flattening curve means new data repeats known
    * vocabulary). Points are power-of-two PREFIX checkpoints, so the
    * whole curve derives from two log-bucketed aggregates over the
    * first-seen table plus a ≤64-row running sum — never a per-doc
    * global window: "vocab after N docs" for all N is a running count
    * over the full corpus order, the single-partition collapse this
    * formulation exists to avoid. Bucket k covers doc_ids in
    * [2^k − 1, 2^(k+1) − 1); cumulative row k = the prefix of 2^(k+1)−1
    * documents. floor-log₂ via binary-string length (exact, portable).
    */
  def heapsCurve(docs: DataFrame): DataFrame = {
    val tok = tokenHashTable(docs)
      .select(col("doc_id"), explode(col("th")).as("h"))
    val kOf = (c: Column) => (length(bin(c + 1)) - 1).cast("long")
    val newTypes = tok.groupBy("h").agg(min("doc_id").as("first_doc"))
      .groupBy(kOf(col("first_doc")).as("k"))
      .agg(count(lit(1)).as("new_types"))
    val newTokens = tok.groupBy(kOf(col("doc_id")).as("k"))
      .agg(count(lit(1)).as("new_tokens"))
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    newTokens.join(newTypes, Seq("k"), "full_outer")
      .select(col("k"), coalesce(col("new_tokens"), lit(0L)).as("new_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("tokens_cum", sum("new_tokens").over(w))
      .withColumn("vocab_cum", sum("new_types").over(w))
  }

  /** Per-document cross-entropy under a REFERENCE-corpus bigram LM —
    * the CCNet-style quality filter: train Laplace-smoothed bigram
    * counts on a trusted slice, score every document; documents
    * improbable under the reference (high sum_nll_s / n_bigrams) are
    * off-distribution — boilerplate, gibberish, or genre drift. The
    * self-trained twin is [[perplexityScore]]; this one separates the
    * model corpus from the scored corpus, which is what makes it a
    * FILTER (a document cannot vote for its own n-grams). Bigrams
    * unseen in the reference fall back to the Laplace floor
    * (c12=0, c1=0 ⇒ p = 1/V) via left joins — never a null score.
    *
    * Scale shape: reference counts build once ((w1,w2)- and w1-keyed
    * partial aggs); scoring is two hash-keyed left joins + one per-doc
    * fold. Hot w1 contexts skew like every power-law key — AQE
    * skew-join territory, same as the self-trained face.
    */
  def crossPerplexity(docs: DataFrame, ref: DataFrame): DataFrame = {
    def bigramsOf(d: DataFrame) = d
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val refBg = bigramsOf(ref)
    val c12 = refBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = refBg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = ref.select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bigramsOf(docs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(-log((coalesce(col("c12"), lit(0L)) + 1.0) /
          (coalesce(col("c1"), lit(0L)) + col("v"))) * 1e6)
          .cast("long").as("term_s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_s")).as("sum_nll_s"))
  }

  /** PMI collocation mining — the phrase detector (Mikolov et al.'s
    * word2vec-phrases step, Church & Hanks' association ratio): bigrams
    * whose observed rate beats the independence assumption,
    *   pmi = ln( p(w1,w2) / (p(w1)·p(w2)) )
    * in 1e-6 fixed point, computed as one double expression shaped
    * IDENTICALLY to the SQL twin (the cross-perplexity ln precedent:
    * each ratio divides before multiplying, so magnitudes stay near 1
    * and the double rounding sequence is engine-identical). A support
    * floor kills the low-count noise PMI is notorious for (a 1-count
    * bigram of two rare words scores spuriously high); surviving pairs
    * are the merge-into-one-token candidates upstream of BPE training.
    *
    * Scale shape: one bigram explode feeding two partial-aggregated
    * counts (pair and unigram); the pair table joins the unigram table
    * twice on its two word keys — aggregate-sized joins (vocab², cut by
    * the support floor BEFORE the joins), corpus size touches only the
    * explode. Totals attach as a designed 1-row broadcast.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val bg = docs
      .select(tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    val c1 = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val totals = bg.groupBy().agg(count(lit(1)).as("n_bg"))
      .crossJoin(c1.groupBy().agg(sum(col("cw")).as("n_tok")))
    c12
      .join(c1.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(c1.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        floor(log(
          (col("n_pair").cast("double") / col("n_bg").cast("double")) /
            ((col("c1").cast("double") / col("n_tok").cast("double")) *
              (col("c2").cast("double") / col("n_tok").cast("double"))))
          * 1e6).cast("long").as("pmi_s"))
  }

  /** The persistable first-seen table behind [[noveltyScores]]:
    * (h, first_doc) — what an incremental novelty pipeline carries
    * between drops (shingle hashes + one id each, far smaller than
    * text).
    */
  def firstSeenShingles(docs: DataFrame, k: Int = 3): DataFrame =
    tokenHashTable(docs)
      .select(col("doc_id"), explode(shingleHashes(col("th"), k)).as("h"))
      .distinct()
      .groupBy("h").agg(min("doc_id").as("first_doc"))

  /** Incremental [[noveltyScores]] for the daily-drop loop: score ONLY
    * the new batch against the carried [[firstSeenShingles]] history
    * plus the batch's own first occurrences — equals the full-corpus
    * novelty of the batch rows exactly (min over the union IS
    * least(history min, batch min)), without re-shingling history.
    * Contract: history doc_ids precede the batch's (append-only ids,
    * the exactIncremental convention). Only the batch is tokenized;
    * history ships as hashes.
    */
  def noveltyIncremental(newDocs: DataFrame, historyFirstSeen: DataFrame,
      k: Int = 3): DataFrame = {
    val sh = tokenHashTable(newDocs)
      .select(col("doc_id"), explode(shingleHashes(col("th"), k)).as("h"))
      .distinct()
    val first = sh.groupBy("h").agg(min("doc_id").as("batch_first"))
      .join(historyFirstSeen
        .select(col("h"), col("first_doc").as("hist_first")), Seq("h"), "left")
      .select(col("h"),
        coalesce(least(col("hist_first"), col("batch_first")),
          col("batch_first")).as("first_doc"))
    sh.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** Cross-source overlap matrix: for every pair of sources, the exact
    * Jaccard of their distinct token k-gram shingle sets — the
    * dataset-mixing diagnostic ("how much does source A repeat source
    * B") that decides dedup priorities and mixture weights.
    *
    * Scale shape: one distinct over (source, hash) — the only pass
    * touching corpus volume — then a hash-keyed self-join whose fanout
    * per hash is bounded by the SOURCE count (each hash appears once
    * per source after the distinct), and a |sources|²-bounded result.
    * The ratio is one long/long IEEE division, oracle-exact.
    */
  def sourceOverlap(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = tokenHashTable(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select(col("source"), explode(shingleHashes(col("th"), k)).as("h"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val common = sh.select(col("source").as("source_a"), col("h"))
      .join(sh.select(col("source").as("source_b"), col("h")), "h")
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** (doc_id, toks, th): whitespace tokens and their rolling hashes,
    * materialized ACROSS AN EXCHANGE BARRIER (repartition by doc_id).
    *
    * The barrier is load-bearing: higher-order lambdas are interpreted
    * with no common-subexpression elimination, and CollapseProject will
    * inline a `split(text)` alias into every per-element lambda that
    * references it — turning each element access into a full re-split of
    * the document (measured 25×+ slowdown on shingling). Splitting the
    * pipeline at an exchange keeps `toks`/`th` as computed attributes.
    * The same repartition also spreads a small single-split input across
    * the cluster, which a one-row-group parquet file would not be.
    */
  def tokenHashTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        tokens(col("text")).as("toks"),
        // r13: th via the native one-pass TokenHashes expression —
        // value-identical to transform(tokens(text), rollingHash) (the
        // parity spec) without the regex split, the intermediate token
        // STRING array, or the per-element interpreted lambda dispatch.
        // `toks` stays for any string consumer; column pruning drops it
        // below the exchange when (as everywhere today) only th is read.
        graft.expressions.TokenHashes(col("text")).as("th"))
      // r14: explicit partition count (REPARTITION_BY_NUM) — AQE's
      // byte-based coalescing folded this exchange to ONE partition at
      // bench scale (token arrays are compact), serializing every
      // CPU-heavy consumer (shingle intersects, minhash, n-gram stats)
      // into a single task. The count is the session's configured
      // shuffle parallelism — scale-adaptive via conf.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))

  /** Repetition-based quality signals per document (the Gopher-family
    * repetition filters for training corpora): most-frequent-token
    * fraction, fraction of token instances belonging to a repeated
    * token, and the same two signals over word n-grams. High values
    * flag boilerplate/templated/looping documents.
    *
    * Shape: explode the per-token hash table → two partial-aggregated
    * groupBy levels ((doc, hash) counts, then per-doc maxima/sums) —
    * shuffle keys are (doc_id, 8-byte hash), never token strings, and
    * the n-gram branch reuses the same exchange-barriered `th` table.
    * Ratios are a single long/long→double division, so the DuckDB twin
    * reproduces them bit-exactly. Documents with fewer than n tokens
    * have NULL n-gram columns (left join), the standard "undefined"
    * convention.
    */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame = {
    val tht = tokenHashTable(docs)
    val tok = tht.select(col("doc_id"), explode(col("th")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct_tokens"),
        max("c").as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        (col("top_c").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        (col("dup_c").cast("double") / col("n_tokens").cast("double"))
          .as("dup_token_frac"))
    val gram = tht.select(col("doc_id"), explode(shingleHashes(col("th"), n)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_ngrams"),
        max("c").as("top_g"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_g"))
      .select(col("doc_id"), col("n_ngrams"),
        (col("top_g").cast("double") / col("n_ngrams").cast("double"))
          .as("top_ngram_frac"),
        (col("dup_g").cast("double") / col("n_ngrams").cast("double"))
          .as("dup_ngram_frac"))
    tok.join(gram, Seq("doc_id"), "left")
  }

  /** Corpus-slice n-gram diversity — the distinct-n-gram ratio
    * (type-token ratio generalized to n-grams, the corpus-level dual of
    * the per-document [[repetitionStats]]): for each group and each
    * n ∈ `ns`, total n-gram occurrences, distinct n-grams, and their
    * fixed-point ratio. Low ratios at n = 2,3 are the standard
    * mode-collapse / templated-corpus alarm for model-generated or
    * boilerplate-heavy slices (the "distinct-n" metric of Li et al.'s
    * diversity objective, aggregated self-BLEU's cheap stand-in) —
    * read next to [[zipfFit]] (unigram shape) and `pairwiseDiversity`
    * (embedding-space collapse), which miss n-gram-level looping.
    *
    * Scale shape: the exchange-barriered token-hash scan feeds one
    * explode per n (exchange reuse keeps it one tokenize); distinctness
    * via a (group, n, hash) pre-aggregate then a (group, n) re-count —
    * two partial-aggregated shuffles of 8-byte hash keys, NEVER a
    * count_distinct Expand over the corpus and never a token string on
    * the wire. The ratio is one exact integer floor-division per
    * output row (≤ groups·|ns| rows).
    */
  def ngramDiversity(docs: DataFrame, groupCol: String = "lang",
      ns: Seq[Int] = Seq(1, 2, 3), scale: Long = 1000000L): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be >= 1, got $ns")
    require(scale > 0, s"scale must be positive, got $scale")
    val tht = docs.select(col(groupCol).as("g"), col("text"))
      .repartition(col("g"))
      .select(col("g"), graft.expressions.TokenHashes(col("text")).as("th"))
    val grams = ns.map { n =>
      tht.select(col("g"), lit(n).as("n"),
        explode(shingleHashes(col("th"), n)).as("h"))
    }.reduce(_ unionAll _)
    grams
      .groupBy(col("g"), col("n"), col("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("g").as(groupCol), col("n"))
      .agg(sum(col("c")).as("total_grams"),
        count(lit(1)).as("distinct_grams"))
      .withColumn("distinct_ratio_s",
        expr(s"distinct_grams * $scale DIV total_grams"))
  }

  /** PII signal scan per document: counts of email addresses, phone-like
    * number runs, URLs and IPv4 literals, plus a has_pii flag —
    * the screening pass a training-data pipeline runs before release.
    * Pure codegen'd regexp_count projections (map-only, no shuffle);
    * patterns are the standard conservative shapes, tuned for recall on
    * obvious PII rather than validator-grade precision.
    */
  def piiScan(docs: DataFrame): DataFrame = {
    val email = regexp_count(col("text"),
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
    val phone = regexp_count(col("text"),
      lit("\\+?[0-9][0-9()\\- ]{7,}[0-9]"))
    val url = regexp_count(col("text"), lit("https?://[^\\s]+"))
    val ipv4 = regexp_count(col("text"),
      lit("\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"))
    docs.select(col("doc_id"),
      email.cast("long").as("n_emails"),
      phone.cast("long").as("n_phones"),
      url.cast("long").as("n_urls"),
      ipv4.cast("long").as("n_ipv4"),
      (email + phone + url + ipv4 > 0).as("has_pii"))
  }

  /** PII redaction — the remediation pass paired with [[piiScan]]:
    * replace every match of the same four conservative shapes with a
    * typed placeholder token. Replacement order matters and is fixed:
    * emails → URLs → IPv4 → phones, so digit runs inside URLs/IPs are
    * consumed before the phone pattern can see them. Map-only chained
    * codegen'd regexp_replace; same RE2-compatible patterns as the
    * scan (no backrefs/lookahead), so the pass runs identically on
    * engines with either regex engine class.
    */
  def redactPii(docs: DataFrame): DataFrame = {
    val replacements = Seq(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
      "https?://[^\\s]+" -> "<URL>",
      "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>",
      "\\+?[0-9][0-9()\\- ]{7,}[0-9]" -> "<PHONE>")
    val redacted = replacements.foldLeft(col("text")) {
      case (c, (pat, token)) => regexp_replace(c, pat, token)
    }
    docs.select(col("doc_id"), redacted.as("text"))
  }

  /** Benchmark-contamination scan: how many of each document's word
    * n-grams appear in the probe corpus (the decontamination pass that
    * keeps test sets out of training data). Probe shingles are distinct
    * and BROADCAST — at 100 TB the document side streams map-side
    * against a small benchmark set; per-doc totals come from one
    * partial-aggregated groupBy. Returns every document with its n-gram
    * count and the number of contaminated (matching) n-gram instances.
    */
  def contaminationScan(docs: DataFrame, probes: DataFrame, n: Int = 3): DataFrame = {
    val docGrams = tokenHashTable(docs)
      .select(col("doc_id"), explode(shingleHashes(col("th"), n)).as("g"))
    val probeGrams = tokenHashTable(probes)
      .select(explode(shingleHashes(col("th"), n)).as("g"))
      .distinct()
    val hits = docGrams
      .join(broadcast(probeGrams), Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))
    docGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0L).as("is_contaminated"))
  }

  /** The PROBE-side contamination report — the direction leakage is
    * actually quantified in: for each benchmark item, how much of it
    * leaked into the corpus. Per probe: its distinct n-gram count, how
    * many of those grams appear anywhere in the corpus, the leaked
    * fraction, and how many distinct corpus documents share at least
    * one gram ([[contaminationScan]] is the corpus-side twin used to
    * DROP documents; this one decides whether a benchmark is still
    * valid to evaluate on).
    *
    * Scale shape: probe grams are the small side but corpus grams are
    * not — the gram join shuffles on the 8-byte hash; both aggregates
    * are partial (distinct-gram and distinct-doc counts collapse
    * map-side). No text shuffles.
    */
  def contaminationReport(docs: DataFrame, probes: DataFrame, n: Int = 3): DataFrame = {
    val corpusGrams = tokenHashTable(docs)
      .select(col("doc_id"), explode(shingleHashes(col("th"), n)).as("g"))
    val probeGrams = tokenHashTable(probes)
      .select(col("doc_id").as("probe_id"),
        explode(shingleHashes(col("th"), n)).as("g"))
      .distinct()
    val hits = probeGrams.join(corpusGrams, Seq("g"))
      .groupBy("probe_id")
      .agg(countDistinct(col("g")).as("n_leaked_grams"),
        countDistinct(col("doc_id")).as("n_hit_docs"))
    probeGrams.groupBy("probe_id").agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_hit_docs"), lit(0L)).as("n_hit_docs"),
        (coalesce(col("n_leaked_grams"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("leaked_frac"))
  }

  /** Hashes of word n-gram shingles, derived from per-token hashes by
    * polynomial combination: h = fold(h*131 + th_j) mod p — an
    * engine-defined shingle hash that avoids re-hashing overlapping
    * token text n times. `th` must be a computed attribute (see
    * tokenHashTable). Empty when the document has fewer than n tokens.
    * Backed by the native codegen'd expression
    * (graft.expressions.ShingleHashes) — one JIT'd sliding pass instead
    * of one interpreted lambda (with n boxed lookups) per shingle;
    * parity with [[shingleHashesHof]] is spec-tested.
    */
  def shingleHashes(th: Column, n: Int = 3): Column =
    graft.expressions.ShingleHashes(th, n)

  /** The higher-order-function formulation of [[shingleHashes]] (kept
    * for the parity spec and as executable documentation).
    */
  def shingleHashesHof(th: Column, n: Int = 3): Column = {
    val grams = transform(sequence(lit(0), size(th) - n),
      i => (0 until n).map(j => element_at(th, i + j + 1))
        .reduce((a, b) => (a * 131L + b) % HashMod))
    when(size(th) >= n, grams).otherwise(array().cast("array<bigint>"))
  }

  /** Sliding-window document chunking — the embedding/retrieval prep
    * step: each document becomes overlapping token-window chunks
    * (window w, stride s ≤ w), the last chunk clipped at the document
    * end. Chunk count = 1 + max(0, ceil((n_tokens − w)/s)), so every
    * token is covered and no chunk starts past the end.
    *
    * Scale shape: map-only — sequence + explode + array slice inside
    * the scan projection; output volume is the w/s overlap factor times
    * the corpus, which is the caller's knob, not an engine cost.
    */
  def chunkDocuments(docs: DataFrame, window: Int = 64,
      stride: Int = 32): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .select(col("doc_id"), col("t"), col("n_tokens"),
        explode(sequence(lit(0L),
          greatest(ceil((col("n_tokens") - window).cast("double") / stride)
            .cast("long"), lit(0L)))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(col("chunk_id") * stride + window, col("n_tokens")).as("tok_end"),
        concat_ws(" ", slice(col("t"),
          (col("chunk_id") * stride + 1).cast("int"), lit(window))).as("chunk_text"))
  }

  /** Content-defined chunking (the rsync/FastCDC boundary rule at
    * token granularity) — the storage/dedup-oriented complement of
    * [[chunkDocuments]]: fixed-stride chunk boundaries shift by one on
    * any insertion, so an edited document shares NO chunks with its
    * original; content-defined boundaries ("cut where the local k-gram
    * hash ≡ 0 mod divisor") resynchronize immediately after the edit,
    * so all untouched regions still produce byte-identical chunks —
    * the property chunk-level dedup at 100 TB depends on.
    *
    * Boundary rule: k-gram hashes over the token stream are finalized
    * with the winnowing mid-square mix (raw rolling hashes of similar
    * runs are correlated — see [[winnowFingerprints]]); position 0
    * always starts a chunk, and any position whose mixed hash is
    * divisible by `divisor` starts a new one, giving expected chunk
    * length ≈ divisor k-grams. Each chunk's content hash is the
    * order-sensitive polynomial fold of its member k-gram hashes, so
    * two chunks agree on the hash iff they cover the same token run
    * (mod collisions). Documents with fewer than k tokens emit no
    * chunks (no k-gram exists; map them whole-document via
    * [[fingerprints]] instead).
    *
    * Returns (doc_id, chunk_id, start_pos, n_grams, chunk_hash).
    *
    * Scale shape: one doc-keyed window for the running boundary count
    * and one (doc, chunk) groupBy — per-document work linear in length,
    * no cross-document shuffle; the chunk table it emits is the
    * id+hash-only artifact downstream dedup joins on.
    */
  def cdcChunks(docs: DataFrame, k: Int = 3, divisor: Long = 8L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val sh = tokenHashTable(docs)
      .select(col("doc_id"), shingleHashes(col("th"), k).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h0")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        ((col("h0") * col("h0") + lit(12345L)) % lit(HashMod)).as("h"))
    val cut = when(col("pos") === 0L || col("h") % divisor === 0L, lit(1L))
      .otherwise(lit(0L))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sh.withColumn("chunk_id", sum(cut).over(w) - lit(1L))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(min(col("pos")).as("start_pos"),
        count(lit(1)).as("n_grams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("h")))),
            s => s.getField("h")),
          lit(0L), (acc, x) => (acc * 131L + x) % HashMod).as("chunk_hash"))
  }

  /** Bigram language-model perplexity scoring — the corpus-level
    * fluency/quality signal (a document whose bigrams are improbable
    * under the corpus's own bigram MLE is boilerplate, gibberish, or
    * wrong-language): per document, the summed negative log-probability
    * of its word bigrams under add-one-smoothed corpus MLE,
    *   P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V).
    *
    * Determinism contract: each bigram's −ln P is floor-scaled to an
    * integer (1e6) BEFORE summing, so the per-document total is an
    * integer sum — order-independent, unlike a float sum whose value
    * depends on reduction order and would flake the cross-engine hash.
    * Callers derive avg-NLL/perplexity as `sum_nll_s / 1e6 / n_bigrams`.
    *
    * Scale shape: bigram and context counts are partial-aggregated
    * groupBys; the model attaches to document bigrams by hash joins on
    * (w1,w2) and (w1) — the model tables are NOT assumed broadcastable
    * (bigram vocabulary grows with the corpus); the vocabulary size is
    * the only broadcast (one row). Hot tokens (stopword contexts) skew
    * the w1 join; AQE skew-join splitting handles it, same class as
    * every other power-law key in the engine.
    */
  def perplexityScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    // per-occurrence bigrams (duplicates preserved — these are counts,
    // not the distinct shingle sets used for dedup)
    val bigrams = toks
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(-log((col("c12") + 1.0) / (col("c1") + col("v"))) * 1e6)
          .cast("long").as("term_s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_s")).as("sum_nll_s"))
  }

  /** Kneser–Ney-smoothed bigram scoring — the standard n-gram LM
    * smoothing ([[perplexityScore]]'s add-one is the teaching baseline;
    * absolute discounting with CONTINUATION counts is what production
    * n-gram LMs actually use, because P(w2) should reflect how many
    * contexts w2 follows, not raw frequency — "Francisco" is frequent
    * but only ever follows "San"). Discount d = 3/4 (the textbook
    * value, and exactly representable so the arithmetic stays
    * rational):
    *   P(w2|w1) = (c(w1,w2) − d)/c(w1·) + d·T(w1)/c(w1·) · N(w2)/B
    * with T(w1) = distinct continuations of w1, N(w2) = distinct
    * contexts preceding w2, B = distinct bigram types. Over a common
    * denominator the probability is the exact integer ratio
    *   [(4·c12 − 3)·B + 3·T·N] / (4·c1·B)
    * — observed bigrams have c12 ≥ 1, so the discounted term never
    * clips and both sides are positive. Each −ln term is floor-scaled
    * ×1e6 BEFORE summing (the perplexityScore determinism contract);
    * numerator/denominator accumulate in DECIMAL(38,0) — at 100 TB
    * both c12·B and c1·B wrap a silent long once counts and the type
    * inventory pass ~2³¹ each.
    *
    * Scale shape identical to [[perplexityScore]]: partial-aggregated
    * count tables attached by hash joins on (w1,w2), (w1), (w2); only
    * the 1-row B broadcasts; stopword-context skew rides AQE.
    *
    * @return (doc_id, n_bigrams, sum_knll_s)
    */
  def knBigramScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val bigrams = toks
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val t1 = c12.groupBy("w1").agg(count(lit(1)).as("t1"))
    val n2 = c12.groupBy("w2").agg(count(lit(1)).as("n2"))
    val b = c12.agg(count(lit(1)).as("b"))
    bigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(t1, Seq("w1"))
      .join(n2, Seq("w2"))
      .crossJoin(broadcast(b))
      .select(col("doc_id"),
        floor(-log(
          ((col("c12").cast("decimal(38,0)") * 4 - 3) * col("b") +
            col("t1").cast("decimal(38,0)") * col("n2") * 3).cast("double") /
          (col("c1").cast("decimal(38,0)") * col("b") * 4).cast("double")) * 1e6)
          .cast("long").as("term_s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_s")).as("sum_knll_s"))
  }

  /** Per-document character-level Shannon entropy — the gibberish/
    * binary-noise tripwire of the quality family (natural language
    * sits in a narrow entropy band; base64 blobs, minified code and
    * repeated-char padding fall far outside it, and none of the
    * token-level signals see INSIDE tokens). Exact per the entropyOf
    * contract: each character class contributes c·⌊ln(c/n)·10⁶⌋ (the
    * floor INSIDE the weighted sum keeps every term an integer), one
    * pmod-subtract floor division at the end.
    *
    * Characters are Java string code units (the oracle's string_split
    * agrees on BMP text; supplementary-plane surrogates would count as
    * two classes — irrelevant to the quality-signal purpose).
    *
    * Scale shape: one map-side character explode (rows = corpus chars,
    * the tokenizer families' volume), two partial-agged groupBys keyed
    * by (doc, char) then doc.
    *
    * @return (doc_id, n_char_classes, n_chars, entropy_s)
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("doc_id").agg(sum(col("c")).as("n"))
    counts.join(totals, "doc_id")
      .select(col("doc_id"), col("n"),
        (col("c") * floor(log(col("c").cast("double") / col("n").cast("double"))
          * 1e6).cast("long")).as("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_char_classes"), max(col("n")).as("n_chars"),
        sum(col("t")).as("st"))
      .select(col("doc_id"), col("n_char_classes"), col("n_chars"),
        (-expr("(st - pmod(st, n_chars)) div n_chars")).as("entropy_s"))
  }

  /** Per-document type-token ratio and hapax share — the lexical-
    * diversity signals (templated/boilerplate text repeats a tiny
    * vocabulary; natural prose keeps TTR and its hapax tail up), in
    * exact floor-scaled ppm.
    *
    * @return (doc_id, n_tokens, n_types, n_hapax, ttr_ppm, hapax_ppm)
    */
  def typeTokenRatio(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    tf.groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_tokens").as("hapax_ppm"))
  }

  /** Per-language corpus length-distribution stats — the curation
    * dashboard numbers (median/p90/p99 token counts, mean chars) that
    * drive length-filter thresholds. Exact interpolated percentiles
    * (both Spark `percentile` and DuckDB `quantile_cont` use the
    * (n-1)·p linear-interpolation definition), emitted floor-scaled to
    * integers so the faces hash-match.
    *
    * Exact percentile is a sort-based aggregate per group — fine for
    * bounded group cardinality (languages/sources). For percentiles
    * over an unbounded group count at 100 TB switch to
    * `approx_percentile` (t-digest sketch, partial-aggregated) and drop
    * the oracle to tolerance-based.
    */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    val nTokens = tokenCount(col("text"))
    docs.select(col("lang"), nTokens.as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        floor(percentile(col("n_tokens"), lit(0.5)) * 100.0).cast("long").as("p50_tokens_s"),
        floor(percentile(col("n_tokens"), lit(0.9)) * 100.0).cast("long").as("p90_tokens_s"),
        floor(percentile(col("n_tokens"), lit(0.99)) * 100.0).cast("long").as("p99_tokens_s"),
        floor(avg(col("n_chars")) * 100.0).cast("long").as("mean_chars_s"))
  }

  /** TF-IDF top-k keyword extraction per document — the corpus-relative
    * salience scorer (keyword tagging / topic hints for corpus curation).
    * Tokens are lowercased alphanumeric runs; `score = tf · ln((N+1)/(df+1))`
    * (smoothed idf), emitted pre-floored to 1/100ths so the ordering and
    * the oracle compare on exact integers, with the token string as the
    * deterministic tie-break.
    *
    * Scale shape: token frequencies and document frequencies are both
    * partial-aggregated groupBys on short keys; the corpus size joins in
    * as a broadcast single row; idf attaches via a (tok)-keyed hash join
    * (the vocabulary is NOT assumed broadcastable); the per-document
    * top-k is a rank filter, which Spark 4 plans with a map-side partial
    * WindowGroupLimit — no document sorts its full vocabulary on one
    * reducer.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
      .where(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "tok")
      .crossJoin(broadcast(total))
      .withColumn("score_s",
        floor(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)) * 100.0)
          .cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_s").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"),
        col("df"), col("score_s"))
  }

  /** Okapi BM25 per-document top-k terms — the ranked-retrieval scoring
    * face next to [[tfidfTopK]] (Robertson & Zaragoza, the standard
    * probabilistic weighting): idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    * Same scale shape as TF-IDF: token explode → partial-aggregated tf /
    * df / doc-length groupBys, the corpus totals as a designed 1-row
    * broadcast attach, rank filter planned as a map-side partial
    * WindowGroupLimit. Scores are floor-quantized to 0.01 (the proven
    * cross-engine log determinism pattern); the expression is written in
    * one fixed association order so both engines evaluate bit-identical
    * IEEE operations. Documents with zero tokens have no terms to rank
    * and drop out (same convention as the oracle).
    */
  def bm25TopK(docs: DataFrame, k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
      .where(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dlen = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val totals = dlen.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_len"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val norm = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl").cast("double") * col("n_docs").cast("double") /
          col("tot_len").cast("double"))
    val scored = tf.join(dfreq, "tok").join(dlen, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("score_s",
        floor(idf * col("tf").cast("double") * lit(k1 + 1.0) / norm * 100.0)
          .cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_s").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"),
        col("df"), col("dl"), col("score_s"))
  }

  /** Vocabulary construction — the tokenizer-training step: the top
    * `maxVocab` whitespace tokens by corpus frequency, with dense
    * contiguous vocab ids in (count desc, token asc) order. Returns
    * (token, cnt, vocab_id), vocab_id ∈ [0, maxVocab).
    *
    * Scale shape: one partial-aggregated groupBy on the token string;
    * the top-V cut plans as TakeOrdered (bounded by the parameter, no
    * full sort), and the id window runs over the V RETAINED rows only —
    * a single partition of maxVocab rows, bounded by the knob, not the
    * corpus.
    */
  def buildVocab(docs: DataFrame, maxVocab: Int): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("token"))
    counts.orderBy(col("cnt").desc, col("token")).limit(maxVocab)
      .withColumn("vocab_id", (row_number().over(w) - 1).cast("long"))
  }

  /** Vocabulary coverage / out-of-vocabulary measurement: per document,
    * total token instances, instances whose token is absent from
    * `vocab`, and the OOV fraction — the go/no-go metric read before
    * freezing a tokenizer. Documents with no tokens produce no row
    * (coverage of nothing is undefined).
    *
    * Scale shape: the vocab is maxVocab-bounded by construction and
    * broadcasts; token instances flow map-side through the broadcast
    * left join into ONE partial-aggregated per-doc count — the only
    * shuffle is on doc_id.
    */
  def oovStats(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .join(broadcast(vocab.select(col("token"), lit(true).as("in_vocab"))),
        Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))

  /** Inverted-index build (flat posting rows) — the retrieval-side dual
    * of [[tfidfTopK]]/[[bm25TopK]]: one row per (token, document)
    * posting with term frequency, the token's 1-based first position,
    * and the lexicon stats every ranker needs (document frequency `df`,
    * collection frequency `cf`). `minDf` prunes hapax noise and bounds
    * the output (a production index prunes exactly this way before
    * sharding posting lists).
    *
    * Scale shape: posexplode streams positions out of the scan (no
    * per-token array re-scan — first_pos is min(pos), O(1) per
    * instance); two partial-aggregated groupBys ((token, doc) then
    * token) and one token-key join back. Empty tokens (whitespace-only
    * documents) are dropped, matching [[buildVocab]].
    */
  def invertedIndex(docs: DataFrame, minDf: Long = 2L): DataFrame = {
    val tok = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .where(col("token") =!= "")
    val postings = tok.groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"), (min(col("pos")) + 1L).as("first_pos"))
    val lexicon = postings.groupBy("token")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .where(col("df") >= minDf)
    postings.join(lexicon, Seq("token"))
  }

  /** Exact PHRASE retrieval — the positional-index completion of the
    * retrieval family ([[invertedIndex]] knows WHERE terms occur;
    * [[searchAll]] only tests presence): documents containing the
    * query token sequence CONTIGUOUSLY, by the classic anchor
    * normalization — every matched term votes for the phrase START it
    * implies (pos − offset), and a start with votes from ALL offsets
    * is an occurrence (the count-equals-arity trick, per-start).
    * Repeated tokens inside a phrase are handled for free: each offset
    * contributes at most one vote per (doc, start) because positions
    * are unique.
    *
    * Returns (query_id, doc_id, n_hits, first_pos) — 1-based first
    * position, the [[invertedIndex]] convention.
    *
    * Scale shape: the phrase terms and arities broadcast (bounded by
    * the query workload); the corpus-side posexplode feeds ONE
    * (query, doc, start)-keyed partial-aggregated groupBy, then a
    * (query, doc) rollup — non-matching tokens die at the broadcast
    * join, so the shuffle carries only postings of query terms (the
    * searchAll posture, plus the start key).
    */
  def phraseSearch(docs: DataFrame, phrases: DataFrame): DataFrame = {
    val terms = phrases.select(col("query_id"),
      posexplode(tokens(col("phrase"))).as(Seq("offset", "token")))
    val arity = terms.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    val tok = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .where(col("token") =!= "")
    tok.join(broadcast(terms), Seq("token"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("offset")).as("start"))
      .groupBy("query_id", "doc_id", "start")
      .agg(count(lit(1)).as("n_matched"))
      .join(broadcast(arity), Seq("query_id"))
      .where(col("n_matched") === col("n_terms"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hits"),
        (min(col("start")) + 1L).as("first_pos"))
  }

  /** Conjunctive (AND) retrieval over [[invertedIndex]]: per query, the
    * documents containing EVERY query term, with the summed term
    * frequency as a tiebreak score. `queries` is a (query_id, token)
    * table. The term filter rides the index join (postings of query
    * terms only reach the aggregation), the match test is the classic
    * count-equals-arity trick over the per-(token, doc) unique posting
    * rows, and the query-arity table — bounded by the query workload,
    * not the corpus — broadcasts.
    */
  def searchAll(index: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select(col("query_id"), col("token")).distinct()
    val arity = q.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    index.join(q, Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched"), sum(col("tf")).as("sum_tf"))
      .join(broadcast(arity), Seq("query_id"))
      .where(col("n_matched") === col("n_terms"))
      .select(col("query_id"), col("doc_id"), col("sum_tf"))
  }

  /** Sparse "more like this": top-k most similar documents per document
    * by a rarity-weighted shared-token score over the inverted index —
    * the text-side sibling of the dense embedding top-k
    * (graft.similarity). Score = Σ_shared tf_a·tf_b·rarity(token),
    * rarity the INTEGER fixed-point (N·1000) div df — integer sums make
    * the score engine-exact where tf-idf doubles would hash-diverge
    * with aggregation order.
    *
    * Scale shape: the self-join meets only on tokens with df ≤ `maxDf`
    * — the standard df cut; common tokens carry no similarity signal
    * AND quadratic posting expansion, so one knob removes both. Pair
    * volume is Σ_rare df² instead of |corpus|². Rank cut is a per-doc
    * window → map-side WindowGroupLimit.
    */
  def moreLikeThis(docs: DataFrame, k: Int = 3, maxDf: Long = 50L,
      minDf: Long = 2L): DataFrame = {
    val idx = invertedIndex(docs, minDf)
      .where(col("df") <= maxDf)
    val n = docs.select(count(lit(1)).as("n_docs"))
    val weighted = idx.join(broadcast(n),
        org.apache.spark.sql.functions.lit(true))
      // `div` keeps the exactly-divisible quotient in LONG arithmetic
      // (double `/` would round it off by one past 2^53 numerators)
      .withColumn("rarity",
        expr("(n_docs * 1000 - pmod(n_docs * 1000, df)) div df"))
      .select(col("token"), col("doc_id"), col("tf"), col("rarity"))
    val pairs = weighted.as("a").join(weighted.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("doc_id_sim"))
      .agg(sum(col("a.tf") * col("b.tf") * col("a.rarity")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("doc_id_sim"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Posting-LIST face of [[invertedIndex]]: one row per token with the
    * doc_id-sorted postings array — the A8 collect_list shape, for
    * writing index shards where a term's postings must be contiguous.
    * Spec-tested equal to the flat face after explode.
    */
  def postingsLists(docs: DataFrame, minDf: Long = 2L): DataFrame =
    invertedIndex(docs, minDf)
      .groupBy("token")
      .agg(first(col("df")).as("df"), first(col("cf")).as("cf"),
        sort_array(collect_list(struct(col("doc_id"), col("tf"),
          col("first_pos")))).as("postings"))

  /** Pairwise Jensen–Shannon divergence between corpus slices' unigram
    * distributions — the mixture/drift monitor that says HOW FAR two
    * slices' vocabularies diverge on a bounded symmetric scale
    * (JSD ∈ [0, ln 2]; KL alone is asymmetric and infinite on any
    * word one side lacks — JSD's mixture midpoint m = (p+q)/2 never
    * is):
    *   JSD(p,q) = ½·Σ p_w ln(p_w/m_w) + ½·Σ q_w ln(q_w/m_w).
    *
    * Determinism contract: every per-word log ratio is EXACT-INTEGER-
    * argument arithmetic —
    *   p_w/m_w = 2·c_aw·N_b / (c_aw·N_b + c_bw·N_a)
    * (counts and totals only; no intermediate probability doubles) —
    * floored to 1e-6 BEFORE the weighted sum, so slice scores are
    * integer sums; the two final divisions are floor divisions via the
    * pmod-subtract ladder (the term sums are legitimately slightly
    * negative for near-identical slices — floors bias down). The ratio
    * arguments c·N accumulate in DECIMAL(38,0) before the double cast:
    * in long they would wrap SILENTLY once per-slice token totals reach
    * ~3e9 (c_a·N_b up to N_a·N_b) while DuckDB errors — the
    * giniOfGroups convention (ADVICE r9).
    *
    * Scale shape: one (slice, word)-keyed partial-agged count, slice
    * totals as a bounded broadcast pair table (|slices|² pairs — slices
    * are languages/sources, bounded by construction), the per-pair
    * word union assembled by two equi-joins + one groupBy (never an
    * outer self-join of the vocabulary), token strings shuffle once
    * into the count.
    *
    * @return (slice_a, slice_b, n_a, n_b, jsd_s) per unordered pair
    */
  def jsDivergence(docs: DataFrame, groupCol: String = "lang"): DataFrame = {
    val cw = docs.select(col(groupCol).as("g"),
        explode(tokens(col("text"))).as("w"))
      .where(col("w") =!= "")
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    val tot = cw.groupBy("g").agg(sum(col("c")).as("n"))
    val pairs = tot.select(col("g").as("ga"), col("n").as("na"))
      .join(tot.select(col("g").as("gb"), col("n").as("nb")),
        col("ga") < col("gb"))
    val sides = cw.join(broadcast(pairs.select("ga", "gb")),
        col("g") === col("ga"))
      .select(col("ga"), col("gb"), col("w"), col("c").as("ca"),
        lit(0L).as("cb"))
      .unionAll(cw.join(broadcast(pairs.select("ga", "gb")),
          col("g") === col("gb"))
        .select(col("ga"), col("gb"), col("w"), lit(0L).as("ca"),
          col("c").as("cb")))
    val byWord = sides.groupBy("ga", "gb", "w")
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .join(broadcast(pairs), Seq("ga", "gb"))
    val flog = (num: Column, den: Column) =>
      floor(log(num.cast("double") / den.cast("double")) * 1e6).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    byWord
      .select(col("ga"), col("gb"), col("na"), col("nb"),
        when(col("ca") > 0, col("ca") * flog(dec(col("ca")) * col("nb") * 2,
          dec(col("ca")) * col("nb") + dec(col("cb")) * col("na")))
          .otherwise(0L).as("ta"),
        when(col("cb") > 0, col("cb") * flog(dec(col("cb")) * col("na") * 2,
          dec(col("ca")) * col("nb") + dec(col("cb")) * col("na")))
          .otherwise(0L).as("tb"))
      .groupBy(col("ga").as("slice_a"), col("gb").as("slice_b"),
        col("na").as("n_a"), col("nb").as("n_b"))
      .agg(sum(col("ta")).as("sta"), sum(col("tb")).as("stb"))
      .select(col("slice_a"), col("slice_b"), col("n_a"), col("n_b"),
        (expr("(sta - pmod(sta, 2 * n_a)) div (2 * n_a)") +
          expr("(stb - pmod(stb, 2 * n_b)) div (2 * n_b)")).as("jsd_s"))
  }
}
