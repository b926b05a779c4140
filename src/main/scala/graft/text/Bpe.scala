package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed BPE-style tokenizer TRAINING — the merge-learning loop
  * every in-house tokenizer build runs over its corpus (Sennrich et al.,
  * arXiv 1508.07909), as a Spark-first iterative operator:
  *
  * each round counts ADJACENT symbol pairs corpus-wide, picks the most
  * frequent pair (ties broken by (sym_a, sym_b) ascending — fully
  * deterministic), mints a new symbol for it, and rewrites every
  * document by greedy leftmost merge. Symbols start as the per-token
  * rolling hashes ([[TextAnalysis.tokenHashTable]]); merged symbols get
  * ids above the hash modulus so they can never collide with a base
  * symbol. This is token-level BPE (merges learn phrases); the
  * byte/char-level variant is the same loop with a different initial
  * alphabet.
  *
  * Scale shape per round: ONE shuffle — the partial-aggregated pair
  * count; the winning pair is a bounded 1-row driver collect (the same
  * bounded-metadata contract as the IVF centroid set), and the rewrite
  * is a map-only array projection (documents never explode into rows,
  * token strings never shuffle). k rounds = k pair-count shuffles.
  *
  * Greedy leftmost semantics (the standard BPE apply rule): a match at
  * position p merges iff position p−1 did not itself merge. Overlapping
  * matches only arise inside runs of a repeated symbol ("a a a a" with
  * pair (a,a) merges positions 0 and 2), so the rule is equivalent to
  * "every even offset within each maximal run of consecutive matches" —
  * which is how the DuckDB oracle expresses it relationally
  * (gaps-and-islands), while the engine computes it with a small fold
  * over the match positions (O(matches) state, O(n·matches) rewrite —
  * matches per doc per round are few; the documented long-document path
  * is [[TextAnalysis.chunkDocuments]] first).
  */
object Bpe {

  /** First symbol id available for minted merge symbols: base symbols
    * are rolling hashes in [0, HashMod), so HashMod + r is collision-free.
    */
  val MergeSymBase: Long = TextAnalysis.HashMod

  /** One learned merge: `round` 0-based, winning pair, its corpus count,
    * the minted symbol.
    */
  final case class Merge(round: Int, symA: Long, symB: Long,
      pairCount: Long, newSym: Long)

  /** Adjacent-pair struct array of a symbol array. */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      (x, y) => struct(x.as("a"), y.as("b")))

  /** Greedy-leftmost selected match positions for pair (a, b): fold over
    * the match positions keeping (selected, lastSelected); p is selected
    * iff p−1 was not. State is O(matches), not O(tokens).
    */
  private def selectedPositions(syms: Column, a: Long, b: Long): Column = {
    val matches = filter(
      sequence(lit(0L), size(syms).cast("long") - 2L),
      i => element_at(syms, (i + 1).cast("int")) === a &&
        element_at(syms, (i + 2).cast("int")) === b)
    val zero = struct(
      array().cast("array<bigint>").as("sel"), lit(-2L).as("last"))
    val folded = aggregate(
      when(size(syms) >= 2, matches).otherwise(array().cast("array<bigint>")),
      zero,
      (st, p) =>
        when(st.getField("last") === p - 1,
          struct(st.getField("sel").as("sel"), st.getField("last").as("last")))
          .otherwise(struct(
            concat(st.getField("sel"), array(p)).as("sel"), p.as("last"))),
      st => st.getField("sel"))
    folded
  }

  /** Rewrite one round: selected starts become newSym, the consumed
    * right neighbors drop, everything else passes through in order.
    */
  private def mergeOnce(syms: Column, a: Long, b: Long, newSym: Long): Column = {
    val sel = selectedPositions(syms, a, b)
    // −1 is a safe drop sentinel: base symbols are non-negative hashes,
    // minted symbols are >= MergeSymBase. Docs with < 2 symbols cannot
    // match a pair and pass through unchanged — the guard also keeps
    // sequence() ascending (Spark descends when start > stop) and
    // element_at in-bounds under ANSI mode.
    when(size(syms) >= 2,
      filter(
        transform(
          sequence(lit(0L), size(syms).cast("long") - 1L),
          i => when(array_contains(sel, i), lit(newSym))
            .when(array_contains(sel, i - 1), lit(-1L))
            .otherwise(element_at(syms, (i + 1).cast("int")))),
        x => x =!= -1L))
      .otherwise(syms)
  }

  /** Run `rounds` training rounds. Returns the learned merges (possibly
    * fewer than `rounds` if the corpus runs out of adjacent pairs) and
    * the final per-document symbol arrays (doc_id, syms).
    */
  def train(docs: DataFrame, rounds: Int): (Seq[Merge], DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    var state = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"), col("th").as("syms"))
    val merges = Seq.newBuilder[Merge]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val top = state
        .select(explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      top.headOption match {
        case Some(row) =>
          val (a, b, c) = (row.getLong(0), row.getLong(1), row.getLong(2))
          val newSym = MergeSymBase + r
          merges += Merge(r, a, b, c, newSym)
          // the rewrite references `syms` several times (match scan,
          // selection fold, rewrite transform); without a lineage
          // barrier each round would nest the previous round's whole
          // expression at every reference — ~6^r duplicated subtrees,
          // megabyte task binaries, and codegen falling back to
          // interpreted. An eager localCheckpoint bounds every round to
          // ONE round's expressions (the clustering loop's pattern);
          // state is (doc_id, syms) only — token strings are long gone.
          state = state.select(col("doc_id"),
            mergeOnce(col("syms"), a, b, newSym).as("syms"))
            .localCheckpoint(true)
        case None =>
          exhausted = true
      }
      r += 1
    }
    (merges.result(), state)
  }

  /** Greedy-leftmost merge as ONE fold that references its input column
    * exactly once: state carries (emitted, pending) where pending is the
    * last unmerged symbol (−2 = none). Chaining k of these nests the
    * expression LINEARLY (unlike [[mergeOnce]]'s multi-reference form,
    * which needs a per-round checkpoint) — the price is the concat-copy
    * fold, O(n²) per document, so this is the inference-time form for
    * typical documents; pre-chunk pathological ones
    * ([[TextAnalysis.chunkDocuments]]).
    */
  private def mergeOnceFold(syms: Column, a: Long, b: Long, newSym: Long): Column =
    aggregate(
      syms,
      struct(array().cast("array<bigint>").as("out"), lit(-2L).as("last")),
      (st, x) => {
        val out = st.getField("out")
        val last = st.getField("last")
        when(last === a && x === b,
          struct(concat(out, array(lit(newSym))).as("out"), lit(-2L).as("last")))
          .otherwise(struct(
            when(last === -2L, out).otherwise(concat(out, array(last))).as("out"),
            x.as("last")))
      },
      st => when(st.getField("last") === -2L, st.getField("out"))
        .otherwise(concat(st.getField("out"), array(st.getField("last")))))

  /** Apply an already-learned merge table to NEW documents — the
    * inference-time tokenization a pipeline ships once the tokenizer is
    * frozen. Merges apply in learned order with the same greedy
    * leftmost semantics as training, as a STATELESS map-only projection:
    * no shuffles, no collects, runs unchanged on streaming DataFrames.
    * Returns (doc_id, pos, sym) like [[bpeApply]].
    *
    * Delegates to the native kernel ([[applyLearnedNative]]): the
    * fold-chain formulation below plans one whole-array higher-order
    * fold PER MERGE, which is a constant-factor hazard at toy merge
    * counts (~5× slower at 3 merges) and unplannable at a real vocab
    * (30k merges → a 30k-deep expression chain). The chain survives as
    * [[applyLearnedFold]], the independent-formulation parity witness
    * BpeSpec pins against the kernel.
    */
  def applyLearned(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    applyLearnedNative(docs, merges)

  /** The HOF fold-chain formulation of [[applyLearned]] — spec-only:
    * an aggregate-per-merge reference implementation whose independent
    * semantics guard the imperative kernel (BpeSpec asserts equality on
    * random corpora and merge tables). Not for production merge tables;
    * see [[applyLearned]].
    */
  private[graft] def applyLearnedFold(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val init = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"), col("th").as("syms"))
    val fin = merges.sortBy(_.round).foldLeft(init) { (df, m) =>
      df.select(col("doc_id"),
        mergeOnceFold(col("syms"), m.symA, m.symB, m.newSym).as("syms"))
    }
    fin.select(col("doc_id"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("sym"))
  }

  /** The native-expression twin of [[applyLearned]]: the whole merge
    * table bakes into ONE codegen'd imperative kernel per row
    * (expressions.BpeApplyExpr) — linear plan size at ANY merge count,
    * the form that carries a real vocabulary (tens of thousands of
    * merges) where a fold per merge cannot. Same output contract:
    * (doc_id, pos, sym).
    */
  def applyLearnedNative(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val init = TextAnalysis.tokenHashTable(docs)
      .select(col("doc_id"), col("th").as("syms"))
    explodeState(init.select(col("doc_id"),
      graft.expressions.BpeApplyExpr(col("syms"), merges).as("syms")))
  }

  /** Learned merges as a DataFrame: (round, sym_a, sym_b, pair_count,
    * new_sym) — the persistable artifact [[applyLearned]] consumes.
    */
  def mergesToDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("sym_a", LongType, nullable = false),
      StructField("sym_b", LongType, nullable = false),
      StructField("pair_count", LongType, nullable = false),
      StructField("new_sym", LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(merges.map(m =>
        Row(m.round.toLong, m.symA, m.symB, m.pairCount, m.newSym)): _*),
      schema)
  }

  /** Explode a (doc_id, syms) state for exact comparison:
    * (doc_id, pos, sym) with pos dense from 0 in array order.
    */
  def explodeState(state: DataFrame): DataFrame =
    state.select(col("doc_id"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("sym"))

  /** The segmented corpus after `rounds` merges, exploded for exact
    * comparison: (doc_id, pos, sym) with pos dense from 0 in order.
    */
  def bpeApply(docs: DataFrame, rounds: Int): DataFrame = {
    val (_, state) = train(docs, rounds)
    explodeState(state)
  }
}
