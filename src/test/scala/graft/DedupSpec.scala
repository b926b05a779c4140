package graft


import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dedup operator semantics on crafted corpora (the oracle checks the
  * hash math; these check the *semantics*: dups found, non-dups not).
  */
class DedupSpec extends SparkTestBase {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups canonicalized duplicates, keeps min doc_id") {
    val d = docs(
      1L -> "Hello   World",
      2L -> "hello world",
      3L -> "  HELLO WORLD  ",
      4L -> "something else")
    val out = Dedup.exact(d).collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getBoolean(3))).sortBy(_._1)
    assert(out === Seq((1L, 3L, true), (2L, 3L, false), (3L, 3L, false), (4L, 1L, true)))
  }

  test("ngram jaccard: identical docs 1.0, disjoint docs 0.0") {
    val d = docs(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g h",
      3L -> "q r s t u v w x")
    val cands = docs(0L -> "").sparkSession.createDataFrame(
      java.util.List.of(Row(1L, 2L), Row(1L, 3L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_id_b", org.apache.spark.sql.types.LongType))))
    val m = Dedup.ngramJaccard(d, cands).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(m((1L, 2L)) === 1.0)
    assert(m((1L, 3L)) === 0.0)
  }

  test("minhash LSH finds true near-dups and skips unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashNearDups(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs at hamming 0; near-dups small hamming") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> (base + " extra1 extra2"))
    val out = Dedup.simhashNearDups(d, maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out((1L, 2L)) === 0L)
    out.get((1L, 3L)).foreach(h => assert(h <= 16L))
  }

  test("dedupGroups: min-label rounds find components, bounded by round count") {
    import spark.implicits._
    val d = docs((1L to 8L).map(i => i -> s"text $i"): _*)
    // components: chain 1-2-3-4-5 (4 hops) and pair 7-8; 6 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("doc_id_a", "doc_id_b")
    val g4 = Dedup.dedupGroups(d, pairs, rounds = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(g4(_)._1 == 1L))
    assert(g4(6L) === ((6L, true)))
    assert(g4(7L) === ((7L, true)) && g4(8L)._1 === 7L)
    assert(g4.values.count(_._2) === 3) // one canonical per component
    // the contract: k rounds propagate the min label exactly k hops —
    // 2 rounds cannot finish the 4-hop chain (node 5 still sees 3's min)
    val g2 = Dedup.dedupGroups(d, pairs, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2(5L) != 1L)
    // separate components never merge, any round count
    assert(g4(7L)._1 != 1L && g4(8L)._1 != 1L)
  }

  test("dedupGroupsConverged merges chains past the fixed-k horizon") {
    import spark.implicits._
    // a duplicate chain of diameter 8 — 2× the default 4-round horizon
    val n = 9L
    val d = docs((1L to n).map(i => i -> s"text $i"): _*)
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    // the fixed-k face under-merges by contract: after 4 rounds the min
    // label has travelled only 4 hops, the chain tail is still unmerged
    val fixed = Dedup.dedupGroups(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed(n) !== 1L)
    // the convergence face merges the whole component: one group, one
    // canonical representative, regardless of diameter
    val conv = Dedup.dedupGroupsConverged(d, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert((1L to n).forall(conv(_)._1 == 1L))
    assert(conv.values.count(_._2) === 1)
    // and on a k-sufficient graph the two faces agree exactly
    val d8 = docs((1L to 8L).map(i => i -> s"text $i"): _*)
    val p8 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("doc_id_a", "doc_id_b")
    val a = Dedup.dedupGroups(d8, p8, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    val b = Dedup.dedupGroupsConverged(d8, p8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(a === b)
  }

  test("dedupGroupsConverged fails loudly when maxRounds is exhausted") {
    import spark.implicits._
    // a partially-merged result is indistinguishable from a converged
    // one downstream — exhausting maxRounds must throw, not return
    val d = docs((1L to 4L).map(i => i -> s"t$i"): _*)
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_id_a", "doc_id_b")
    val cached = cachedRdds
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupGroupsConverged(d, p, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    // the throw still releases the call's caches
    assert((cachedRdds -- cached).isEmpty)
  }

  test("minhash hot-bucket cap drops degenerate bands") {
    // 100 identical one-shingle docs: every band bucket has 100 members,
    // all above the cap → no candidates (the bucket is non-discriminative)
    val d = docs((1L to 100L).map(i => i -> "a b c"): _*)
    val n = Dedup.minhashCandidates(d, maxBucket = 64).count()
    assert(n === 0L)
  }

  test("sorted-neighborhood blocking pairs shared-prefix docs, bounds by window") {
    import spark.implicits._
    // ids deliberately scattered so pairing follows PREFIX order, not
    // id; the shared header fills the whole 40-char sort key so the
    // three docs tie and fall back to doc_id order (5, 100, 200)
    val hdr = "aaaa shared boilerplate header 40 chars!" // exactly 40
    val d = docs(
      100L -> (hdr + " doc one"),
      5L -> (hdr + " doc two"),
      200L -> (hdr + " doc three"),
      7L -> "zzzz totally different tail")
    val pairs = Dedup.sortedNeighborhoodCandidates(d, window = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // window 1 → only sort-adjacent pairs; the 3 'aaaa' docs sort
    // together (tie-break by doc_id: 5, 100, 200), 'zzzz' is adjacent
    // only to the last of them
    assert(pairs === Set((5L, 100L), (100L, 200L), (200L, 7L)))
    // widening the window adds the skip-one pairs
    val w2 = Dedup.sortedNeighborhoodCandidates(d, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w2 === pairs ++ Set((5L, 200L), (100L, 7L)))
  }

  test("incremental exact dedup rejects batch dups AND historically seen docs") {
    import spark.implicits._
    val history = docs(1L -> "seen before", 2L -> "also seen")
    val knownHashes = Dedup.exact(history).select("canon_hash")
    val batch = docs(
      10L -> "seen   before",  // canon-equal to history doc 1 → rejected
      11L -> "brand new",      // first occurrence → kept
      12L -> "brand new",      // batch dup of 11 → rejected
      13L -> "also new")       // kept
    val out = Dedup.exactIncremental(batch, knownHashes)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out === Map(10L -> false, 11L -> true, 12L -> false, 13L -> true))
  }

  test("incremental LSH candidates == full recompute minus old×old pairs") {
    // the incremental contract: banding the new batch against the
    // persisted history band table finds exactly the pairs a full
    // recompute would, except pairs entirely inside history (emitted
    // when their own batches arrived)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cut = 25L
    val history = docs.where(col("doc_id") < cut)
    val batch = docs.where(col("doc_id") >= cut)
    val full = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.minhashCandidatesIncremental(
        Dedup.minhashBands(batch), Dedup.minhashBands(history))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filterNot { case (a, b) => a < cut && b < cut }
    assert(inc === expected)
    assert(inc.nonEmpty, "fixture must produce cross-batch candidates")
    // every old×old pair is excluded by construction
    assert(inc.forall { case (a, b) => a >= cut || b >= cut })
  }

  test("edit-distance verify: exact distances, banded -1 beyond maxDist") {
    import spark.implicits._
    val d = docs(
      1L -> "kitten sat here",
      2L -> "sitten sat here",   // distance 1
      3L -> "kitten sat hers",   // distance 1 from doc 1
      4L -> "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz") // far from all
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("doc_id_a", "doc_id_b")
    val out = Dedup.editDistanceVerify(d, cands, prefixLen = 120, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(4))).toMap
    assert(out((1L, 2L))._1 === 1L)
    assert(out((1L, 3L))._1 === 1L)
    assert(out((2L, 3L))._1 === 2L)
    // beyond the band: distance AND similarity report -1, not garbage
    assert(out((1L, 4L)) === (-1L, -1L))
    // sim_s for distance 1 over max_len 15: floor((1-1/15)*1e6)
    assert(out((1L, 2L))._2 === 933333L)
  }

  test("incremental LSH: a re-ingested doc counts once toward the cap, pairs as new") {
    // overlap fixture: docs 25-29 are in BOTH the history band table and
    // the new batch (re-ingest before the history refresh landed). The
    // union dedupe must collapse their band rows so bucket-cap counts
    // equal a full recompute's, and the overlap docs still pair as new.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val history = docs.where(col("doc_id") < 30)
    val batch = docs.where(col("doc_id") >= 25)
    val full = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.minhashCandidatesIncremental(
        Dedup.minhashBands(batch), Dedup.minhashBands(history))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected: every full-recompute pair with at least one endpoint in
    // the batch (is_new wins for the re-ingested overlap docs)
    val expected = full.filterNot { case (a, b) => a < 25 && b < 25 }
    assert(inc === expected)
    assert(inc.nonEmpty, "fixture must produce cross-batch candidates")
  }

  test("repeatedSpans merges sliding 3-gram hits into maximal islands") {
    // "a b c d" appears in 4 docs (twice in doc 1), so its two 3-grams
    // reach the corpus count threshold; every other 3-gram is unique
    val d = docs(
      1L -> "a b c d x y z q a b c d", // hits at 0-2,1-3 and 8-10,9-11
      2L -> "a b c d k k2 k3",         // hits at 0-2,1-3
      3L -> "p a b c d r rr",          // hits at 1-3,2-4
      4L -> "m mm a b c d")            // hits at 2-4,3-5
    val out = Dedup.repeatedSpans(d, n = 3, minCount = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // overlapping hits merge; the two doc-1 occurrences are separated by
    // unique tokens and stay distinct spans
    assert(out === Set(
      (1L, 0L, 3L, 4L), (1L, 8L, 11L, 4L),
      (2L, 0L, 3L, 4L),
      (3L, 1L, 4L, 4L),
      (4L, 2L, 5L, 4L)))
    // the removal face cuts exactly those regions, survivors in order
    val cleaned = Dedup.removeRepeatedSpans(d, n = 3, minCount = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(cleaned === Map(
      1L -> (("x y z q", 12L, 8L)),
      2L -> (("k k2 k3", 7L, 4L)),
      3L -> (("p r rr", 7L, 4L)),
      4L -> (("m mm", 6L, 4L))))
  }

  test("prefix-filter join finds near-dups, skips unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.prefixFilterNearDups(d, tNum = 3, tDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("prefix-filter join is EXACT: equals brute-force all-pairs at the threshold") {
    // the operator's defining contract — zero false negatives (unlike
    // MinHash banding): on the real corpus the prefix-filtered result
    // must equal the full quadratic join filtered at the same rational
    // threshold, decided by the same integer cross-multiplication
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = d.select(col("doc_id"))
    val allPairs = ids.select(col("doc_id").as("doc_id_a"))
      .join(ids.select(col("doc_id").as("doc_id_b")),
        col("doc_id_a") < col("doc_id_b"))
    val brute = Dedup.ngramJaccard(d, allPairs)
      .where(col("n_common") * 10 >= col("n_union") * 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pf = Dedup.prefixFilterNearDups(d, tNum = 3, tDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must contain pairs above the threshold")
    assert(pf === brute)
  }

  test("fuzzyContamination: near-match flags, unrelated passes, every doc reported") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val corpus = Seq(
      (2L, base + " with one extra clause appended"), // near-dup of the probe
      (4L, "entirely different content about spark catalyst optimizer internals and plans"),
      (6L, "")).toDF("doc_id", "text") // empty text: no shingles, must still report
    val probes = Seq((1L, base)).toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .fuzzyContamination(corpus, probes, k = 16, bands = 16)
      .as[(Long, Boolean)].collect().toMap
    assert(got.keySet === Set(2L, 4L, 6L), "every corpus doc must be reported")
    assert(got(2L), "near-duplicate of the probe must flag")
    assert(!got(4L), "unrelated doc must pass")
    assert(!got(6L), "shingle-less doc must pass, not crash")
  }

  test("ngramContainment: a quoted subset scores ~1 on its side, low Jaccard") {
    import spark.implicits._
    val tweet = "one two three four five six"
    val article = s"intro words here $tweet closing remarks follow after that end"
    val d = Seq((1L, tweet), (2L, article)).toDF("doc_id", "text")
    val cands = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val r = Dedup.ngramContainment(d, cands).collect().head
    val (nCommon, nA, nB) = (r.getLong(2), r.getLong(3), r.getLong(4))
    // every tweet shingle appears in the article: containment_a = 1.0
    assert(r.getLong(5) === 1000000L, s"tweet side must be fully contained: $r")
    assert(r.getLong(6) === nCommon * 1000000L / nB)
    // while symmetric Jaccard is small (union is article-sized)
    assert(nCommon.toDouble / (nA + nB - nCommon) < 0.5)
    // empty shingle sets score null, not zero (and never crash)
    val short = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val rr = Dedup.ngramContainment(short, cands).collect().head
    assert(rr.isNullAt(5), "sub-k-gram doc has no containment")
  }

  test("propagateLabels: majority vote, min-label ties, clamped seeds, null unreached") {
    import spark.implicits._
    // graph: 1-2-3 chain; 4 tied between seeds 1(en) and 5(de); 6 isolated;
    // 7 is a MISLABELED-looking seed adjacent to two en seeds — must clamp
    val nodes = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L), (1L, 7L), (2L, 7L))
      .toDF("doc_id_a", "doc_id_b")
    val seeds = Seq((1L, "en"), (5L, "de"), (7L, "fr")).toDF("doc_id", "label")
    val got = Dedup.propagateLabels(nodes, pairs, seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got(1L) === Some("en"))
    assert(got(2L) === Some("en"), "direct neighbour adopts the seed label")
    assert(got(3L) === Some("en"), "round 2 reaches the chain end")
    assert(got(4L) === Some("de"), "en/de tie breaks to the MIN label")
    assert(got(6L) === None, "isolated node stays unlabeled")
    assert(got(7L) === Some("fr"), "seeds are clamped, never outvoted")
  }
}
