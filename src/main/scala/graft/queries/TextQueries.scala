package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, expr, lit, max, min, sum, when}

import graft.text.TextAnalysis

/** Text-analysis operator queries over the `documents` table, each with a
  * DuckDB oracle that mirrors the Catalyst expression exactly (same
  * polynomial hashes, same integer/fixed-point math — see TextAnalysis).
  */
object TextQueries {

  private val P = TextAnalysis.HashMod // 1000000007

  // DuckDB fragments mirroring TextAnalysis builders
  private val toks = "regexp_split_to_array(trim(text), '\\s+')"
  private def charHash(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(acc, c) -> (acc * 31 + c) % $P)"

  /** Per-token rolling hashes (TextAnalysis.tokenHashTable's `th`). */
  private val thSql = s"list_transform($toks, tk -> ${charHash("tk")})"

  /** Markup-wrapped document fixture for the HTML-extraction faces —
    * built identically in Spark (here) and DuckDB ([[htmlFixtureSql]]):
    * head with style + a script whose body contains <, >, && and a
    * quoted tag; a comment; entities incl. a double-escaped &amp;lt;;
    * numeric character references — decimal, hex (both cases), the
    * amp-chain case &#38;amp;, and the invalid forms that must pass
    * through literally (overflow, unterminated, surrogate, over-long)
    * (VERDICT r11 item 4); named references from the extended table
    * (typography, soft hyphen inside a word, accents, fractions) plus
    * an unknown and a wrong-case name that must stay literal; a CDATA
    * block whose content re-forms markup
    * (the ADVICE r11 divergence case — the oracle now protects it);
    * one real link per doc and an extra nav-style link on every third
    * (two link-density regimes).
    */
  private[graft] def htmlFixture: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, substring}
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), id, lit("</title>"),
      lit("<style type=\"text/css\">body { color: red; }</style>"),
      lit("<script>if (a < b && c > 0) { x = \"<p>\"; }</script></head>"),
      lit("<body><!-- header boilerplate --><h1>Doc &amp; "), id, lit("</h1><p>"),
      substring(col("text"), 1, 200),
      lit(" &nbsp;more &lt;tagged&gt; text &amp;lt;</p>"),
      lit("<p>It&#39;s caf&#233; n&#xE9;e &#X2014; &#38;amp; ok;"),
      lit(" bad: &#x110000; &#12 &#xD800; &#12345678;</p>"),
      lit("<p>named: &mdash;&hellip; co&shy;operate caf&eacute; &copy;"),
      lit(" 10&frac12;&deg; &unknown; &MDASH;</p>"),
      lit("<![CDATA[raw <cdata> & copy "), id, lit("]]>"),
      lit("<div><a href=\"/d?id="), id, lit("\">link "), id, lit("</a>"),
      when(col("doc_id") % 3 === 0,
        lit("<a class=\"nav\">nav nav nav</a>")).otherwise(lit("")),
      lit("</div></body></html>"))
  }

  /** The same fixture as a DuckDB expression over `documents`. */
  private val htmlFixtureSql: String =
    """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
      | || '<style type="text/css">body { color: red; }</style>'
      | || '<script>if (a < b && c > 0) { x = "<p>"; }</script></head>'
      | || '<body><!-- header boilerplate --><h1>Doc &amp; '
      | || CAST(doc_id AS VARCHAR) || '</h1><p>'
      | || substring(text, 1, 200)
      | || ' &nbsp;more &lt;tagged&gt; text &amp;lt;</p>'
      | || '<p>It&#39;s caf&#233; n&#xE9;e &#X2014; &#38;amp; ok;'
      | || ' bad: &#x110000; &#12 &#xD800; &#12345678;</p>'
      | || '<p>named: &mdash;&hellip; co&shy;operate caf&eacute; &copy;'
      | || ' 10&frac12;&deg; &unknown; &MDASH;</p>'
      | || '<![CDATA[raw <cdata> & copy ' || CAST(doc_id AS VARCHAR) || ']]>'
      | || '<div><a href="/d?id=' || CAST(doc_id AS VARCHAR) || '">link '
      | || CAST(doc_id AS VARCHAR) || '</a>'
      | || CASE WHEN doc_id % 3 = 0 THEN '<a class="nav">nav nav nav</a>'
      |         ELSE '' END
      | || '</div></body></html>'""".stripMargin.replace("\n", " ")

  /** Crawl-shaped fixture for the composed HTML-curation pipeline
    * (VERDICT r11 item 5): unlike [[htmlFixture]], the VISIBLE text
    * carries no doc_id (ids live in hrefs only), so identical source
    * texts extract to identical clean text and the downstream
    * exact-dedup stage operates on honest keys. Boilerplate chrome
    * (script, comment, nav links on every third doc) plus numeric and
    * named entities exercise the whole extractor in the composition.
    */
  private[graft] def htmlCrawlFixture: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.concat
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>page</title><script>nav(1 < 2);</script>"),
      lit("</head><body><!-- chrome -->"),
      lit("<p>"), col("text"),
      lit(" It&#39;s &#8212; r&eacute;sum&eacute;&hellip; done.</p>"),
      lit("<div><a href=\"/d?id="), id, lit("\">more</a>"),
      when(col("doc_id") % 3 === 0,
        lit("<a class=\"nav\">nav nav nav nav nav nav</a>")).otherwise(lit("")),
      lit("</div></body></html>"))
  }

  /** The same crawl fixture as a DuckDB expression. */
  private val htmlCrawlFixtureSql: String =
    """'<html><head><title>page</title><script>nav(1 < 2);</script>'
      | || '</head><body><!-- chrome -->'
      | || '<p>' || text
      | || ' It&#39;s &#8212; r&eacute;sum&eacute;&hellip; done.</p>'
      | || '<div><a href="/d?id=' || CAST(doc_id AS VARCHAR) || '">more</a>'
      | || CASE WHEN doc_id % 3 = 0
      |      THEN '<a class="nav">nav nav nav nav nav nav</a>' ELSE '' END
      | || '</div></body></html>'""".stripMargin.replace("\n", " ")

  /** Crawl-URL fixture for the canonicalization faces — four shapes
    * (mixed-case scheme/host + default port + tracking params +
    * fragment; non-default port kept; an ALREADY-canonical twin of
    * shape 0 so normalization creates real cross-doc dedup groups; a
    * no-path + default-https-port shape). Built identically in Spark
    * and DuckDB ([[urlFixtureSql]]).
    */
  private def urlFixture: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.concat
    val id25 = (col("doc_id") % 25).cast("string")
    // percent shapes (round 13): shape 0 spells its path with an
    // encoded unreserved octet (%41 = 'A') that must DECODE for the
    // shape-0/shape-2 collision to survive; shape 1 carries %7e → '~'
    // and a lowercase reserved escape %2f that must UPPERCASE, not
    // decode; shape 3 carries a double-encoding a%2541 that must stay
    when(col("doc_id") % 4 === 0,
        concat(lit("HTTP://WWW.Example.COM:80/%41rticles/"), id25,
          lit("?b=2&utm_source=feed&a=1#sec")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://cdn.Site.org:8443/p/%7e"), id25,
          lit("?z=9&y=1&utm_campaign=x&fbclid=abc&w=%2f")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("http://www.example.com/Articles/"), id25, lit("?a=1&b=2")))
      .otherwise(concat(lit("HTTPS://Example.COM:443?q="), id25,
        lit("&ref=tw&t=a%2541")))
  }

  private val urlFixtureSql: String =
    """CASE
      | WHEN doc_id % 4 = 0 THEN 'HTTP://WWW.Example.COM:80/%41rticles/'
      |   || CAST(doc_id % 25 AS VARCHAR) || '?b=2&utm_source=feed&a=1#sec'
      | WHEN doc_id % 4 = 1 THEN 'https://cdn.Site.org:8443/p/%7e'
      |   || CAST(doc_id % 25 AS VARCHAR) || '?z=9&y=1&utm_campaign=x&fbclid=abc&w=%2f'
      | WHEN doc_id % 4 = 2 THEN 'http://www.example.com/Articles/'
      |   || CAST(doc_id % 25 AS VARCHAR) || '?a=1&b=2'
      | ELSE 'HTTPS://Example.COM:443?q=' || CAST(doc_id % 25 AS VARCHAR)
      |   || '&ref=tw&t=a%2541'
      |END""".stripMargin.replace("\n", " ")

  /** UrlText.pctNormalize as a DuckDB expression over `e` (RFC 3986
    * §6.2.2, VERDICT r12 item 4): split on `%` — escapes never overlap
    * (hex digits are never `%`), so each piece after the first is one
    * `%` plus its tail, examined independently, EXACTLY the scanner's
    * left-to-right pass (a naive replace-chain would diverge on
    * pathological runs like `%%341`, where a decode fabricates a new
    * escape the scanner never re-examines). Unreserved octets decode,
    * others uppercase their hex; a `%` without two hex digits stays
    * literal. Applied only to absolute URLs — the non-absolute
    * passthrough contract covers the whole rewrite.
    */
  private def pctNormSql(e: String): String = {
    val hex = "'0123456789abcdefABCDEF'"
    val v = "((strpos('0123456789abcdef', lower(p[1])) - 1) * 16 " +
      "+ (strpos('0123456789abcdef', lower(p[2])) - 1))"
    val unreserved = s"($v BETWEEN 48 AND 57 OR $v BETWEEN 65 AND 90 " +
      s"OR $v BETWEEN 97 AND 122 OR $v IN (45, 46, 95, 126))"
    val piece = s"CASE WHEN length(p) >= 2 AND strpos($hex, p[1]) > 0 " +
      s"AND strpos($hex, p[2]) > 0 " +
      s"THEN (CASE WHEN $unreserved THEN chr(CAST($v AS INT)) " +
      s"ELSE '%' || upper(p[1] || p[2]) END) || substr(p, 3) " +
      s"ELSE '%' || p END"
    s"CASE WHEN NOT regexp_matches($e, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN $e " +
      s"ELSE array_to_string(list_concat([string_split($e, '%')[1]], " +
      s"list_transform(string_split($e, '%')[2:], p -> $piece)), '') END"
  }

  /** UrlText.normalize as a DuckDB expression over `e` — same rules,
    * same tracking-param list (generated from UrlText.trackingParams,
    * the single source of truth). The caller percent-normalizes with
    * [[pctNormSql]] in a prior CTE (the Scala side's first pass).
    * Non-ASCII query params are outside the oracle contract (Scala
    * sorts UTF-16 code units, DuckDB UTF-8 bytes — identical on
    * ASCII).
    */
  private def urlNormSql(e: String): String = {
    val track = graft.expressions.UrlText.trackingParams
      .map(t => s"'$t'").mkString("(", ", ", ")")
    val scheme = s"lower(regexp_extract($e, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val rest = s"regexp_replace($e, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    val auth0 = s"lower(regexp_extract($rest, '^([^/?#]*)', 1))"
    val auth = s"CASE WHEN $scheme = 'http' THEN regexp_replace($auth0, ':80$$', '') " +
      s"WHEN $scheme = 'https' THEN regexp_replace($auth0, ':443$$', '') " +
      s"ELSE $auth0 END"
    val nofrag = s"split_part(regexp_replace($rest, '^[^/?#]*', ''), '#', 1)"
    val path = s"CASE WHEN split_part($nofrag, '?', 1) = '' THEN '/' " +
      s"ELSE split_part($nofrag, '?', 1) END"
    val qs = s"coalesce(array_to_string(list_sort(list_filter(" +
      s"string_split(substr($nofrag, strpos($nofrag, '?') + 1), '&'), " +
      s"p -> p <> '' AND NOT starts_with(split_part(p, '=', 1), 'utm_') " +
      s"AND split_part(p, '=', 1) NOT IN $track)), '&'), '')"
    val query = s"CASE WHEN strpos($nofrag, '?') = 0 OR $qs = '' THEN '' " +
      s"ELSE '?' || $qs END"
    s"CASE WHEN NOT regexp_matches($e, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN $e " +
      s"ELSE $scheme || '://' || $auth || $path || $query END"
  }

  /** Character-reference grammar (strict; HtmlText.decodeEntities):
    * numeric decimal (1–7 digits) / hex (x|X + 1–6 digits), or a named
    * reference (letter + up to 30 alphanumerics) — `;`-terminated.
    */
  private val entityPat =
    """&(#x[0-9a-fA-F]{1,6}|#X[0-9a-fA-F]{1,6}|#[0-9]{1,7}|[a-zA-Z][a-zA-Z0-9]{0,30});"""

  /** Code point of an anchored numeric-ref payload `p` (`&#...;`):
    * hex digits fold through list_reduce, decimal casts directly —
    * both exact BIGINT, matching HtmlText.decodeEntities.
    */
  private val numCpSql: String =
    "CASE WHEN regexp_matches(p, '^&#[xX]') THEN " +
      "list_reduce(list_transform(str_split(lower(trim(p, '&#xX;')), ''), " +
      "d -> CAST(strpos('0123456789abcdef', d) AS BIGINT) - 1), " +
      "(a, b) -> a * 16 + b) " +
      "ELSE CAST(trim(p, '&#;') AS BIGINT) END"

  /** Named-reference lookup for an anchored payload `p` (`&name;`) —
    * one CASE arm per entry of HtmlText.namedEntities (the SINGLE
    * source of truth both engines decode from); NULL for unknown
    * names, which the caller coalesces back to the literal text.
    */
  private val namedCaseSql: String =
    graft.expressions.HtmlText.namedEntities.map { case (k, v) =>
      s"WHEN '$k' THEN '${v.replace("'", "''")}'"
    }.mkString("CASE trim(p, '&;') ", " ", " END")

  /** The HtmlText cleaning chain as DuckDB regexps (same semantics as
    * the scanner, see HtmlText Scaladoc): CDATA unwrap WITH content
    * protection → comment strip → script/style element removal →
    * generic tag → one space → CDATA restore → ONE character-reference
    * stage (numeric + named, invalid/unknown forms literal) → \s+
    * collapse → trim.
    *
    * CDATA protection (ADVICE r11): content is marker-wrapped by the
    * unwrap regexp, then `<`/`>` inside each content span are
    * placeholder-escaped (chr(3)/chr(4)) via a split-transform — a
    * regexp_replace cannot transform its captured group — so the later
    * comment/script/tag regexps cannot re-interpret markup that the
    * document-order scanner treats as inert text (`<![CDATA[<b>]]>`
    * yields literal `<b>`). The markers never collide: chr(29)/chr(30)
    * and the placeholders are reserved control characters (see HtmlText
    * doc).
    *
    * The reference stage reproduces the scanner's single
    * NON-RESCANNING pass exactly: one global regexp_replace
    * marker-isolates every grammar match (replacement text is never
    * re-matched — the same guarantee as the scanner's
    * emit-and-advance), and a per-piece CASE decodes numeric refs
    * (cp validity as in HtmlText) or looks the name up in the
    * generated [[namedCaseSql]] — so `&amp;lt;` is `&lt;` and
    * `&#38;amp;` is `&amp;` in BOTH engines with no placeholder
    * dance. Any piece fully matching the anchored grammar IS a
    * wrapped reference (the global replace wrapped every match, and
    * non-overlapping leftmost matching leaves no full match inside a
    * gap), so no positional bookkeeping is needed.
    */
  private def htmlCleanSql(e: String, blockMarks: Boolean = false,
      linkOnly: Boolean = false): String = {
    val cdataProtected =
      raw"""array_to_string(list_transform(str_split(regexp_replace($e,
         |  '(?s)<!\[CDATA\[(.*?)\]\]>', chr(29) || '\1' || chr(30), 'g'),
         |  chr(29)),
         |  p -> CASE WHEN strpos(p, chr(30)) > 0
         |    THEN replace(replace(split_part(p, chr(30), 1), '<', chr(3)),
         |      '>', chr(4)) || substr(p, strpos(p, chr(30)) + 1)
         |    ELSE p END), '')""".stripMargin
    // block stage (HtmlBlockText only): block-level tags — the same
    // name list the scanner consults (HtmlText.blockTags, single
    // source of truth) with the same boundary (`>`, whitespace-led
    // attrs, or exactly `/>`) — become the U+001C separator BEFORE the
    // generic stage turns everything else into spaces
    val elementStripped =
      raw"""regexp_replace(
         |  regexp_replace(
         |    regexp_replace($cdataProtected,
         |      '(?s)<!--.*?-->', ' ', 'g'),
         |    '(?is)<script(\s[^>]*)?>.*?</script\s*>', ' ', 'g'),
         |  '(?is)<style(\s[^>]*)?>.*?</style\s*>', ' ', 'g')""".stripMargin
    val blockMarked =
      if (!blockMarks) elementStripped
      else {
        val names = graft.expressions.HtmlText.blockTags.mkString("|")
        raw"""regexp_replace($elementStripped,
           |  '(?is)</?($names)(\s[^>]*)?/?>', chr(28), 'g')""".stripMargin
      }
    // link-only stage (HtmlBlockLinkText): keep <a> element contents
    // (markers included) and reduce everything OUTSIDE links to just
    // its chr(28) markers — the scanner's link stream receives block
    // markers unconditionally but visible text only while inLink, so
    // both framed strings carry the SAME marker count and block i of
    // this string is block i's link mass. The <a> spans are protected
    // with chr(5)/chr(6) (reserved like chr(3)/chr(4)); the
    // markers-only reduction is repeat(chr(28), count) — occurrence
    // order is trivially preserved for a single repeated character.
    val linkFramed =
      if (!linkOnly) blockMarked
      else {
        def markersOnly(x: String) =
          s"repeat(chr(28), length($x) - length(replace($x, chr(28), '')))"
        val aProtected =
          raw"""regexp_replace($blockMarked,
             |  '(?is)<a(\s[^>]*)?>(.*?)</a\s*>', chr(5) || '\2' || chr(6), 'g')""".stripMargin
        s"array_to_string(list_transform(str_split($aProtected, chr(5)), " +
          s"p -> CASE WHEN strpos(p, chr(6)) > 0 " +
          s"THEN split_part(p, chr(6), 1) || " +
          s"${markersOnly("substr(p, strpos(p, chr(6)) + 1)")} " +
          s"ELSE ${markersOnly("p")} END), '')"
      }
    val tagStripped = s"regexp_replace($linkFramed, '<[^>]*>', ' ', 'g')"
    val cdataRestored = s"replace(replace($tagStripped, chr(3), '<'), chr(4), '>')"
    val entityDecoded =
      s"""array_to_string(list_transform(str_split(regexp_replace($cdataRestored,
         |  '$entityPat', chr(31) || '&' || '\\1' || ';' || chr(31), 'g'),
         |  chr(31)),
         |  p -> CASE WHEN NOT regexp_matches(p, '^$entityPat$$') THEN p
         |    WHEN substr(p, 2, 1) = '#' THEN (CASE
         |      WHEN NOT (($numCpSql) IN (9, 10, 13)
         |          OR (($numCpSql) >= 32 AND ($numCpSql) <= 1114111))
         |        OR (($numCpSql) >= 55296 AND ($numCpSql) <= 57343) THEN p
         |      ELSE chr(CAST(($numCpSql) AS INT)) END)
         |    ELSE coalesce($namedCaseSql, p) END), '')""".stripMargin
    raw"""trim(regexp_replace($entityDecoded, '\s+', ' ', 'g'))"""
      .replace("\n", " ")
  }

  /** Link text: concatenated <a> element contents, then the same
    * cleaning chain (inner tags → space, entities, ws collapse).
    */
  private def htmlLinkSql(e: String): String =
    htmlCleanSql(
      s"array_to_string(regexp_extract_all($e, " +
        """'(?is)<a(\s[^>]*)?>(.*?)</a\s*>', 2), '')""")

  /** 3-round BPE training per (session, dir): the trained tokenizer is
    * one shared artifact read by three query faces. The final state is
    * localCheckpointed by the trainer, so there is nothing to unpersist.
    */
  private[queries] val trainedBpe = QueryCaches.value("text.bpe")((s, dir) =>
    graft.text.Bpe.train(Tables(s, dir, "documents"), rounds = 3))

  /** ONE Scala value feeds the Spark featurizer and the oracle's mod.
    * 64 buckets: measured on the fixture, 16 buckets collision-wash the
    * lang signal to AUC 0.53; 64 reaches 0.61 (256 only 0.63) — and 64
    * matches the embedding width, so the text head is the same shape as
    * the embeddings head.
    */
  private[queries] val TextFeatDims = 64

  private def labeledTextFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.ml.Features.hashedFeatures(docs, TextFeatDims)
      .join(docs.select(col("doc_id").as("vec_id"),
        (col("lang") === "en").cast("long").as("y")), "vec_id")
  }

  /** fastText-style TEXT head: hashing-trick token-count features
    * (graft.ml.Features) labeled lang=='en', fit with the 3-iteration
    * fixed-point GD of graft.ml.Training — ONE shared fit behind the
    * q_ml_text_train/_eval faces (fit once, measure the same head, the
    * SimilarityQueries.trainedHead pattern).
    */
  private[queries] val trainedTextHead = QueryCaches.value("text.text_head")((s, dir) =>
    graft.ml.Training.trainLogisticWeights(labeledTextFeatures(s, dir), "y", iters = 3))

  /** First-seen shingle history (doc_id < 250) — the carried artifact
    * of the incremental novelty face, the historyBands pattern: in
    * production yesterday's first-seen table is persisted and only the
    * new drop is shingled on the clock.
    */
  private[queries] val noveltyHistory = QueryCaches.frame("text.novelty_history")(
    (s, dir) => TextAnalysis.firstSeenShingles(
      Tables(s, dir, "documents").where(col("doc_id") < 250)))

  /** Winnow-fingerprint history (doc_id < 250) — the carried artifact
    * of the incremental winnow face.
    */
  private[queries] val winnowHistory = QueryCaches.frame("text.winnow_history")(
    (s, dir) => TextAnalysis.winnowFingerprints(
      Tables(s, dir, "documents").where(col("doc_id") < 250)))

  /** Scored corpus (vec_id, p_s, pred, y) under the memoized text head
    * — the shared input of the eval/AUC/sweep text faces.
    */
  private def textScored(s: SparkSession, dir: String): DataFrame = {
    val labeled = labeledTextFeatures(s, dir)
    graft.ml.Training.logisticPredict(labeled, trainedTextHead(s, dir))
      .join(labeled.select(col("vec_id"), col("y")), "vec_id")
  }

  /** ONE Scala value feeds the sweep face and its oracle's unnest list. */
  private val textSweepThresholds: Seq[Long] = (0 to 10).map(_ * 100000L)

  /** ONE Scala value feeds the conformal face and its oracle. */
  private val conformalAlphas: Seq[Long] = Seq(50000L, 100000L, 200000L)

  /** ONE Scala value feeds the stump face and its oracle. */
  private val stumpThresholds: Seq[Long] = Seq(1L, 2L, 4L, 8L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // hashing-trick featurizer: nonzero hashed token-bucket counts per
    // document — the COO face of graft.ml.Features.hashedFeatures (the
    // dense array form is nested-typed and thus not registrable)
    "q_ml_text_features" -> ((s, dir) =>
      graft.ml.Features.hashedFeaturesSparse(
        Tables(s, dir, "documents"), TextFeatDims)),

    // fastText-style text classifier fit: the logistic head trained on
    // hashed token counts to predict lang=='en' — (dim, w_s), the
    // raw-text twin of q_ml_logistic_train (which fits on embeddings)
    "q_ml_text_train" -> ((s, dir) => {
      import s.implicits._
      trainedTextHead(s, dir).toIndexedSeq.zipWithIndex
        .map { case (wv, d) => (d.toLong, wv) }.toDF("dim", "w_s")
    }),

    // the trained text head applied back to its corpus: confusion-matrix
    // counts — the quality gate before using the head as a corpus filter
    "q_ml_text_eval" -> ((s, dir) => {
      val labeled = labeledTextFeatures(s, dir)
      graft.ml.Training.logisticPredict(labeled, trainedTextHead(s, dir))
        .join(labeled.select(col("vec_id"), col("y")), "vec_id")
        .groupBy("y", "pred").agg(count(lit(1)).as("n_rows"))
    }),

    // exact ROC-AUC of the text head: does the hashed-count fit RANK
    // en above non-en even where the 0.5 threshold is miscalibrated
    "q_ml_text_auc" -> ((s, dir) =>
      graft.ml.Evaluation.aucExact(textScored(s, dir), "y", "p_s")),

    // the same AUC PER SOURCE slice: the eval-robustness/fairness face
    // ("does the head rank every source as well as the corpus")
    "q_ml_text_auc_by_source" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ml.Evaluation.aucExactBy(
        textScored(s, dir).join(
          docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id"),
        "y", "p_s", Seq("source"))
    }),

    // operating-point sweep of the text head: where to set the filter
    // threshold given the miscalibrated 0.5 default
    "q_ml_text_sweep" -> ((s, dir) =>
      graft.ml.Evaluation.thresholdSweep(textScored(s, dir), "y", "p_s",
        textSweepThresholds)),

    // exact decision stump over the hashed features: which ONE (dim,
    // count-cut) separates en/non-en best under the fixed-point purity
    // score — the interpretable one-split baseline and boosting's weak
    // learner; absent features are right-side by construction, so the
    // dense matrix never materializes
    "q_ml_stump" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ml.Stump.fit(
        graft.ml.Features.hashedFeaturesSparse(docs, TextFeatDims),
        docs.select(col("doc_id"), (col("lang") === "en").cast("long").as("y")),
        stumpThresholds)
    }),

    // expected calibration error of the text head: the one-number
    // reliability summary (per-bin |n_pos·1e6 − Σscore| — no per-bin
    // division, one floor division by N at the end)
    "q_ml_ece" -> ((s, dir) =>
      graft.ml.Evaluation.expectedCalibrationError(
        textScored(s, dir), "y", "p_s")),

    // confident-learning label-noise audit of the text head's corpus:
    // examples whose score clears the OTHER class's mean threshold are
    // suspected mislabeled — the off-diagonal counts of CL's confident
    // joint, deciding whether a relabel pass is worth buying
    "q_ml_label_noise" -> ((s, dir) =>
      graft.ml.Evaluation.labelNoiseCounts(textScored(s, dir), "y", "p_s")),

    // pairwise Jensen–Shannon divergence between the languages' unigram
    // distributions: the bounded symmetric corpus-drift scale (KL is
    // infinite on any word one side lacks; the mixture midpoint never
    // is). Exact-integer log ratios floored before the weighted sums
    "q_text_js_divergence" -> ((s, dir) =>
      TextAnalysis.jsDivergence(Tables(s, dir, "documents"))),

    // split-conformal keep-threshold calibration of the text head:
    // even-half true positives calibrate the nonconformity cut that
    // keeps ≥ 1−α of good documents, odd half measures the empirical
    // coverage — the guarantee the raw sigmoid can't give
    "q_ml_conformal" -> ((s, dir) => {
      val pos = textScored(s, dir).where(col("y") === 1)
        .select(col("vec_id"), (lit(1000000L) - col("p_s")).as("q_s"))
      graft.ml.Conformal.thresholds(
        pos.where(col("vec_id") % 2 === 0),
        pos.where(col("vec_id") % 2 === 1),
        conformalAlphas)
    }),

    // χ² feature selection over the hashed buckets: which dims carry
    // the lang signal at all — the pre-fit audit of the hashing trick
    // (collision-washed buckets rank at the bottom). Exact rational,
    // floor-scaled ×10
    "q_ml_chi2" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ml.FeatureSelection.chi2(
        graft.ml.Features.hashedFeaturesSparse(docs, TextFeatDims),
        docs.select(col("doc_id"), (col("lang") === "en").cast("long").as("y")))
    }),

    // multinomial naive Bayes fit on the even-doc_id half: the
    // zero-iteration count-based baseline head — per-dim class counts
    // and add-one-smoothed log-likelihoods (floor-scaled, the
    // perplexityScore ln contract)
    "q_ml_nb_model" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ml.NaiveBayes.train(
        graft.ml.Features.hashedFeaturesSparse(docs, TextFeatDims),
        docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("y")),
        TextFeatDims)
    }),

    // the NB head scored on the held-out odd half: confusion counts —
    // the baseline the GD head (q_ml_text_eval) must beat to justify
    // its iterations
    "q_ml_nb_eval" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val feats = graft.ml.Features.hashedFeaturesSparse(docs, TextFeatDims)
      val lab = docs.select(col("doc_id"),
        (col("lang") === "en").cast("long").as("y"))
      val trainLab = lab.where(col("doc_id") % 2 === 0)
      val model = graft.ml.NaiveBayes.train(feats, trainLab, TextFeatDims)
      graft.ml.NaiveBayes.predict(
          feats.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 1),
          model, trainLab)
        .join(lab, "doc_id")
        .groupBy("y", "pred").agg(count(lit(1)).as("n_rows"))
    }),

    // SOFT quality filter composition: accept each document with
    // probability equal to its classifier score (salted-hash bucket <
    // p_s/1000 — the deterministic coin the sampling family uses
    // everywhere), then per-language survivor stats. The
    // score-proportional alternative to a hard threshold: borderline
    // documents thin out instead of cliffing, exactly what the
    // calibration face certifies the scores for
    "q_pipeline_soft_filter" -> ((s, dir) => {
      val a = TextAnalysis.hashA(13)
      val b = TextAnalysis.hashB(13)
      val P = TextAnalysis.HashMod
      val accepted = textScored(s, dir)
        .where(((col("vec_id") % P) * a + b) % P % 1000 <
          graft.ml.Training.floorDivP(col("p_s"), lit(1000L)))
      Tables(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
        .join(accepted, "vec_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_accepted"),
          sum(col("p_s")).as("sum_p_s"),
          sum(col("y")).as("n_pos"))
    }),

    // winnowing (MOSS) fingerprint selection: per-window min k-gram
    // hash — the ~1/w document sketch with the shared-run guarantee
    "q_text_winnow" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables(s, dir, "documents"))),

    // content-defined chunking audit: per-document chunk count/size
    // stats plus how many chunks are shared with ANOTHER document
    // (df > 1 on the chunk content hash) — the dedupable-bytes estimate
    // a chunk-level store would realize
    "q_text_cdc_chunks" -> ((s, dir) => {
      val ch = TextAnalysis.cdcChunks(Tables(s, dir, "documents"))
      val dfs = ch.groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("df"))
      ch.join(dfs, "chunk_hash")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_grams")).as("n_grams"),
          max(col("n_grams")).as("max_chunk"),
          sum((col("df") > 1).cast("long")).as("n_dup_chunks"))
    }),

    // near-copy candidate pairs by shared winnow fingerprints (df-cut
    // against boilerplate fingerprint fanout)
    "q_text_winnow_pairs" -> ((s, dir) =>
      TextAnalysis.winnowCandidates(Tables(s, dir, "documents"))),

    // the daily-drop face: only the new batch (doc_id >= 250) winnows;
    // its fingerprints pair against the carried history fingerprint
    // table — equals the full pairs restricted to pairs touching new
    "q_text_winnow_inc" -> ((s, dir) =>
      TextAnalysis.winnowCandidatesIncremental(
        TextAnalysis.winnowFingerprints(
          Tables(s, dir, "documents").where(col("doc_id") >= 250)),
        winnowHistory(s, dir))),

    // cross-source shingle-set Jaccard matrix: the mixing diagnostic
    "q_text_source_overlap" -> ((s, dir) =>
      TextAnalysis.sourceOverlap(Tables(s, dir, "documents"))),

    // Zipf rank-frequency OLS per language on the exact integer
    // floor-log2 grid — natural text slopes toward -1
    "q_text_zipf" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables(s, dir, "documents"))),

    // Heaps-law vocabulary growth at power-of-two prefix checkpoints:
    // the continue-crawling diminishing-returns curve
    "q_text_heaps" -> ((s, dir) =>
      TextAnalysis.heapsCurve(Tables(s, dir, "documents"))),

    // exact phrase retrieval over the positional index: anchor
    // normalization (pos − offset votes for a start; all-offsets
    // starts are occurrences). Fixture phrases include a repeated
    // token ("table table") — the per-start count-equals-arity trick
    // must not double-count it
    "q_text_phrase_search" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.phraseSearch(Tables(s, dir, "documents"),
        phraseFixtures.toDF("query_id", "phrase"))
    }),

    // PMI collocation mining: bigrams beating the independence rate
    // (the word2vec-phrases detector), support floor 5 kills 1-count
    // noise; ln shaped identically to the twin (divide-before-multiply)
    "q_text_pmi" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(Tables(s, dir, "documents"), minCount = 5L)),

    // CCNet-style filter signal: every document's cross-entropy under
    // the bigram LM of the trusted en slice (a doc cannot vote for its
    // own n-grams)
    "q_text_cross_perplexity" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.crossPerplexity(docs, docs.where(col("lang") === "en"))
    }),

    // CCNet-complete composition: cross-perplexity under the trusted
    // en LM → exact per-language 75th-percentile cut (value-histogram
    // order statistic: smallest value with 4·cum ≥ 3·n — histogram-
    // sized windows partitioned per language, never a per-row global
    // rank) → per-language survivor counts. Languages the trusted LM
    // explains poorly keep fewer documents — the CCNet head/tail split.
    "q_pipeline_ppl_filter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val cp = TextAnalysis.crossPerplexity(docs, docs.where(col("lang") === "en"))
      val scored = cp.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("lang"), col("doc_id"),
          expr("sum_nll_s DIV n_bigrams").as("nll_s"))
      val hist = scored.groupBy(col("lang"), col("nll_s"))
        .agg(count(lit(1)).as("cnt"))
      val cuts = hist
        .withColumn("cum",
          sum(col("cnt")).over(Window.partitionBy("lang").orderBy("nll_s")))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
        .groupBy(col("lang"))
        .agg(min(when(col("cum") * 4 >= col("n") * 3, col("nll_s")))
          .as("cut_nll_s"))
      scored.join(cuts, Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nll_s") <= col("cut_nll_s"), 1L).otherwise(0L))
            .as("n_kept"),
          max(col("cut_nll_s")).as("cut_nll_s"))
    }),

    // per-document k-gram novelty vs earlier doc_ids: the freshness
    // weight and crawl-growth diagnostic
    "q_text_novelty" -> ((s, dir) =>
      TextAnalysis.noveltyScores(Tables(s, dir, "documents"))),

    // the daily-drop face: the new batch (doc_id >= 250) scored against
    // the carried first-seen history — equals full-corpus novelty of
    // the batch rows exactly, without re-shingling history
    "q_text_novelty_inc" -> ((s, dir) =>
      TextAnalysis.noveltyIncremental(
        Tables(s, dir, "documents").where(col("doc_id") >= 250),
        noveltyHistory(s, dir))),

    "q_text_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables(s, dir, "documents"))),

    // distributed BPE tokenizer training, 3 rounds: the learned merge
    // table (winning adjacent pair per round + minted symbol). All
    // three BPE faces read ONE memoized training run per (session,
    // dir) — the same shared-stage pattern as the domain chains (a
    // trained tokenizer is one artifact with several read faces, not
    // three trainings)
    "q_text_bpe_merges" -> ((s, dir) =>
      graft.text.Bpe.mergesToDf(s, trainedBpe(s, dir)._1)),

    // the corpus segmented by those 3 merges, exploded (doc_id, pos,
    // sym) for exact comparison — greedy leftmost apply semantics
    "q_text_bpe_apply" -> ((s, dir) =>
      graft.text.Bpe.explodeState(trainedBpe(s, dir)._2)),

    // the FROZEN-tokenizer inference face: re-tokenize the corpus
    // through the public applyLearned API (map-only, no checkpoints,
    // streaming-safe; delegates to the native kernel — the fold chain
    // is a spec-only parity witness) — must reproduce training's own
    // segmentation exactly, so it shares the apply oracle
    "q_text_bpe_frozen" -> ((s, dir) =>
      graft.text.Bpe.applyLearned(Tables(s, dir, "documents"),
        trainedBpe(s, dir)._1)),

    // the NATIVE-expression frozen face (expressions.BpeApplyExpr):
    // whole merge table in one codegen'd kernel — the form that
    // carries a real vocabulary; same oracle as training's output
    "q_text_bpe_native" -> ((s, dir) =>
      graft.text.Bpe.applyLearnedNative(Tables(s, dir, "documents"),
        trainedBpe(s, dir)._1)),

    // tokenizer-eval metric: per language, BPE symbols emitted per
    // whitespace token (fixed-point) — here merges COMPRESS, so the
    // ratio is the compression the learned table buys per language;
    // a language the tokenizer serves badly shows a ratio near 1
    "q_text_bpe_fertility" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val syms = graft.text.Bpe.applyLearned(docs, trainedBpe(s, dir)._1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_syms"))
      docs.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_toks"))
        .join(syms, "doc_id")
        .groupBy("lang")
        .agg(sum("n_toks").as("sum_tokens"), sum("n_syms").as("sum_syms"))
        .withColumn("fertility_s",
          expr("sum_syms * 1000000 DIV sum_tokens"))
    }),

    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables(s, dir, "documents"))),

    // Gopher-style hard rule filters with per-rule audit flags;
    // thresholds chosen so every rule genuinely discriminates on the
    // fixture (word count min 10 / median 56, mean len 370-530,
    // stopword hits min 0, long-word pct 80-100). Integer metrics →
    // hash-exact.
    "q_text_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables(s, dir, "documents"),
        minWords = 25L, maxWords = 100000L,
        minMeanX100 = 400L, maxMeanX100 = 500L,
        minStop = 2L, minLongPct = 90L)),

    "q_text_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables(s, dir, "documents"))),

    // Cohen's kappa between the langid heuristic and the gold lang
    // labels: chance-corrected agreement in one number — the honest
    // summary of the confusion matrix q_text_langid_eval emits (raw
    // accuracy flatters any rater on a skewed label mix). Integer
    // until one pmod-subtract floor division; hash-exact.
    "q_ml_kappa" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      graft.ml.Evaluation.cohensKappa(
        d.select(col("doc_id"), col("lang"))
          .join(TextAnalysis.langId(d).select(col("doc_id"), col("pred_lang")),
            Seq("doc_id")),
        "lang", "pred_lang")
    }),

    // cross-family curation report — one row per (lang, source): doc
    // count, exact-dedup survivors, embedding outliers (embeddings
    // joined by id, left so coverage gaps don't drop docs), and the
    // fixed-point quality mass. The "data card" a corpus owner reads
    // before a training run; composes text × dedup × similarity
    // operators, each separately oracle-checked elsewhere.
    "q_curation_report" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val quality = TextAnalysis.qualityScore(docs)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.floor(
            col("quality_score") * 1000000.0).cast("long").as("q_s"))
      val kept = graft.dedup.Dedup.exact(docs).select(col("doc_id"), col("is_kept"))
      val outl = graft.similarity.Similarity
        .centroidOutliers(Tables(s, dir, "embeddings"), "label", minCosine = 0.0)
        .select(col("vec_id").as("doc_id"), col("is_outlier"))
      docs.select("doc_id", "lang", "source")
        .join(quality, Seq("doc_id"))
        .join(kept, Seq("doc_id"))
        .join(outl, Seq("doc_id"), "left")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          count(org.apache.spark.sql.functions.when(col("is_kept"), 1)).as("n_kept"),
          count(org.apache.spark.sql.functions.when(col("is_outlier"), 1)).as("n_outliers"),
          org.apache.spark.sql.functions.sum(col("q_s")).as("sum_quality_s"))
    }),

    // language-ID evaluation: confusion matrix of the detector's
    // prediction against the stored lang column — the accuracy face a
    // curation pipeline reads before trusting the detector as a filter
    "q_text_langid_eval" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.langId(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
    }),

    "q_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables(s, dir, "documents"))),

    // PII redaction over a face decorated with one of each PII shape
    // (the synthetic corpus is clean): the oracle must produce the
    // identical token-substituted text, and the residual scan counts
    // must be zero
    "q_text_redact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val decorated = Tables(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 60),
          lit(" a.b@test.org or +1 (415) 555-0199 via http://ex.com/p?q=1 from 10.0.0.1"))
          .as("text"))
      val red = TextAnalysis.redactPii(decorated)
      TextAnalysis.piiScan(red)
        .join(red, Seq("doc_id"))
        .select(col("doc_id"), col("text").as("text_redacted"),
          (col("n_emails") + col("n_phones") + col("n_urls") + col("n_ipv4"))
            .as("n_residual_pii"))
    }),

    // approximate heavy-hitter tokens (native frequent-items sketch
    // aggregate) — rows-only: sketch estimates depend on eviction
    // order, so the contract (no false negatives, bracketed counts) is
    // SketchSpec-asserted rather than oracle-hashed
    "q_sketch_heavy_hitters" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val toks = Tables(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      graft.sketch.Sketches.topItems(toks, "tok", maxMapSize = 1024)
    }),

    // incremental distinct counting: per-(lang, source-shard) HLL
    // sketches persist as bytes; the union face answers per-lang
    // distinct tokens without rescanning — rows-only (DataSketches
    // internals have no DuckDB twin); SketchSpec asserts union ==
    // single-pass estimate EXACTLY plus the rsd bound vs exact
    "q_sketch_distinct_union" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val toks = Tables(s, dir, "documents")
        .select(col("lang"), col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      // batch = source: each (lang, source) sketch is what a daily
      // ingest would materialize; the union collapses them per lang
      val perBatch = toks.withColumn("g", concat_ws("|", col("lang"), col("source")))
      val sketches = graft.sketch.Sketches.distinctSketches(perBatch, "g", "tok")
        .withColumn("lang", split(col("g"), "\\|").getItem(0))
      graft.sketch.Sketches.unionDistinctEstimate(
        sketches.select(col("lang"), col("sketch"), col("n_rows")), "lang")
        .orderBy(col("lang"))
    }),

    // incremental quantiles: per-(lang, source) KLL sketches persist
    // as bytes; the union face answers per-lang length quantiles
    // without rescanning — rows-only (randomized compaction has no
    // DuckDB twin); SketchSpec asserts the rank-error bound vs exact
    "q_sketch_quantile_union" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables(s, dir, "documents")
        .withColumn("g", concat_ws("|", col("lang"), col("source")))
      val sketches = graft.sketch.Sketches.quantileSketches(docs, "g", "n_chars")
        .withColumn("lang", split(col("g"), "\\|").getItem(0))
      // the engine face returns `quantiles array<double>`; the QUERY
      // face must flatten to scalar rank columns — the driver's
      // rows-only canonicalizer sorts output columns with pandas and
      // cannot hash array cells (ContractSpec lints this for every
      // registered query)
      graft.sketch.Sketches.unionQuantileEstimate(
          sketches.select(col("lang"), col("sketch"), col("n_rows")), "lang",
          ranks = Seq(0.25, 0.5, 0.9))
        .select(col("lang"),
          element_at(col("quantiles"), 1).as("q25"),
          element_at(col("quantiles"), 2).as("q50"),
          element_at(col("quantiles"), 3).as("q90"),
          col("n_rows"))
        .orderBy(col("lang"))
    }),

    // theta-sketch set algebra (the operation HLL cannot express):
    // per-priority customer sketches for two half-corpus batches —
    // early years vs late — then union / INTERSECTION / A-NOT-B
    // estimates. Oracle-hashed EXACTLY: below the 2^12 nominal-entries
    // threshold a theta sketch is in exact mode and every estimate is
    // the exact integer (sf0.01 has ≤1500 customers per slice; ThetaSpec
    // separately asserts the estimation-mode error bound past the
    // threshold, where the oracle would no longer apply)
    "q_sketch_theta_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.expressions.ThetaAgg
      val k = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          when(year(col("o_orderdate")) <= 1997, "a").otherwise("b").as("batch"),
          col("o_custkey").as("key"))
      val sk = graft.sketch.Sketches.thetaSketches(k, Seq("g", "batch"), "key")
      val a = sk.where(col("batch") === "a")
        .select(col("g"), col("sketch").as("sk_a"))
      val b = sk.where(col("batch") === "b")
        .select(col("g"), col("sketch").as("sk_b"))
      val uni = graft.sketch.Sketches.thetaUnionEstimate(
          sk.select("g", "sketch", "n_rows"), "g")
        .select(col("g"), col("distinct_est").as("n_union"))
      val both = graft.sketch.Sketches.thetaIntersectEstimate(
          sk.select("g", "sketch", "n_rows"), "g")
        .select(col("g"), col("overlap_est").as("n_both"))
      a.join(b, Seq("g")).join(uni, Seq("g")).join(both, Seq("g"))
        .select(col("g"),
          ThetaAgg.estimate(col("sk_a")).as("n_early"),
          ThetaAgg.estimate(col("sk_b")).as("n_late"),
          col("n_union"), col("n_both"),
          ThetaAgg.estimate(ThetaAgg.aNotB(col("sk_a"), col("sk_b")))
            .as("n_churned"))
    }),

    // count-min inner-product join-size estimation: |lineitem ⋈
    // σ(part)| predicted from two persisted sketches (no scan of
    // either side at estimation time) next to the exact count it
    // upper-bounds. The est ≥ exact guarantee and the estimate itself
    // are deterministic functions of portable sketch contents — both
    // columns oracle-hashed
    "q_sketch_join_size" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // group = key shard (pmod 3): per-shard join sizes — the number
      // a range/hash partitioner reads to size reducers. A constant
      // literal group would constant-fold the anchor join's equi-key
      // into a (1-row) cartesian; a real group keeps every join keyed
      val li = Tables(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(3L)).as("g"),
          col("l_partkey").as("key"))
      val pt = Tables(s, dir, "part").where(col("p_size") <= 10)
        .select(pmod(col("p_partkey"), lit(3L)).as("g"),
          col("p_partkey").as("key"))
      val est = graft.sketch.Sketches.cmsJoinSizeEstimate(
        graft.sketch.Sketches.cmsCounts(li, "g", "key"),
        graft.sketch.Sketches.cmsCounts(pt, "g", "key"), "g")
      val exact = li.join(pt.select(col("key").as("pkey")),
          col("key") === col("pkey"))
        .groupBy("g").agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("g"))
        .select(col("g"), col("join_size_est"), col("n_exact"))
    }),

    // the join-planning ADVISOR composition: per key shard, the CMS
    // join-size estimate next to exact build/probe cardinalities and
    // the probe's heaviest key — folded into a strategy verdict
    // (broadcast vs shuffle at a fixed build-rows threshold, skew flag
    // when the top key carries >10% of probe rows). The table a
    // pipeline owner reads BEFORE submitting the 100 TB join; every
    // column is a deterministic integer — the whole report hash-checks
    "q_advisor_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val li = Tables(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(3L)).as("g"),
          col("l_partkey").as("key"))
      val pt = Tables(s, dir, "part").where(col("p_size") <= 10)
        .select(pmod(col("p_partkey"), lit(3L)).as("g"),
          col("p_partkey").as("key"))
      val est = graft.sketch.Sketches.cmsJoinSizeEstimate(
        graft.sketch.Sketches.cmsCounts(li, "g", "key"),
        graft.sketch.Sketches.cmsCounts(pt, "g", "key"), "g")
      val probe = li.groupBy("g", "key").agg(count(lit(1)).as("c"))
        .groupBy("g").agg(sum(col("c")).as("n_probe"),
          max(col("c")).as("top_key_cnt"))
      val build = pt.groupBy("g").agg(count(lit(1)).as("n_build"))
      est.join(probe, Seq("g")).join(build, Seq("g"))
        .select(col("g"), col("join_size_est"), col("n_build"),
          col("n_probe"), col("top_key_cnt"),
          when(col("n_build") <= 1000L, "broadcast")
            .otherwise("shuffle_hash").as("strategy"),
          (col("top_key_cnt") * 10L > col("n_probe")).as("skewed"))
    }),

    // theta retention over THREE batches: distinct customers per
    // priority active in (a) any period — union — and (b) EVERY period
    // — the n-way intersection the fold-order-free Intersection agg
    // exists for. Same exact-mode oracle contract as the overlap query
    "q_sketch_theta_retention" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val k = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          (year(col("o_orderdate")) % 3).cast("long").as("batch"),
          col("o_custkey").as("key"))
      val sk = graft.sketch.Sketches.thetaSketches(k, Seq("g", "batch"), "key")
      val uni = graft.sketch.Sketches.thetaUnionEstimate(
          sk.select("g", "sketch", "n_rows"), "g")
        .select(col("g"), col("distinct_est").as("n_any"))
      val all = graft.sketch.Sketches.thetaIntersectEstimate(
          sk.select("g", "sketch", "n_rows"), "g")
        .select(col("g"), col("overlap_est").as("n_every"))
      uni.join(all, Seq("g"))
    }),

    // Bloom filter MEMBERSHIP sketch (engine-portable double hashing,
    // 63-bit words): the sparse bits table of customers-with-orders per
    // order priority. Exactly oracle-hashed — approximate semantics,
    // exact bits (see Sketches.bloomBits)
    "q_sketch_bloom" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val keys = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("g"), col("o_custkey").as("key"))
      graft.sketch.Sketches.bloomBits(keys, "g", "key")
    }),

    // the probe face + its honesty report: every customer probed
    // against every priority's bloom, scored against exact membership —
    // per priority: probes, true members, bloom-positive, false
    // positives. The no-false-negative guarantee is implied by
    // n_maybe - n_false_pos = n_members (oracle-hashed)
    "q_sketch_bloom_fpr" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val keys = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("g"), col("o_custkey").as("key"))
      val bloom = graft.sketch.Sketches.bloomBits(keys, "g", "key")
      val probes = keys.select("g").distinct()
        .crossJoin(Tables(s, dir, "customer").select(col("c_custkey").as("key")))
      val exact = keys.distinct().withColumn("is_member", lit(true))
      graft.sketch.Sketches.bloomProbe(bloom, probes, "g", "key")
        .join(exact, Seq("g", "key"), "left")
        .groupBy("g")
        .agg(count(lit(1)).as("n_probes"),
          count(when(col("is_member"), 1)).as("n_members"),
          count(when(col("maybe_present"), 1)).as("n_maybe"),
          count(when(col("maybe_present") && col("is_member").isNull, 1))
            .as("n_false_pos"))
    }),

    // count-min FREQUENCY sketch (same portable hashing): the sparse
    // depth×width count table of part-key multiplicities per return
    // flag — the mergeable form unions by summing cnt (oracle-hashed)
    "q_sketch_cms" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val keys = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_partkey").as("key"))
      graft.sketch.Sketches.cmsCounts(keys, "g", "key")
    }),

    // the estimate face scored against exact counts: every part probed
    // under every flag — per flag: keys, exact hits, total and max
    // overestimate. est >= exact ALWAYS (collisions only add); the
    // oracle re-derives the same minima, so the bound is hash-checked
    "q_sketch_cms_est" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val keys = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_partkey").as("key"))
      val cms = graft.sketch.Sketches.cmsCounts(keys, "g", "key")
      val probes = keys.select("g").distinct()
        .crossJoin(Tables(s, dir, "part").select(col("p_partkey").as("key")))
      val exact = keys.groupBy("g", "key").agg(count(lit(1)).as("exact"))
      graft.sketch.Sketches.cmsEstimate(cms, probes, "g", "key")
        .join(exact, Seq("g", "key"), "left")
        .withColumn("exact", coalesce(col("exact"), lit(0L)))
        .groupBy("g")
        .agg(count(lit(1)).as("n_keys"),
          count(when(col("est") === col("exact"), 1)).as("n_exact"),
          sum(col("est") - col("exact")).as("sum_overestimate"),
          max(col("est") - col("exact")).as("max_overestimate"))
    }),

    // HTML text extraction (native single-pass expression, HtmlText):
    // the crawl-corpus first stage — script/style removal, comment
    // strip, CDATA unwrap, tag strip, fixed entity set, ws collapse.
    // The fixture wraps each document's text in hostile-but-realistic
    // markup (script with <, >, " inside; entities; CDATA; comments);
    // the DuckDB twin re-derives the exact transform as a regexp chain
    "q_text_html_extract" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val html = htmlFixture
      Tables(s, dir, "documents").select(col("doc_id"),
        graft.expressions.HtmlExtract(html).as("text_clean"),
        length(graft.expressions.HtmlExtract(html)).cast("long").as("len_clean"))
    }),

    // link-density boilerplate signal over the same fixture: visible
    // chars inside <a> elements vs all visible chars, floor-scaled ppm
    // (nav/footer boilerplate is link-dense; article bodies are not) —
    // every third document gets an extra nav-style link so the face has
    // two distinct density regimes
    "q_text_html_link_density" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val html = htmlFixture
      Tables(s, dir, "documents").select(col("doc_id"),
          length(graft.expressions.HtmlLinkText(html)).cast("long").as("len_link"),
          length(graft.expressions.HtmlExtract(html)).cast("long").as("len_total"))
        .select(col("doc_id"), col("len_link"), col("len_total"),
          expr("CAST((len_link * 1000000) DIV greatest(len_total, 1) AS BIGINT)")
            .as("link_ppm"))
    }),

    // block-structured content extraction: visible text split at
    // BLOCK-level tag boundaries (HtmlBlockText's U+001C markers;
    // inline tags don't break blocks), then the main-content
    // heuristic — longest block wins, ties resolved by the bytewise
    // struct-max both engines share. The Boilerpipe-family primitive
    // whole-page link density is too coarse for: a nav-heavy page
    // still HAS one dense article block, and this face finds it (the
    // fixture's title/h1/nav/cdata clutter lands in OTHER blocks)
    "q_text_html_blocks" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val bs = split(graft.expressions.HtmlBlockText(htmlFixture), "\u001C")
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(bs).as("b"))
        .select(col("doc_id"), trim(col("b")).as("block"))
        .where(col("block") =!= "")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          max(struct(length(col("block")).cast("long").as("l"),
            col("block").as("b"))).as("m"))
        .select(col("doc_id"), col("n_blocks"), col("m.l").as("main_len"),
          col("m.b").as("main_block"))
    }),

    // per-block link density (VERDICT r12 item 3 — the Boilerpipe
    // core): HtmlBlockText and HtmlBlockLinkText share the U+001C
    // framing (block markers enter the link stream unconditionally),
    // so zipping the two split arrays gives each block its OWN link
    // mass and blocks gate on their own density — the whole-page ppm
    // of q_text_html_link_density cannot tell a nav-wrapped article
    // from boilerplate; this face keeps the article block (0 ppm) and
    // drops the all-link div block (1e6 ppm) of the same page
    "q_text_html_block_density" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val bt = split(graft.expressions.HtmlBlockText(htmlFixture), "\u001C")
      val lt = split(graft.expressions.HtmlBlockLinkText(htmlFixture), "\u001C")
      val z = zip_with(bt, lt, (b, l) =>
        struct(trim(b).as("b"), trim(l).as("l")))
      Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(z).as(Seq("block_idx", "z")))
        .where(col("z.b") =!= "")
        .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
          length(col("z.b")).cast("long").as("block_len"),
          length(col("z.l")).cast("long").as("link_len"))
        .withColumn("link_ppm",
          expr("CAST((link_len * 1000000) DIV greatest(block_len, 1) AS BIGINT)"))
        .withColumn("is_content", col("link_ppm") <= 333333L)
    }),

    // main-content EXTRACTION (the block-density gate composed to its
    // product): per-block density filtering + in-order reassembly of
    // the surviving blocks — the trafilatura-style content string a
    // curation pipeline feeds downstream, where q_text_html_block_density
    // only reports the per-block signal. ENTIRELY map-only: the
    // zip/filter/transform/join run as higher-order functions over the
    // two framed scans, no explode + regroup shuffle (order inside the
    // arrays IS document order, so no sort is needed either) — the
    // shape that matters at 100 TB, plan-gated
    "q_text_html_content" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, split}
      Tables(s, dir, "documents").select(col("doc_id"),
          split(graft.expressions.HtmlBlockText(htmlFixture), "\u001C").as("bs"),
          split(graft.expressions.HtmlBlockLinkText(htmlFixture), "\u001C").as("ls"))
        .selectExpr("doc_id",
          "filter(zip_with(bs, ls, (b, l) -> struct(trim(b) AS b, trim(l) AS l)), s -> s.b != '') AS zs")
        .selectExpr("doc_id",
          "CAST(size(zs) AS BIGINT) AS n_blocks",
          "transform(filter(zs, s -> CAST((length(s.l) * 1000000) DIV greatest(length(s.b), 1) AS BIGINT) <= 333333), s -> s.b) AS kept")
        .selectExpr("doc_id", "n_blocks",
          "CAST(size(kept) AS BIGINT) AS n_kept",
          "array_join(kept, ' ') AS content",
          "CAST(length(array_join(kept, ' ')) AS BIGINT) AS content_len")
    }),

    // URL canonicalization (native expression, UrlText): the dedup key
    // a crawl pipeline computes BEFORE content dedup — case folding,
    // default-port/fragment/tracking-param stripping, bytewise param
    // sort. The fixture's shape-0 and shape-2 URLs normalize EQUAL, so
    // the face proves real rewrites, not identity
    "q_text_url_normalize" -> ((s, dir) => {
      Tables(s, dir, "documents").select(col("doc_id"),
        urlFixture.as("url"),
        graft.expressions.UrlNormalize(urlFixture).as("url_norm"))
    }),

    // exact dedup keyed on the CANONICAL url (the Dedup.exact shape —
    // partial-agg groupBy + exchange-reused join-back, one shuffle):
    // the same page fetched under tracking-param/case/port variants
    // collapses to one keep. Cross-shape groups are real here (unlike
    // content dedup on this corpus): shapes 0 and 2 collide per id25
    "q_dedup_url" -> ((s, dir) => {
      val urls = Tables(s, dir, "documents").select(col("doc_id"),
        graft.expressions.UrlNormalize(urlFixture).as("url_norm"))
      val groups = urls.groupBy("url_norm")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).cast("long").as("group_size"))
      urls.join(groups, Seq("url_norm"))
        .select(col("doc_id"), col("url_norm"), col("group_size"),
          (col("doc_id") === col("keep_id")).as("is_kept"))
    }),

    // end-to-end HTML curation pipeline (VERDICT r11 item 5): raw crawl
    // markup in, per-(lang, source) training-data accounting out —
    // extract (ONE native scan for clean text + link signal) →
    // link-density boilerplate gate → integer quality gates over the
    // CLEAN text → exact-dedup keep on the normalized clean text →
    // survivor accounting. Proves the extractor composes as the FIRST
    // stage of the curation chain; each stage is oracle-checked alone
    // elsewhere (q_text_html_*, q_text_gopher_rules, q_dedup_exact).
    // Gate constants: 40000 ppm separates the fixture's nav regime
    // (min 45685 ppm at sf0.01) from the article regime (median
    // ~12800); word/stopword floors are the gopher convention.
    // BLOCK-level curation pipeline (the per-block dual of
    // q_pipeline_html_curation): instead of gating whole PAGES on page
    // ppm — which throws away a nav-heavy page's real article — extract
    // each page's density-gated CONTENT (map-only HOFs over the two
    // framed scans, the q_text_html_content shape), then run the word/
    // stopword quality gates and the exact-dedup keep on the EXTRACTED
    // content. Every doc keeps its article block here (chrome blocks
    // are all-link and drop), so the pipeline dedups honest article
    // text that page-level gating would have contaminated with nav
    "q_pipeline_block_curation" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables(s, dir, "documents")
      val content = docs.select(col("doc_id"), col("lang"), col("source"),
          split(graft.expressions.HtmlBlockText(htmlCrawlFixture), "\u001C").as("bs"),
          split(graft.expressions.HtmlBlockLinkText(htmlCrawlFixture), "\u001C").as("ls"))
        .selectExpr("doc_id", "lang", "source",
          "array_join(transform(filter(zip_with(bs, ls, (b, l) -> struct(trim(b) AS b, trim(l) AS l)), " +
            "s -> s.b != '' AND CAST((length(s.l) * 1000000) DIV greatest(length(s.b), 1) AS BIGINT) <= 333333), " +
            "s -> s.b), ' ') AS content")
      val toksC = split(trim(col("content")), "\\s+")
      val quality = content
        .withColumn("n_words", size(toksC).cast("long"))
        .withColumn("n_stop", size(filter(toksC,
          t => t.isin("the", "a", "of", "and", "to", "in"))).cast("long"))
        .where(col("n_words") >= 25L && col("n_stop") >= 2L)
      val dd = graft.dedup.Dedup.exact(
          quality.select(col("doc_id"), col("content").as("text")))
        .select(col("doc_id"), col("is_kept"))
      quality.join(dd, Seq("doc_id"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("is_kept"), 1)).as("n_kept"),
          sum(when(col("is_kept"), length(col("content")))).as("chars_kept"))
    }),

    "q_pipeline_html_curation" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables(s, dir, "documents")
      val extracted = docs.select(col("doc_id"), col("lang"), col("source"),
          graft.expressions.HtmlExtract(htmlCrawlFixture).as("text_clean"),
          length(graft.expressions.HtmlLinkText(htmlCrawlFixture))
            .cast("long").as("len_link"),
          length(graft.expressions.HtmlExtract(htmlCrawlFixture))
            .cast("long").as("len_total"))
        .withColumn("link_ppm",
          expr("CAST((len_link * 1000000) DIV greatest(len_total, 1) AS BIGINT)"))
      val gated = extracted.where(col("link_ppm") <= 40000L)
      val toksClean = split(trim(col("text_clean")), "\\s+")
      val quality = gated
        .withColumn("n_words", size(toksClean).cast("long"))
        .withColumn("n_stop", size(filter(toksClean,
          t => t.isin("the", "a", "of", "and", "to", "in"))).cast("long"))
        .where(col("n_words") >= 25L && col("n_stop") >= 2L)
      val dd = graft.dedup.Dedup.exact(
          quality.select(col("doc_id"), col("text_clean").as("text")))
        .select(col("doc_id"), col("is_kept"))
      quality.join(dd, Seq("doc_id"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("is_kept"), 1)).as("n_kept"),
          sum(when(col("is_kept"), col("len_total"))).as("chars_kept"))
    }),

    // Unicode NFC normalization (native expression). The synthetic
    // corpus is ASCII, so the face appends decomposed accents
    // (e+U+0301, A+U+030A) and an NFC-invariant ligature — the oracle
    // must recompose them identically (len shrinks by exactly the two
    // combining marks) or the compare fails
    "q_text_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val decorated = concat(substring(col("text"), 1, 40),
        lit(" Café ﬁn Å"))
      Tables(s, dir, "documents").select(col("doc_id"),
        graft.expressions.UnicodeNormalize(decorated, "NFC").as("text_nfc"),
        length(decorated).cast("long").as("len_raw"),
        length(graft.expressions.UnicodeNormalize(decorated, "NFC"))
          .cast("long").as("len_nfc"))
    }),

    // Gopher-style repetition filters: top/duplicated token fraction +
    // the same over word bigrams (hash-keyed group-bys, see
    // TextAnalysis.repetitionStats)
    "q_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables(s, dir, "documents"))),

    // corpus-slice distinct-n-gram ratios (n = 1, 2, 3): the
    // mode-collapse / templated-slice alarm — corpus-level dual of the
    // per-document repetition filters
    "q_text_ngram_diversity" -> ((s, dir) =>
      TextAnalysis.ngramDiversity(Tables(s, dir, "documents"))),

    // PII screening signals (map-only regexp counts)
    "q_text_pii" -> ((s, dir) =>
      TextAnalysis.piiScan(Tables(s, dir, "documents"))),

    // decontamination: trigram overlap of every document against the
    // doc_id < 5 slice standing in for a benchmark probe set
    "q_text_contamination" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.contaminationScan(docs, docs.where(col("doc_id") < 5))
    }),

    // TF-IDF top-5 keywords per document (integer-floored scores so the
    // rank ordering is ulp-stable across engines)
    "q_text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(Tables(s, dir, "documents"), k = 5)),

    // Okapi BM25 per-doc top-5 terms — the ranked-retrieval twin of
    // TF-IDF with doc-length normalization (k1=1.2, b=0.75)
    "q_text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables(s, dir, "documents"), k = 5)),

    // per-language length-distribution stats (exact interpolated
    // percentiles, floor-scaled)
    "q_text_quantiles" -> ((s, dir) =>
      TextAnalysis.lengthQuantiles(Tables(s, dir, "documents"))),

    // bigram-LM fluency scoring: per-doc summed NLL under the corpus's
    // own add-one-smoothed bigram MLE (integer terms — order-safe sums)
    "q_text_perplexity" -> ((s, dir) =>
      TextAnalysis.perplexityScore(Tables(s, dir, "documents"))),

    // the production-smoothing twin: Kneser–Ney (d=3/4) with
    // continuation counts — exact rational probability over a common
    // denominator, DECIMAL(38,0) terms (see knBigramScore)
    "q_text_kn_perplexity" -> ((s, dir) =>
      TextAnalysis.knBigramScore(Tables(s, dir, "documents"))),

    // character-level Shannon entropy per doc — the gibberish/binary
    // tripwire token-level signals cannot see (entropyOf's exact
    // floored-term contract, grouped per document)
    "q_text_char_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(Tables(s, dir, "documents"))),

    // type-token ratio + hapax share per doc — lexical diversity in
    // exact ppm
    "q_text_ttr" -> ((s, dir) =>
      TextAnalysis.typeTokenRatio(Tables(s, dir, "documents"))),

    // sliding-window chunking for embedding prep: 64-token windows,
    // stride 32 (map-only sequence+explode+slice)
    "q_text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables(s, dir, "documents"),
        window = 64, stride = 32)),

    // vocabulary construction: top-500 tokens by corpus frequency with
    // dense (count desc, token asc) vocab ids — the tokenizer-training
    // step (TakeOrdered cut; id window bounded by the knob)
    "q_text_vocab" -> ((s, dir) =>
      TextAnalysis.buildVocab(Tables(s, dir, "documents"), maxVocab = 500)),

    // inverted-index build (flat posting rows): tf + first position per
    // (token, doc), lexicon df/cf, hapax pruned at df >= 2
    "q_text_invindex" -> ((s, dir) =>
      TextAnalysis.invertedIndex(Tables(s, dir, "documents"), minDf = 2L)),

    // conjunctive (AND) retrieval over the index: two data-derived
    // queries — the 2 highest-df terms, then terms ranked 3-5 — each
    // returning exactly the docs containing every term
    "q_text_search_and" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val idx = TextAnalysis.invertedIndex(Tables(s, dir, "documents"), minDf = 2L)
      // lexicon-sized global window: bounded by vocabulary, not corpus
      val ranked = idx.select("token", "df").distinct()
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("df").desc, col("token"))))
        .where(col("r") <= 5)
      val queries = ranked.select(
        when(col("r") <= 2, 1L).otherwise(2L).as("query_id"), col("token"))
      TextAnalysis.searchAll(idx, queries)
    }),

    // sparse rarity-weighted "more like this": top-3 most similar docs
    // per doc over shared rare tokens (df cut at 50) — integer scores,
    // hash-exact
    "q_text_more_like_this" -> ((s, dir) =>
      TextAnalysis.moreLikeThis(Tables(s, dir, "documents"),
        k = 3, maxDf = 50L, minDf = 2L)),

    // OOV coverage vs a deliberately small (200-token) vocab so the
    // out-of-vocabulary tail is non-trivial — the freeze-the-tokenizer
    // go/no-go metric
    "q_text_oov" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.oovStats(docs, TextAnalysis.buildVocab(docs, maxVocab = 200))
    }),

    // probe-side contamination report: even-id docs stand in for the
    // corpus, ids ≡ 1 (mod 10) for the benchmark probes — per probe:
    // distinct grams, leaked grams, hit docs, leaked fraction (the
    // "is this benchmark still valid" direction; q_text_contamination
    // is the drop-documents direction)
    "q_text_contamination_report" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.contaminationReport(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 10 === 1))
    }),

    // the SQL-surface face of the native expressions: the same three
    // codegen'd loops the DataFrame queries use, called through
    // spark.sql via the injected graft_* functions — oracle-checked so
    // the SQL registration sits under the driver's gate, not only specs
    "q_text_sql_functions" -> ((s, dir) => {
      graft.expressions.SqlFunctions.ensureRegistered(s)
      Tables(s, dir, "documents")
        .createOrReplaceTempView("graft_sqlfns_documents")
      s.sql("""
        SELECT doc_id,
          graft_rolling_hash(text) AS h,
          graft_token_count(text) AS n_tokens,
          graft_unicode_normalize(text, 'NFC') AS text_nfc
        FROM graft_sqlfns_documents""")
    })
  )

  /** Phrase workload shared by the q_text_phrase_search face and its
    * oracle (both derive terms from THIS list — the workload cannot
    * fork). Chosen to exercise a 2-gram, a repeated-token phrase, and
    * a 3-gram on the fixture vocabulary.
    */
  private val phraseFixtures: Seq[(String, String)] = Seq(
    ("p1", "value table"), ("p2", "table table"), ("p3", "key agg row"))

  private val langVotes: String = TextAnalysis.markerSets.map { case (lang, ms) =>
    val inList = ms.map(m => s"'$m'").mkString(", ")
    s"CAST(len(list_filter($toks, t -> t IN ($inList))) AS BIGINT) AS votes_$lang"
  }.mkString(",\n        |  ")

  /** Unrolled BPE training chain, one CTE block set per round (the same
    * fixed-round oracle pattern as the k-means chain): pair counts →
    * deterministic top-1 (count desc, pair asc) → matched positions →
    * greedy-leftmost selection via gaps-and-islands (overlap only
    * happens in same-symbol runs, where greedy = even offsets within
    * each island) → rewrite with dense re-numbered positions. Minted
    * symbol for round r is HashMod + r, mirroring Bpe.MergeSymBase.
    */
  private def bpeChainSql(rounds: Int): String = {
    val base = graft.text.Bpe.MergeSymBase
    val roundBlocks = (0 until rounds).map { r =>
      s"""p_$r AS (
         |  SELECT l.sym AS a, rr.sym AS b, CAST(count(*) AS BIGINT) AS c
         |  FROM s_$r l JOIN s_$r rr
         |    ON l.doc_id = rr.doc_id AND rr.pos = l.pos + 1
         |  GROUP BY 1, 2),
         |top_$r AS (SELECT a, b, c FROM p_$r ORDER BY c DESC, a, b LIMIT 1),
         |m_$r AS (
         |  SELECT l.doc_id, l.pos
         |  FROM s_$r l JOIN s_$r rr
         |    ON l.doc_id = rr.doc_id AND rr.pos = l.pos + 1
         |  JOIN top_$r t ON l.sym = t.a AND rr.sym = t.b),
         |isl_$r AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |  FROM m_$r),
         |sel_$r AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      pos - min(pos) OVER (PARTITION BY doc_id, isl) AS off
         |    FROM isl_$r) WHERE off % 2 = 0),
         |s_${r + 1} AS (
         |  SELECT s.doc_id,
         |    CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) - 1
         |      AS BIGINT) AS pos,
         |    CASE WHEN sel.pos IS NOT NULL THEN CAST(${base + r} AS BIGINT)
         |      ELSE s.sym END AS sym
         |  FROM s_$r s
         |  LEFT JOIN sel_$r sel
         |    ON sel.doc_id = s.doc_id AND sel.pos = s.pos
         |  LEFT JOIN sel_$r prev
         |    ON prev.doc_id = s.doc_id AND prev.pos = s.pos - 1
         |  WHERE prev.pos IS NULL)""".stripMargin
    }.mkString(",\n")
    s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
       |s_0 AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
       |    th[CAST(u.i AS INT) + 1] AS sym
       |  FROM tht, unnest(range(len(th))) AS u(i)),
       |$roundBlocks""".stripMargin
  }

  private def bpeMergesOracle(rounds: Int): String = {
    val base = graft.text.Bpe.MergeSymBase
    val selects = (0 until rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, a AS sym_a, b AS sym_b,
         |  c AS pair_count, CAST(${base + r} AS BIGINT) AS new_sym
         |FROM top_$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"${bpeChainSql(rounds)}\n$selects"
  }

  private def bpeApplyOracle(rounds: Int): String =
    s"${bpeChainSql(rounds)}\nSELECT doc_id, pos, sym FROM s_$rounds"

  /** [[bpeChainSql]] under a name that reads as "CTE prefix, extend
    * me" — the fertility oracle appends its own CTEs after it.
    */
  private def bpeApplyOracleBase(rounds: Int): String = bpeChainSql(rounds)

  // Sketches.slot's engine-portable double hashing, as DuckDB SQL: all
  // constants and the pmod ladder mirror the Spark expression exactly,
  // so bloom/CMS sketch CONTENTS hash-compare (not just estimates)
  /** The cross-perplexity chain (bigram LM of the trusted en slice,
    * Laplace floor, per-doc NLL sums) ending at
    * `cpd (doc_id, n_bigrams, sum_nll_s)` — embedded verbatim by both
    * q_text_cross_perplexity and the q_pipeline_ppl_filter composition
    * so the replay arithmetic cannot fork.
    */
  private lazy val crossPplChainSql: String =
    s"""tk AS (SELECT doc_id, lang, $toks AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
       |  FROM tk, unnest(range(1, len(t))) AS u(i)
       |  WHERE len(t) >= 2),
       |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM bg WHERE lang = 'en' GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
       |       FROM bg WHERE lang = 'en' GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
       |      FROM (SELECT unnest(t) AS w FROM tk WHERE lang = 'en')),
       |terms AS (
       |  SELECT bg.doc_id,
       |    CAST(floor(-ln((coalesce(c12.c12, 0) + 1.0) /
       |      (coalesce(c1.c1, 0) + v.v)) * 1000000.0)
       |      AS BIGINT) AS term_s
       |  FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
       |  CROSS JOIN v),
       |cpd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(term_s) AS BIGINT) AS sum_nll_s
       |  FROM terms GROUP BY doc_id)""".stripMargin

  private def pmodSql(a: String, b: Long): String = s"((($a) % $b + $b) % $b)"
  private def slotSql(keyExpr: String, iExpr: String, size: Long): String = {
    val P = 2147483647L
    val x = pmodSql(keyExpr, P)
    val h1a = pmodSql(s"$x * $x + 12345", P)
    val h1 = pmodSql(s"$h1a * $h1a + 6789", P)
    val h2a = pmodSql(s"($x + 40503) * ($x + 99991)", P)
    val h2 = pmodSql(s"$h2a * $h2a + 987654321", P)
    pmodSql(s"$h1 + ($iExpr) * $h2", size)
  }

  /** The hashed-feature COO table as SQL — the q_ml_text_features
    * oracle body and the `ex` source of [[textGdChainSql]]. Token
    * hashes are nonnegative (mod 1e9+7), so plain `%` IS pmod here.
    * Shared with DedupQueries' classifier-pipeline oracle.
    */
  private[queries] lazy val textFeatSql: String =
    s"""SELECT doc_id, CAST(h % $TextFeatDims AS BIGINT) AS dim,
       |  CAST(count(*) AS BIGINT) AS c
       |FROM (SELECT doc_id, unnest(th) AS h
       |      FROM (SELECT doc_id, $thSql AS th FROM documents))
       |GROUP BY 1, 2""".stripMargin

  /** Naive-Bayes model CTE chain — ends at
    * `model(dim, c1, c0, w1_s, w0_s)` over the complete dim domain;
    * `sfeat` (full-corpus COO features) and `trainlab` (even-half
    * labels) remain visible to the eval oracle's scoring CTEs.
    */
  private lazy val nbModelChainSql: String =
    s"""sfeat AS ($textFeatSql),
       |trainlab AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS y
       |  FROM documents WHERE doc_id % 2 = 0),
       |nbcnt AS (
       |  SELECT f.dim,
       |    CAST(sum(CASE WHEN l.y = 1 THEN f.c ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN l.y = 0 THEN f.c ELSE 0 END) AS BIGINT) AS c0
       |  FROM sfeat f JOIN trainlab l USING (doc_id) GROUP BY 1),
       |nbdom AS (
       |  SELECT CAST(unnest([${(0 until TextFeatDims).mkString(", ")}])
       |    AS BIGINT) AS dim),
       |nbfull AS (
       |  SELECT d.dim, coalesce(c.c1, 0) AS c1, coalesce(c.c0, 0) AS c0
       |  FROM nbdom d LEFT JOIN nbcnt c USING (dim)),
       |nbtot AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS tot1,
       |    CAST(sum(c0) AS BIGINT) AS tot0 FROM nbfull),
       |model AS (
       |  SELECT m.dim, m.c1, m.c0,
       |    CAST(floor(ln((m.c1 + 1.0) / (t.tot1 + $TextFeatDims.0)) * 1e6)
       |      AS BIGINT) AS w1_s,
       |    CAST(floor(ln((m.c0 + 1.0) / (t.tot0 + $TextFeatDims.0)) * 1e6)
       |      AS BIGINT) AS w0_s
       |  FROM nbfull m CROSS JOIN nbtot t)""".stripMargin

  /** The text-classifier GD replay — the SQL twin of
    * `graft.ml.Training` run over the hashing-trick features (see
    * Training's scaladoc for the fixed-point spec; same iteration
    * blocks as the embeddings-head oracle in SimilarityQueries).
    * Differences forced by sparsity: `ex` holds only nonzero entries
    * (zero features contribute nothing to margins or gradients), `w_0`
    * is range-generated so never-seen buckets still carry weight 0,
    * and the update LEFT-joins its gradient (absent ⇒ 0). Ends at
    * `w_$iters`.
    */
  /** The fixed-point GD iteration blocks over caller-supplied CTEs
    * `ex(vec_id, dim, xs, ys)`, `nn(n)` and `w_0(dim, w)` — the sparse
    * (LEFT-join update) formulation, correct for dense features too.
    * Ends at `w_$iters`. Shared with DedupQueries' classifier-pipeline
    * oracle so the replay arithmetic cannot fork.
    */
  private[queries] def gdIterBlocksSql(iters: Int): String =
    (0 until iters).map { it =>
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
         |    (coalesce(g.g, 0) -
         |      ((coalesce(g.g, 0) % d.d + d.d) % d.d)) // d.d
         |    AS BIGINT) AS w
         |  FROM w_$it w
         |  LEFT JOIN g_$it g USING (dim)
         |  CROSS JOIN (SELECT n * 2 * 1000000 AS d FROM nn) d)""".stripMargin
    }.mkString(",\n")

  /** The zero head over every hash bucket, as SQL. */
  private[queries] def gdZeroHeadSql: String =
    s"""SELECT CAST(unnest([${(0 until TextFeatDims).mkString(", ")}])
       |  AS BIGINT) AS dim, CAST(0 AS BIGINT) AS w""".stripMargin

  private def textGdChainSql(iters: Int): String = {
    val blocks = gdIterBlocksSql(iters)
    s"""sfeat AS ($textFeatSql),
       |lab AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1000000 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS ys
       |  FROM documents),
       |nt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks
       |       FROM sfeat GROUP BY 1),
       |ex AS (
       |  SELECT f.doc_id AS vec_id, f.dim,
       |    CAST(floor(CAST(f.c AS DOUBLE) / CAST(t.n_toks AS DOUBLE)
       |      * 1000000.0) AS BIGINT) AS xs,
       |    l.ys
       |  FROM sfeat f JOIN nt t USING (doc_id) JOIN lab l USING (doc_id)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |w_0 AS ($gdZeroHeadSql),
       |$blocks""".stripMargin
  }

  /** [[textGdChainSql]](3) extended with the final corpus scoring —
    * ends at `fp(vec_id, y, ps)`, the shared base of the text eval /
    * AUC oracles (the logisticScoredSql pattern).
    */
  private lazy val textScoredSql: String =
    s"""${textGdChainSql(3)},
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

  /** 3-gram shingle hashes over `th` (mirrors
    * TextAnalysis.shingleHashes / DedupQueries' fragment): polynomial
    * fold (h·131 + th_j) mod p.
    */
  private val winnowShingleSql =
    s"""CASE WHEN len(th) >= 3
       |  THEN list_transform(range(len(th) - 2),
       |    i -> (((th[i+1] * 131 + th[i+2]) % $P) * 131 + th[i+3]) % $P)
       |  ELSE [] END""".stripMargin

  /** The winnow fingerprint set (mirrors
    * TextAnalysis.winnowFingerprints, k=3 w=4): per-position window
    * min of h·2³²+pos over the next 4 k-gram hashes (the factor that
    * keeps decode exact for million-k-gram documents — h < 2³⁰ and
    * pos < 2³¹ bound the encoding under 2⁶³), full windows only,
    * decoded and deduped. Ends at the final SELECT — callers embed as
    * a derived table.
    */
  private val winnowFpSql =
    s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
       |hs AS (SELECT doc_id, $winnowShingleSql AS hs FROM tht),
       |sh AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_sh,
       |    CAST(u.i AS BIGINT) AS pos,
       |    (hs[CAST(u.i AS INT) + 1] * hs[CAST(u.i AS INT) + 1] + 12345) % $P AS h
       |  FROM hs, unnest(range(len(hs))) AS u(i)),
       |e AS (
       |  SELECT doc_id, pos, n_sh,
       |    min(h * 4294967296 + pos) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS enc
       |  FROM sh)
       |SELECT DISTINCT doc_id, enc // 4294967296 AS fp_hash,
       |  enc % 4294967296 AS fp_pos
       |FROM e WHERE pos <= n_sh - 4""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_text_zipf" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |tf AS (
         |  SELECT lang, h, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT d.lang, unnest(th) AS h
         |    FROM tht JOIN documents d USING (doc_id))
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT lang, freq, CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY freq DESC, h) AS BIGINT) AS rank
         |  FROM tf),
         |pts AS (
         |  SELECT lang,
         |    CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
         |    CAST(length(bin(freq)) - 1 AS BIGINT) AS y
         |  FROM ranked WHERE rank <= 256),
         |agged AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
         |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
         |    CAST(sum(x * x) AS BIGINT) AS sum_x2
         |  FROM pts GROUP BY 1)
         |SELECT lang, n, sum_x, sum_y, sum_xy, sum_x2,
         |  n * sum_xy - sum_x * sum_y AS slope_num,
         |  n * sum_x2 - sum_x * sum_x AS slope_den,
         |  CASE WHEN n * sum_x2 - sum_x * sum_x = 0 THEN NULL
         |    ELSE CAST(n * sum_xy - sum_x * sum_y AS DOUBLE) /
         |      CAST(n * sum_x2 - sum_x * sum_x AS DOUBLE) END AS slope
         |FROM agged""".stripMargin,

    "q_text_novelty" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, h FROM (
         |    SELECT doc_id, unnest($winnowShingleSql) AS h FROM tht)),
         |fst AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |      AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS novelty
         |FROM sh s JOIN fst f USING (h)
         |GROUP BY 1""".stripMargin,

    "q_text_heaps" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |tok AS (SELECT doc_id, unnest(th) AS h FROM tht),
         |nty AS (
         |  SELECT CAST(length(bin(first_doc + 1)) - 1 AS BIGINT) AS k,
         |    CAST(count(*) AS BIGINT) AS new_types
         |  FROM (SELECT h, min(doc_id) AS first_doc FROM tok GROUP BY 1)
         |  GROUP BY 1),
         |ntk AS (
         |  SELECT CAST(length(bin(doc_id + 1)) - 1 AS BIGINT) AS k,
         |    CAST(count(*) AS BIGINT) AS new_tokens
         |  FROM tok GROUP BY 1),
         |j AS (
         |  SELECT k, coalesce(new_tokens, 0) AS new_tokens,
         |    coalesce(new_types, 0) AS new_types
         |  FROM ntk FULL JOIN nty USING (k))
         |SELECT k, new_tokens, new_types,
         |  CAST(sum(new_tokens) OVER (ORDER BY k
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS tokens_cum,
         |  CAST(sum(new_types) OVER (ORDER BY k
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS vocab_cum
         |FROM j""".stripMargin,

    // the perplexity chain with the MODEL CTEs filtered to the en
    // reference and LEFT joins + Laplace floor on the scored side
    "q_text_cross_perplexity" ->
      s"""WITH $crossPplChainSql
         |SELECT doc_id, n_bigrams, sum_nll_s FROM cpd""".stripMargin,

    // mirrors TextAnalysis.phraseSearch; terms derive from the same
    // phraseFixtures list, exploded to (query_id, offset, token) VALUES
    "q_text_phrase_search" -> {
      val termRows = phraseFixtures.flatMap { case (qid, phrase) =>
        phrase.trim.split("\\s+").zipWithIndex.map { case (t, i) =>
          s"('$qid', CAST($i AS BIGINT), '$t')"
        }
      }.mkString(",\n    ")
      s"""WITH terms(query_id, off, token) AS (VALUES
         |    $termRows),
         |arity AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |  FROM terms GROUP BY 1),
         |tok AS (
         |  SELECT doc_id,
         |    CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS pos,
         |    unnest(t) AS token
         |  FROM (SELECT doc_id, $toks AS t FROM documents)),
         |m AS (
         |  SELECT q.query_id, k.doc_id, k.pos - q.off AS start
         |  FROM tok k JOIN terms q USING (token)
         |  WHERE k.token <> ''),
         |g AS (
         |  SELECT query_id, doc_id, start, CAST(count(*) AS BIGINT) AS nm
         |  FROM m GROUP BY 1, 2, 3)
         |SELECT g.query_id, g.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(min(g.start) + 1 AS BIGINT) AS first_pos
         |FROM g JOIN arity a USING (query_id)
         |WHERE g.nm = a.n_terms
         |GROUP BY 1, 2""".stripMargin
    },

    // mirrors TextAnalysis.pmiCollocations: the ln argument divides
    // before multiplying in the same order, so the double rounding
    // sequence is engine-identical (the cross-perplexity precedent)
    "q_text_pmi" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |bg AS (
         |  SELECT t[i] AS w1, t[i+1] AS w2
         |  FROM tk, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |c12 AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
         |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
         |c1 AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cw
         |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |tt AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM bg) AS n_bg,
         |    (SELECT CAST(sum(cw) AS BIGINT) FROM c1) AS n_tok)
         |SELECT p.w1, p.w2, p.n_pair,
         |  CAST(floor(ln(
         |    (CAST(p.n_pair AS DOUBLE) / CAST(t.n_bg AS DOUBLE)) /
         |    ((CAST(a.cw AS DOUBLE) / CAST(t.n_tok AS DOUBLE)) *
         |     (CAST(b.cw AS DOUBLE) / CAST(t.n_tok AS DOUBLE))))
         |    * 1000000.0) AS BIGINT) AS pmi_s
         |FROM c12 p
         |JOIN c1 a ON a.w = p.w1
         |JOIN c1 b ON b.w = p.w2
         |CROSS JOIN tt t""".stripMargin,

    // CCNet-complete composition: cross-perplexity scores → exact
    // per-language 75th-percentile cut by value-histogram selection
    // (the robustStats order-statistic trick: the cut is the smallest
    // value whose running count reaches 3/4 of the language's mass —
    // 4·cum ≥ 3·n, pure integer, no per-row global rank) → per-language
    // survivor counts. The chain CTEs embed the cross-perplexity
    // oracle verbatim (the gdIterBlocksSql convention).
    "q_pipeline_ppl_filter" ->
      s"""WITH $crossPplChainSql,
         |scored AS (
         |  SELECT d.lang, c.doc_id, c.sum_nll_s // c.n_bigrams AS nll_s
         |  FROM cpd c JOIN documents d USING (doc_id)),
         |hist AS (
         |  SELECT lang, nll_s, CAST(count(*) AS BIGINT) AS cnt
         |  FROM scored GROUP BY 1, 2),
         |cw AS (
         |  SELECT lang, nll_s, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY nll_s)
         |      AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM hist),
         |cuts AS (
         |  SELECT lang,
         |    min(CASE WHEN cum * 4 >= n * 3 THEN nll_s END) AS cut_nll_s
         |  FROM cw GROUP BY 1)
         |SELECT s.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN s.nll_s <= c.cut_nll_s THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  max(c.cut_nll_s) AS cut_nll_s
         |FROM scored s JOIN cuts c USING (lang)
         |GROUP BY 1""".stripMargin,

    // the full-corpus novelty computation restricted to the batch rows
    // — the incremental face must equal exactly this
    "q_text_novelty_inc" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, h FROM (
         |    SELECT doc_id, unnest($winnowShingleSql) AS h FROM tht)),
         |fst AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |      AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS novelty
         |FROM sh s JOIN fst f USING (h)
         |WHERE s.doc_id >= 250
         |GROUP BY 1""".stripMargin,

    "q_text_winnow" -> winnowFpSql,

    // mirrors TextAnalysis.cdcChunks (k=3, divisor=8) + the face's dup
    // audit: same shingle stream and mid-square mix as winnowing, cut
    // flags where pos = 0 or h ≡ 0 (mod 8), running-sum chunk ids, and
    // an order-sensitive list_reduce fold as the chunk content hash
    "q_text_cdc_chunks" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |hs0 AS (SELECT doc_id, $winnowShingleSql AS hs FROM tht),
         |sh AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         |    (hs[CAST(u.i AS INT) + 1] * hs[CAST(u.i AS INT) + 1] + 12345) % $P AS h
         |  FROM hs0, unnest(range(len(hs))) AS u(i)
         |  WHERE len(hs) > 0),
         |cuts AS (
         |  SELECT doc_id, pos, h,
         |    CASE WHEN pos = 0 OR h % 8 = 0 THEN 1 ELSE 0 END AS cut
         |  FROM sh),
         |chunked AS (
         |  SELECT doc_id, pos, h,
         |    sum(cut) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS chunk_id
         |  FROM cuts),
         |ch AS (
         |  SELECT doc_id, chunk_id,
         |    CAST(count(*) AS BIGINT) AS n_grams,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
         |      (acc, x) -> (acc * 131 + x) % $P) AS chunk_hash
         |  FROM chunked GROUP BY 1, 2),
         |dfs AS (
         |  SELECT chunk_hash, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(c.n_grams) AS BIGINT) AS n_grams,
         |  CAST(max(c.n_grams) AS BIGINT) AS max_chunk,
         |  CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks
         |FROM ch c JOIN dfs d USING (chunk_hash) GROUP BY 1""".stripMargin,

    "q_text_winnow_pairs" ->
      s"""WITH fpd AS (
         |  SELECT DISTINCT doc_id, fp_hash FROM ($winnowFpSql)),
         |kept AS (
         |  SELECT f.doc_id, f.fp_hash FROM fpd f
         |  JOIN (SELECT fp_hash, count(*) AS df FROM fpd GROUP BY 1) d
         |    ON d.fp_hash = f.fp_hash AND d.df <= 50)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM kept a JOIN kept b
         |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2""".stripMargin,

    // the from-scratch pair computation restricted to pairs touching
    // the new batch — the incremental face must equal exactly this
    "q_text_winnow_inc" ->
      s"""WITH fpd AS (
         |  SELECT DISTINCT doc_id, fp_hash FROM ($winnowFpSql)),
         |kept AS (
         |  SELECT f.doc_id, f.fp_hash FROM fpd f
         |  JOIN (SELECT fp_hash, count(*) AS df FROM fpd GROUP BY 1) d
         |    ON d.fp_hash = f.fp_hash AND d.df <= 50)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM kept a JOIN kept b
         |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |WHERE a.doc_id >= 250 OR b.doc_id >= 250
         |GROUP BY 1, 2""".stripMargin,

    "q_text_source_overlap" ->
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |sh AS (
         |  SELECT DISTINCT source, h FROM (
         |    SELECT d.source, unnest($winnowShingleSql) AS h
         |    FROM tht JOIN documents d USING (doc_id))),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh
         |       FROM sh GROUP BY 1),
         |com AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_common,
         |  za.n_sh AS n_a, zb.n_sh AS n_b,
         |  CAST(n_common AS DOUBLE) /
         |    CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) AS jaccard
         |FROM com
         |JOIN sz za ON za.source = com.source_a
         |JOIN sz zb ON zb.source = com.source_b""".stripMargin,

    "q_ml_text_features" -> textFeatSql,

    "q_ml_text_train" ->
      s"""WITH ${textGdChainSql(3)}
         |SELECT dim, w AS w_s FROM w_3""".stripMargin,

    "q_ml_text_eval" ->
      s"""WITH $textScoredSql
         |SELECT y,
         |  CASE WHEN ps >= 500000 THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS pred,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM fp GROUP BY 1, 2""".stripMargin,

    // the per-source slice of the same Mann-Whitney blocks: grid and
    // rank window PARTITIONED BY source
    "q_ml_text_auc_by_source" ->
      s"""WITH $textScoredSql,
         |fps AS (
         |  SELECT d.source, f.y, f.ps FROM fp f
         |  JOIN documents d ON d.doc_id = f.vec_id),
         |per AS (
         |  SELECT source, ps AS s, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM fps GROUP BY 1, 2),
         |rk AS (
         |  SELECT source, s, n, n_pos,
         |    CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_less
         |  FROM per),
         |a AS (
         |  SELECT source,
         |    CAST(sum(n_pos * (2 * cum_less + n + 1)) AS BIGINT) AS sum_pos_r2,
         |    CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |    CAST(sum(n - n_pos) AS BIGINT) AS n_neg
         |  FROM rk GROUP BY 1)
         |SELECT source, n_pos, n_neg,
         |  CAST(sum_pos_r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num_x2,
         |  CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den_x2,
         |  CASE WHEN n_pos * n_neg = 0 THEN NULL
         |    ELSE CAST(sum_pos_r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |      CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
         |FROM a""".stripMargin,

    // the scored chain + the same salted-hash acceptance ladder
    "q_pipeline_soft_filter" -> {
      val a = TextAnalysis.hashA(13)
      val b = TextAnalysis.hashB(13)
      s"""WITH $textScoredSql,
         |acc AS (
         |  SELECT f.vec_id, f.y, f.ps FROM fp f
         |  WHERE (((f.vec_id % $P) * $a + $b) % $P) % 1000 < f.ps // 1000)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_accepted,
         |  CAST(sum(a.ps) AS BIGINT) AS sum_p_s,
         |  CAST(sum(a.y) AS BIGINT) AS n_pos
         |FROM acc a JOIN documents d ON d.doc_id = a.vec_id
         |GROUP BY 1""".stripMargin
    },

    // mirrors Evaluation.thresholdSweep over the text head's grid
    "q_ml_text_sweep" ->
      s"""WITH $textScoredSql,
         |per AS (
         |  SELECT ps AS s, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM fp GROUP BY 1),
         |t AS (SELECT unnest([${textSweepThresholds.mkString(", ")}]) AS thr_s),
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

    // χ² per hashed dim: presence-based 2×2 contingency, exact rational
    // floor-scaled ×10 (both engines' integral division on non-negative
    // operands)
    "q_ml_chi2" ->
      s"""WITH sfeat AS ($textFeatSql),
         |lab AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS y
         |  FROM documents),
         |tot AS (
         |  SELECT CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(count(*) AS BIGINT) AS n FROM lab),
         |perdim AS (
         |  SELECT f.dim, CAST(sum(l.y) AS BIGINT) AS a,
         |    CAST(count(*) - sum(l.y) AS BIGINT) AS b
         |  FROM (SELECT DISTINCT doc_id, dim FROM sfeat) f
         |  JOIN lab l USING (doc_id) GROUP BY 1)
         |SELECT p.dim, p.a AS n_pos_docs, p.b AS n_neg_docs,
         |  CAST(CASE WHEN (p.a + p.b) > 0 AND (t.n - p.a - p.b) > 0
         |      AND t.n_pos > 0 AND (t.n - t.n_pos) > 0
         |    THEN (t.n * (p.a * ((t.n - t.n_pos) - p.b) - p.b * (t.n_pos - p.a))
         |          * (p.a * ((t.n - t.n_pos) - p.b) - p.b * (t.n_pos - p.a)) * 10)
         |      // ((p.a + p.b) * (t.n - p.a - p.b) * t.n_pos * (t.n - t.n_pos))
         |    ELSE 0 END AS BIGINT) AS chi2_s
         |FROM perdim p CROSS JOIN tot t""".stripMargin,

    // same left-count grouping, purity arithmetic, and (score DESC,
    // dim ASC, thr ASC) argmax
    "q_ml_stump" ->
      s"""WITH sfeat AS ($textFeatSql),
         |lab AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS y
         |  FROM documents),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n1 FROM lab),
         |th AS (SELECT CAST(unnest([${stumpThresholds.mkString(", ")}])
         |  AS BIGINT) AS thr),
         |lft AS (
         |  SELECT f.dim, t.thr, CAST(count(*) AS BIGINT) AS nl,
         |    CAST(sum(l.y) AS BIGINT) AS nl1
         |  FROM sfeat f JOIN lab l USING (doc_id) CROSS JOIN th t
         |  WHERE f.c >= t.thr GROUP BY 1, 2),
         |sc AS (
         |  SELECT l.dim, l.thr, l.nl, (t.n - l.nl) AS nr,
         |    (l.nl1 * l.nl1 + (l.nl - l.nl1) * (l.nl - l.nl1)) * 1000000
         |      // l.nl
         |    + CASE WHEN t.n - l.nl > 0 THEN
         |        ((t.n1 - l.nl1) * (t.n1 - l.nl1)
         |          + ((t.n - l.nl) - (t.n1 - l.nl1))
         |            * ((t.n - l.nl) - (t.n1 - l.nl1))) * 1000000
         |        // (t.n - l.nl)
         |      ELSE 0 END AS score_s
         |  FROM lft l CROSS JOIN tot t)
         |SELECT dim, thr, CAST(score_s AS BIGINT) AS score_s,
         |  nl AS n_left, CAST(nr AS BIGINT) AS n_right
         |FROM sc ORDER BY score_s DESC, dim ASC, thr ASC LIMIT 1""".stripMargin,

    // the calibration-bins expression + the integer per-bin terms
    "q_ml_ece" ->
      s"""WITH $textScoredSql,
         |b AS (
         |  SELECT least(ps // 100000, 9) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS np,
         |    CAST(sum(ps) AS BIGINT) AS ss
         |  FROM fp GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_bins_nonempty,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(sum(abs(np * 1000000 - ss)) // sum(n) AS BIGINT) AS ece_s
         |FROM b""".stripMargin,

    // floor-mean class thresholds via the pmod-subtract ladder, then
    // one grouped pass over the scored chain
    "q_ml_label_noise" ->
      s"""WITH $textScoredSql,
         |ag AS (
         |  SELECT CAST(sum(CASE WHEN y = 1 THEN ps END) AS BIGINT) AS sp1,
         |    CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN y = 0 THEN ps END) AS BIGINT) AS sp0,
         |    CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS n0
         |  FROM fp),
         |thr AS (
         |  SELECT
         |    CAST((sp1 - ((sp1 % n1 + n1) % n1)) // n1 AS BIGINT)
         |      AS thr_pos_s,
         |    CAST((sp0 - ((sp0 % n0 + n0) % n0)) // n0 AS BIGINT)
         |      AS thr_neg_s
         |  FROM ag)
         |SELECT f.y,
         |  coalesce((f.y = 0 AND f.ps >= t.thr_pos_s)
         |    OR (f.y = 1 AND f.ps <= t.thr_neg_s), false) AS suspected,
         |  CAST(count(*) AS BIGINT) AS n_rows, t.thr_pos_s, t.thr_neg_s
         |FROM fp f CROSS JOIN thr t
         |GROUP BY 1, 2, 4, 5""".stripMargin,

    // same exact-integer log-ratio arguments, per-term floors, and the
    // pmod-subtract floor division on the (legitimately near-zero,
    // floor-biased-negative) term sums
    "q_text_js_divergence" ->
      s"""WITH cw AS (
         |  SELECT g, w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT lang AS g, unnest($toks) AS w FROM documents)
         |  WHERE w <> '' GROUP BY 1, 2),
         |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cw GROUP BY 1),
         |pairs AS (
         |  SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
         |  FROM tot a JOIN tot b ON a.g < b.g),
         |sides AS (
         |  SELECT p.ga, p.gb, c.w, c.c AS ca, CAST(0 AS BIGINT) AS cb
         |  FROM cw c JOIN pairs p ON c.g = p.ga
         |  UNION ALL
         |  SELECT p.ga, p.gb, c.w, CAST(0 AS BIGINT), c.c
         |  FROM cw c JOIN pairs p ON c.g = p.gb),
         |byw AS (
         |  SELECT s.ga, s.gb, s.w, CAST(sum(s.ca) AS BIGINT) AS ca,
         |    CAST(sum(s.cb) AS BIGINT) AS cb
         |  FROM sides s GROUP BY 1, 2, 3),
         |terms AS (
         |  SELECT b.ga, b.gb, p.na, p.nb,
         |    CASE WHEN b.ca > 0 THEN b.ca *
         |      CAST(floor(ln(CAST(b.ca * p.nb * 2 AS DOUBLE) /
         |        CAST(b.ca * p.nb + b.cb * p.na AS DOUBLE)) * 1e6) AS BIGINT)
         |      ELSE 0 END AS ta,
         |    CASE WHEN b.cb > 0 THEN b.cb *
         |      CAST(floor(ln(CAST(b.cb * p.na * 2 AS DOUBLE) /
         |        CAST(b.ca * p.nb + b.cb * p.na AS DOUBLE)) * 1e6) AS BIGINT)
         |      ELSE 0 END AS tb
         |  FROM byw b JOIN pairs p ON p.ga = b.ga AND p.gb = b.gb),
         |agg AS (
         |  SELECT ga, gb, na, nb, CAST(sum(ta) AS BIGINT) AS sta,
         |    CAST(sum(tb) AS BIGINT) AS stb
         |  FROM terms GROUP BY 1, 2, 3, 4)
         |SELECT ga AS slice_a, gb AS slice_b, na AS n_a, nb AS n_b,
         |  CAST((sta - ((sta % (2 * na) + 2 * na) % (2 * na))) // (2 * na) +
         |    (stb - ((stb % (2 * nb) + 2 * nb) % (2 * nb))) // (2 * nb)
         |    AS BIGINT) AS jsd_s
         |FROM agg""".stripMargin,

    // integer order statistics on the scored chain: rank index
    // ⌈(n+1)(1−α)⌉ via ceiling division, value-at-rank threshold
    // (LEFT join — α too small for n leaves the conformal +∞ as NULL),
    // exact ppm coverage on the odd half
    "q_ml_conformal" ->
      s"""WITH $textScoredSql,
         |cal AS (
         |  SELECT vec_id, 1000000 - ps AS q_s FROM fp
         |  WHERE y = 1 AND vec_id % 2 = 0),
         |ev AS (
         |  SELECT vec_id, 1000000 - ps AS q_s FROM fp
         |  WHERE y = 1 AND vec_id % 2 = 1),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
         |rk AS (
         |  SELECT q_s,
         |    CAST(row_number() OVER (ORDER BY q_s, vec_id) AS BIGINT) AS rn
         |  FROM cal),
         |al AS (SELECT CAST(unnest([${conformalAlphas.mkString(", ")}])
         |  AS BIGINT) AS alpha_ppm),
         |ix AS (
         |  SELECT a.alpha_ppm, n.n_cal,
         |    ((n.n_cal + 1) * (1000000 - a.alpha_ppm) + 999999) // 1000000 AS i
         |  FROM al a CROSS JOIN nc n),
         |thr AS (
         |  SELECT i.alpha_ppm, i.n_cal, r.q_s AS thr_s
         |  FROM ix i LEFT JOIN rk r ON r.rn = i.i)
         |SELECT t.alpha_ppm, t.n_cal, CAST(t.thr_s AS BIGINT) AS thr_s,
         |  CAST(count(*) AS BIGINT) AS n_eval,
         |  CAST(sum(CASE WHEN t.thr_s IS NULL OR e.q_s <= t.thr_s
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  CAST((sum(CASE WHEN t.thr_s IS NULL OR e.q_s <= t.thr_s
         |    THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
         |    AS coverage_ppm
         |FROM ev e CROSS JOIN thr t
         |GROUP BY 1, 2, 3""".stripMargin,

    // naive Bayes fit on the even half: per-dim class counts over the
    // complete dim domain + add-one-smoothed floor(ln·1e6) weights
    // (same exact-integer-ratio ln as the perplexity oracle)
    "q_ml_nb_model" ->
      s"""WITH $nbModelChainSql
         |SELECT dim, c1, c0, w1_s, w0_s FROM model""".stripMargin,

    // the NB head on the held-out odd half: integer margins (feature
    // terms + prior difference), sign decision, confusion counts
    "q_ml_nb_eval" ->
      s"""WITH $nbModelChainSql,
         |pr AS (
         |  SELECT CAST(
         |    floor(ln(CAST(sum(y) AS DOUBLE) / count(*)) * 1e6) -
         |    floor(ln(CAST(count(*) - sum(y) AS DOUBLE) / count(*)) * 1e6)
         |    AS BIGINT) AS prior_margin_s
         |  FROM trainlab),
         |terms AS (
         |  SELECT f.doc_id,
         |    CAST(sum(f.c * (m.w1_s - m.w0_s)) AS BIGINT) AS fm
         |  FROM sfeat f JOIN model m USING (dim)
         |  WHERE f.doc_id % 2 = 1 GROUP BY 1),
         |ev AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS y
         |  FROM documents WHERE doc_id % 2 = 1),
         |scored AS (
         |  SELECT e.y, coalesce(t.fm, 0) + p.prior_margin_s AS margin_s
         |  FROM ev e LEFT JOIN terms t USING (doc_id) CROSS JOIN pr p)
         |SELECT y, CAST(CASE WHEN margin_s >= 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS pred,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM scored GROUP BY 1, 2""".stripMargin,

    // mirrors Evaluation.aucExact over the TEXT head's scores — the
    // same grid → cum_less → 2-scaled Mann-Whitney U blocks as the
    // embeddings q_ml_auc oracle
    "q_ml_text_auc" ->
      s"""WITH $textScoredSql,
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

    "q_text_bpe_fertility" ->
      s"""${bpeApplyOracleBase(3)},
         |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_syms
         |       FROM s_3 GROUP BY 1),
         |nt AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_toks
         |       FROM documents),
         |g AS (
         |  SELECT lang, CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
         |    CAST(sum(n_syms) AS BIGINT) AS sum_syms
         |  FROM nt JOIN ns USING (doc_id) GROUP BY 1)
         |SELECT lang, sum_tokens, sum_syms,
         |  (sum_syms * 1000000) // sum_tokens AS fertility_s
         |FROM g""".stripMargin,

    "q_text_bpe_merges" -> bpeMergesOracle(3),

    "q_text_bpe_apply" -> bpeApplyOracle(3),

    // the frozen-tokenizer face must reproduce training's segmentation
    "q_text_bpe_frozen" -> bpeApplyOracle(3),

    // so must the native-expression face
    "q_text_bpe_native" -> bpeApplyOracle(3),

    // exact-mode 3-way intersection: customers in EVERY year-third
    "q_sketch_theta_retention" ->
      """WITH k AS (
        |  SELECT o_orderpriority AS g, year(o_orderdate) % 3 AS batch,
        |    o_custkey AS key
        |  FROM orders),
        |u AS (SELECT g, count(DISTINCT key) AS n FROM k GROUP BY 1),
        |e AS (
        |  SELECT g, key FROM k GROUP BY g, key
        |  HAVING count(DISTINCT batch) = 3),
        |i AS (SELECT g, count(*) AS n FROM e GROUP BY 1)
        |SELECT u.g, CAST(u.n AS DOUBLE) AS n_any,
        |  CAST(coalesce(i.n, 0) AS DOUBLE) AS n_every
        |FROM u LEFT JOIN i USING (g)""".stripMargin,

    // exact-mode theta: every estimate is the exact distinct count as
    // a double (retained entries ≪ 2^12 nominal at this SF)
    "q_sketch_theta_overlap" ->
      """WITH k AS (
        |  SELECT o_orderpriority AS g,
        |    CASE WHEN year(o_orderdate) <= 1997 THEN 'a' ELSE 'b' END AS batch,
        |    o_custkey AS key
        |  FROM orders),
        |a AS (SELECT g, count(DISTINCT key) AS n FROM k WHERE batch = 'a' GROUP BY 1),
        |b AS (SELECT g, count(DISTINCT key) AS n FROM k WHERE batch = 'b' GROUP BY 1),
        |u AS (SELECT g, count(DISTINCT key) AS n FROM k GROUP BY 1),
        |i AS (
        |  SELECT g, count(*) AS n FROM (
        |    SELECT g, key FROM k WHERE batch = 'a'
        |    INTERSECT
        |    SELECT g, key FROM k WHERE batch = 'b') GROUP BY 1),
        |d AS (
        |  SELECT g, count(*) AS n FROM (
        |    SELECT g, key FROM k WHERE batch = 'a'
        |    EXCEPT
        |    SELECT g, key FROM k WHERE batch = 'b') GROUP BY 1)
        |SELECT a.g, CAST(a.n AS DOUBLE) AS n_early, CAST(b.n AS DOUBLE) AS n_late,
        |  CAST(u.n AS DOUBLE) AS n_union,
        |  CAST(coalesce(i.n, 0) AS DOUBLE) AS n_both,
        |  CAST(coalesce(d.n, 0) AS DOUBLE) AS n_churned
        |FROM a JOIN b USING (g) JOIN u USING (g)
        |LEFT JOIN i USING (g) LEFT JOIN d USING (g)""".stripMargin,

    // join-size CTEs shared with q_sketch_join_size, plus exact
    // cardinalities/top-key and the fixed-threshold verdicts
    "q_advisor_join" ->
      s"""WITH la AS (
         |  SELECT (l_partkey % 3 + 3) % 3 AS g, l_partkey AS key FROM lineitem),
         |pb AS (
         |  SELECT (p_partkey % 3 + 3) % 3 AS g, p_partkey AS key
         |  FROM part WHERE p_size <= 10),
         |ca AS (
         |  SELECT g, t.r AS r, ${slotSql("key", "t.r", 512L)} AS slot,
         |    count(*) AS cnt_a
         |  FROM la, unnest(range(4)) AS t(r) GROUP BY 1, 2, 3),
         |cb AS (
         |  SELECT g, t.r AS r, ${slotSql("key", "t.r", 512L)} AS slot,
         |    count(*) AS cnt_b
         |  FROM pb, unnest(range(4)) AS t(r) GROUP BY 1, 2, 3),
         |ip AS (
         |  SELECT ca.g, ca.r, sum(cnt_a * cnt_b) AS ip
         |  FROM ca JOIN cb ON ca.g = cb.g AND ca.r = cb.r AND ca.slot = cb.slot
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT g,
         |    CASE WHEN count(*) < 4 THEN 0 ELSE min(ip) END AS e
         |  FROM ip GROUP BY 1),
         |g0 AS (
         |  SELECT DISTINCT g FROM ca
         |  INTERSECT
         |  SELECT DISTINCT g FROM cb),
         |pr AS (
         |  SELECT g, CAST(sum(c) AS BIGINT) AS n_probe,
         |    CAST(max(c) AS BIGINT) AS top_key_cnt
         |  FROM (SELECT g, key, count(*) AS c FROM la GROUP BY 1, 2)
         |  GROUP BY 1),
         |bu AS (SELECT g, count(*) AS n_build FROM pb GROUP BY 1)
         |SELECT g0.g, CAST(coalesce(est.e, 0) AS BIGINT) AS join_size_est,
         |  n_build, n_probe, top_key_cnt,
         |  CASE WHEN n_build <= 1000 THEN 'broadcast'
         |    ELSE 'shuffle_hash' END AS strategy,
         |  top_key_cnt * 10 > n_probe AS skewed
         |FROM g0 LEFT JOIN est USING (g)
         |JOIN pr USING (g) JOIN bu USING (g)""".stripMargin,

    // the same two depth-4 × width-512 sketches, the same row-wise
    // inner products, the same short-row-means-zero min — plus the
    // exact join count the estimate upper-bounds
    "q_sketch_join_size" ->
      s"""WITH la AS (
         |  SELECT (l_partkey % 3 + 3) % 3 AS g, l_partkey AS key FROM lineitem),
         |pb AS (
         |  SELECT (p_partkey % 3 + 3) % 3 AS g, p_partkey AS key
         |  FROM part WHERE p_size <= 10),
         |ca AS (
         |  SELECT g, t.r AS r, ${slotSql("key", "t.r", 512L)} AS slot,
         |    count(*) AS cnt_a
         |  FROM la, unnest(range(4)) AS t(r) GROUP BY 1, 2, 3),
         |cb AS (
         |  SELECT g, t.r AS r, ${slotSql("key", "t.r", 512L)} AS slot,
         |    count(*) AS cnt_b
         |  FROM pb, unnest(range(4)) AS t(r) GROUP BY 1, 2, 3),
         |ip AS (
         |  SELECT ca.g, ca.r, sum(cnt_a * cnt_b) AS ip
         |  FROM ca JOIN cb ON ca.g = cb.g AND ca.r = cb.r AND ca.slot = cb.slot
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT g,
         |    CASE WHEN count(*) < 4 THEN 0 ELSE min(ip) END AS e
         |  FROM ip GROUP BY 1),
         |g0 AS (
         |  SELECT DISTINCT g FROM ca
         |  INTERSECT
         |  SELECT DISTINCT g FROM cb),
         |ex AS (
         |  SELECT la.g, count(*) AS n_exact
         |  FROM la JOIN pb ON la.key = pb.key GROUP BY 1)
         |SELECT g0.g, CAST(coalesce(est.e, 0) AS BIGINT) AS join_size_est,
         |  n_exact
         |FROM g0 LEFT JOIN est USING (g) JOIN ex USING (g)""".stripMargin,

    // 256 words × 63 bits = 16128 slots, 4 probes — the same double
    // hashing as the engine, so the bits table matches exactly
    "q_sketch_bloom" ->
      s"""WITH keys AS (
         |  SELECT o_orderpriority AS g, o_custkey AS key FROM orders),
         |p AS (
         |  SELECT g, ${slotSql("key", "t.i", 16128L)} AS p
         |  FROM keys, unnest(range(4)) AS t(i))
         |SELECT g, p // 63 AS word_idx,
         |  bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
         |FROM p GROUP BY 1, 2""".stripMargin,

    "q_sketch_bloom_fpr" ->
      s"""WITH keys AS (
         |  SELECT o_orderpriority AS g, o_custkey AS key FROM orders),
         |bp AS (
         |  SELECT g, ${slotSql("key", "t.i", 16128L)} AS p
         |  FROM keys, unnest(range(4)) AS t(i)),
         |bloom AS (
         |  SELECT g, p // 63 AS word_idx,
         |    bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
         |  FROM bp GROUP BY 1, 2),
         |probes AS (
         |  SELECT d.g, c.c_custkey AS key
         |  FROM (SELECT DISTINCT g FROM keys) d, customer c),
         |pr AS (
         |  SELECT g, key, ${slotSql("key", "t.i", 16128L)} AS p
         |  FROM probes, unnest(range(4)) AS t(i)),
         |hits AS (
         |  SELECT pr.g, pr.key,
         |    min(CASE WHEN b.bits IS NULL THEN 0
         |        ELSE (b.bits >> CAST(pr.p % 63 AS INT)) & 1 END) AS all_set
         |  FROM pr LEFT JOIN bloom b
         |    ON b.g = pr.g AND b.word_idx = pr.p // 63
         |  GROUP BY 1, 2),
         |exact AS (SELECT DISTINCT g, key, TRUE AS is_member FROM keys)
         |SELECT h.g, count(*) AS n_probes,
         |  count(*) FILTER (WHERE e.is_member) AS n_members,
         |  count(*) FILTER (WHERE h.all_set = 1) AS n_maybe,
         |  count(*) FILTER (WHERE h.all_set = 1 AND e.is_member IS NULL)
         |    AS n_false_pos
         |FROM hits h LEFT JOIN exact e ON e.g = h.g AND e.key = h.key
         |GROUP BY 1""".stripMargin,

    // depth 4 × width 512 count-min: same hashing, counts match exactly
    "q_sketch_cms" ->
      s"""WITH keys AS (
         |  SELECT l_returnflag AS g, l_partkey AS key FROM lineitem),
         |s AS (
         |  SELECT g, t.r AS r, ${slotSql("key", "t.r", 512L)} AS slot
         |  FROM keys, unnest(range(4)) AS t(r))
         |SELECT g, r, slot, count(*) AS cnt FROM s GROUP BY 1, 2, 3""".stripMargin,

    "q_sketch_cms_est" ->
      s"""WITH keys AS (
         |  SELECT l_returnflag AS g, l_partkey AS key FROM lineitem),
         |cs AS (
         |  SELECT g, t.r AS r, ${slotSql("key", "t.r", 512L)} AS slot
         |  FROM keys, unnest(range(4)) AS t(r)),
         |cms AS (
         |  SELECT g, r, slot, count(*) AS cnt FROM cs GROUP BY 1, 2, 3),
         |probes AS (
         |  SELECT d.g, p.p_partkey AS key
         |  FROM (SELECT DISTINCT g FROM keys) d, part p),
         |pr AS (
         |  SELECT g, key, t.r AS r, ${slotSql("key", "t.r", 512L)} AS slot
         |  FROM probes, unnest(range(4)) AS t(r)),
         |est AS (
         |  SELECT pr.g, pr.key, min(coalesce(c.cnt, 0)) AS est
         |  FROM pr LEFT JOIN cms c
         |    ON c.g = pr.g AND c.r = pr.r AND c.slot = pr.slot
         |  GROUP BY 1, 2),
         |exact AS (SELECT g, key, count(*) AS exact FROM keys GROUP BY 1, 2)
         |SELECT e.g, count(*) AS n_keys,
         |  count(*) FILTER (WHERE e.est = coalesce(x.exact, 0)) AS n_exact,
         |  CAST(sum(e.est - coalesce(x.exact, 0)) AS BIGINT) AS sum_overestimate,
         |  CAST(max(e.est - coalesce(x.exact, 0)) AS BIGINT) AS max_overestimate
         |FROM est e LEFT JOIN exact x ON x.g = e.g AND x.key = e.key
         |GROUP BY 1""".stripMargin,

    // chr(769)=U+0301 combining acute, chr(64257)=U+FB01 ﬁ ligature
    // (NFC-invariant), chr(778)=U+030A combining ring — the same
    // decorated string the Spark face builds
    "q_text_html_extract" ->
      s"""WITH t AS (SELECT doc_id, $htmlFixtureSql AS html FROM documents),
         |clean AS (SELECT doc_id, ${htmlCleanSql("html")} AS text_clean FROM t)
         |SELECT doc_id, text_clean,
         |  CAST(length(text_clean) AS BIGINT) AS len_clean
         |FROM clean""".stripMargin,

    "q_text_html_link_density" ->
      s"""WITH t AS (SELECT doc_id, $htmlFixtureSql AS html FROM documents),
         |lens AS (SELECT doc_id,
         |    CAST(length(${htmlLinkSql("html")}) AS BIGINT) AS len_link,
         |    CAST(length(${htmlCleanSql("html")}) AS BIGINT) AS len_total
         |  FROM t)
         |SELECT doc_id, len_link, len_total,
         |  CAST((CAST(len_link AS HUGEINT) * 1000000)
         |    // greatest(len_total, 1) AS BIGINT) AS link_ppm
         |FROM lens""".stripMargin,

    "q_text_html_blocks" ->
      s"""WITH t AS (SELECT doc_id, $htmlFixtureSql AS html FROM documents),
         |c AS (SELECT doc_id, ${htmlCleanSql("html", blockMarks = true)} AS bt
         |  FROM t),
         |b AS (SELECT doc_id, trim(x) AS block
         |  FROM c, unnest(string_split(bt, chr(28))) AS u(x)
         |  WHERE trim(x) <> '')
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(max(struct_pack(l := CAST(length(block) AS BIGINT),
         |    b := block)).l AS BIGINT) AS main_len,
         |  max(struct_pack(l := CAST(length(block) AS BIGINT),
         |    b := block)).b AS main_block
         |FROM b GROUP BY doc_id""".stripMargin,

    // the zip is a list comprehension (list_zip yields unnamed structs
    // DuckDB cannot field-extract); idx is 1-based in the comprehension
    // and shifted to the face's 0-based posexplode convention
    "q_text_html_block_density" ->
      s"""WITH t AS (SELECT doc_id, $htmlFixtureSql AS html FROM documents),
         |c AS (SELECT doc_id,
         |    ${htmlCleanSql("html", blockMarks = true)} AS bt,
         |    ${htmlCleanSql("html", blockMarks = true, linkOnly = true)} AS lt
         |  FROM t),
         |s AS (SELECT doc_id, string_split(bt, chr(28)) AS bs,
         |    string_split(lt, chr(28)) AS ls FROM c),
         |z AS (SELECT doc_id, u.x.i - 1 AS block_idx,
         |    trim(u.x.b) AS b, trim(u.x.l) AS l
         |  FROM s, unnest([struct_pack(i := i, b := bs[i], l := ls[i])
         |    for i in range(1, len(bs) + 1)]) AS u(x))
         |SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx,
         |  CAST(length(b) AS BIGINT) AS block_len,
         |  CAST(length(l) AS BIGINT) AS link_len,
         |  CAST((CAST(length(l) AS HUGEINT) * 1000000)
         |    // greatest(length(b), 1) AS BIGINT) AS link_ppm,
         |  CAST((CAST(length(l) AS HUGEINT) * 1000000)
         |    // greatest(length(b), 1) AS BIGINT) <= 333333 AS is_content
         |FROM z WHERE b <> ''""".stripMargin,

    // the pct CTE is the Scala side's first pass (pctNormSql); the
    // remaining rewrite then operates on canonical octets
    // list comprehensions preserve element order, so the kept-block
    // reassembly is document order in both engines with no sort
    "q_text_html_content" ->
      s"""WITH t AS (SELECT doc_id, $htmlFixtureSql AS html FROM documents),
         |c AS (SELECT doc_id,
         |    ${htmlCleanSql("html", blockMarks = true)} AS bt,
         |    ${htmlCleanSql("html", blockMarks = true, linkOnly = true)} AS lt
         |  FROM t),
         |s AS (SELECT doc_id, string_split(bt, chr(28)) AS bs,
         |    string_split(lt, chr(28)) AS ls FROM c),
         |z AS (SELECT doc_id,
         |    [struct_pack(b := trim(bs[i]), l := trim(ls[i]))
         |      for i in range(1, len(bs) + 1) if trim(bs[i]) <> ''] AS zs
         |  FROM s),
         |k AS (SELECT doc_id, len(zs) AS n_blocks,
         |    [x.b for x in zs if
         |      CAST((CAST(length(x.l) AS HUGEINT) * 1000000)
         |        // greatest(length(x.b), 1) AS BIGINT) <= 333333] AS kept
         |  FROM z)
         |SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  array_to_string(kept, ' ') AS content,
         |  CAST(length(array_to_string(kept, ' ')) AS BIGINT) AS content_len
         |FROM k""".stripMargin,

    "q_text_url_normalize" ->
      s"""WITH t AS (SELECT doc_id, $urlFixtureSql AS url FROM documents),
         |p AS (SELECT doc_id, url, ${pctNormSql("url")} AS urlp FROM t)
         |SELECT doc_id, url, ${urlNormSql("urlp")} AS url_norm FROM p""".stripMargin,

    "q_dedup_url" ->
      s"""WITH t AS (SELECT doc_id, $urlFixtureSql AS url FROM documents),
         |p AS (SELECT doc_id, ${pctNormSql("url")} AS urlp FROM t),
         |n AS (SELECT doc_id, ${urlNormSql("urlp")} AS url_norm FROM p)
         |SELECT doc_id, url_norm,
         |  CAST(count(*) OVER (PARTITION BY url_norm) AS BIGINT) AS group_size,
         |  doc_id = min(doc_id) OVER (PARTITION BY url_norm) AS is_kept
         |FROM n""".stripMargin,

    // the block-level pipeline: the framed-scan chains + the nested
    // order-preserving comprehension (zs built inline, density-filtered)
    // reassemble per-doc content, then the same gates and dedup window
    "q_pipeline_block_curation" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, source, $htmlCrawlFixtureSql AS html
         |  FROM documents),
         |c AS (SELECT doc_id, lang, source,
         |    ${htmlCleanSql("html", blockMarks = true)} AS bt,
         |    ${htmlCleanSql("html", blockMarks = true, linkOnly = true)} AS lt
         |  FROM t),
         |s AS (SELECT doc_id, lang, source, string_split(bt, chr(28)) AS bs,
         |    string_split(lt, chr(28)) AS ls FROM c),
         |x AS (SELECT doc_id, lang, source,
         |    array_to_string([z.b for z in
         |      [struct_pack(b := trim(bs[i]), l := trim(ls[i]))
         |        for i in range(1, len(bs) + 1) if trim(bs[i]) <> '']
         |      if CAST((CAST(length(z.l) AS HUGEINT) * 1000000)
         |        // greatest(length(z.b), 1) AS BIGINT) <= 333333], ' ')
         |      AS content
         |  FROM s),
         |q AS (SELECT * FROM x
         |  WHERE len(regexp_split_to_array(trim(content), '\\s+')) >= 25
         |    AND len(list_filter(regexp_split_to_array(trim(content), '\\s+'),
         |      t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) >= 2),
         |h AS (SELECT *,
         |    ${charHash("regexp_replace(lower(trim(content)), '\\s+', ' ', 'g')")} AS canon_hash
         |  FROM q),
         |k AS (SELECT *,
         |    doc_id = min(doc_id) OVER (PARTITION BY canon_hash) AS is_kept
         |  FROM h)
         |SELECT lang, source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (is_kept) AS BIGINT) AS n_kept,
         |  CAST(sum(length(content)) FILTER (is_kept) AS BIGINT) AS chars_kept
         |FROM k GROUP BY lang, source""".stripMargin,

    // the composed curation pipeline: the htmlCleanSql chain embedded
    // verbatim (the gdIterBlocksSql convention), then the gates and the
    // exact-dedup window mirroring q_dedup_exact's oracle
    "q_pipeline_html_curation" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, source, $htmlCrawlFixtureSql AS html
         |  FROM documents),
         |x AS (SELECT doc_id, lang, source,
         |    ${htmlCleanSql("html")} AS text_clean,
         |    CAST(length(${htmlLinkSql("html")}) AS BIGINT) AS len_link,
         |    CAST(length(${htmlCleanSql("html")}) AS BIGINT) AS len_total
         |  FROM t),
         |g AS (SELECT * FROM x
         |  WHERE CAST((CAST(len_link AS HUGEINT) * 1000000)
         |    // greatest(len_total, 1) AS BIGINT) <= 40000),
         |q AS (SELECT * FROM g
         |  WHERE len(regexp_split_to_array(trim(text_clean), '\\s+')) >= 25
         |    AND len(list_filter(regexp_split_to_array(trim(text_clean), '\\s+'),
         |      t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) >= 2),
         |h AS (SELECT *,
         |    ${charHash("regexp_replace(lower(trim(text_clean)), '\\s+', ' ', 'g')")} AS canon_hash
         |  FROM q),
         |k AS (SELECT *,
         |    doc_id = min(doc_id) OVER (PARTITION BY canon_hash) AS is_kept
         |  FROM h)
         |SELECT lang, source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (is_kept) AS BIGINT) AS n_kept,
         |  CAST(sum(len_total) FILTER (is_kept) AS BIGINT) AS chars_kept
         |FROM k GROUP BY lang, source""".stripMargin,

    "q_text_normalize" ->
      """WITH t AS (
        |  SELECT doc_id, substring(text, 1, 40) || ' Cafe' || chr(769) || ' ' ||
        |    chr(64257) || 'n A' || chr(778) AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS text_nfc,
        |  CAST(length(raw) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
        |FROM t""".stripMargin,
    "q_text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct($toks)) AS BIGINT) AS n_distinct_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_subwords,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin,

    "q_text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len($toks) AS BIGINT) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(len(list_filter($toks,
         |      t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens,
         |  CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) AS punct_ratio,
         |  CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stopword_ratio,
         |  (CAST(n_chars AS DOUBLE) - CAST(n_tokens AS DOUBLE) + 1.0)
         |    / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_token_len,
         |  least(1.0, CAST(n_tokens AS DOUBLE) / 64.0)
         |    * (1.0 - CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS quality_score
         |FROM base""".stripMargin,

    // mirrors TextAnalysis.gopherRules: same token split, integer
    // fixed-point mean/percentage via floor division
    "q_text_gopher_rules" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len($toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform($toks, t -> length(t)))
         |      AS BIGINT) AS sum_chars,
         |    CAST(len(list_filter($toks,
         |      t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |      AS BIGINT) AS n_stop,
         |    CAST(len(list_filter($toks, t -> length(t) >= 3))
         |      AS BIGINT) AS n_long
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_words,
         |    (sum_chars * 100) // greatest(n_words, 1) AS mean_len_x100,
         |    n_stop,
         |    (n_long * 100) // greatest(n_words, 1) AS long_pct
         |  FROM m)
         |SELECT doc_id, n_words, mean_len_x100, n_stop, long_pct,
         |  n_words >= 25 AND n_words <= 100000 AS words_ok,
         |  mean_len_x100 >= 400 AND mean_len_x100 <= 500 AS mean_ok,
         |  n_stop >= 2 AS stop_ok,
         |  long_pct >= 90 AS long_ok,
         |  (n_words >= 25 AND n_words <= 100000)
         |    AND (mean_len_x100 >= 400 AND mean_len_x100 <= 500)
         |    AND n_stop >= 2 AND long_pct >= 90 AS keep
         |FROM r""".stripMargin,

    "q_text_langid" -> {
      val langs = TextAnalysis.markerSets.map(_._1)
      val best = s"greatest(${langs.map(l => s"votes_$l").mkString(", ")})"
      val pred = langs.foldRight("'und'") { (l, acc) =>
        s"CASE WHEN votes_$l = $best AND $best > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH v AS (
         |  SELECT doc_id,
         |  $langVotes
         |  FROM documents)
         |SELECT doc_id, ${langs.map(l => s"votes_$l").mkString(", ")},
         |  $pred AS pred_lang
         |FROM v""".stripMargin
    },

    // the cross-family report: quality/exact-dedup/outlier twins join
    // by doc id; the dedup and outlier twins embed verbatim from their
    // owning objects so the faces cannot desynchronize
    "q_curation_report" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len($toks) AS BIGINT) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    CAST(floor(least(1.0, CAST(n_tokens AS DOUBLE) / 64.0)
         |      * (1.0 - CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0))
         |      * 1000000.0) AS BIGINT) AS q_s
         |  FROM base),
         |kept AS (SELECT doc_id, is_kept FROM (${DedupQueries.exactDedupSql})),
         |outl AS (SELECT vec_id AS doc_id, is_outlier
         |         FROM (${SimilarityQueries.outlierSql}))
         |SELECT d.lang, d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (WHERE k.is_kept) AS BIGINT) AS n_kept,
         |  CAST(count(*) FILTER (WHERE o.is_outlier) AS BIGINT) AS n_outliers,
         |  CAST(sum(q.q_s) AS BIGINT) AS sum_quality_s
         |FROM documents d
         |JOIN q USING (doc_id)
         |JOIN kept k USING (doc_id)
         |LEFT JOIN outl o USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    "q_text_langid_eval" -> {
      val langs = TextAnalysis.markerSets.map(_._1)
      val best = s"greatest(${langs.map(l => s"votes_$l").mkString(", ")})"
      val pred = langs.foldRight("'und'") { (l, acc) =>
        s"CASE WHEN votes_$l = $best AND $best > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH v AS (
         |  SELECT doc_id,
         |  $langVotes
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, $pred AS pred_lang FROM v)
         |SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM p JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },

    // mirrors Evaluation.cohensKappa over the langid chain; kappa is
    // legitimately negative, where DuckDB's // truncates — the
    // pmod-subtract ladder restores the engine's floor semantics
    "q_ml_kappa" -> {
      val langs = TextAnalysis.markerSets.map(_._1)
      val best = s"greatest(${langs.map(l => s"votes_$l").mkString(", ")})"
      val pred = langs.foldRight("'und'") { (l, acc) =>
        s"CASE WHEN votes_$l = $best AND $best > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH v AS (
         |  SELECT doc_id,
         |  $langVotes
         |  FROM documents),
         |p AS (SELECT doc_id, $pred AS pred_lang FROM v),
         |j AS (
         |  SELECT d.lang AS a, p.pred_lang AS b
         |  FROM p JOIN documents d USING (doc_id)
         |  WHERE d.lang IS NOT NULL AND p.pred_lang IS NOT NULL),
         |pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
         |t AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS n_agree
         |  FROM pc),
         |rc AS (
         |  SELECT CAST(sum(r.r * c.c) AS BIGINT) AS rc
         |  FROM (SELECT a, sum(n) AS r FROM pc GROUP BY 1) r
         |  JOIN (SELECT b, sum(n) AS c FROM pc GROUP BY 1) c ON r.a = c.b),
         |d AS (
         |  SELECT t.n_rows, t.n_agree,
         |    (t.n_rows * t.n_agree - rc.rc) * 1000000 AS num,
         |    t.n_rows * t.n_rows - rc.rc AS den
         |  FROM t CROSS JOIN rc)
         |SELECT n_rows, n_agree,
         |  CASE WHEN den = 0 THEN NULL
         |    ELSE (num - ((num % den + den) % den)) // den END AS kappa_s
         |FROM d""".stripMargin
    },

    "q_text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    ${charHash("text")} AS char_fingerprint,
         |    list_transform(toks, tk -> ${charHash("tk")}) AS th,
         |    len(toks) AS n
         |  FROM t)
         |SELECT doc_id, char_fingerprint,
         |  CASE WHEN n > 0 THEN CAST(CAST(list_sum(
         |      list_transform(range(n), i -> (th[i+1] * (i+1)) % $P)) AS BIGINT) % $P AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS token_fingerprint
         |FROM h""".stripMargin,

    // mirrors TextAnalysis.repetitionStats: same per-token rolling
    // same token hashes and shingle ladders as the engine; distinctness
    // re-counted from the (lang, n, hash) pre-aggregate; positive
    // numerator so DuckDB // == floor DIV
    "q_text_ngram_diversity" ->
      s"""WITH tht AS (SELECT lang, $thSql AS th FROM documents),
         |gr AS (
         |  SELECT lang, 1 AS n, unnest(th) AS h FROM tht
         |  UNION ALL
         |  SELECT lang, 2 AS n, unnest(CASE WHEN len(th) >= 2
         |    THEN list_transform(range(len(th) - 1),
         |      i -> (th[i+1] * 131 + th[i+2]) % $P)
         |    ELSE [] END) AS h FROM tht
         |  UNION ALL
         |  SELECT lang, 3 AS n, unnest(CASE WHEN len(th) >= 3
         |    THEN list_transform(range(len(th) - 2),
         |      i -> (((th[i+1] * 131 + th[i+2]) % $P) * 131 + th[i+3]) % $P)
         |    ELSE [] END) AS h FROM tht),
         |hc AS (SELECT lang, n, h, CAST(count(*) AS BIGINT) AS c
         |       FROM gr GROUP BY 1, 2, 3)
         |SELECT lang, n, CAST(sum(c) AS BIGINT) AS total_grams,
         |  CAST(count(*) AS BIGINT) AS distinct_grams,
         |  (CAST(count(*) AS BIGINT) * 1000000) // CAST(sum(c) AS BIGINT)
         |    AS distinct_ratio_s
         |FROM hc GROUP BY 1, 2""".stripMargin,

    // hashes, same n=2 shingle combination (th_i*131 + th_{i+1}) % p,
    // ratios as one BIGINT/BIGINT→DOUBLE division; short docs get NULL
    // n-gram columns through the LEFT JOIN
    "q_text_repetition" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform($toks, tk -> ${charHash("tk")}) AS th
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, h, count(*) AS c FROM (
         |    SELECT doc_id, unnest(th) AS h FROM th) GROUP BY doc_id, h),
         |tok_agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_distinct_tokens,
         |    CAST(max(c) AS BIGINT) AS top_c,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c
         |  FROM tok GROUP BY doc_id),
         |gr AS (
         |  SELECT doc_id, g, count(*) AS c FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(th) >= 2
         |      THEN list_transform(range(len(th) - 1), i -> (th[i+1] * 131 + th[i+2]) % $P)
         |      ELSE [] END) AS g
         |    FROM th) GROUP BY doc_id, g),
         |gr_agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
         |    CAST(max(c) AS BIGINT) AS top_g,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_g
         |  FROM gr GROUP BY doc_id)
         |SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens,
         |  CAST(top_c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS top_token_frac,
         |  CAST(dup_c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS dup_token_frac,
         |  g.n_ngrams,
         |  CAST(top_g AS DOUBLE) / CAST(g.n_ngrams AS DOUBLE) AS top_ngram_frac,
         |  CAST(dup_g AS DOUBLE) / CAST(g.n_ngrams AS DOUBLE) AS dup_ngram_frac
         |FROM tok_agg t LEFT JOIN gr_agg g USING (doc_id)""".stripMargin,

    // same regex shapes in RE2; DuckDB string literals pass backslashes
    // through untouched, so the Scala-escaped patterns arrive identical
    // the same replacement chain (email → URL → IP → phone, global)
    // then the residual scan over the redacted text
    "q_text_redact" ->
      """WITH d AS (
        |  SELECT doc_id, substring(text, 1, 60) ||
        |    ' a.b@test.org or +1 (415) 555-0199 via http://ex.com/p?q=1 from 10.0.0.1'
        |    AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(text,
        |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |          'https?://[^\s]+', '<URL>', 'g'),
        |        '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS text_redacted
        |  FROM d)
        |SELECT doc_id, text_redacted,
        |  CAST(len(regexp_extract_all(text_redacted,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text_redacted, '\+?[0-9][0-9()\- ]{7,}[0-9]'))
        |    + len(regexp_extract_all(text_redacted, 'https?://[^\s]+'))
        |    + len(regexp_extract_all(text_redacted,
        |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_residual_pii
        |FROM r""".stripMargin,

    "q_text_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]'))
        |    + len(regexp_extract_all(text, 'https?://[^\s]+'))
        |    + len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) > 0
        |    AS has_pii
        |FROM documents""".stripMargin,

    "q_text_contamination" -> {
      val sh3 =
        s"""CASE WHEN len(th) >= 3
           |  THEN list_transform(range(len(th) - 2),
           |    i -> (((th[i+1] * 131 + th[i+2]) % $P) * 131 + th[i+3]) % $P)
           |  ELSE [] END""".stripMargin
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |dg AS (SELECT doc_id, unnest($sh3) AS g FROM tht),
         |pg AS (SELECT DISTINCT unnest($sh3) AS g FROM tht WHERE doc_id < 5),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM dg GROUP BY doc_id),
         |hits AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
         |  FROM dg WHERE g IN (SELECT g FROM pg) GROUP BY doc_id)
         |SELECT t.doc_id, t.n_grams,
         |  CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  coalesce(h.n_contaminated, 0) > 0 AS is_contaminated
         |FROM tot t LEFT JOIN hits h USING (doc_id)""".stripMargin
    },

    // mirrors TextAnalysis.contaminationReport: distinct probe grams,
    // hash-join against corpus grams, distinct-gram/distinct-doc
    // aggregates, one BIGINT/BIGINT→DOUBLE division
    "q_text_contamination_report" -> {
      val sh3 =
        s"""CASE WHEN len(th) >= 3
           |  THEN list_transform(range(len(th) - 2),
           |    i -> (((th[i+1] * 131 + th[i+2]) % $P) * 131 + th[i+3]) % $P)
           |  ELSE [] END""".stripMargin
      s"""WITH tht AS (SELECT doc_id, $thSql AS th FROM documents),
         |cg AS (SELECT doc_id, unnest($sh3) AS g FROM tht WHERE doc_id % 2 = 0),
         |pg AS (SELECT DISTINCT doc_id AS probe_id, unnest($sh3) AS g
         |       FROM tht WHERE doc_id % 10 = 1),
         |tot AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_grams
         |        FROM pg GROUP BY probe_id),
         |hits AS (
         |  SELECT p.probe_id,
         |    CAST(count(DISTINCT p.g) AS BIGINT) AS n_leaked_grams,
         |    CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_hit_docs
         |  FROM pg p JOIN cg c USING (g) GROUP BY p.probe_id)
         |SELECT t.probe_id, t.n_grams,
         |  CAST(coalesce(h.n_leaked_grams, 0) AS BIGINT) AS n_leaked_grams,
         |  CAST(coalesce(h.n_hit_docs, 0) AS BIGINT) AS n_hit_docs,
         |  CAST(coalesce(h.n_leaked_grams, 0) AS DOUBLE) /
         |    CAST(t.n_grams AS DOUBLE) AS leaked_frac
         |FROM tot t LEFT JOIN hits h USING (probe_id)""".stripMargin
    },

    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
        |    CAST(floor(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) * 100.0)
        |      AS BIGINT) AS score_s
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_s DESC, tok) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, tok, tf, df, score_s FROM r
        |WHERE rank <= 5""".stripMargin,

    // the score expression mirrors the Spark association order exactly:
    // ln(1 + (N - df + 0.5)/(df + 0.5)) * tf * (k1+1) / (tf + k1*(1-b +
    // b*dl*N/tot_len)) * 100, floor-quantized — identical IEEE ops
    "q_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS tot_len
        |  FROM dl),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df, dl.dl,
        |    CAST(floor(
        |      ln(1.0 + (CAST(tot.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
        |        / (CAST(dfreq.df AS DOUBLE) + 0.5))
        |      * CAST(tf.tf AS DOUBLE) * 2.2
        |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25
        |        + 0.75 * CAST(dl.dl AS DOUBLE) * CAST(tot.n_docs AS DOUBLE)
        |          / CAST(tot.tot_len AS DOUBLE)))
        |      * 100.0) AS BIGINT) AS score_s
        |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_s DESC, tok) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, tok, tf, df, dl, score_s FROM r
        |WHERE rank <= 5""".stripMargin,

    "q_text_quantiles" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    CAST(len($toks) AS BIGINT) AS n_tokens,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(floor(quantile_cont(n_tokens, 0.5) * 100.0) AS BIGINT) AS p50_tokens_s,
         |  CAST(floor(quantile_cont(n_tokens, 0.9) * 100.0) AS BIGINT) AS p90_tokens_s,
         |  CAST(floor(quantile_cont(n_tokens, 0.99) * 100.0) AS BIGINT) AS p99_tokens_s,
         |  CAST(floor(avg(n_chars) * 100.0) AS BIGINT) AS mean_chars_s
         |FROM d GROUP BY lang""".stripMargin,

    "q_text_perplexity" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
         |  FROM tk, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
         |      FROM (SELECT unnest(t) AS w FROM tk)),
         |terms AS (
         |  SELECT bg.doc_id,
         |    CAST(floor(-ln((c12.c12 + 1.0) / (c1.c1 + v.v)) * 1000000.0)
         |      AS BIGINT) AS term_s
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(term_s) AS BIGINT) AS sum_nll_s
         |FROM terms GROUP BY doc_id""".stripMargin,

    // string_split(text, '') = Spark split(text, "") on BMP text (both
    // emit per-character classes); same floored-term ladder as
    // q_profile_entropy, grouped per doc
    "q_text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |c AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        |  FROM ch WHERE ch != '' GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |t AS (
        |  SELECT c.doc_id, n.n,
        |    c.c * CAST(floor(ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS t
        |  FROM c JOIN n USING (doc_id)),
        |ag AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_char_classes,
        |    max(n) AS n_chars, CAST(sum(t) AS BIGINT) AS st
        |  FROM t GROUP BY 1)
        |SELECT doc_id, n_char_classes, n_chars,
        |  -((st - ((st % n_chars + n_chars) % n_chars)) // n_chars) AS entropy_s
        |FROM ag""".stripMargin,

    "q_text_ttr" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |tok AS (SELECT doc_id, unnest(t) AS tok FROM tk),
         |tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok WHERE tok != '' GROUP BY 1, 2),
         |ag AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM tf GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |  (n_types * 1000000) // n_tokens AS ttr_ppm,
         |  (n_hapax * 1000000) // n_tokens AS hapax_ppm
         |FROM ag""".stripMargin,

    // the KN probability as one exact HUGEINT ratio; ln argument =
    // identical num/den doubles in both engines (exact ints < 2^53)
    "q_text_kn_perplexity" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
         |  FROM tk, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
         |t1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS t1 FROM c12 GROUP BY 1),
         |n2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS n2 FROM c12 GROUP BY 1),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c12),
         |terms AS (
         |  SELECT bg.doc_id,
         |    CAST(floor(-ln(
         |      CAST((CAST(c12.c12 AS HUGEINT) * 4 - 3) * b.b
         |           + CAST(t1.t1 AS HUGEINT) * n2.n2 * 3 AS DOUBLE) /
         |      CAST(CAST(c1.c1 AS HUGEINT) * b.b * 4 AS DOUBLE)) * 1000000.0)
         |      AS BIGINT) AS term_s
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |  JOIN t1 USING (w1) JOIN n2 USING (w2) CROSS JOIN b)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(term_s) AS BIGINT) AS sum_knll_s
         |FROM terms GROUP BY doc_id""".stripMargin,

    "q_text_chunks" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |d AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tk),
         |c AS (
         |  SELECT doc_id, t, n,
         |    unnest(range(0, 1 + greatest(
         |      CAST(ceil((n - 64) / 32.0) AS BIGINT), 0))) AS chunk_id
         |  FROM d)
         |SELECT doc_id, chunk_id,
         |  chunk_id * 32 AS tok_start,
         |  least(chunk_id * 32 + 64, n) AS tok_end,
         |  array_to_string(t[chunk_id * 32 + 1 : least(chunk_id * 32 + 64, n)], ' ')
         |    AS chunk_text
         |FROM c""".stripMargin,

    // mirrors the SQL-function face: rolling hash = the charHash twin,
    // token count = len of the whitespace split, NFC = nfc_normalize
    "q_text_sql_functions" ->
      s"""SELECT doc_id, ${charHash("text")} AS h,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  nfc_normalize(text) AS text_nfc
         |FROM documents""".stripMargin,

    // mirrors TextAnalysis.invertedIndex: first_pos via list_position
    // (1-based first occurrence == Spark's min(posexplode pos) + 1)
    "q_text_invindex" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toks AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(toks) AS token FROM d),
         |postings AS (
         |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok WHERE token != '' GROUP BY 1, 2),
         |fp AS (
         |  SELECT p.token, p.doc_id, p.tf,
         |    CAST(list_position(d.toks, p.token) AS BIGINT) AS first_pos
         |  FROM postings p JOIN d USING (doc_id)),
         |lex AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df,
         |    CAST(sum(tf) AS BIGINT) AS cf
         |  FROM postings GROUP BY token)
         |SELECT f.token, f.doc_id, f.tf, f.first_pos, l.df, l.cf
         |FROM fp f JOIN lex l USING (token) WHERE l.df >= 2""".stripMargin,

    // same postings + lexicon as the index oracle; query terms ranked
    // by (df desc, token), arity matched by count-equals-arity
    "q_text_search_and" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toks AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(toks) AS token FROM d),
         |postings AS (
         |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok WHERE token != '' GROUP BY 1, 2),
         |lex AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df
         |  FROM postings GROUP BY token),
         |ranked AS (
         |  SELECT token, row_number() OVER (ORDER BY df DESC, token) AS r
         |  FROM lex WHERE df >= 2),
         |qs AS (
         |  SELECT CASE WHEN r <= 2 THEN 1 ELSE 2 END AS query_id, token
         |  FROM ranked WHERE r <= 5),
         |ar AS (SELECT query_id, count(*) AS n FROM qs GROUP BY 1),
         |cand AS (
         |  SELECT q.query_id, p.doc_id, count(*) AS n_matched,
         |    CAST(sum(p.tf) AS BIGINT) AS sum_tf
         |  FROM postings p JOIN qs q USING (token)
         |  GROUP BY 1, 2)
         |SELECT query_id, doc_id, sum_tf
         |FROM cand JOIN ar USING (query_id) WHERE n_matched = n""".stripMargin,

    // integer rarity = (N·1000) // df; the rank window mirrors the
    // engine's (score desc, doc_id_sim) QUALIFY cut
    "q_text_more_like_this" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toks AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(toks) AS token FROM d),
         |postings AS (
         |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok WHERE token != '' GROUP BY 1, 2),
         |lex AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df
         |  FROM postings GROUP BY token),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |w AS (
         |  SELECT p.token, p.doc_id, p.tf,
         |    CAST((n.n_docs * 1000) // l.df AS BIGINT) AS rarity
         |  FROM postings p JOIN lex l USING (token), n
         |  WHERE l.df BETWEEN 2 AND 50),
         |pairs AS (
         |  SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_sim,
         |    CAST(sum(a.tf * b.tf * a.rarity) AS BIGINT) AS score
         |  FROM w a JOIN w b
         |    ON a.token = b.token AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_id, doc_id_sim, score,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, doc_id_sim) AS BIGINT) AS rank
         |FROM pairs
         |QUALIFY rank <= 3""".stripMargin,

    // mirrors TextAnalysis.buildVocab: same whitespace tokens, count
    // desc + token asc ordering, dense 0-based vocab ids over the cut
    "q_text_vocab" ->
      s"""WITH t AS (
         |  SELECT unnest($toks) AS token FROM documents),
         |c AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |  FROM t WHERE token != '' GROUP BY token)
         |SELECT token, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT)
         |    AS vocab_id
         |FROM c ORDER BY cnt DESC, token LIMIT 500""".stripMargin,

    // mirrors TextAnalysis.oovStats over the 200-token buildVocab cut:
    // instances left-joined to the vocab, one per-doc aggregate, the
    // fraction as one BIGINT/BIGINT→DOUBLE division
    "q_text_oov" ->
      s"""WITH ti AS (
         |  SELECT doc_id, unnest($toks) AS token FROM documents),
         |inst AS (SELECT doc_id, token FROM ti WHERE token != ''),
         |c AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |  FROM inst GROUP BY token),
         |v AS (
         |  SELECT token FROM c ORDER BY cnt DESC, token LIMIT 200),
         |j AS (
         |  SELECT i.doc_id,
         |    CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM inst i LEFT JOIN v USING (token))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_frac
         |FROM j GROUP BY doc_id""".stripMargin
  )
}
