package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.Reception
import graft.cluster.Clustering
import graft.core.Fixpoint
import graft.defrag.Defrag
import graft.ids.Ids
import graft.textreuse.TextReuse

/** Domain-pipeline queries: the reference's textreuse chain (SURVEY.md
  * §1.4) run end-to-end over deterministic hits synthesized from
  * lineitem, so every stage that is ANSI-expressible gets a DuckDB
  * oracle CTE chain mirroring the Spark lineage exactly. The two
  * genuinely non-SQL stages (window-UDAF defrag §2.9, iterative
  * clustering §2.10) are exposed rows-only and covered by
  * DefragSpec/ClusteringSpec.
  */
object DomainQueries {

  /** Raw BLAST-hit-shaped rows from lineitem. text names follow the
    * reference id grammar `manifestation[.structure]`
    * (raw_textreuses.py:149-171): one side always has a structure
    * suffix, the other only when suppkey % 3 != 0. Distinct on the full
    * name+offset tuple so downstream sort keys are total orders.
    */
  def synthRaw(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(
        concat(lit("m"), (col("l_orderkey") % 97).cast("string"),
          lit(".s"), (col("l_linenumber") % 5).cast("string")).as("text1_id"),
        when(col("l_suppkey") % 3 === 0,
            concat(lit("m"), ((col("l_partkey") % 89) + 100).cast("string")))
          .otherwise(concat(lit("m"), ((col("l_partkey") % 89) + 100).cast("string"),
            lit(".s"), (col("l_suppkey") % 4).cast("string"))).as("text2_id"),
        ((col("l_orderkey") * 7 + col("l_linenumber") * 13) % 1000).cast("int")
          .as("text1_text_start"),
        ((col("l_partkey") * 11 + col("l_suppkey") * 17) % 1200).cast("int")
          .as("text2_text_start"),
        floor(col("l_quantity")).cast("int").as("qty"))
      .select(col("text1_id"), col("text2_id"),
        col("text1_text_start"),
        (col("text1_text_start") + 5 + col("qty") * 3).cast("int").as("text1_text_end"),
        col("text2_text_start"),
        (col("text2_text_start") + 4 + col("qty") * 2).cast("int").as("text2_text_end"),
        (col("qty") * 3 + 5).cast("int").as("align_length"),
        ((col("qty") * 7) % 100).cast("double").as("positives_percent"))
      .distinct()

  /** The same synthesis as DuckDB CTEs (must mirror synthRaw +
    * TextReuse.{textreuseIds,textreuses,origPieces}). Sort-key notes:
    * Spark sorts NULLS FIRST ascending by default, DuckDB NULLS LAST —
    * every ORDER BY on a nullable column says NULLS FIRST explicitly.
    */
  private val rawCte: String =
    """raw AS (
      |  SELECT DISTINCT
      |    'm' || CAST(l_orderkey % 97 AS VARCHAR) || '.s' ||
      |      CAST(l_linenumber % 5 AS VARCHAR) AS text1_id,
      |    CASE WHEN l_suppkey % 3 = 0
      |      THEN 'm' || CAST((l_partkey % 89) + 100 AS VARCHAR)
      |      ELSE 'm' || CAST((l_partkey % 89) + 100 AS VARCHAR) || '.s' ||
      |        CAST(l_suppkey % 4 AS VARCHAR) END AS text2_id,
      |    CAST((l_orderkey * 7 + l_linenumber * 13) % 1000 AS INT) AS text1_text_start,
      |    CAST((l_orderkey * 7 + l_linenumber * 13) % 1000
      |      + 5 + CAST(floor(l_quantity) AS INT) * 3 AS INT) AS text1_text_end,
      |    CAST((l_partkey * 11 + l_suppkey * 17) % 1200 AS INT) AS text2_text_start,
      |    CAST((l_partkey * 11 + l_suppkey * 17) % 1200
      |      + 4 + CAST(floor(l_quantity) AS INT) * 2 AS INT) AS text2_text_end,
      |    CAST(CAST(floor(l_quantity) AS INT) * 3 + 5 AS INT) AS align_length,
      |    CAST((CAST(floor(l_quantity) AS INT) * 7) % 100 AS DOUBLE) AS positives_percent
      |  FROM lineitem)""".stripMargin

  private val trsIdsCte: String =
    """names AS (
      |  SELECT text1_id AS text_name FROM raw
      |  UNION
      |  SELECT text2_id FROM raw),
      |trs AS (
      |  SELECT
      |    CAST(row_number() OVER (ORDER BY manifestation_id, structure_name NULLS FIRST,
      |      text_name) AS BIGINT) AS trs_id,
      |    text_name, manifestation_id, structure_name
      |  FROM (
      |    SELECT text_name,
      |      split_part(text_name, '.', 1) AS manifestation_id,
      |      CASE WHEN strpos(text_name, '.') > 0
      |        THEN split_part(text_name, '.', 2) END AS structure_name
      |    FROM names))""".stripMargin

  private val textreusesCte: String =
    """tr AS (
      |  SELECT
      |    CAST(row_number() OVER (ORDER BY trs1_id, trs2_id, trs1_start, trs1_end,
      |      trs2_start, trs2_end) AS BIGINT) AS textreuse_id,
      |    trs1_id, trs1_start, trs1_end, trs2_id, trs2_start, trs2_end,
      |    align_length, positives_percent
      |  FROM (
      |    SELECT t1.trs_id AS trs1_id, raw.text1_text_start AS trs1_start,
      |      raw.text1_text_end AS trs1_end,
      |      t2.trs_id AS trs2_id, raw.text2_text_start AS trs2_start,
      |      raw.text2_text_end AS trs2_end, raw.align_length, raw.positives_percent
      |    FROM raw
      |    LEFT JOIN trs t1 ON t1.text_name = raw.text1_id
      |    LEFT JOIN trs t2 ON t2.text_name = raw.text2_id))""".stripMargin

  private val piecesCte: String =
    """pieces AS (
      |  SELECT CAST(row_number() OVER (ORDER BY trs_id, trs_start, trs_end) AS BIGINT)
      |    AS piece_id, trs_id, trs_start, trs_end
      |  FROM (
      |    SELECT DISTINCT trs1_id AS trs_id, trs1_start AS trs_start, trs1_end AS trs_end FROM tr
      |    UNION
      |    SELECT DISTINCT trs2_id, trs2_start, trs2_end FROM tr))""".stripMargin

  /** Synthetic cluster/date attributes over pieces (cluster = coarse
    * hash bucket; "publication date" derived from trs_id).
    */
  private val clusteredCte: String =
    """clustered AS (
      |  SELECT piece_id, trs_id, trs_start, trs_end,
      |    piece_id % 500 AS cluster_id,
      |    DATE '1700-01-01' + CAST((trs_id * 13) % 5000 AS INT) AS publication_date
      |  FROM pieces)""".stripMargin

  private val earliestCte: String =
    """earliest AS (
      |  SELECT piece_id, trs_id, cluster_id, publication_date FROM (
      |    SELECT piece_id, trs_id, cluster_id, publication_date,
      |      min(publication_date) OVER (PARTITION BY cluster_id) AS min_date
      |    FROM clustered)
      |  WHERE publication_date = min_date)""".stripMargin

  // Spark twins of the synthetic attribute CTEs
  private def spClustered(pieces: DataFrame): DataFrame =
    pieces.select(col("piece_id"), col("trs_id"), col("trs_start"), col("trs_end"),
      (col("piece_id") % 500).as("cluster_id"),
      date_add(lit(java.sql.Date.valueOf("1700-01-01")),
        ((col("trs_id") * 13) % 5000).cast("int")).as("publication_date"))

  private def spEarliest(clustered: DataFrame): DataFrame =
    graft.analytics.Reception.earliestPieces(clustered)
      .select("piece_id", "trs_id", "cluster_id", "publication_date")

  /** earliest pieces KEEPING intervals (for denormalized edges). */
  private def spEarliest2(clustered: DataFrame): DataFrame =
    graft.analytics.Reception.earliestPieces(clustered)

  // Shared upstream stages, persisted once per (session, dir) in the
  // QueryCaches registry: eight domain queries start from the same
  // chain, and within one query it feeds multiple branches.

  private[queries] val trsIds = QueryCaches.frame("domain.trs_ids")((s, dir) =>
    TextReuse.textreuseIds(synthRaw(s, dir)))

  private[queries] val textreuses = QueryCaches.frame("domain.textreuses")((s, dir) =>
    TextReuse.textreuses(synthRaw(s, dir), trsIds(s, dir)))

  private[queries] val pieces = QueryCaches.frame("domain.pieces")((s, dir) =>
    TextReuse.origPieces(textreuses(s, dir)))

  /** defrag piece mappings — the UDAF scan output, shared by
    * defrag_pieces and defrag_textreuses (the reference materializes
    * piece_id_mappings once for the same reason, notebook cells 5-6).
    */
  private[queries] val defragMappings = QueryCaches.frame("domain.defrag_mappings")(
    (s, dir) => Defrag.pieceIdMappings(pieces(s, dir)))

  // ---- synthetic book-corpus metadata (reference upstream assets
  // manifestation_ids / manifestation_publication_date / ecco_core /
  // eebo_core, synthesized deterministically from the trs id grammar so
  // the DuckDB oracle reproduces them) ----

  /** numeric part of a manifestation id ("m42" → 42) */
  private def mnum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(c, 2, 10).cast("int")

  private[queries] val spMids = QueryCaches.frame("domain.mids")((s, dir) =>
    Ids.dictionary(trsIds(s, dir), "manifestation_id", "manifestation_id_i"))

  /** ECCO corpus: manifestations with numeric part ≡ 0 (mod 3). */
  private def spEcco(mids: DataFrame): DataFrame =
    mids.where(mnum(col("manifestation_id")) % 3 === 0)
      .select(col("manifestation_id").as("ecco_id"))

  /** EEBO-TCP corpus: numeric part ≡ 1 (mod 4) — overlaps ECCO on
    * ≡ 0 (mod 3) ∧ ≡ 1 (mod 4) ids, like the reference's corpora can;
    * roughly half of all manifestations are in neither (newspapers).
    */
  private def spEebo(mids: DataFrame): DataFrame =
    mids.where(mnum(col("manifestation_id")) % 4 === 1)
      .select(col("manifestation_id").as("eebo_tcp_id"))

  /** Manifestation publication date: earliest trs-derived date over the
    * manifestation's textreuse sources.
    */
  private def spMpd(s: SparkSession, dir: String): DataFrame =
    trsIds(s, dir)
      .join(spMids(s, dir), Seq("manifestation_id"))
      .groupBy("manifestation_id_i")
      .agg(min(date_add(lit(java.sql.Date.valueOf("1700-01-01")),
        ((col("trs_id") * 13) % 5000).cast("int"))).as("publication_date"))

  /** Deterministic per-trs text lengths for the book coverage asset. */
  private def spBookLengths(s: SparkSession, dir: String): DataFrame =
    trsIds(s, dir).select(col("trs_id"),
      (lit(1500) + (col("trs_id") % 7) * 250).cast("int").as("text_length"))

  /** `textreuse_sources`-shaped view of the REAL documents table: each
    * document is assigned one text name of the synthesis grammar
    * (m0-m96 × .s0-.s4, then m100-m188 bare, then m100-m188 × .s0-.s3 —
    * 930 names, matching the chain's trs universe), so
    * TextReuse.sourceLengths joins ACTUAL text lengths into the
    * coverage pipeline the way coverages.py:13-28 reads
    * textreuse_sources. Documents beyond the name universe are sources
    * outside the reuse network (dropped, like the reference's unmatched
    * sources); at small SF some names have no document and surface as
    * NULL coverage through the LEFT length joins.
    */
  private def spSources(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").where(col("doc_id") < 930)
      .select(
        when(col("doc_id") < 485,
          concat(lit("m"), floor(col("doc_id") / 5).cast("int").cast("string"),
            lit(".s"), (col("doc_id") % 5).cast("string")))
          .when(col("doc_id") < 574,
            concat(lit("m"), (col("doc_id") - 485 + 100).cast("string")))
          .otherwise(concat(
            lit("m"), (floor((col("doc_id") - 574) / 4).cast("int") + 100).cast("string"),
            lit(".s"), ((col("doc_id") - 574) % 4).cast("string"))).as("doc_id"),
        col("text"))

  // ---- synthetic author/edition/work metadata (reference upstream
  // assets edition_ids / estc_actor_links / actor_ids / mappings,
  // ids_and_mappings.py + actors_and_authors.py, synthesized
  // deterministically from the id grammar) ----

  /** manifestation → edition label, with PLACEHOLDER labels where the
    * upstream id is "missing" (the reference's EEBO-without-ESTC case,
    * ids_and_mappings.py:47-49) — same rule as q_domain_id_chain.
    */
  private def spEditionLabels(manis: DataFrame): DataFrame =
    manis.select(col("manifestation_id"),
      coalesce(
        when(length(col("manifestation_id")) % 3 =!= 0,
          concat(lit("e_"), col("manifestation_id"))),
        concat(lit("ph_"), col("manifestation_id"))).as("edition_label"))

  private def spWorkLabels(editions: DataFrame): DataFrame =
    editions.select(col("edition_label"),
      coalesce(
        when(length(col("edition_label")) % 2 === 0,
          concat(lit("w_"), col("edition_label"))),
        concat(lit("phw_"), col("edition_label"))).as("work_label"))

  /** (edition_id_i, edition_label) dictionary. */
  private[queries] val spEditionIds = QueryCaches.frame("domain.edition_ids")((s, dir) =>
    Ids.dictionary(spEditionLabels(spMids(s, dir).select("manifestation_id")),
      "edition_label", "edition_id_i"))

  /** Synthetic actor links: every edition gets a primary link whose
    * author-role flag depends on the edition number (≡1 mod 3 → the
    * link exists but is NOT an author — exercising the J5 role predicate
    * in the edition_authors LEFT join); every 5th edition gets a second
    * author link (co-authored editions → genuine m2m).
    */
  private def spActorLinks(editionIds: DataFrame): DataFrame = {
    val e = regexp_extract(col("edition_label"), "([0-9]+)", 1).cast("int")
    editionIds.select(col("edition_label").as("estc_id"),
        concat(lit("a"), ((e * 7) % 13).cast("string")).as("actor_id"),
        when(e % 3 =!= 1, 1).otherwise(0).as("actor_role_author"))
      .unionAll(editionIds.where(e % 5 === 0)
        .select(col("edition_label").as("estc_id"),
          concat(lit("a"), ((e * 11) % 13).cast("string")).as("actor_id"),
          lit(1).as("actor_role_author")))
  }

  private[queries] val spEditionAuthors = QueryCaches.frame("domain.edition_authors") {
    (s, dir) =>
      val editionIds = spEditionIds(s, dir)
      val links = spActorLinks(editionIds)
      graft.analytics.Metadata.editionAuthors(
        editionIds.select(col("edition_label").as("edition_id"), col("edition_id_i")),
        links, Ids.dictionary(links, "actor_id", "actor_id_i"))
  }

  /** textreuse_edition_mapping: trs → edition_id_i. */
  private[queries] val spTem = QueryCaches.frame("domain.tem")((s, dir) =>
    trsIds(s, dir).select("trs_id", "manifestation_id")
      .join(spEditionLabels(spMids(s, dir).select("manifestation_id")),
        Seq("manifestation_id"))
      .join(spEditionIds(s, dir), Seq("edition_label"))
      .select("trs_id", "edition_id_i"))

  /** textreuse_work_mapping: trs → work_id_i (via edition → work). */
  private[queries] val spTwm = QueryCaches.frame("domain.twm") { (s, dir) =>
    val works = spWorkLabels(spEditionIds(s, dir))
    val workDict = Ids.dictionary(works, "work_label", "work_id_i")
    trsIds(s, dir).select("trs_id", "manifestation_id")
      .join(spEditionLabels(spMids(s, dir).select("manifestation_id")),
        Seq("manifestation_id"))
      .join(works, Seq("edition_label"))
      .join(workDict, Seq("work_label"))
      .select("trs_id", "work_id_i")
  }

  // ---- synthetic raw corpus core tables (reference upstream assets
  // ecco_core / eebo_core / newspapers_core / estc_core with the messy
  // date/title columns the metadata assets normalize) ----

  private val monthNames = Seq("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November", "December")

  /** EEBO rows: per-member a TLS date string in one of the reference's
    * length shapes ("1697" / "-1697" / "1690-1697" / "April 24, 1649" /
    * NULL), plus a SECOND row with a NULL title for every 8th member —
    * the "one eebo_tcp id, several mappings, some NULL" case the title
    * asset's MAX collapse exists for (titles.py:24-27).
    */
  private def spEeboCore(mids: DataFrame): DataFrame = {
    val e = mnum(col("manifestation_id"))
    val yearS = (lit(1600) + e % 200).cast("string")
    val months = array(monthNames.map(lit): _*)
    val dateStr = when(e % 5 === 0, yearS)
      .when(e % 5 === 1, concat(lit("-"), yearS))
      .when(e % 5 === 2, concat(yearS, lit("-"), (lit(1607) + e % 200).cast("string")))
      .when(e % 5 === 3, concat(element_at(months, (e % 12) + 1), lit(" "),
        ((e % 28) + 1).cast("string"), lit(", "), yearS))
    val base = mids.where(e % 4 === 1)
      .select(col("manifestation_id"), e.as("e"), dateStr.as("d"))
    base.select(col("manifestation_id").as("eebo_tcp_id"),
        col("d").as("eebo_tls_publication_date"),
        concat(lit("EEBO: "), col("manifestation_id")).as("eebo_tls_title"))
      .unionAll(base.where(col("e") % 8 === 1)
        .select(col("manifestation_id"), col("d"), lit(null).cast("string")))
  }

  /** ECCO rows: numeric yyyymmdd start dates including the reference's
    * pathological sentinels (0, the year-1000 value, a post-1839 date).
    */
  private def spEccoCore(mids: DataFrame): DataFrame = {
    val e = mnum(col("manifestation_id"))
    mids.where(e % 3 === 0).select(
      col("manifestation_id").as("ecco_id"),
      when(e % 6 === 0, 0).when(e % 6 === 1, 10000101).when(e % 6 === 2, 18500101)
        .otherwise((lit(1600) + e % 200) * 10000 + 101).as("ecco_date_start"),
      concat(lit("ECCO: "), col("manifestation_id")).as("ecco_full_title"))
  }

  /** Newspapers: everything in neither book corpus; clean dates. */
  private def spNewsCore(mids: DataFrame): DataFrame = {
    val e = mnum(col("manifestation_id"))
    mids.where(e % 3 =!= 0 && e % 4 =!= 1).select(
      col("manifestation_id").as("article_id"),
      date_add(lit(java.sql.Date.valueOf("1700-01-01")), (e * 11) % 5000)
        .as("issue_start_date"),
      concat(lit("NEWS: "), col("manifestation_id")).as("newspaper_title"))
  }

  /** ESTC: edition-level publication years, absent for every 7th. */
  private def spEstcCore(editionIds: DataFrame): DataFrame = {
    val e = regexp_extract(col("edition_label"), "([0-9]+)", 1).cast("int")
    editionIds.select(col("edition_label").as("estc_id"),
      when(e % 7 =!= 0, lit(1600) + (e * 3) % 200).as("publication_year"))
  }

  /** edition_mapping: manifestation_id_i → edition_id_i. */
  private def spEditionMapping(s: SparkSession, dir: String): DataFrame = {
    val mids = spMids(s, dir)
    val editionIds = spEditionIds(s, dir)
    mids.join(spEditionLabels(mids.select("manifestation_id")), Seq("manifestation_id"))
      .join(editionIds, Seq("edition_label"))
      .select("manifestation_id_i", "edition_id_i")
  }

  /** work_mapping: manifestation_id_i → work_id_i. */
  private def spWorkMapping(s: SparkSession, dir: String): DataFrame = {
    val mids = spMids(s, dir)
    val editionIds = spEditionIds(s, dir)
    val works = spWorkLabels(editionIds)
    val workDict = Ids.dictionary(works, "work_label", "work_id_i")
    mids.join(spEditionLabels(mids.select("manifestation_id")), Seq("manifestation_id"))
      .join(works, Seq("edition_label"))
      .join(workDict, Seq("work_label"))
      .select("manifestation_id_i", "work_id_i")
  }

  private[queries] val spEpd = QueryCaches.frame("domain.epd") { (s, dir) =>
    val mids = spMids(s, dir)
    val editionIds = spEditionIds(s, dir)
    graft.analytics.Metadata.editionPublicationDate(
      mids, spEditionMapping(s, dir),
      editionIds.select(col("edition_id_i"), col("edition_label").as("edition_id")),
      spEstcCore(editionIds),
      spEeboCore(mids), spEccoCore(mids), spNewsCore(mids))
  }

  /** The full manifestation_publication_date asset over the synthetic
    * cores (distinct from spMpd, the simplified date used by the book
    * chain).
    */
  private[queries] val spMpd2 = QueryCaches.frame("domain.mpd2") { (s, dir) =>
    val mids = spMids(s, dir)
    val editionIds = spEditionIds(s, dir)
    graft.analytics.Metadata.manifestationPublicationDate(
      mids, spEditionMapping(s, dir),
      editionIds.select(col("edition_id_i"), col("edition_label").as("edition_id")),
      spEstcCore(editionIds),
      spEeboCore(mids), spEccoCore(mids), spNewsCore(mids))
  }

  private[queries] val spBookEarliest = QueryCaches.frame("domain.book_earliest") {
    (s, dir) =>
      val mids = spMids(s, dir)
      graft.analytics.BookBased.earliestBookAndPiecesByCluster(
        spClustered(pieces(s, dir)).select("cluster_id", "piece_id", "trs_id"),
        trsIds(s, dir).join(mids, Seq("manifestation_id"))
          .select("trs_id", "manifestation_id_i"),
        mids.select("manifestation_id_i", "manifestation_id"),
        spMpd(s, dir), spEcco(mids), spEebo(mids))
  }

  private def spBookEdges(s: SparkSession, dir: String): DataFrame = {
    val earliest = spBookEarliest(s, dir)
    val mids = spMids(s, dir)
    val clustered = spClustered(pieces(s, dir)).select("cluster_id", "piece_id", "trs_id")
    graft.analytics.BookBased.receptionEdgesBetweenBooks(
      clustered, earliest,
      trsIds(s, dir).select("trs_id", "manifestation_id"),
      spEcco(mids), spEebo(mids))
  }

  private[queries] val spBookDenorm = QueryCaches.frame("domain.book_denorm")((s, dir) =>
    graft.analytics.BookBased.receptionEdgesBetweenBooksDenorm(
      spBookEdges(s, dir), pieces(s, dir)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.8 id-split grammar + O1/S10 deterministic dense ids
    "q_domain_trs_ids" -> ((s, dir) =>
      TextReuse.textreuseIds(synthRaw(s, dir))),

    // U1+J2+S10: name→id mapping join over both sides
    "q_domain_textreuses" -> ((s, dir) => textreuses(s, dir)),

    // U1-distinct piece extraction + dense ids
    "q_domain_orig_pieces" -> ((s, dir) => pieces(s, dir)),

    // J4 composite-key piece lookup on both sides
    "q_domain_orig_textreuses" -> ((s, dir) =>
      TextReuse.origTextreuses(textreuses(s, dir), pieces(s, dir))),

    // W5 window-UDAF defrag chain → defrag_pieces (rows-only: the scan
    // rule is inherently sequential per document; DefragSpec owns
    // correctness vs the straight-line oracle)
    "q_domain_defrag_pieces" -> ((s, dir) =>
      Defrag.defragPieces(pieces(s, dir), defragMappings(s, dir))),

    // interval-overlap (range) join via the binned equi-join operator:
    // overlapping piece pairs within each document (subset keyed off
    // piece_id to keep the pair count bench-friendly)
    "q_domain_piece_overlaps" -> ((s, dir) => {
      val p = pieces(s, dir).where(col("piece_id") % 7 === 0)
      val a = p.select(col("trs_id"), col("piece_id").as("piece_id_a"),
        col("trs_start").as("a_start"), col("trs_end").as("a_end"))
      val b = p.select(col("trs_id"), col("piece_id").as("piece_id_b"),
        col("trs_start").as("b_start"), col("trs_end").as("b_end"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          a, b, Seq("trs_id"), "a_start", "a_end", "b_start", "b_end")
        .where(col("piece_id_a") < col("piece_id_b"))
        .select(col("trs_id"), col("piece_id_a"), col("piece_id_b"),
          (least(col("a_end"), col("b_end")) -
            greatest(col("a_start"), col("b_start"))).as("overlap_len"))
    }),

    // defrag edge merge (defragmentation.py:65-86): orig edges remapped
    // through piece_id_mappings, grouped with merged-link counts, dense
    // edge ids (rows-only: ids derive from the UDAF scan; DefragSpec +
    // EndToEndSpec own semantics)
    "q_domain_defrag_textreuses" -> ((s, dir) =>
      Defrag.defragTextreuses(
        TextReuse.origTextreuses(textreuses(s, dir), pieces(s, dir)),
        defragMappings(s, dir))),

    // §2.10 Chinese Whispers on the defrag piece graph (rows-only:
    // seeded-random iterative fixpoint; ClusteringSpec owns semantics).
    // The %29 subset + bounded degree keep edge count ~linear in pieces
    // so the bench iteration cost stays bounded as SF grows.
    "q_domain_cluster" -> ((s, dir) => {
      val p = pieces(s, dir).where(col("piece_id") % 29 === 0)
      val edges = p.as("a").join(p.as("b"),
          col("a.trs_id") === col("b.trs_id") && col("a.piece_id") < col("b.piece_id") &&
            col("b.piece_id") <= col("a.piece_id") + 600)
        .select(col("a.piece_id").as("piece1_id"), col("b.piece_id").as("piece2_id"))
      // the face runs a BOUNDED 3 iterations, so local checkpoints are
      // safe (see Fixpoint) and skip a parquet write+read of
      // the map-heavy vote state per round, the face's dominant cost;
      // unbounded runs (TextReuseAssets) keep the durable default
      Clustering.propagate(Clustering.adjacencyList(edges), seed = 42L, maxIter = 3,
        checkpointer = Some(Fixpoint.localCheckpointer))
    }),

    // W4+P5 earliest-manifestation-per-cluster
    "q_domain_earliest_by_cluster" -> ((s, dir) =>
      spEarliest(spClustered(pieces(s, dir)))),

    // J3 anti-join: cluster members minus earliest pieces
    "q_domain_non_source_pieces" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      Reception.nonSourcePieces(clustered, spEarliest(clustered))
        .select("cluster_id", "piece_id")
    }),

    // J7 m2m reception edges: source × non-source within cluster
    "q_domain_reception_edges" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      val earliest = spEarliest(clustered)
      Reception.receptionEdges(earliest, Reception.nonSourcePieces(clustered, earliest))
    }),

    // edition_authors (actors_and_authors.py:35-55): the J5 mixed
    // equi+role predicate LEFT join at its real domain site
    "q_domain_edition_authors" -> ((s, dir) => spEditionAuthors(s, dir)),

    // A6+A7 at the reference's full shape
    // (source_piece_statistics.py:14-66): both edge sides joined through
    // edition mapping → edition_authors → work mapping, conditional
    // distinct counts with the three-way author CASE
    "q_domain_source_piece_stats" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      val earliest = spEarliest(clustered)
      val edges = Reception.receptionEdges(earliest,
        Reception.nonSourcePieces(clustered, earliest))
      Reception.sourcePieceStatisticsFull(edges, pieces(s, dir),
        spTem(s, dir), spEditionAuthors(s, dir), spTwm(s, dir))
    }),

    // denormalised statistics (source_piece_statistics.py:70-85)
    "q_domain_source_piece_stats_denorm" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      val earliest = spEarliest(clustered)
      val edges = Reception.receptionEdges(earliest,
        Reception.nonSourcePieces(clustered, earliest))
      val stats = Reception.sourcePieceStatisticsFull(edges, pieces(s, dir),
        spTem(s, dir), spEditionAuthors(s, dir), spTwm(s, dir))
      Reception.sourcePieceStatisticsDenorm(stats, pieces(s, dir), spTem(s, dir))
    }),

    // metadata id chain (ids_and_mappings.py:17-225): trs → manifestation
    // → edition → work with dictionary-encoded ids at each level and
    // PLACEHOLDER ids where the upstream id is missing (the reference's
    // 1,143 EEBO docs without ESTC ids, ids_and_mappings.py:47-49)
    "q_domain_id_chain" -> ((s, dir) => {
      val ids = TextReuse.textreuseIds(synthRaw(s, dir))
      val mani = ids.select(col("manifestation_id")).distinct()
      // deterministic "missing upstream id" condition + placeholder
      val editions = mani.select(col("manifestation_id"),
        coalesce(
          when(length(col("manifestation_id")) % 3 =!= 0,
            concat(lit("e_"), col("manifestation_id"))),
          concat(lit("ph_"), col("manifestation_id"))).as("edition_label"))
      val works = editions.select(col("edition_label"),
        coalesce(
          when(length(col("edition_label")) % 2 === 0,
            concat(lit("w_"), col("edition_label"))),
          concat(lit("phw_"), col("edition_label"))).as("work_label"))
      val maniDict = Ids.dictionary(mani, "manifestation_id", "manifestation_id_i")
      val edDict = Ids.dictionary(editions, "edition_label", "edition_id_i")
      val workDict = Ids.dictionary(works, "work_label", "work_id_i")
      ids.select(col("trs_id"), col("manifestation_id"))
        .join(maniDict, Seq("manifestation_id"))
        .join(editions, Seq("manifestation_id"))
        .join(edDict, Seq("edition_label"))
        .join(works, Seq("edition_label"))
        .join(workDict, Seq("work_label"))
        .select(col("trs_id"), col("manifestation_id"), col("manifestation_id_i"),
          col("edition_label"), col("edition_id_i"),
          col("work_label"), col("work_id_i"))
    }),

    // cluster time spans (scratch.py:57-68): per-cluster publication
    // min/max and span, widest first — the reference's sanity query for
    // runaway clusters. Deterministic top-100 via the (span, cluster)
    // tie-break; one groupBy shuffle on cluster_id, top-k is a
    // TakeOrdered, never a global sort materialization
    "q_domain_cluster_spans" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      clustered.groupBy("cluster_id")
        .agg(max("publication_date").as("max_pub_date"),
          min("publication_date").as("min_pub_date"),
          datediff(max("publication_date"), min("publication_date"))
            .cast("long").as("span_days"))
        .orderBy(col("span_days").desc, col("cluster_id"))
        .limit(100)
    }),

    // cluster consistency check (scratch.py:46-52): clusters where the
    // earliest-by-WORK-date pieces name a different trs than the
    // earliest-trs-by-cluster pick — the reference's cross-table
    // agreement probe between earliest_work_and_pieces_by_cluster and
    // earliest_textreuse_by_cluster. The work date is a second
    // synthetic attribution (trs_id·7 mod 4000 days) so the two
    // earliest notions genuinely disagree on some clusters, like the
    // two independently-derived date tables do in the reference
    "q_domain_cluster_consistency" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      val workDated = clustered.drop("publication_date")
        .withColumn("publication_date",
          date_add(lit(java.sql.Date.valueOf("1700-01-01")),
            ((col("trs_id") * 7) % 4000).cast("int")))
      val ewapbc = Reception.earliestPieces(workDated)
      val etbc = clustered.groupBy("cluster_id")
        .agg(min_by(col("trs_id"),
          struct(col("publication_date"), col("trs_id"))).as("etbc_trs_id"))
      ewapbc.join(etbc, Seq("cluster_id"))
        .where(col("trs_id") =!= col("etbc_trs_id"))
        .select("cluster_id").distinct()
    }),

    // reception_edges_denorm (reception.py:73-102): the reference's
    // flagship denormalized table — reception edges carrying both
    // sides' spans so downstream coverage/point queries never re-join
    // pieces. Standalone face of the function q_domain_inception_coverage
    // consumes; row count equals q_domain_reception_edges by
    // construction (same src × dst expansion, wider payload)
    "q_domain_reception_edges_denorm" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      val earliest = spEarliest2(clustered)
      val nonSource = Reception.nonSourcePieces(clustered, earliest)
      Reception.receptionEdgesDenorm(earliest, nonSource)
    }),

    // reception_inception_coverages (coverages.py:173-308): denormalized
    // reception edges → gaps-and-islands over destination intervals →
    // coverage of the destination text per (src, dst) pair
    "q_domain_inception_coverage" -> ((s, dir) => {
      val clustered = spClustered(pieces(s, dir))
      val earliest = spEarliest2(clustered)
      val nonSource = Reception.nonSourcePieces(clustered, earliest)
      val lengths = clustered.select(col("trs_id")).distinct()
        .select(col("trs_id"), lit(2000).as("text_length"))
      Reception.inceptionCoverages(
        Reception.receptionEdgesDenorm(earliest, nonSource), lengths)
    }),

    // book-restricted analytics (additional_assets/book_based.py:20-287):
    // the earliest/reception/coverage chain re-run over ECCO/EEBO-TCP
    // corpus members only — J6 multi-broadcast + the LEFT-join corpus
    // membership filter
    "q_domain_book_earliest" -> ((s, dir) => spBookEarliest(s, dir)),

    "q_domain_book_reception_edges" -> ((s, dir) => spBookEdges(s, dir)),

    "q_domain_book_reception_edges_denorm" -> ((s, dir) => spBookDenorm(s, dir)),

    "q_domain_book_coverage" -> ((s, dir) =>
      graft.analytics.BookBased.receptionInceptionBetweenBookCoverages(
        spBookDenorm(s, dir), spBookLengths(s, dir))),

    // the flagship coverages asset END-TO-END over the domain chain with
    // REAL text lengths: lengths-from-documents (coverages.py:13-28) →
    // gaps-and-islands both orderings, reuse counts, broadcast LEFT
    // length joins, ratio×100 (coverages.py:36-165)
    "q_domain_coverages" -> ((s, dir) =>
      graft.analytics.Coverages.coverages(
        textreuses(s, dir),
        TextReuse.sourceLengths(spSources(s, dir), trsIds(s, dir)))),

    // edition_publication_date (publication_date.py:15-73): ESTC-first
    // date resolution, UNION-distinct branches
    "q_domain_edition_pub_date" -> ((s, dir) => spEpd(s, dir)),

    // work_earliest_publication_date (publication_date.py:90-106)
    "q_domain_work_earliest_pub_date" -> ((s, dir) =>
      graft.analytics.Metadata.workEarliestPublicationDate(
        spEpd(s, dir), spEditionMapping(s, dir), spWorkMapping(s, dir))),

    // manifestation_publication_date (publication_date.py:136-197): the
    // three-corpus UNION with the length-cased messy-date ladder
    "q_domain_manifestation_pub_date" -> ((s, dir) => spMpd2(s, dir)),

    // year histogram, first 20 years (publication_date.py:74-79)
    "q_domain_pub_year_hist" -> ((s, dir) =>
      graft.analytics.Metadata.yearHistogram(spMpd2(s, dir), 20)),

    // twin latest-10 ∪ earliest-10 summary (publication_date.py:196-211)
    "q_domain_pub_year_ends" -> ((s, dir) =>
      graft.analytics.Metadata.yearHistogramEnds(spMpd2(s, dir), 10)),

    // manifestation_title (titles.py:10-34) with the EEBO MAX collapse
    "q_domain_manifestation_title" -> ((s, dir) => {
      val mids = spMids(s, dir)
      graft.analytics.Metadata.manifestationTitle(
        mids, spEccoCore(mids), spEeboCore(mids), spNewsCore(mids))
    }),

    // §2.8 multi-format date parsing (publication_date.py:30-56): 3
    // string formats round-tripped through try-parse + coalesce
    "q_domain_pub_date_parse" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val str = when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "yyyy"))
        .otherwise(date_format(col("o_orderdate"), "LLLL d, yyyy"))
      o.select(col("o_orderkey"), str.as("date_str"))
        .select(col("o_orderkey"), col("date_str"),
          coalesce(
            try_to_timestamp(col("date_str"), lit("yyyy-MM-dd")),
            try_to_timestamp(col("date_str"), lit("LLLL d, yyyy")),
            try_to_timestamp(col("date_str"), lit("yyyy"))).cast("date").as("parsed_date"))
    })
  )

  private def chain(ctes: String*): String = ctes.mkString("WITH ", ",\n", "\n")

  // ---- book-corpus CTE twins (must mirror spMids/spEcco/spEebo/spMpd
  // and the BookBased chain exactly) ----

  private val midsCte: String =
    """mids AS (
      |  SELECT CAST(row_number() OVER (ORDER BY manifestation_id) AS BIGINT)
      |    AS manifestation_id_i, manifestation_id
      |  FROM (SELECT DISTINCT manifestation_id FROM trs))""".stripMargin

  private val corpusCte: String =
    """ecco AS (
      |  SELECT manifestation_id AS ecco_id FROM mids
      |  WHERE CAST(substring(manifestation_id, 2) AS INT) % 3 = 0),
      |eebo AS (
      |  SELECT manifestation_id AS eebo_tcp_id FROM mids
      |  WHERE CAST(substring(manifestation_id, 2) AS INT) % 4 = 1)""".stripMargin

  private val mpdCte: String =
    """mpd AS (
      |  SELECT manifestation_id_i,
      |    min(DATE '1700-01-01' + CAST((trs_id * 13) % 5000 AS INT)) AS publication_date
      |  FROM trs JOIN mids USING (manifestation_id)
      |  GROUP BY manifestation_id_i)""".stripMargin

  private val bookEarliestCte: String =
    """book_earliest AS (
      |  SELECT cluster_id, manifestation_id_i, piece_id FROM (
      |    SELECT c.cluster_id, mi.manifestation_id_i, c.piece_id,
      |      mpd.publication_date,
      |      min(mpd.publication_date) OVER (PARTITION BY c.cluster_id) AS min_pub
      |    FROM clustered c
      |    JOIN trs t ON t.trs_id = c.trs_id
      |    JOIN mids mi ON mi.manifestation_id = t.manifestation_id
      |    LEFT JOIN ecco ec ON ec.ecco_id = mi.manifestation_id
      |    LEFT JOIN eebo eb ON eb.eebo_tcp_id = mi.manifestation_id
      |    JOIN mpd ON mpd.manifestation_id_i = mi.manifestation_id_i
      |    WHERE NOT (ec.ecco_id IS NULL AND eb.eebo_tcp_id IS NULL))
      |  WHERE publication_date = min_pub)""".stripMargin

  private val bookEdgesCte: String =
    """book_dest AS (
      |  SELECT c.cluster_id, c.piece_id
      |  FROM clustered c
      |  JOIN trs t ON t.trs_id = c.trs_id
      |  LEFT JOIN ecco ec ON ec.ecco_id = t.manifestation_id
      |  LEFT JOIN eebo eb ON eb.eebo_tcp_id = t.manifestation_id
      |  WHERE NOT (ec.ecco_id IS NULL AND eb.eebo_tcp_id IS NULL)
      |    AND NOT EXISTS (SELECT 1 FROM book_earliest e
      |      WHERE e.cluster_id = c.cluster_id AND e.piece_id = c.piece_id)),
      |book_edges AS (
      |  SELECT e.piece_id AS src_piece_id, d.piece_id AS dst_piece_id
      |  FROM book_earliest e JOIN book_dest d ON d.cluster_id = e.cluster_id)""".stripMargin

  private val bookDenormCte: String =
    """book_denorm AS (
      |  SELECT p1.trs_id AS src_trs_id, p1.trs_start AS src_trs_start,
      |    p1.trs_end AS src_trs_end,
      |    p2.trs_id AS dst_trs_id, p2.trs_start AS dst_trs_start,
      |    p2.trs_end AS dst_trs_end
      |  FROM book_edges be
      |  JOIN pieces p1 ON p1.piece_id = be.src_piece_id
      |  JOIN pieces p2 ON p2.piece_id = be.dst_piece_id)""".stripMargin

  /** one gaps-and-islands side of the book coverage (bt1 = src intervals,
    * bt2 = dst intervals), mirroring Coverages.islandStats semantics
    */
  private def bookIslandsCte(side: Int): String = {
    val (st, en) = if (side == 1) ("src_trs_start", "src_trs_end")
      else ("dst_trs_start", "dst_trs_end")
    val (n, len) = if (side == 1) ("num_reuses_src", "reuses_src_in_dst")
      else ("num_reuses_dst", "reuses_dst_in_src")
    s"""bg$side AS (
       |  SELECT src_trs_id, dst_trs_id, $st, $en,
       |    CASE WHEN max($en) OVER (PARTITION BY src_trs_id, dst_trs_id
       |        ORDER BY $st, $en
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1 >= $st
       |      THEN 0 ELSE 1 END AS new_island
       |  FROM book_denorm),
       |bi$side AS (
       |  SELECT src_trs_id, dst_trs_id, $st, $en,
       |    sum(new_island) OVER (PARTITION BY src_trs_id, dst_trs_id
       |      ORDER BY $st, $en) AS island_id
       |  FROM bg$side),
       |ba$side AS (
       |  SELECT src_trs_id, dst_trs_id, island_id,
       |    CAST(max($en) - min($st) AS BIGINT) AS island_len
       |  FROM bi$side GROUP BY 1, 2, 3),
       |bt$side AS (
       |  SELECT src_trs_id, dst_trs_id, count(*) AS $n,
       |    CAST(sum(island_len) AS BIGINT) AS $len
       |  FROM ba$side GROUP BY 1, 2)""".stripMargin
  }

  private val bookChain: Seq[String] = Seq(rawCte, trsIdsCte, textreusesCte,
    piecesCte, clusteredCte, midsCte, corpusCte, mpdCte, bookEarliestCte)

  /** documents → text-name grammar + real lengths (must mirror
    * spSources + TextReuse.sourceLengths exactly)
    */
  private val sourceLengthsCte: String =
    """sources AS (
      |  SELECT CASE
      |      WHEN doc_id < 485 THEN 'm' || CAST(CAST(floor(doc_id / 5) AS INT) AS VARCHAR)
      |        || '.s' || CAST(doc_id % 5 AS VARCHAR)
      |      WHEN doc_id < 574 THEN 'm' || CAST(doc_id - 485 + 100 AS VARCHAR)
      |      ELSE 'm' || CAST(CAST(floor((doc_id - 574) / 4) AS INT) + 100 AS VARCHAR)
      |        || '.s' || CAST((doc_id - 574) % 4 AS VARCHAR) END AS text_name,
      |    text
      |  FROM documents WHERE doc_id < 930),
      |lengths AS (
      |  SELECT trs_id, CAST(length(text) AS INT) AS text_length
      |  FROM sources src JOIN trs ON trs.text_name = src.text_name)""".stripMargin

  /** one gaps-and-islands side of the domain coverages over the full
    * textreuses CTE (mirrors Coverages.islandStats; c-prefixed CTE names
    * avoid the t1/t2 aliases inside textreusesCte)
    */
  private def covIslandsCte(side: Int): String = {
    val (st, en) = (s"trs${side}_start", s"trs${side}_end")
    val (n, len) = if (side == 1) ("t1_reuses", "reuse_t1_t2") else ("t2_reuses", "reuse_t2_t1")
    s"""cg$side AS (
       |  SELECT trs1_id, trs2_id, $st, $en,
       |    CASE WHEN max($en) OVER (PARTITION BY trs1_id, trs2_id
       |        ORDER BY $st, $en
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1 >= $st
       |      THEN 0 ELSE 1 END AS new_island
       |  FROM tr),
       |ci$side AS (
       |  SELECT trs1_id, trs2_id, $st, $en,
       |    sum(new_island) OVER (PARTITION BY trs1_id, trs2_id
       |      ORDER BY $st, $en) AS island_id
       |  FROM cg$side),
       |ca$side AS (
       |  SELECT trs1_id, trs2_id, island_id,
       |    CAST(max($en) - min($st) AS BIGINT) AS island_len
       |  FROM ci$side GROUP BY 1, 2, 3),
       |ct$side AS (
       |  SELECT trs1_id, trs2_id, count(*) AS $n,
       |    CAST(sum(island_len) AS BIGINT) AS $len
       |  FROM ca$side GROUP BY 1, 2)""".stripMargin
  }

  // ---- author/edition/work metadata CTE twins (must mirror
  // spEditionLabels/spEditionIds/spActorLinks/spEditionAuthors/
  // spTem/spTwm exactly) ----

  private val editionCtes: String =
    """ed AS (
      |  SELECT manifestation_id,
      |    coalesce(CASE WHEN length(manifestation_id) % 3 != 0
      |        THEN 'e_' || manifestation_id END,
      |      'ph_' || manifestation_id) AS edition_label
      |  FROM (SELECT DISTINCT manifestation_id FROM trs)),
      |edd AS (
      |  SELECT CAST(row_number() OVER (ORDER BY edition_label) AS BIGINT)
      |    AS edition_id_i, edition_label
      |  FROM (SELECT DISTINCT edition_label FROM ed)),
      |wk AS (
      |  SELECT edition_label,
      |    coalesce(CASE WHEN length(edition_label) % 2 = 0
      |        THEN 'w_' || edition_label END,
      |      'phw_' || edition_label) AS work_label
      |  FROM edd),
      |wkd AS (
      |  SELECT CAST(row_number() OVER (ORDER BY work_label) AS BIGINT)
      |    AS work_id_i, work_label
      |  FROM (SELECT DISTINCT work_label FROM wk))""".stripMargin

  private val authorCtes: String =
    """links AS (
      |  SELECT edition_label AS estc_id,
      |    'a' || CAST((e * 7) % 13 AS VARCHAR) AS actor_id,
      |    CASE WHEN e % 3 != 1 THEN 1 ELSE 0 END AS actor_role_author
      |  FROM (SELECT edition_label,
      |          CAST(regexp_extract(edition_label, '([0-9]+)', 1) AS INT) AS e
      |        FROM edd)
      |  UNION ALL
      |  SELECT edition_label, 'a' || CAST((e * 11) % 13 AS VARCHAR), 1
      |  FROM (SELECT edition_label,
      |          CAST(regexp_extract(edition_label, '([0-9]+)', 1) AS INT) AS e
      |        FROM edd)
      |  WHERE e % 5 = 0),
      |actor_ids AS (
      |  SELECT CAST(row_number() OVER (ORDER BY actor_id) AS BIGINT)
      |    AS actor_id_i, actor_id
      |  FROM (SELECT DISTINCT actor_id FROM links)),
      |edition_authors AS (
      |  SELECT ei.edition_id_i, ai.actor_id_i
      |  FROM edd ei
      |  LEFT JOIN links l ON l.estc_id = ei.edition_label
      |    AND l.actor_role_author = 1
      |  LEFT JOIN actor_ids ai ON l.actor_id = ai.actor_id)""".stripMargin

  private val mappingCtes: String =
    """tem AS (
      |  SELECT t.trs_id, edd.edition_id_i
      |  FROM trs t
      |  JOIN ed ON ed.manifestation_id = t.manifestation_id
      |  JOIN edd ON edd.edition_label = ed.edition_label),
      |twm AS (
      |  SELECT t.trs_id, wkd.work_id_i
      |  FROM trs t
      |  JOIN ed ON ed.manifestation_id = t.manifestation_id
      |  JOIN wk ON wk.edition_label = ed.edition_label
      |  JOIN wkd ON wkd.work_label = wk.work_label)""".stripMargin

  private val statsEdgesCte: String =
    """edges AS (
      |  SELECT e.cluster_id, e.piece_id AS src_piece_id, n.piece_id AS dst_piece_id
      |  FROM earliest e
      |  JOIN (SELECT cluster_id, piece_id FROM clustered c
      |        WHERE NOT EXISTS (SELECT 1 FROM earliest x WHERE x.piece_id = c.piece_id)) n
      |    ON n.cluster_id = e.cluster_id)""".stripMargin

  private val statsCte: String =
    """stats AS (
      |  SELECT src_piece_id AS piece_id,
      |    min(e.cluster_id) AS cluster_id,
      |    min(p_src.trs_end - p_src.trs_start) AS piece_length,
      |    count(*) AS num_reception_edges,
      |    count(DISTINCT CASE WHEN twm_src.work_id_i != twm_dst.work_id_i
      |      THEN twm_dst.work_id_i END) AS num_different_work_ids,
      |    count(DISTINCT CASE
      |      WHEN ea_src.actor_id_i IS NOT NULL
      |        AND (ea_src.actor_id_i != ea_dst.actor_id_i OR ea_dst.actor_id_i IS NULL)
      |        THEN twm_dst.work_id_i
      |      WHEN ea_src.actor_id_i IS NULL THEN twm_dst.work_id_i
      |      END) AS num_work_ids_different_authors
      |  FROM edges e
      |  JOIN pieces p_src ON p_src.piece_id = e.src_piece_id
      |  JOIN tem tem_src ON tem_src.trs_id = p_src.trs_id
      |  JOIN edition_authors ea_src ON ea_src.edition_id_i = tem_src.edition_id_i
      |  JOIN twm twm_src ON twm_src.trs_id = p_src.trs_id
      |  JOIN pieces p_dst ON p_dst.piece_id = e.dst_piece_id
      |  JOIN tem tem_dst ON tem_dst.trs_id = p_dst.trs_id
      |  JOIN edition_authors ea_dst ON ea_dst.edition_id_i = tem_dst.edition_id_i
      |  JOIN twm twm_dst ON twm_dst.trs_id = p_dst.trs_id
      |  GROUP BY src_piece_id)""".stripMargin

  private val statsChain: Seq[String] = Seq(rawCte, trsIdsCte, textreusesCte,
    piecesCte, clusteredCte, earliestCte, editionCtes, authorCtes, mappingCtes,
    statsEdgesCte, statsCte)

  // ---- raw corpus core CTE twins (must mirror spEeboCore/spEccoCore/
  // spNewsCore/spEstcCore/spEditionMapping/spMpd2 exactly) ----

  private val monthListSql: String =
    monthNames.map(m => s"'$m'").mkString("([", ",", "])")

  private val coreCtes: String =
    s"""mn AS (
       |  SELECT manifestation_id, manifestation_id_i,
       |    CAST(substring(manifestation_id, 2) AS INT) AS e
       |  FROM mids),
       |eebo_base AS (
       |  SELECT manifestation_id, e,
       |    CASE WHEN e % 5 = 0 THEN CAST(1600 + e % 200 AS VARCHAR)
       |         WHEN e % 5 = 1 THEN '-' || CAST(1600 + e % 200 AS VARCHAR)
       |         WHEN e % 5 = 2 THEN CAST(1600 + e % 200 AS VARCHAR) || '-' ||
       |           CAST(1607 + e % 200 AS VARCHAR)
       |         WHEN e % 5 = 3 THEN $monthListSql[(e % 12) + 1] || ' ' ||
       |           CAST((e % 28) + 1 AS VARCHAR) || ', ' ||
       |           CAST(1600 + e % 200 AS VARCHAR)
       |    END AS d
       |  FROM mn WHERE e % 4 = 1),
       |eebo_core AS (
       |  SELECT manifestation_id AS eebo_tcp_id, d AS eebo_tls_publication_date,
       |    'EEBO: ' || manifestation_id AS eebo_tls_title
       |  FROM eebo_base
       |  UNION ALL
       |  SELECT manifestation_id, d, NULL FROM eebo_base WHERE e % 8 = 1),
       |ecco_core AS (
       |  SELECT manifestation_id AS ecco_id,
       |    CASE WHEN e % 6 = 0 THEN 0
       |         WHEN e % 6 = 1 THEN 10000101
       |         WHEN e % 6 = 2 THEN 18500101
       |         ELSE (1600 + e % 200) * 10000 + 101 END AS ecco_date_start,
       |    'ECCO: ' || manifestation_id AS ecco_full_title
       |  FROM mn WHERE e % 3 = 0),
       |news_core AS (
       |  SELECT manifestation_id AS article_id,
       |    DATE '1700-01-01' + CAST((e * 11) % 5000 AS INT) AS issue_start_date,
       |    'NEWS: ' || manifestation_id AS newspaper_title
       |  FROM mn WHERE e % 3 != 0 AND e % 4 != 1),
       |estc_core AS (
       |  SELECT edition_label AS estc_id,
       |    CASE WHEN e % 7 != 0 THEN 1600 + (e * 3) % 200 END AS publication_year
       |  FROM (SELECT edition_label,
       |          CAST(regexp_extract(edition_label, '([0-9]+)', 1) AS INT) AS e
       |        FROM edd)),
       |emap AS (
       |  SELECT mi.manifestation_id_i, edd.edition_id_i
       |  FROM mids mi
       |  JOIN ed ON ed.manifestation_id = mi.manifestation_id
       |  JOIN edd ON edd.edition_label = ed.edition_label)""".stripMargin

  private val mpd2Cte: String =
    """mpd2 AS (
      |  SELECT manifestation_id_i, min(pd) AS publication_date FROM (
      |    SELECT em.manifestation_id_i,
      |      CASE WHEN d IS NULL
      |             THEN CAST(CAST(publication_year AS VARCHAR) || '-01-01' AS DATE)
      |           WHEN length(d) = 4 THEN CAST(d || '-01-01' AS DATE)
      |           WHEN length(d) = 5 THEN CAST(substring(d, -4) || '-01-01' AS DATE)
      |           WHEN length(d) = 9 THEN CAST(substring(d, 1, 4) || '-01-01' AS DATE)
      |           WHEN length(d) > 9 THEN CAST(strptime(d, '%B %-d, %Y') AS DATE)
      |      END AS pd
      |    FROM (SELECT eebo_tcp_id, eebo_tls_publication_date AS d FROM eebo_core) ec
      |    JOIN mids mi ON ec.eebo_tcp_id = mi.manifestation_id
      |    JOIN emap em ON em.manifestation_id_i = mi.manifestation_id_i
      |    JOIN edd ON edd.edition_id_i = em.edition_id_i
      |    LEFT JOIN estc_core estc ON edd.edition_label = estc.estc_id)
      |  GROUP BY manifestation_id_i
      |  UNION ALL
      |  SELECT mi.manifestation_id_i,
      |    CASE WHEN ecco_date_start != 0 AND ecco_date_start != 10000101
      |           AND ecco_date_start <= 18390000
      |         THEN CAST(substring(CAST(ecco_date_start AS VARCHAR), 1, 4)
      |           || '-01-01' AS DATE)
      |         ELSE CAST(CAST(publication_year AS VARCHAR) || '-01-01' AS DATE)
      |    END
      |  FROM ecco_core ec
      |  JOIN mids mi ON ec.ecco_id = mi.manifestation_id
      |  JOIN emap em ON em.manifestation_id_i = mi.manifestation_id_i
      |  JOIN edd ON edd.edition_id_i = em.edition_id_i
      |  LEFT JOIN estc_core estc ON edd.edition_label = estc.estc_id
      |  UNION ALL
      |  SELECT mi.manifestation_id_i, issue_start_date
      |  FROM news_core nc
      |  JOIN mids mi ON nc.article_id = mi.manifestation_id)""".stripMargin

  private val metaChain: Seq[String] = Seq(rawCte, trsIdsCte, midsCte,
    editionCtes, coreCtes, mpd2Cte)

  private val epdCte: String =
    """epd AS (
      |  SELECT DISTINCT edition_id_i, publication_date FROM (
      |    SELECT em.edition_id_i,
      |      CASE WHEN publication_year IS NULL THEN
      |        CASE WHEN length(d) = 4 THEN CAST(d || '-01-01' AS DATE)
      |             WHEN length(d) = 5 THEN CAST(substring(d, -4) || '-01-01' AS DATE)
      |             WHEN length(d) = 9 THEN CAST(substring(d, 1, 4) || '-01-01' AS DATE)
      |             WHEN length(d) > 9 THEN CAST(strptime(d, '%B %-d, %Y') AS DATE)
      |        END
      |      ELSE CAST(CAST(publication_year AS VARCHAR) || '-01-01' AS DATE)
      |      END AS publication_date
      |    FROM (SELECT eebo_tcp_id, eebo_tls_publication_date AS d FROM eebo_core) ec
      |    JOIN mids mi ON ec.eebo_tcp_id = mi.manifestation_id
      |    JOIN emap em ON em.manifestation_id_i = mi.manifestation_id_i
      |    JOIN edd ON edd.edition_id_i = em.edition_id_i
      |    LEFT JOIN estc_core estc ON edd.edition_label = estc.estc_id
      |    UNION ALL
      |    SELECT em.edition_id_i,
      |      CASE WHEN publication_year IS NULL AND ecco_date_start != 0
      |             THEN CAST(substring(CAST(ecco_date_start AS VARCHAR), 1, 4)
      |               || '-01-01' AS DATE)
      |           WHEN publication_year IS NULL AND ecco_date_start = 0 THEN NULL
      |           ELSE CAST(CAST(publication_year AS VARCHAR) || '-01-01' AS DATE)
      |      END
      |    FROM ecco_core ec
      |    JOIN mids mi ON ec.ecco_id = mi.manifestation_id
      |    JOIN emap em ON em.manifestation_id_i = mi.manifestation_id_i
      |    JOIN edd ON edd.edition_id_i = em.edition_id_i
      |    LEFT JOIN estc_core estc ON edd.edition_label = estc.estc_id
      |    UNION ALL
      |    SELECT em.edition_id_i, issue_start_date
      |    FROM news_core nc
      |    JOIN mids mi ON nc.article_id = mi.manifestation_id
      |    JOIN emap em ON em.manifestation_id_i = mi.manifestation_id_i))""".stripMargin

  private val wmapCte: String =
    """wmap AS (
      |  SELECT mi.manifestation_id_i, wkd.work_id_i
      |  FROM mids mi
      |  JOIN ed ON ed.manifestation_id = mi.manifestation_id
      |  JOIN wk ON wk.edition_label = ed.edition_label
      |  JOIN wkd ON wkd.work_label = wk.work_label)""".stripMargin

  /** Defrag mapping as a RANGE SELF-JOIN (closing the r13 `no_oracle`
    * gap, VERDICT r13 item 6). The engine's sequential window-UDAF scan
    * is re-derivable in closed form: the sliding buffer at piece c
    * contains exactly the earlier pieces (scan order = (trs_start,
    * piece_id)) whose start is within 180 of c's — starts are sorted,
    * so the UDAF's prefix-trim (`indexWhere(_.start >= s-180)`) equals
    * that filter, and an element once dropped can never re-qualify.
    * The match limit is ≤ 180, so the |start delta| ≤ limit condition
    * already implies buffer membership — the mapping is therefore the
    * MINIMUM (trs_start, piece_id) candidate satisfying the limit rule
    * among pieces at-or-before c in scan order. min() over the
    * start*1e10+piece_id encoding realises the lexicographic argmin
    * (piece_id < 1e10 by construction). Verified row-for-row against
    * the straight-line Scala scan on sf0.01 (0 mismatches, 119 354
    * pieces) before landing.
    */
  private val defragMapCtes: String =
    """mapraw AS MATERIALIZED (
      |  SELECT c.piece_id AS orig_piece_id,
      |    min(CAST(r.trs_start AS BIGINT) * 10000000000 + r.piece_id)
      |      % 10000000000 AS defrag_mapping
      |  FROM pieces c JOIN pieces r
      |    ON r.trs_id = c.trs_id
      |    AND (r.trs_start < c.trs_start
      |         OR (r.trs_start = c.trs_start AND r.piece_id <= c.piece_id))
      |    AND abs(r.trs_start - c.trs_start)
      |        <= least(greatest(least(c.trs_end - c.trs_start,
      |             r.trs_end - r.trs_start) // 4, 10), 180)
      |    AND abs(r.trs_end - c.trs_end)
      |        <= least(greatest(least(c.trs_end - c.trs_start,
      |             r.trs_end - r.trs_start) // 4, 10), 180)
      |  GROUP BY 1),
      |dmap AS MATERIALIZED (
      |  SELECT defrag_mapping,
      |    CAST(row_number() OVER (ORDER BY defrag_mapping) AS BIGINT)
      |      AS defrag_piece_id
      |  FROM (SELECT DISTINCT defrag_mapping FROM mapraw)),
      |pm AS MATERIALIZED (
      |  SELECT m.orig_piece_id, d.defrag_piece_id
      |  FROM mapraw m JOIN dmap d USING (defrag_mapping))""".stripMargin

  private val otCte: String =
    """ot AS (
      |  SELECT tr.textreuse_id, p1.piece_id AS piece1_id, p2.piece_id AS piece2_id
      |  FROM tr
      |  LEFT JOIN pieces p1 ON p1.trs_id = tr.trs1_id
      |    AND p1.trs_start = tr.trs1_start AND p1.trs_end = tr.trs1_end
      |  LEFT JOIN pieces p2 ON p2.trs_id = tr.trs2_id
      |    AND p2.trs_start = tr.trs2_start AND p2.trs_end = tr.trs2_end)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_domain_defrag_pieces" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, defragMapCtes) +
        """SELECT pm.defrag_piece_id AS piece_id, p.trs_id,
          |  min(p.trs_start) AS trs_start, max(p.trs_end) AS trs_end
          |FROM pieces p JOIN pm ON p.piece_id = pm.orig_piece_id
          |GROUP BY 1, 2""".stripMargin),

    "q_domain_defrag_textreuses" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, defragMapCtes, otCte) +
        """SELECT CAST(row_number() OVER (ORDER BY piece1_id, piece2_id) AS BIGINT)
          |    AS textreuse_id,
          |  piece1_id, piece2_id, num_orig_links
          |FROM (
          |  SELECT pm1.defrag_piece_id AS piece1_id,
          |    pm2.defrag_piece_id AS piece2_id, count(*) AS num_orig_links
          |  FROM ot
          |  JOIN pm pm1 ON ot.piece1_id = pm1.orig_piece_id
          |  JOIN pm pm2 ON ot.piece2_id = pm2.orig_piece_id
          |  GROUP BY 1, 2)""".stripMargin),

    "q_domain_trs_ids" ->
      (chain(rawCte, trsIdsCte) +
        "SELECT trs_id, text_name, manifestation_id, structure_name FROM trs"),

    "q_domain_textreuses" ->
      (chain(rawCte, trsIdsCte, textreusesCte) +
        """SELECT textreuse_id, trs1_id, trs1_start, trs1_end,
          |  trs2_id, trs2_start, trs2_end, align_length, positives_percent FROM tr""".stripMargin),

    "q_domain_orig_pieces" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte) +
        "SELECT piece_id, trs_id, trs_start, trs_end FROM pieces"),

    "q_domain_orig_textreuses" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte) +
        """SELECT tr.textreuse_id, p1.piece_id AS piece1_id, p2.piece_id AS piece2_id,
          |  tr.align_length, tr.positives_percent
          |FROM tr
          |LEFT JOIN pieces p1 ON p1.trs_id = tr.trs1_id
          |  AND p1.trs_start = tr.trs1_start AND p1.trs_end = tr.trs1_end
          |LEFT JOIN pieces p2 ON p2.trs_id = tr.trs2_id
          |  AND p2.trs_start = tr.trs2_start AND p2.trs_end = tr.trs2_end""".stripMargin),

    "q_domain_earliest_by_cluster" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, clusteredCte, earliestCte) +
        "SELECT piece_id, trs_id, cluster_id, publication_date FROM earliest"),

    "q_domain_non_source_pieces" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, clusteredCte, earliestCte) +
        """SELECT cluster_id, piece_id FROM clustered c
          |WHERE NOT EXISTS (SELECT 1 FROM earliest e WHERE e.piece_id = c.piece_id)""".stripMargin),

    "q_domain_reception_edges" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, clusteredCte, earliestCte) +
        """SELECT e.cluster_id, e.piece_id AS src_piece_id, e.trs_id AS src_trs_id,
          |  n.piece_id AS dst_piece_id, n.trs_id AS dst_trs_id
          |FROM earliest e
          |JOIN (SELECT cluster_id, piece_id, trs_id FROM clustered c
          |      WHERE NOT EXISTS (SELECT 1 FROM earliest x WHERE x.piece_id = c.piece_id)) n
          |  ON n.cluster_id = e.cluster_id""".stripMargin),

    "q_domain_edition_authors" ->
      (chain(rawCte, trsIdsCte, editionCtes, authorCtes) +
        "SELECT edition_id_i, actor_id_i FROM edition_authors"),

    "q_domain_source_piece_stats" ->
      (chain(statsChain: _*) +
        """SELECT piece_id, cluster_id, piece_length, num_reception_edges,
          |  num_different_work_ids, num_work_ids_different_authors FROM stats""".stripMargin),

    "q_domain_source_piece_stats_denorm" ->
      (chain(statsChain: _*) +
        """SELECT s.piece_id, s.cluster_id, s.piece_length, s.num_reception_edges,
          |  s.num_different_work_ids, s.num_work_ids_different_authors,
          |  p.trs_id, p.trs_start, p.trs_end, tem.edition_id_i
          |FROM stats s
          |JOIN pieces p ON p.piece_id = s.piece_id
          |JOIN tem ON tem.trs_id = p.trs_id""".stripMargin),

    "q_domain_id_chain" ->
      (chain(rawCte, trsIdsCte) +
        """, mani AS (SELECT DISTINCT manifestation_id FROM trs),
          |ed AS (
          |  SELECT manifestation_id,
          |    coalesce(CASE WHEN length(manifestation_id) % 3 != 0
          |        THEN 'e_' || manifestation_id END,
          |      'ph_' || manifestation_id) AS edition_label
          |  FROM mani),
          |wk AS (
          |  SELECT edition_label,
          |    coalesce(CASE WHEN length(edition_label) % 2 = 0
          |        THEN 'w_' || edition_label END,
          |      'phw_' || edition_label) AS work_label
          |  FROM ed),
          |md AS (SELECT CAST(row_number() OVER (ORDER BY manifestation_id) AS BIGINT)
          |         AS manifestation_id_i, manifestation_id FROM mani),
          |edd AS (SELECT CAST(row_number() OVER (ORDER BY edition_label) AS BIGINT)
          |         AS edition_id_i, edition_label
          |        FROM (SELECT DISTINCT edition_label FROM ed)),
          |wkd AS (SELECT CAST(row_number() OVER (ORDER BY work_label) AS BIGINT)
          |         AS work_id_i, work_label
          |        FROM (SELECT DISTINCT work_label FROM wk))
          |SELECT trs.trs_id, trs.manifestation_id, md.manifestation_id_i,
          |  ed.edition_label, edd.edition_id_i, wk.work_label, wkd.work_id_i
          |FROM trs
          |JOIN md ON md.manifestation_id = trs.manifestation_id
          |JOIN ed ON ed.manifestation_id = trs.manifestation_id
          |JOIN edd ON edd.edition_label = ed.edition_label
          |JOIN wk ON wk.edition_label = ed.edition_label
          |JOIN wkd ON wkd.work_label = wk.work_label""".stripMargin),

    "q_domain_cluster_spans" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, clusteredCte) +
        """SELECT cluster_id, max(publication_date) AS max_pub_date,
          |  min(publication_date) AS min_pub_date,
          |  CAST(max(publication_date) - min(publication_date) AS BIGINT)
          |    AS span_days
          |FROM clustered GROUP BY 1
          |ORDER BY span_days DESC, cluster_id LIMIT 100""".stripMargin),

    "q_domain_cluster_consistency" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, clusteredCte) +
        """, workdated AS (
          |  SELECT piece_id, trs_id, cluster_id,
          |    DATE '1700-01-01' + CAST((trs_id * 7) % 4000 AS INT)
          |      AS publication_date
          |  FROM clustered),
          |ew AS (
          |  SELECT * FROM (
          |    SELECT *, min(publication_date) OVER (PARTITION BY cluster_id)
          |      AS md
          |    FROM workdated) WHERE publication_date = md),
          |etbc AS (
          |  SELECT cluster_id, trs_id AS etbc_trs_id FROM (
          |    SELECT cluster_id, trs_id, row_number() OVER (
          |      PARTITION BY cluster_id ORDER BY publication_date, trs_id)
          |      AS rn
          |    FROM clustered) WHERE rn = 1)
          |SELECT DISTINCT e.cluster_id
          |FROM ew e JOIN etbc t USING (cluster_id)
          |WHERE e.trs_id <> t.etbc_trs_id""".stripMargin),

    "q_domain_reception_edges_denorm" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, clusteredCte) +
        """, earliest2 AS (
          |  SELECT piece_id, trs_id, trs_start, trs_end, cluster_id FROM (
          |    SELECT piece_id, trs_id, trs_start, trs_end, cluster_id, publication_date,
          |      min(publication_date) OVER (PARTITION BY cluster_id) AS min_date
          |    FROM clustered) WHERE publication_date = min_date)
          |SELECT e.cluster_id,
          |  e.trs_id AS src_trs_id, e.trs_start AS src_trs_start,
          |  e.trs_end AS src_trs_end,
          |  n.trs_id AS dst_trs_id, n.trs_start AS dst_trs_start,
          |  n.trs_end AS dst_trs_end
          |FROM earliest2 e
          |JOIN (SELECT c.* FROM clustered c WHERE NOT EXISTS
          |      (SELECT 1 FROM earliest2 x WHERE x.piece_id = c.piece_id)) n
          |  ON n.cluster_id = e.cluster_id""".stripMargin),

    "q_domain_inception_coverage" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte, clusteredCte) +
        """, earliest2 AS (
          |  SELECT piece_id, trs_id, trs_start, trs_end, cluster_id FROM (
          |    SELECT piece_id, trs_id, trs_start, trs_end, cluster_id, publication_date,
          |      min(publication_date) OVER (PARTITION BY cluster_id) AS min_date
          |    FROM clustered) WHERE publication_date = min_date),
          |eden AS (
          |  SELECT DISTINCT e.trs_id AS src_trs_id, n.trs_id AS dst_trs_id,
          |    n.trs_start AS dst_trs_start, n.trs_end AS dst_trs_end
          |  FROM earliest2 e
          |  JOIN (SELECT c.* FROM clustered c WHERE NOT EXISTS
          |        (SELECT 1 FROM earliest2 x WHERE x.piece_id = c.piece_id)) n
          |    ON n.cluster_id = e.cluster_id),
          |g AS (
          |  SELECT src_trs_id, dst_trs_id, dst_trs_start, dst_trs_end,
          |    CASE WHEN max(dst_trs_end) OVER (PARTITION BY src_trs_id, dst_trs_id
          |        ORDER BY dst_trs_start, dst_trs_end
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1 >= dst_trs_start
          |      THEN 0 ELSE 1 END AS ni
          |  FROM eden),
          |i AS (
          |  SELECT src_trs_id, dst_trs_id, dst_trs_start, dst_trs_end,
          |    sum(ni) OVER (PARTITION BY src_trs_id, dst_trs_id
          |      ORDER BY dst_trs_start, dst_trs_end) AS island
          |  FROM g),
          |a AS (
          |  SELECT src_trs_id, dst_trs_id, island,
          |    CAST(max(dst_trs_end) - min(dst_trs_start) AS BIGINT) AS len
          |  FROM i GROUP BY 1, 2, 3),
          |t AS (
          |  SELECT src_trs_id, dst_trs_id, count(*) AS n_islands,
          |    CAST(sum(len) AS BIGINT) AS covered_len
          |  FROM a GROUP BY 1, 2)
          |SELECT src_trs_id, dst_trs_id, n_islands, covered_len,
          |  CAST(covered_len AS DOUBLE) / 2000 * 100.0 AS coverage_dst
          |FROM t""".stripMargin),

    "q_domain_piece_overlaps" ->
      (chain(rawCte, trsIdsCte, textreusesCte, piecesCte) +
        """SELECT a.trs_id, a.piece_id AS piece_id_a, b.piece_id AS piece_id_b,
          |  least(a.trs_end, b.trs_end) - greatest(a.trs_start, b.trs_start)
          |    AS overlap_len
          |FROM (SELECT * FROM pieces WHERE piece_id % 7 = 0) a
          |JOIN (SELECT * FROM pieces WHERE piece_id % 7 = 0) b
          |  ON a.trs_id = b.trs_id AND a.piece_id < b.piece_id
          |  AND a.trs_start <= b.trs_end AND b.trs_start <= a.trs_end""".stripMargin),

    "q_domain_book_earliest" ->
      (chain(bookChain: _*) +
        "SELECT cluster_id, manifestation_id_i, piece_id FROM book_earliest"),

    "q_domain_book_reception_edges" ->
      (chain((bookChain :+ bookEdgesCte): _*) +
        "SELECT src_piece_id, dst_piece_id FROM book_edges"),

    "q_domain_book_reception_edges_denorm" ->
      (chain((bookChain :+ bookEdgesCte :+ bookDenormCte): _*) +
        """SELECT src_trs_id, src_trs_start, src_trs_end,
          |  dst_trs_id, dst_trs_start, dst_trs_end FROM book_denorm""".stripMargin),

    "q_domain_book_coverage" ->
      (chain((bookChain :+ bookEdgesCte :+ bookDenormCte
          :+ bookIslandsCte(1) :+ bookIslandsCte(2)
          :+ """blen AS (
               |  SELECT trs_id, CAST(1500 + (trs_id % 7) * 250 AS INT) AS text_length
               |  FROM trs)""".stripMargin): _*) +
        """SELECT t1.src_trs_id, t1.num_reuses_src, t1.reuses_src_in_dst,
          |  l1.text_length AS src_length,
          |  t1.reuses_src_in_dst / l1.text_length * 100.0 AS coverage_src_in_dst,
          |  t1.dst_trs_id, t2.num_reuses_dst, t2.reuses_dst_in_src,
          |  l2.text_length AS dst_length,
          |  t2.reuses_dst_in_src / l2.text_length * 100.0 AS coverage_dst_in_src
          |FROM bt1 t1
          |LEFT JOIN bt2 t2 ON t2.src_trs_id = t1.src_trs_id
          |  AND t2.dst_trs_id = t1.dst_trs_id
          |LEFT JOIN blen l1 ON l1.trs_id = t1.src_trs_id
          |LEFT JOIN blen l2 ON l2.trs_id = t1.dst_trs_id""".stripMargin),

    "q_domain_coverages" ->
      (chain(rawCte, trsIdsCte, textreusesCte, sourceLengthsCte,
          covIslandsCte(1), covIslandsCte(2)) +
        """SELECT trs1_id, trs2_id, t1_reuses, t2_reuses, reuse_t1_t2, reuse_t2_t1,
          |  reuse_t1_t2 / l1.text_length * 100.0 AS coverage_t1_t2,
          |  reuse_t2_t1 / l2.text_length * 100.0 AS coverage_t2_t1
          |FROM ct1 JOIN ct2 USING (trs1_id, trs2_id)
          |LEFT JOIN lengths l1 ON l1.trs_id = trs1_id
          |LEFT JOIN lengths l2 ON l2.trs_id = trs2_id""".stripMargin),

    "q_domain_edition_pub_date" ->
      (chain(rawCte, trsIdsCte, midsCte, editionCtes, coreCtes, epdCte) +
        "SELECT edition_id_i, publication_date FROM epd"),

    "q_domain_work_earliest_pub_date" ->
      (chain(rawCte, trsIdsCte, midsCte, editionCtes, coreCtes, epdCte, wmapCte) +
        """SELECT work_id_i, min(publication_date) AS publication_date
          |FROM epd
          |LEFT JOIN emap USING (edition_id_i)
          |LEFT JOIN wmap USING (manifestation_id_i)
          |GROUP BY work_id_i""".stripMargin),

    "q_domain_manifestation_pub_date" ->
      (chain(metaChain: _*) +
        "SELECT manifestation_id_i, publication_date FROM mpd2"),

    "q_domain_pub_year_hist" ->
      (chain(metaChain: _*) +
        """SELECT publication_year, cnt FROM (
          |  SELECT year(publication_date) AS publication_year, count(*) AS cnt
          |  FROM mpd2 GROUP BY 1
          |  ORDER BY publication_year ASC NULLS FIRST LIMIT 20)""".stripMargin),

    "q_domain_pub_year_ends" ->
      (chain(metaChain: _*) +
        """, yc AS (
          |  SELECT year(publication_date) AS publication_year, count(*) AS cnt
          |  FROM mpd2 GROUP BY 1)
          |SELECT * FROM (SELECT * FROM yc
          |  ORDER BY publication_year DESC NULLS LAST LIMIT 10)
          |UNION ALL
          |SELECT * FROM (SELECT * FROM yc
          |  ORDER BY publication_year ASC NULLS FIRST LIMIT 10)""".stripMargin),

    "q_domain_manifestation_title" ->
      (chain((metaChain.init): _*) +
        """SELECT mi.manifestation_id_i, ec.ecco_full_title AS title
          |FROM mids mi JOIN ecco_core ec ON ec.ecco_id = mi.manifestation_id
          |UNION ALL
          |SELECT mi.manifestation_id_i, max(eb.eebo_tls_title) AS title
          |FROM mids mi JOIN eebo_core eb ON eb.eebo_tcp_id = mi.manifestation_id
          |GROUP BY mi.manifestation_id_i
          |UNION ALL
          |SELECT mi.manifestation_id_i, nc.newspaper_title AS title
          |FROM mids mi JOIN news_core nc ON nc.article_id = mi.manifestation_id""".stripMargin),

    "q_domain_pub_date_parse" ->
      """SELECT o_orderkey, date_str,
        |  CAST(coalesce(
        |    try_strptime(date_str, '%Y-%m-%d'),
        |    try_strptime(date_str, '%B %-d, %Y'),
        |    try_strptime(date_str, '%Y')) AS DATE) AS parsed_date
        |FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y')
        |         ELSE strftime(o_orderdate, '%B %-d, %Y') END AS date_str
        |  FROM orders)""".stripMargin
  )
}
