package graft

import graft.sink.MariaDbDdl

/** The reference's database schema as a spec: the MariaDB renderer must
  * reproduce the reference's DDL (golden strings below, cited per table),
  * and the dialect-neutral renderer must actually execute — table, load,
  * primary key, indexes — on embedded Derby with the 32-bit id guard
  * active.
  */
class MariaDbDdlSpec extends SparkTestBase {

  import spark.implicits._

  /** Whitespace/quoting-insensitive DDL comparison: MariaDB backquotes
    * and the reference's inconsistent indentation are not semantics.
    */
  private def norm(ddl: String): String =
    ddl.replace("`", "")
      .replaceAll("(?m)--.*$", "")
      .replaceAll("\\s*([(),;])\\s*", "$1")
      .replaceAll("\\s+", " ")
      .replaceAll(";$", "")
      .trim

  test("mariadbCreate reproduces the reference DDL (golden)") {
    // reference: etl_textreuse/database_assets/ids_and_mappings.py:14-21
    val refTextreuseIds =
      """CREATE TABLE IF NOT EXISTS `textreuse_ids` (
        |    `trs_id` int(11) unsigned NOT NULL,
        |    `text_name` varchar(100),
        |    `manifestation_id` varchar(100),
        |    `structure_name` varchar(100)
        |)ENGINE=Aria PAGE_CHECKSUM=0 TRANSACTIONAL=0;""".stripMargin
    // reference: etl_textreuse/database_assets/coverages.py:48-61
    val refCoverages =
      """CREATE TABLE IF NOT EXISTS `coverages` (
        |    `trs1_id` int(11) unsigned NOT NULL,
        |    `t1_reuses` int(11) unsigned DEFAULT NULL,
        |    `reuse_t1_t2` int(11) unsigned DEFAULT NULL,
        |    `t1_length` int(11) unsigned DEFAULT NULL,
        |    `coverage_t1_t2` double unsigned DEFAULT NULL,
        |    `trs2_id` int(11) unsigned NOT NULL,
        |    `t2_reuses` int(11) unsigned DEFAULT NULL,
        |    `reuse_t2_t1` int(11) unsigned DEFAULT NULL,
        |    `t2_length` int(11) unsigned DEFAULT NULL,
        |    `coverage_t2_t1` double unsigned DEFAULT NULL
        |)ENGINE=Aria PAGE_CHECKSUM=0 TRANSACTIONAL=0;""".stripMargin
    // reference: etl_textreuse/database_assets/reception.py:41-46
    val refNonSourcePieces =
      """CREATE TABLE IF NOT EXISTS `non_source_pieces` (
        |    `cluster_id` int(11) unsigned NOT NULL,
        |    `piece_id` bigint(20) unsigned NOT NULL)
        |ENGINE=Aria PAGE_CHECKSUM=0 TRANSACTIONAL=0;""".stripMargin
    // reference: etl_textreuse/database_assets/downstream_clusters.py:15-20
    val refClusteredDefragPieces =
      """CREATE TABLE IF NOT EXISTS `clustered_defrag_pieces` (
        |    `piece_id` bigint(20) unsigned NOT NULL,
        |    `cluster_id` int(11) unsigned NOT NULL
        |)ENGINE=Aria PAGE_CHECKSUM=0 TRANSACTIONAL=0;""".stripMargin

    assert(norm(MariaDbDdl.textreuseIds.mariadbCreate) === norm(refTextreuseIds))
    assert(norm(MariaDbDdl.coverages.mariadbCreate) === norm(refCoverages))
    assert(norm(MariaDbDdl.nonSourcePieces.mariadbCreate) === norm(refNonSourcePieces))
    assert(norm(MariaDbDdl.clusteredDefragPieces.mariadbCreate) ===
      norm(refClusteredDefragPieces))
  }

  test("mariadbIndex reproduces the reference index ALTERs (golden)") {
    // reference: etl_textreuse/database_assets/ids_and_mappings.py:22-26
    val refTextreuseIdsIdx =
      """ALTER TABLE `textreuse_ids`
        |    ADD PRIMARY KEY (`trs_id`),
        |    ADD INDEX IF NOT EXISTS manifestation_trs_composite (`manifestation_id`,`trs_id`);""".stripMargin
    // reference: etl_textreuse/database_assets/coverages.py:63-69
    val refCoveragesIdx =
      """ALTER TABLE `coverages`
        |    ADD INDEX IF NOT EXISTS `trs1_id` (`trs1_id`),
        |    ADD INDEX IF NOT EXISTS `coverage_t1_t2` (`coverage_t1_t2`),
        |    ADD INDEX IF NOT EXISTS `trs2_id` (`trs2_id`),
        |    ADD INDEX IF NOT EXISTS `coverage_t2_t1` (`coverage_t2_t1`);""".stripMargin
    // reference: etl_textreuse/database_assets/reception.py:47-51
    val refNonSourcePiecesIdx =
      """ALTER TABLE `non_source_pieces`
        |    ADD UNIQUE KEY `cluster_covering` (`cluster_id`,`piece_id`),
        |    ADD UNIQUE KEY `piece_covering` (`piece_id`,`cluster_id`);""".stripMargin

    assert(norm(MariaDbDdl.textreuseIds.mariadbIndex) === norm(refTextreuseIdsIdx))
    assert(norm(MariaDbDdl.coverages.mariadbIndex) === norm(refCoveragesIdx))
    assert(norm(MariaDbDdl.nonSourcePieces.mariadbIndex) === norm(refNonSourcePiecesIdx))
  }

  test("the catalog covers every reference database asset") {
    assert(MariaDbDdl.all.size === 22)
    assert(MariaDbDdl.byName.size === 22)
    // every table carries the reference's engine options
    MariaDbDdl.all.foreach { t =>
      assert(t.mariadbCreate.contains("ENGINE=Aria PAGE_CHECKSUM=0 TRANSACTIONAL=0"))
    }
    // the 64-bit exception is piece_id and only piece_id
    // (downstream_clusters.py:18, reception.py:44)
    val u64Cols = for {
      t <- MariaDbDdl.all; c <- t.cols if c.tpe == MariaDbDdl.U64
    } yield c.name
    assert(u64Cols.toSet === Set("piece_id"))
    // every other id/count column is under the 32-bit guard
    assert(MariaDbDdl.textreuseIds.narrow32Cols === Seq("trs_id"))
    assert(MariaDbDdl.clusteredDefragPieces.narrow32Cols === Seq("cluster_id"))
  }

  test("ansi dialect loads reference-shaped tables on Derby end to end") {
    val dir = tempDir("graft-derby-ddl").resolve("db")
    val url = s"jdbc:derby:$dir;create=true"

    // clustered_defrag_pieces: 64-bit piece_id beyond the signed-32 range
    // must load (it is NOT under the 32-bit guard); PK + covering index
    val pieces = Seq((1L, 10L), ((1L << 33) + 7L, 11L), ((1L << 32) - 1L, 10L))
      .toDF("piece_id", "cluster_id")
    val r1 = MariaDbDdl.clusteredDefragPieces.load(pieces, url, mariadb = false)
    assert(r1.rows === 3L)

    // manifestation_publication_date: DATE column with nulls, PK
    val dates = Seq(
      (1L, Some(java.sql.Date.valueOf("1701-05-03"))),
      (2L, None), (3L, Some(java.sql.Date.valueOf("1788-01-01"))))
      .toDF("manifestation_id_i", "publication_date")
    val r2 = MariaDbDdl.manifestationPublicationDate.load(dates, url, mariadb = false)
    assert(r2.rows === 3L)

    // coverages: unsigned doubles with nulls, 4 secondary indexes
    val cov = Seq(
      (1L, Some(3L), Some(2L), Some(100L), Some(0.25), 2L, Some(4L), Some(1L), Some(80L), Some(0.125)),
      (3L, None, None, None, None, 4L, None, None, None, None))
      .toDF("trs1_id", "t1_reuses", "reuse_t1_t2", "t1_length", "coverage_t1_t2",
        "trs2_id", "t2_reuses", "reuse_t2_t1", "t2_length", "coverage_t2_t1")
    val r3 = MariaDbDdl.coverages.load(cov, url, mariadb = false)
    assert(r3.rows === 2L)

    // read back through Spark's JDBC source
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "clustered_defrag_pieces").load()
    assert(back.where($"piece_id" === (1L << 33) + 7L).count() === 1L)

    // a cluster_id outside unsigned-32 violates the contract and aborts
    val bad = Seq((5L, 1L << 32)).toDF("piece_id", "cluster_id")
    val e = intercept[Exception] {
      MariaDbDdl.clusteredDefragPieces.load(bad, url, mariadb = false)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("32-bit unsigned id contract")))
  }
}
