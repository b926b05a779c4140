package graft.core

import org.apache.spark.sql.types._

/** Centralized schema constants for every domain table (SURVEY.md §1.4).
  *
  * The reference scatters these across ingestion code and READMEs
  * (reference: raw_textreuses.py:116-129, raw_texts.py:62-69,
  * etl_textreuse/assets/README.md:121-248); we pin them here so tests can
  * assert them and ingestion can parse against explicit types.
  */
object Schemas {

  /** Raw BLAST hit pairs (reference: raw_textreuses.py:116-129). */
  val rawTextreuses: StructType = StructType(Seq(
    StructField("align_length", IntegerType),
    StructField("positives_percent", FloatType),
    StructField("text1_id", StringType),
    StructField("text1_text", StringType),
    StructField("text1_text_end", IntegerType),
    StructField("text1_text_start", IntegerType),
    StructField("text2_id", StringType),
    StructField("text2_text", StringType),
    StructField("text2_text_end", IntegerType),
    StructField("text2_text_start", IntegerType)
  ))

  /** Raw document texts (reference: raw_texts.py:62-69). */
  val rawTexts: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("text", StringType),
    StructField("collection", StringType),
    StructField("text_loc", StringType)
  ))

  /** TRS = manifestation_id + optional structure_name
    * (reference: raw_textreuses.py:149-171).
    */
  val textreuseIds: StructType = StructType(Seq(
    StructField("trs_id", LongType),
    StructField("text_name", StringType),
    StructField("manifestation_id", StringType),
    StructField("structure_name", StringType)
  ))

  /** Integer-encoded hits (reference: raw_textreuses.py:188-208). */
  val textreuses: StructType = StructType(Seq(
    StructField("textreuse_id", LongType),
    StructField("trs1_id", LongType),
    StructField("trs1_start", IntegerType),
    StructField("trs1_end", IntegerType),
    StructField("trs2_id", LongType),
    StructField("trs2_start", IntegerType),
    StructField("trs2_end", IntegerType),
    StructField("align_length", IntegerType),
    StructField("positives_percent", FloatType)
  ))

  /** A piece = unique (trs_id, start, end) interval
    * (reference: orig_textreuses.py:14-38).
    */
  val origPieces: StructType = StructType(Seq(
    StructField("piece_id", LongType),
    StructField("trs_id", LongType),
    StructField("trs_start", IntegerType),
    StructField("trs_end", IntegerType)
  ))

  val origTextreuses: StructType = StructType(Seq(
    StructField("textreuse_id", LongType),
    StructField("piece1_id", LongType),
    StructField("piece2_id", LongType),
    StructField("align_length", IntegerType),
    StructField("positives_percent", FloatType)
  ))

  val pieceIdMappings: StructType = StructType(Seq(
    StructField("orig_piece_id", LongType),
    StructField("defrag_piece_id", LongType)
  ))

  val defragPieces: StructType = origPieces

  val defragTextreuses: StructType = StructType(Seq(
    StructField("textreuse_id", LongType),
    StructField("piece1_id", LongType),
    StructField("piece2_id", LongType),
    StructField("num_orig_links", LongType)
  ))

  val adjacencyList: StructType = StructType(Seq(
    StructField("piece_id", LongType),
    StructField("other_piece_ids", ArrayType(LongType))
  ))

  /** Clustering iteration state, one row per node, and so the row of
    * its checkpoint; the row carries the node's adjacency
    * (reference: chinese_label_propagation.py:81-87).
    */
  val clusterState: StructType = StructType(Seq(
    StructField("piece_id", LongType),
    StructField("cluster_id", LongType),
    StructField("cluster_counts", MapType(LongType, LongType)),
    StructField("other_piece_ids", ArrayType(LongType)),
    StructField("active", BooleanType)
  ))

  val clusteredDefragPieces: StructType = StructType(Seq(
    StructField("piece_id", LongType),
    StructField("cluster_id", LongType)
  ))

  val textreuseSourceLengths: StructType = StructType(Seq(
    StructField("trs_id", LongType),
    StructField("text_length", IntegerType)
  ))

  /** Coverage metrics (reference: coverages.py:137-165). */
  val coverages: StructType = StructType(Seq(
    StructField("trs1_id", LongType),
    StructField("trs2_id", LongType),
    StructField("t1_reuses", LongType),
    StructField("t2_reuses", LongType),
    StructField("reuse_t1_t2", LongType),
    StructField("reuse_t2_t1", LongType),
    StructField("coverage_t1_t2", DoubleType),
    StructField("coverage_t2_t1", DoubleType)
  ))

  val receptionEdges: StructType = StructType(Seq(
    StructField("src_trs_id", LongType),
    StructField("src_trs_start", IntegerType),
    StructField("src_trs_end", IntegerType),
    StructField("dst_trs_id", LongType),
    StructField("dst_trs_start", IntegerType),
    StructField("dst_trs_end", IntegerType)
  ))
}
