package graft.defrag

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ids.Ids

/** Piece defragmentation: map near-duplicate text intervals within a
  * document to one representative piece (SURVEY.md §2.9).
  *
  * Semantics match the reference's window UDAF (reference:
  * etl_textreuse/assets/piece_id_mappings.ipynb cell 2; prose rule at
  * etl_textreuse/assets/README.md:179-203):
  *
  *  - pieces are scanned per document (`trs_id`) in (trs_start, piece_id)
  *    order;
  *  - a sliding buffer keeps only pieces whose start is within 180 chars
  *    of the current start;
  *  - the current piece maps to the FIRST buffered piece r with
  *    |r.start − start| ≤ limit && |r.end − end| ≤ limit, where
  *    limit = clamp(min(curLen, rLen) / 4, 10, 180) (integer division);
  *    the probe itself is in the buffer, so a match always exists.
  *
  * Spark-first shape: a typed `Aggregator` registered with
  * `functions.udaf` and evaluated over a running window frame — one
  * shuffle on trs_id, sort within partitions, single forward pass. The
  * running frame only ever calls reduce+finish (never merge), which is
  * what makes a sequential-scan aggregator sound as a window function.
  * At 100 TB this parallelizes per document: no driver collects, no
  * cross-document state.
  */
object Defrag {

  /** Buffer entry: (trs_start, trs_end, piece_id). */
  type Buf = ArrayBuffer[(Int, Int, Long)]

  /** The pure scan rule, shared by the Aggregator and the test oracle:
    * given the retained buffer (oldest first, current piece last), the
    * representative id for the current piece.
    */
  def firstMatch(buf: Seq[(Int, Int, Long)]): Long = {
    val (s, e, _) = buf.last
    buf.find { case (rs, re, _) =>
      val limit = math.min(math.max(math.min(e - s, re - rs) / 4, 10), 180)
      math.abs(rs - s) <= limit && math.abs(re - e) <= limit
    }.get._3
  }

  /** Straight-line reference implementation over one document's pieces
    * (already sorted by (start, piece_id)) — the oracle for specs and the
    * core of the window aggregator.
    */
  def scanDocument(pieces: Seq[(Int, Int, Long)]): Seq[(Long, Long)] = {
    val buf: Buf = ArrayBuffer()
    pieces.map { case (s, e, id) =>
      val idx = buf.indexWhere(_._1 >= s - 180)
      if (idx < 0) buf.clear() else buf.remove(0, idx)
      buf += ((s, e, id))
      id -> firstMatch(buf.toSeq)
    }
  }

  /** Input rows: (trs_start int, trs_end int, piece_id long). */
  val inputSchema: StructType = StructType(Seq(
    StructField("trs_start", IntegerType),
    StructField("trs_end", IntegerType),
    StructField("piece_id", LongType)))

  /** Running-window aggregator: reduce maintains the sliding buffer,
    * finish resolves the current (last) piece's representative. merge
    * deliberately throws — the aggregator is only sound as an ordered
    * single-pass window aggregate, and Spark's running-frame execution
    * never calls merge (load-bearing; see spec).
    */
  object GetPieceIdMapping extends Aggregator[Row, Buf, Long] {
    override def zero: Buf = ArrayBuffer()

    override def reduce(buf: Buf, row: Row): Buf = {
      val s = row.getInt(0)
      val idx = buf.indexWhere(_._1 >= s - 180)
      if (idx < 0) buf.clear() else buf.remove(0, idx)
      buf += ((s, row.getInt(1), row.getLong(2)))
      buf
    }

    override def merge(b1: Buf, b2: Buf): Buf =
      throw new UnsupportedOperationException(
        "defrag aggregator is a running window scan; merge must never run")

    override def finish(buf: Buf): Long = firstMatch(buf.toSeq)

    override def bufferEncoder: Encoder[Buf] = ExpressionEncoder()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Register `get_piece_id_mapping` for SQL use. Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.udf.register("get_piece_id_mapping",
      udaf(GetPieceIdMapping, RowEncoder.encoderFor(inputSchema)))

  /** orig piece → representative piece id, one row per orig piece.
    * Input: orig_pieces(piece_id, trs_id, trs_start, trs_end).
    * Output: (orig_piece_id, defrag_mapping).
    */
  def rawMappings(origPieces: DataFrame): DataFrame = {
    val spark = origPieces.sparkSession
    register(spark)
    val w = Window.partitionBy("trs_id").orderBy("trs_start", "piece_id")
    origPieces.select(
      col("piece_id").as("orig_piece_id"),
      expr("get_piece_id_mapping(trs_start, trs_end, piece_id)")
        .over(w).as("defrag_mapping"))
  }

  /** Dense re-id of the representative ids (reference: notebook cells
    * 5-6): DISTINCT mappings → sorted contiguous defrag_piece_id → join
    * back. Output: piece_id_mappings(orig_piece_id, defrag_piece_id).
    */
  def pieceIdMappings(origPieces: DataFrame): DataFrame = {
    val raw = rawMappings(origPieces)
    val dict = Ids.zipWithRowId(
      raw.select("defrag_mapping").distinct().orderBy("defrag_mapping"),
      "defrag_piece_id")
    raw.join(dict, Seq("defrag_mapping"))
      .select("orig_piece_id", "defrag_piece_id")
  }

  /** defrag_pieces(piece_id, trs_id, trs_start, trs_end): min-start /
    * max-end per merged group (reference: defragmentation.py:42-57).
    */
  def defragPieces(origPieces: DataFrame, mappings: DataFrame): DataFrame =
    origPieces
      .join(mappings, origPieces("piece_id") === mappings("orig_piece_id"))
      .groupBy(col("defrag_piece_id").as("piece_id"), col("trs_id"))
      .agg(min("trs_start").as("trs_start"), max("trs_end").as("trs_end"))
      .select("piece_id", "trs_id", "trs_start", "trs_end")

  /** defrag_textreuses(textreuse_id → edge between defrag pieces, with
    * the number of original links merged into each edge)
    * (reference: defragmentation.py:65-86).
    */
  def defragTextreuses(origTextreuses: DataFrame, mappings: DataFrame): DataFrame = {
    val m1 = mappings.select(col("orig_piece_id").as("piece1_id"),
      col("defrag_piece_id").as("p1"))
    val m2 = mappings.select(col("orig_piece_id").as("piece2_id"),
      col("defrag_piece_id").as("p2"))
    val edges = origTextreuses
      .join(m1, Seq("piece1_id"))
      .join(m2, Seq("piece2_id"))
      .groupBy(col("p1").as("piece1_id"), col("p2").as("piece2_id"))
      .agg(count(lit(1)).as("num_orig_links"))
    Ids.zipWithRowId(
      edges.orderBy("piece1_id", "piece2_id"),
      "textreuse_id")
  }
}
