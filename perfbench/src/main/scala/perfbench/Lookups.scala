package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.Reception
import graft.core.Catalog

/** The analyst's point lookups over a published catalog. Each type reads
  * tables setup already published; `inception_of` computes
  * Reception.inceptionCoverages over the filtered edges at query time.
  */
object Lookups {

  val types: Seq[String] = Seq("reception_of", "coverage_of", "cluster_members", "inception_of")

  final case class Query(kind: String, key: Long)

  /** Key universes per lookup type, sorted so a seed picks the same keys. */
  final case class Keys(trs: Array[Long], pieces: Array[Long], sources: Array[Long]) {
    def forType(kind: String): Array[Long] = kind match {
      case "reception_of" | "coverage_of" => trs
      case "cluster_members" => pieces
      case "inception_of" => sources
    }
  }

  def keys(catalog: Catalog): Keys = {
    def ids(df: DataFrame, c: String): Array[Long] =
      df.select(col(c)).distinct().collect().map(_.getLong(0)).sorted
    Keys(ids(catalog.get("reception_edges"), "dst_trs_id"),
      ids(catalog.get("clustered_defrag_pieces"), "piece_id"),
      ids(catalog.get("reception_edges_denorm"), "src_trs_id"))
  }

  /** A seeded stream of lookups: the four types in turn, each with keys
    * Zipf-skewed over a seeded permutation of its key universe (s = 1.1).
    */
  def stream(keys: Keys, seed: Long, n: Int): IndexedSeq[Query] = {
    val rng = new java.util.Random(seed)
    val perms = types.map { t =>
      val ks = keys.forType(t).clone()
      for (i <- ks.indices.reverse) {
        val j = rng.nextInt(i + 1); val tmp = ks(i); ks(i) = ks(j); ks(j) = tmp
      }
      val cum = ks.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
      t -> (ks, cum)
    }.toMap
    (0 until n).map { i =>
      val t = types(i % types.size)
      val (ks, cum) = perms(t)
      val u = rng.nextDouble() * cum.last
      val at = java.util.Arrays.binarySearch(cum, u)
      Query(t, ks(math.min(ks.length - 1, if (at >= 0) at else -at - 1)))
    }
  }

  /** Run one lookup; `get` reads a published table (the core layer). */
  def run(q: Query, get: String => DataFrame): Array[Row] = q.kind match {
    case "reception_of" =>
      get("reception_edges").where(col("dst_trs_id") === q.key)
        .select("src_trs_id", "src_piece_id", "dst_piece_id", "cluster_id").collect()
    case "coverage_of" =>
      get("coverages").where(col("trs1_id") === q.key || col("trs2_id") === q.key)
        .select("trs1_id", "trs2_id", "reuse_t1_t2", "reuse_t2_t1").collect()
    case "cluster_members" =>
      val cdp = get("clustered_defrag_pieces")
      cdp.join(cdp.where(col("piece_id") === q.key).select("cluster_id"), "cluster_id")
        .select("piece_id").collect()
    case "inception_of" =>
      Reception.inceptionCoverages(
        get("reception_edges_denorm").where(col("src_trs_id") === q.key),
        get("trs_lengths"))
        .select("dst_trs_id", "n_islands", "covered_len").collect()
  }

  def rowJson(r: Row): String = Json.arr(r.toSeq.map {
    case null => "null"
    case v: Long => v.toString
    case v: Int => v.toString
    case v => Json.str(v.toString)
  })
}
