package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.{Coverages, Reception}
import graft.core.{AssetDag, Catalog, Schemas}
import graft.ingest.Ingest
import graft.sink.Jdbc
import graft.textreuse.TextReuseAssets

/** One build of the paper's chain, raw hits to Derby, through the
  * engine's public functions: zip ingest, the textreuse asset graph on
  * an AssetDag over a fresh Catalog, coverages and reception published
  * on the same dag, then Jdbc bulk loads.
  */
object EtlChain {

  /** Layers in build order, each with the assets it materializes. */
  val layers: Seq[(String, Seq[String])] = Seq(
    "ingest" -> Seq("raw_textreuses", "text_metadata"),
    "ids" -> Seq("textreuse_ids"),
    "textreuse" -> Seq("textreuses", "orig_pieces", "orig_textreuses"),
    "defrag" -> Seq("piece_id_mappings", "defrag_pieces", "defrag_textreuses"),
    "cluster" -> Seq("adjacency_list", "clusters", "clustered_defrag_pieces"),
    "analytics" -> Seq("trs_lengths", "coverages", "dated_pieces", "earliest_pieces",
      "non_source_pieces", "reception_edges", "reception_edges_denorm",
      "source_piece_statistics"))

  val assets: Seq[String] = layers.flatMap(_._2)

  /** Chinese Whispers round cap of a build. TextReuseAssets defaults to
    * 10; each round is a dozen jobs, and 3 keep a run near a minute.
    */
  val ClusterRounds = 3

  val metadataSchema: StructType = StructType(Seq(
    StructField("text_name", StringType),
    StructField("publication_year", IntegerType),
    StructField("text_length", IntegerType)))

  /** Derby tables: (table, source asset, DDL, index DDL). */
  private val sinkTables: Seq[(String, String, String, Seq[String])] = Seq(
    ("clustered_defrag_pieces", "clustered_defrag_pieces",
      "CREATE TABLE clustered_defrag_pieces (piece_id BIGINT NOT NULL, cluster_id BIGINT NOT NULL)",
      Seq("CREATE INDEX cdp_cluster ON clustered_defrag_pieces (cluster_id)")),
    ("reception_edges", "reception_edges",
      "CREATE TABLE reception_edges (cluster_id BIGINT NOT NULL, src_piece_id BIGINT NOT NULL, " +
        "src_trs_id BIGINT NOT NULL, dst_piece_id BIGINT NOT NULL, dst_trs_id BIGINT NOT NULL)",
      Seq("CREATE INDEX re_src ON reception_edges (src_trs_id)",
        "CREATE INDEX re_dst ON reception_edges (dst_trs_id)")))

  final case class Result(catalog: Catalog, dir: Path, loads: Seq[(String, Jdbc.LoadResult)])

  /** Register every asset of the chain on a dag over `catalog`. */
  def register(spark: SparkSession, dag: AssetDag, zip: String, meta: String): AssetDag = {
    dag.asset("raw_textreuses")(_ => Ingest.readZippedJsonl(spark, zip, Schemas.rawTextreuses))
    dag.asset("text_metadata")(_ => Ingest.readJsonl(spark, meta, metadataSchema))
    TextReuseAssets.register(dag, clusterSeed = 42L, clusterMaxIter = ClusterRounds)
    dag.asset("trs_lengths", Seq("textreuse_ids", "text_metadata")) { in =>
      in("textreuse_ids").join(in("text_metadata"), "text_name")
        .select("trs_id", "text_length")
    }
    dag.asset("coverages", Seq("textreuses", "trs_lengths")) { in =>
      Coverages.coverages(in("textreuses"), in("trs_lengths"))
    }
    // reception needs each piece's cluster and publication date
    dag.asset("dated_pieces", Seq("clustered_defrag_pieces", "defrag_pieces",
        "textreuse_ids", "text_metadata")) { in =>
      in("clustered_defrag_pieces").join(in("defrag_pieces"), "piece_id")
        .join(in("textreuse_ids").select("trs_id", "text_name"), "trs_id")
        .join(in("text_metadata"), "text_name")
        .select(col("piece_id"), col("trs_id"), col("trs_start"), col("trs_end"),
          col("cluster_id"), col("publication_year").as("publication_date"))
    }
    dag.asset("earliest_pieces", Seq("dated_pieces")) { in =>
      Reception.earliestPieces(in("dated_pieces"))
    }
    dag.asset("non_source_pieces", Seq("dated_pieces", "earliest_pieces")) { in =>
      Reception.nonSourcePieces(in("dated_pieces"), in("earliest_pieces"))
    }
    dag.asset("reception_edges", Seq("earliest_pieces", "non_source_pieces")) { in =>
      Reception.receptionEdges(in("earliest_pieces"), in("non_source_pieces"))
    }
    dag.asset("reception_edges_denorm", Seq("earliest_pieces", "non_source_pieces")) { in =>
      Reception.receptionEdgesDenorm(in("earliest_pieces"), in("non_source_pieces"))
    }
    // the hits carry no author data: a trs's author is its id mod 97
    dag.asset("source_piece_statistics", Seq("reception_edges")) { in =>
      Reception.sourcePieceStatistics(in("reception_edges"), c => pmod(c, lit(97L)))
    }
    dag
  }

  /** Build the whole chain into a fresh catalog under `dir` and, unless
    * `jdbcUrl` is None, load the sink tables into that Derby database.
    * Each asset is materialized by its own call, in dependency order, so
    * every call builds exactly that asset.
    */
  def build(spark: SparkSession, tracer: Tracer, calls: Calls, zip: String,
      meta: String, dir: Path, jdbcUrl: Option[String], sinkPartitions: Int): Result = {
    Files.createDirectories(dir)
    val catalog = new Catalog(spark, dir.toString)
    val dag = register(spark, new AssetDag(catalog), zip, meta)
    tracer.span("build") {
      for ((layer, names) <- layers) tracer.span(layer) {
        for (n <- names) tracer.span(n) {
          val built = calls.time(n)(dag.materialize(n))
          require(built == Seq(n), s"materialize($n) built $built")
        }
      }
      val loads = jdbcUrl.toSeq.flatMap(url => tracer.span("sink") {
        sinkTables.map { case (table, asset, ddl, idx) =>
          tracer.span(s"load_$table") {
            table -> calls.time(s"load_$table")(Jdbc.loadTable(catalog.get(asset), url,
              table, ddl, idx, numPartitions = sinkPartitions))
          }
        }
      })
      Result(catalog, dir, loads)
    }
  }

  /** The data directory each asset's current version lives in. */
  def dataDirs(catalog: Catalog): Seq[(String, String)] =
    assets.map(n => n -> catalog.dataDir(n))

  /** Bytes and files published under the catalog directory. */
  def publishedBytesAndFiles(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val files = s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }
}
