package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.max

import graft.core.Catalog

import Main._

/** etl_build: whole builds of the chain, raw hits to Derby, each into a
  * fresh catalog. One pass is one build; the timed call is the build's
  * Chinese Whispers run, the materialization of `clusters`.
  */
object EtlWorkload {

  val TimedCall = "clusters"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val zip = ctx.input("zip")
    val meta = ctx.input("meta")
    val jdbc = Some(s"jdbc:derby:${ctx.root.resolve("derby").resolve("etl")};create=true")
    val off = new Tracer(spark.sparkContext, enabled = false)

    // set-up: one untimed warm-up build of the same input. A smaller
    // input plans other joins and leaves other code cold: after a
    // 500-hit warm-up the first timed build ran 15-25% slower than the
    // next one.
    val t0 = System.nanoTime()
    EtlChain.build(spark, off, new Calls, zip, meta, ctx.root.resolve("warm-up"), jdbc,
      ctx.cores)
    out.setupS = (System.nanoTime() - t0) / 1e9

    // every build's catalog stays for the output check
    val builds = ArrayBuffer[EtlChain.Result]()
    def passes(o: Outcome, tracer: Tracer, calls: Calls, tag: String): Int =
      timedLoop(ctx, o, ctx.seconds, minPasses = 1) { i =>
        attempt(o) {
          EtlChain.build(spark, tracer, calls, zip, meta, ctx.root.resolve(s"$tag-$i"),
            jdbc, ctx.cores)
        }.map(builds += _).isDefined
      }

    val calls = new Calls
    passes(out, off, calls, "build")
    out.callMs = median(calls.of(TimedCall))

    if (ctx.traced) {
      val traced = new Outcome
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val tcalls = new Calls
      val tn = passes(traced, tracer, tcalls, "traced")
      out.attempted += traced.attempted
      out.failed += traced.failed
      perLayer(ctx, out, tracer, tn, builds.last)
      val pl = out.perLayer
      pl("trace_overhead.pass_s") = median(traced.passS.toSeq) - median(out.passS.toSeq)
      pl("trace_overhead.pass_cpu_s") =
        median(traced.passCpuS.toSeq) - median(out.passCpuS.toSeq)
      pl("trace_overhead.call_p50_ms") = median(tcalls.of(TimedCall)) - out.callMs
      writeSpans(ctx, tracer)
    }

    out.check("catalogs") = Json.arr(builds.map(b =>
      Json.obj(EtlChain.dataDirs(b.catalog).map { case (k, v) => k -> Json.str(v) })))
    out.check("jdbc_rows") = Json.obj(builds.last.loads.map { case (t, l) =>
      t -> l.rows.toString })
    out
  }

  /** Per-layer metrics from the traced builds; counts from the last one. */
  def perLayer(ctx: Ctx, out: Outcome, tracer: Tracer, passes: Int,
      r: EtlChain.Result): Unit = {
    val pl = out.perLayer
    val cat = r.catalog
    val layers = EtlChain.layers.map(_._1)
    val m = layers.map(l => l -> layerMetrics(tracer, ctx.listener, l, passes)).toMap
    def put(layer: String, keys: String*): Unit =
      keys.foreach(k => pl(s"$layer.$k") = m(layer)(s"$layer.$k"))
    val zipBytes = Files.size(Paths.get(ctx.input("zip"))).toDouble
    put("ingest", "s", "cpu_s")
    pl("ingest.rows_out") = countRows(cat, "raw_textreuses").toDouble
    pl("ingest.input_bytes") = zipBytes
    put("ids", "s", "jobs")
    put("textreuse", "s", "cpu_s", "shuffle_bytes")
    put("defrag", "s", "cpu_s", "shuffle_bytes")
    pl("defrag.merge_ratio") =
      countRows(cat, "defrag_pieces").toDouble / countRows(cat, "orig_pieces")
    put("cluster", "s", "cpu_s", "jobs", "shuffle_bytes")
    val builds = tracer.spans.filter(_.name == "build").toSeq
    val buildS = builds.map(_.seconds).sum
    pl("cluster.build_share") = pl("cluster.s") * passes / buildS
    val clusterPublished = Seq("adjacency_list", "clusters", "clustered_defrag_pieces")
      .map(a => EtlChain.publishedBytesAndFiles(Paths.get(cat.dataDir(a)))._1).sum
    pl("cluster.checkpoint_bytes") = m("cluster")("cluster.output_bytes") - clusterPublished
    pl("cluster.largest_cluster") = largestCluster(cat).toDouble
    put("analytics", "s", "cpu_s", "shuffle_bytes")
    pl("analytics.reception_edges_rows") = countRows(cat, "reception_edges").toDouble
    val (bytes, files) = EtlChain.publishedBytesAndFiles(r.dir)
    pl("core.publish_bytes") = bytes.toDouble
    pl("core.publish_files") = files.toDouble
    pl("core.bytes_per_input_byte") = bytes / zipBytes
    pl("sink.s") = tracer.spans.filter(_.name == "sink").map(_.seconds).sum / passes
    pl("sink.load_s") = r.loads.map(_._2.loadSeconds).sum
    pl("sink.index_s") = r.loads.map(_._2.indexSeconds).sum
    pl("sink.rows_per_s") = r.loads.map(_._2.rows).sum / r.loads.map(_._2.loadSeconds).sum
    pl("build.self_s") = builds.map(tracer.selfSeconds).sum / builds.size
    // share of the build's wall time covered by the layer spans
    pl("trace.layer_share") =
      builds.flatMap(b => tracer.children(b.id)).map(_.seconds).sum / buildS
    val total = new Counters
    builds.foreach(b => total.add(tracer.subtree(b, ctx.listener)))
    sparkMetrics(total, builds.size).foreach { case (k, v) => pl(k) = v }
  }

  private def countRows(c: Catalog, name: String): Long = c.get(name).count()

  private def largestCluster(c: Catalog): Long =
    c.get("clustered_defrag_pieces").groupBy("cluster_id").count()
      .agg(max("count")).head().getLong(0)
}
