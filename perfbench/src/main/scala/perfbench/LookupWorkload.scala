package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import Main._

/** catalog_lookups: one client in a closed loop sends a seeded,
  * Zipf-keyed stream of point lookups over a catalog set-up published.
  * One call is one lookup; one pass is one lookup of each type.
  */
object LookupWorkload {

  val Batch: Int = Lookups.types.size
  /** Answers kept per lookup type for the output check. */
  val Samples = 3

  /** A lookup's typical latency: the geometric mean over the lookup
    * types of each type's median ms. A median over the mixed stream
    * would fall between two types and follow whichever sits there.
    */
  def typicalMs(calls: Calls): Double =
    math.exp(Lookups.types.map(t => math.log(median(calls.of(t)))).sum / Lookups.types.size)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val off = new Tracer(spark.sparkContext, enabled = false)

    // set-up: build and publish the catalog (no sink: lookups read the
    // catalog), then warm the lookup path
    val t0 = System.nanoTime()
    val published = EtlChain.build(spark, off, new Calls, ctx.input("zip"), ctx.input("meta"),
      ctx.root.resolve("catalog"), None, ctx.cores)
    Lookups.stream(Lookups.keys(published.catalog), ctx.seed + 1, 2 * Lookups.types.size)
      .foreach(q => Lookups.run(q, published.catalog.get))
    out.setupS = (System.nanoTime() - t0) / 1e9
    val catalog = published.catalog
    val stream = Lookups.stream(Lookups.keys(catalog), ctx.seed, 100000)
    var next = 0
    val samples = mutable.LinkedHashMap(Lookups.types.map(_ -> ArrayBuffer[String]()): _*)
    var resultRows = 0L

    def passes(o: Outcome, tracer: Tracer, calls: Calls): Int =
      timedLoop(ctx, o, ctx.seconds, minPasses = 2) { _ =>
        var ok = true
        for (_ <- 0 until Batch) {
          val q = stream(next)
          next += 1
          val get: String => DataFrame = n => tracer.span("core.get")(catalog.get(n))
          val t0 = System.nanoTime()
          attempt(o)(tracer.span("lookup")(tracer.span(q.kind)(Lookups.run(q, get)))) match {
            case Some(rows) =>
              calls.add(q.kind, (System.nanoTime() - t0) / 1e6)
              resultRows += rows.length
              if (samples(q.kind).size < Samples)
                samples(q.kind) += Json.obj(Seq("key" -> q.key.toString,
                  "rows" -> Json.arr(rows.map(Lookups.rowJson).sorted)))
            case None => ok = false
          }
        }
        ok
      }

    val calls = new Calls
    passes(out, off, calls)
    out.callMs = typicalMs(calls)
    val pl = out.perLayer
    for (t <- Lookups.types) pl(s"lookup.$t.p50_ms") = median(calls.of(t))
    pl("lookup.p50_ms") = median(calls.all)
    pl("lookup.p95_ms") = percentile(calls.all, 95)
    pl("lookup.samples") = calls.all.size.toDouble

    if (ctx.traced) {
      val traced = new Outcome
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val tcalls = new Calls
      resultRows = 0L
      passes(traced, tracer, tcalls)
      out.attempted += traced.attempted
      out.failed += traced.failed
      val lookups = tracer.spans.filter(_.name == "lookup").toSeq
      val n = lookups.size.toDouble
      val c = new Counters
      lookups.foreach(s => c.add(tracer.subtree(s, ctx.listener)))
      pl("lookup.driver_ms") = median(lookups.map { s =>
        val first = tracer.subtree(s, ctx.listener).firstJobMs
        if (first == Long.MaxValue) s.seconds * 1000 else (first - s.startMs).toDouble
      })
      pl("lookup.jobs_per_query") = c.jobs / n
      pl("lookup.rows_scanned_per_result") = c.recordsRead.toDouble / math.max(1L, resultRows)
      pl("lookup.bytes_scanned_per_query") = c.inputBytes / n
      val gets = tracer.spans.filter(_.name == "core.get").toSeq
      pl("core.get_ms") = median(gets.map(_.seconds * 1000))
      val passesN = math.max(1, traced.passS.size)
      sparkMetrics(c, passesN).foreach { case (k, v) => pl(k) = v }
      pl("trace_overhead.pass_s") = median(traced.passS.toSeq) - median(out.passS.toSeq)
      pl("trace_overhead.pass_cpu_s") =
        median(traced.passCpuS.toSeq) - median(out.passCpuS.toSeq)
      pl("trace_overhead.call_p50_ms") = typicalMs(tcalls) - out.callMs
      writeSpans(ctx, tracer)
    }

    out.check("catalog") = Json.obj(EtlChain.dataDirs(catalog).map { case (k, v) =>
      k -> Json.str(v) })
    out.check("lookup_samples") = Json.obj(samples.map { case (t, s) => t -> Json.arr(s) })
    out
  }
}
