package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** JVM side of the benchmark: set-up, the timed loop and the traced
  * per-layer breakdown of one workload. `run.py` generates the inputs,
  * starts this main, checks the outputs it leaves in the run root and
  * prints the result line.
  *
  * Usage: Main --workload W --root DIR --seconds S --trace 0|1
  *   --cores N --seed N [workload inputs]
  * Writes DIR/result.json (and DIR/spans.jsonl when tracing).
  */
object Main {

  final class Ctx(val spark: SparkSession, val listener: SpanListener,
      val args: Map[String, String]) {
    val root: Path = Paths.get(args("root"))
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val cores: Int = args("cores").toInt
    val seed: Long = args("seed").toLong
    def input(name: String): String = args(name)

    def drain(): Unit = org.apache.spark.graftshim.CoreShim.drainListenerBus(spark.sparkContext)

    /** Wall seconds and task counters of `body`, listener bus drained on
      * both sides so late events land in the right window.
      */
    def measured[T](body: => T): (T, Double, Counters) = {
      drain()
      val c0 = listener.total
      val t0 = System.nanoTime()
      val out = body
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      (out, dt, listener.total.minus(c0))
    }
  }

  /** What a workload hands back: timings, counts and check material. */
  final class Outcome {
    var setupS = 0.0
    val passS = ArrayBuffer[Double]()
    val passCpuS = ArrayBuffer[Double]()
    val passJobs = ArrayBuffer[Long]()
    /** The workload's call latency in ms; each workload defines its call. */
    var callMs = Double.NaN
    var attempted = 0L
    var failed = 0L
    val perLayer = mutable.LinkedHashMap[String, Double]()
    /** Material for the output checks; values are JSON. */
    val check = mutable.LinkedHashMap[String, String]()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** Per-job scheduling floor: mean wall of 50 trivial one-stage jobs
    * after 5 warm-up jobs.
    */
  def jobFloorMs(spark: SparkSession): Double = {
    (1 to 5).foreach(_ => spark.range(1000).count())
    val t0 = System.nanoTime()
    (1 to 50).foreach(_ => spark.range(1000).count())
    (System.nanoTime() - t0) / 1e6 / 50
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val cores = args("cores").toInt
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores = cores, shufflePartitions = cores,
      appName = "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, listener, args)
    try {
      val out = args("workload") match {
        case "etl_build" => EtlWorkload.run(ctx)
        case "catalog_lookups" => LookupWorkload.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val floor = jobFloorMs(spark)
      val passMedian = median(out.passS.toSeq)
      val jobsPerPass = median(out.passJobs.toSeq.map(_.toDouble))
      out.perLayer.getOrElseUpdate("spark.job_floor_ms", floor)
      out.perLayer("spark.floor_share") = jobsPerPass * floor / 1000 / passMedian
      val e2e = Seq(
        "setup_s" -> Json.num(sessionS + out.setupS),
        "pass_s" -> Json.num(passMedian),
        "pass_cpu_s" -> Json.num(median(out.passCpuS.toSeq)),
        "call_p50_ms" -> Json.num(out.callMs),
        "passes_s" -> Json.arr(out.passS.map(Json.num)))
      val json = Json.obj(Seq(
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "e2e" -> Json.obj(e2e),
        "per_layer" -> Json.obj(out.perLayer.map { case (k, v) => k -> Json.num(v) }),
        "check" -> Json.obj(out.check)))
      Files.write(ctx.root.resolve("result.json"), json.getBytes(UTF_8))
    } finally {
      spark.stop()
    }
  }

  /** Per-pass means over the spans named `layer` and everything below
    * them, keyed `<layer>.s`, `.cpu_s`, `.jobs`, `.shuffle_bytes` and
    * `.output_bytes`.
    */
  def layerMetrics(tracer: Tracer, listener: SpanListener, layer: String,
      passes: Int): Map[String, Double] = {
    val spans = tracer.spans.filter(_.name == layer).toSeq
    val c = new Counters
    spans.foreach(s => c.add(tracer.subtree(s, listener)))
    val n = math.max(1, passes).toDouble
    Map(s"$layer.s" -> spans.map(_.seconds).sum / n,
      s"$layer.cpu_s" -> c.cpuS / n,
      s"$layer.jobs" -> c.jobs / n,
      s"$layer.shuffle_bytes" -> (c.shuffleWriteBytes + c.shuffleReadBytes) / n,
      s"$layer.output_bytes" -> c.outputBytes / n)
  }

  /** Spark-wide per-pass counters. */
  def sparkMetrics(c: Counters, passes: Int): Seq[(String, Double)] = {
    val n = math.max(1, passes).toDouble
    Seq("spark.jobs" -> c.jobs / n, "spark.tasks" -> c.tasks / n,
      "spark.spill_bytes" -> c.spillBytes / n, "spark.gc_s" -> c.gcMs / 1000.0 / n)
  }

  def writeSpans(ctx: Ctx, tracer: Tracer): Unit =
    if (tracer.enabled)
      Files.write(ctx.root.resolve("spans.jsonl"),
        tracer.toJsonLines.mkString("", "\n", "\n").getBytes(UTF_8))

  /** Run `pass` until its timed passes add up to `seconds` (and at
    * least `minPasses` times). A pass returns false when one of its
    * calls failed; such a pass is counted but not timed.
    */
  def timedLoop(ctx: Ctx, out: Outcome, seconds: Double, minPasses: Int)(
      pass: Int => Boolean): Int = {
    var spent = 0.0
    var i = 0
    while (i < minPasses || spent < seconds) {
      val (ok, dt, c) = ctx.measured(pass(i))
      spent += dt
      if (ok) {
        out.passS += dt
        out.passCpuS += c.cpuS
        out.passJobs += c.jobs
      }
      i += 1
    }
    i
  }

  /** Run one call, counting it; a failure is counted and reported. */
  def attempt[T](out: Outcome)(body: => T): Option[T] = {
    out.attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        out.failed += 1
        System.err.println(s"[perfbench] call failed: $e")
        None
    }
  }
}
