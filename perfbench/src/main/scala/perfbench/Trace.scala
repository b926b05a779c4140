package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level counters summed over the jobs of one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  /** Wall-clock ms of the span's first job start; Long.MaxValue if none. */
  var firstJobMs = Long.MaxValue

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; inputBytes += o.inputBytes
    recordsRead += o.recordsRead; firstJobMs = math.min(firstJobMs, o.firstJobMs)
  }

  def minus(o: Counters): Counters = {
    val d = new Counters
    d.jobs = jobs - o.jobs; d.tasks = tasks - o.tasks
    d.cpuNs = cpuNs - o.cpuNs; d.gcMs = gcMs - o.gcMs
    d.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    d.shuffleReadBytes = shuffleReadBytes - o.shuffleReadBytes
    d.spillBytes = spillBytes - o.spillBytes; d.outputBytes = outputBytes - o.outputBytes
    d.inputBytes = inputBytes - o.inputBytes; d.recordsRead = recordsRead - o.recordsRead
    d
  }

  def cpuS: Double = cpuNs / 1e9
}

/** One listener for the whole run. Every job is attributed to the span
  * id the submitting thread set as a local property (0 when tracing is
  * off), and the tasks of its stages follow the job's attribution.
  */
final class SpanListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def acc(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageSpan.put(_, span))
    val c = acc(span)
    c.synchronized { c.jobs += 1; c.firstJobMs = math.min(c.firstJobMs, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = acc(stageSpan.getOrDefault(e.stageId, 0))
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Counters of one span (a copy). */
  def of(span: Int): Counters = {
    val out = new Counters
    Option(bySpan.get(span)).foreach(c => c.synchronized(out.add(c)))
    out
  }

  /** Counters summed over every span (a copy). */
  def total: Counters = {
    val out = new Counters
    bySpan.values().forEach(c => c.synchronized(out.add(c)))
    out
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. With tracing off `span` only runs its body,
  * so untraced runs pay nothing but the call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.getOrElse(0),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the time its (sequential) children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Counters of `s` and every span below it. */
  def subtree(s: Span, listener: SpanListener): Counters = {
    val out = listener.of(s.id)
    children(s.id).foreach(c => out.add(subtree(c, listener)))
    out
  }

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${Json.num(selfSeconds(s))}}"""
  }
}

/** Wall times of single calls into the engine, in ms, by kind of call. */
final class Calls {
  private val byKind = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  def add(kind: String, ms: Double): Unit =
    byKind.getOrElseUpdate(kind, ArrayBuffer[Double]()) += ms

  def time[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    add(kind, (System.nanoTime() - t0) / 1e6)
    out
  }

  def of(kind: String): Seq[Double] = byKind.get(kind).map(_.toSeq).getOrElse(Nil)
  def all: Seq[Double] = byKind.values.flatten.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
