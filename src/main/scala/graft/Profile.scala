package graft

import java.util.Locale
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graftshim.CoreShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.GraftSession
import graft.queries.QueryCaches

/** The one measurement path: wall time, jobs, stages, task metrics and
  * the final physical plan of whatever a body runs. Bench, the scale
  * smokes and the test suite's job counter all measure through
  * [[measure]].
  *
  * As a main it profiles the named faces (default: `defaultFaces`) at
  * SPARK_GRAFT_SF_DIR on local[SPARK_GRAFT_CPUS], like Bench. Per face
  * it runs one warm pass, then one measured pass printed as a summary
  * line, the top-3 stages by task run time, the top-3 plan operators by
  * time, and the plan fingerprint.
  * Usage: sbt "runMain graft.Profile [face ...]"
  */
object Profile extends AdaptiveSparkPlanHelper {

  type Face = (SparkSession, String) => DataFrame

  /** One completed stage; times and bytes are summed over its tasks. */
  final case class Stage(id: Int, tasks: Int, runS: Double, cpuS: Double, gcS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, name: String)

  /** One operator of the final plan with its summed time metrics; `rows`
    * is its output row count, -1 when it keeps none.
    */
  final case class Operator(name: String, timeS: Double, rows: Long)

  /** Operator counts of the final (post-AQE) plan, reused exchanges and
    * the plans of cached relations excluded.
    */
  final case class Fingerprint(hashExchanges: Int, singlePartitionExchanges: Int,
      broadcastExchanges: Int, sortMergeJoins: Int, broadcastHashJoins: Int,
      windows: Int, sorts: Int, codegenSpans: Int) {
    override def toString: String =
      productElementNames.zip(productIterator).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  /** One measured region. `operators` (slowest first) and `fingerprint`
    * describe the last SQL execution the region ran. `compiles` counts
    * the generated classes Janino compiled during the region, cache
    * misses of Spark's codegen cache; the counter is JVM-global, so
    * work that runs concurrently with the region is included.
    */
  final case class Sample(wallS: Double, jobs: Int, inJobS: Double, stages: Seq[Stage],
      operators: Seq[Operator], fingerprint: Fingerprint, compiles: Long) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskCpuS: Double = stages.map(_.cpuS).sum
    def gcS: Double = stages.map(_.gcS).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum
  }

  /** The one listener: job starts and in-job time, completed stages, and
    * the executed plan of the last successful SQL execution.
    */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    private val jobs = new AtomicInteger
    private val started = new ConcurrentHashMap[Int, java.lang.Long]
    private val inJobMs = new AtomicLong
    private val stages = new ConcurrentLinkedQueue[Stage]
    private val lastPlan = new AtomicReference[SparkPlan]

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      started.put(j.jobId, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.remove(j.jobId)).foreach(t0 => inJobMs.addAndGet(j.time - t0))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      def sum(f: TaskMetrics => Long): Long = Option(i.taskMetrics).map(f).getOrElse(0L)
      stages.add(Stage(i.stageId, i.numTasks, sum(_.executorRunTime) / 1e3,
        sum(_.executorCpuTime) / 1e9, sum(_.jvmGCTime) / 1e3,
        sum(_.shuffleReadMetrics.totalBytesRead), sum(_.shuffleWriteMetrics.bytesWritten),
        sum(m => m.memoryBytesSpilled + m.diskBytesSpilled), i.name))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastPlan.set(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    def sample(wallS: Double, compiles: Long): Sample = {
      val nodes = Option(lastPlan.get).toSeq.flatMap(p => collectWithSubqueries(p) { case n => n })
      Sample(wallS, jobs.get, inJobMs.get / 1e3, stages.asScala.toSeq,
        operatorTimes(nodes), fingerprint(nodes), compiles)
    }
  }

  /** Runs `body` and measures it. Listener events post asynchronously,
    * so the bus is drained before the listener is added and again after
    * `body`: no event of an earlier region leaks in and none of this one
    * is missed. Both drains, and the plan walk, run outside the timed
    * region.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Sample) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    CoreShim.drainListenerBus(sc)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val c0 = compiledClasses
      val t0 = System.nanoTime()
      val out = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val compiles = compiledClasses - c0
      CoreShim.drainListenerBus(sc)
      (out, rec.sample(wallS, compiles))
    } finally {
      spark.listenerManager.unregister(rec)
      sc.removeSparkListener(rec)
    }
  }

  private def compiledClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs a face through the noop sink, which executes every projection;
    * a count() would let Catalyst prune unreferenced expressions and
    * under-measure map-only faces.
    */
  def runFace(spark: SparkSession, dir: String, face: Face): Unit =
    face(spark, dir).write.format("noop").mode("overwrite").save()

  /** Mean wall ms of one trivial one-stage job. Round-latency-bound faces
    * cost about jobs × this floor, and it swings several-fold between
    * host epochs while volume-bound faces stay flat, so timings are read
    * against it.
    */
  def jobFloorMs(spark: SparkSession): Double = {
    (1 to 5).foreach(_ => spark.range(1000).count())
    val t0 = System.nanoTime()
    (1 to 50).foreach(_ => spark.range(1000).count())
    (System.nanoTime() - t0) / 1e6 / 50
  }

  private def operatorTimes(nodes: Seq[SparkPlan]): Seq[Operator] = nodes.flatMap { p =>
    // unset SQL metrics read -1
    val times = p.metrics.values.collect {
      case m if m.metricType == "timing" => math.max(m.value, 0L) / 1e3
      case m if m.metricType == "nsTiming" => math.max(m.value, 0L) / 1e9
    }
    if (times.isEmpty) None
    else Some(Operator(p.nodeName, times.sum,
      p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)))
  }.sortBy(-_.timeS)

  private def fingerprint(nodes: Seq[SparkPlan]): Fingerprint = {
    def n(f: PartialFunction[SparkPlan, Boolean]): Int =
      nodes.count(f.applyOrElse(_, (_: SparkPlan) => false))
    Fingerprint(
      n { case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning] },
      n { case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition },
      n { case _: BroadcastExchangeExec => true },
      n { case _: SortMergeJoinExec => true },
      n { case _: BroadcastHashJoinExec => true },
      n { case _: WindowExec => true },
      n { case _: SortExec => true },
      n { case _: WholeStageCodegenExec => true })
  }

  private val defaultFaces: Seq[String] = Seq("q_domain_book_coverage", "q_domain_cluster",
    "q_pipeline_dedup", "q_dedup_prefix_join", "q_join_self")

  private def fmt(v: Double): String = "%.2f".formatLocal(Locale.ROOT, v)
  private def mb(bytes: Long): String = fmt(bytes / 1048576.0) + "MB"

  /** Warms the stage registry, prints the job floor, then profiles each
    * face (one warm pass, one measured pass) and prints its report.
    */
  def run(spark: SparkSession, dir: String, faces: Seq[String]): Seq[(String, Sample)] = {
    QueryCaches.prebuildAll(spark, dir)
    println(s"[profile] job floor ${fmt(jobFloorMs(spark))} ms/job")
    faces.map { name =>
      val face = SparkEntry.queries(name)
      runFace(spark, dir, face)
      System.gc()
      val (_, s) = measure(spark)(runFace(spark, dir, face))
      println(s"[profile] $name wall=${fmt(s.wallS)}s jobs=${s.jobs} compiles=${s.compiles} " +
        s"in-jobs=${fmt(s.inJobS)}s stages=${s.stages.size} tasks=${s.tasks} " +
        s"cpu=${fmt(s.taskCpuS)}s gc=${fmt(s.gcS)}s shuffle-read=${mb(s.shuffleReadBytes)} " +
        s"shuffle-write=${mb(s.shuffleWriteBytes)} spill=${mb(s.spillBytes)}")
      s.stages.sortBy(-_.runS).take(3).foreach { st =>
        println(s"[profile]   stage ${st.id} tasks=${st.tasks} run=${fmt(st.runS)}s " +
          s"cpu=${fmt(st.cpuS)}s ${st.name}")
      }
      s.operators.take(3).foreach { o =>
        println(s"[profile]   op ${o.name} time=${fmt(o.timeS)}s rows=${o.rows}")
      }
      println(s"[profile]   plan ${s.fingerprint}")
      name -> s
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cores = cpus, shufflePartitions = cpus,
      appName = "graft-profile")
    try run(spark, sfDir, if (args.nonEmpty) args.toSeq else defaultFaces)
    finally {
      QueryCaches.clearAll()
      spark.stop()
    }
  }
}
