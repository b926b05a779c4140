package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The query layer's one stage registry: every shared upstream stage a
  * query module builds once per (session, dir) — the in-session
  * analogue of the reference's CACHE TABLE (spark_utils.py:57-65).
  *
  * A stage is declared once, with its name, as a [[Stage]] value; its
  * builder simply calls the upstream stages it reads. Builds run inside
  * the registry's reentrant monitor, so a nested stage call resolves
  * (or builds) its upstream first. Harness mains call [[clearAll]] in
  * teardown: entries keyed by a stopped session would otherwise pin
  * their plans for the JVM lifetime, and a parquet dir re-dumped under
  * the same path in a live session would be served stale.
  */
object QueryCaches {

  private val stages =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, String, String), Any]

  /** A named stage: `apply` returns the (session, dir) instance,
    * building it on first use; `warm` also materializes a frame stage.
    */
  final class Stage[A] private[QueryCaches] (val name: String,
      build: (SparkSession, String) => A, force: A => Unit) {
    def apply(s: SparkSession, dir: String): A = QueryCaches.synchronized {
      val key = (s, dir, name)
      stages.get(key) match {
        case Some(v) => v.asInstanceOf[A]
        case None =>
          val v = build(s, dir)
          stages(key) = v
          v
      }
    }
    def warm(s: SparkSession, dir: String): Unit = force(apply(s, dir))
  }

  /** A persisted DataFrame stage; warming runs its full plan through
    * the noop sink, which populates the cache.
    */
  def frame(name: String)(build: (SparkSession, String) => DataFrame): Stage[DataFrame] =
    new Stage[DataFrame](name,
      (s, dir) => build(s, dir).persist(StorageLevel.MEMORY_AND_DISK),
      _.write.format("noop").mode("overwrite").save())

  /** A driver-side value stage (trained weights, a checkpointed frame):
    * building it is all the warming there is.
    */
  def value[A](name: String)(build: (SparkSession, String) => A): Stage[A] =
    new Stage[A](name, build, _ => ())

  /** Every warm-up stage, upstream first, so each stage's warm-up pays
    * only its own work. `graph.scc_labels` is left out on purpose: the
    * SCC faces price that labelling on the clock. Bench warms the whole
    * list before timing, so the first face over each chain measures its
    * own operator, not the shared-chain build.
    */
  private def warmList: Seq[Stage[_]] = {
    import DomainQueries._, GraphQueries._, DedupQueries._, TextQueries._
    Seq(trsIds, textreuses, pieces, defragMappings, spMids, spEditionIds,
      spEditionAuthors, spTem, spTwm, spEpd, spMpd2, spBookEarliest, spBookDenorm,
      CoverageQueries.synthTextreuses,
      coSupply40, coSupply49, coPurchase, sccLabelsBatch1,
      trainedBpe, trainedTextHead, noveltyHistory, winnowHistory,
      dedupPairs, historyBands, verified30, verified90,
      SimilarityQueries.trainedHead, SimilarityQueries.ncmProtos,
      BasketQueries.frequentItems)
  }

  def prebuildAll(s: SparkSession, dir: String): Unit =
    warmList.foreach(_.warm(s, dir))

  /** Warm one named warm-list stage (and, through its builder, its
    * upstreams) — for a harness that needs only part of the list.
    */
  def prebuild(s: SparkSession, dir: String, name: String): Unit =
    warmList.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"not a warm-up stage: $name"))
      .warm(s, dir)

  /** The registry's current entries, keyed by (session, dir, stage). */
  private[graft] def held: Map[(SparkSession, String, String), Any] =
    synchronized(stages.toMap)

  /** Unpersist a held frame unless its owning SparkContext is already
    * stopped: the cached blocks died with that session's BlockManager
    * and `unpersist()` NPEs on the null driver endpoint, so there is
    * nothing left to free.
    */
  private def safeUnpersist(df: Dataset[_]): Unit =
    try { if (!df.sparkSession.sparkContext.isStopped) df.unpersist() }
    catch { case scala.util.control.NonFatal(_) => () }

  def clearAll(): Unit = synchronized {
    stages.values.foreach { case df: Dataset[_] => safeUnpersist(df); case _ => }
    stages.clear()
  }
}
