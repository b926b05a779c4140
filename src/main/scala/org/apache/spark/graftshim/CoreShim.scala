package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Minimal bridge to Spark-core internals that are `private[spark]` —
  * the core-side sibling of `org.apache.spark.sql.graftshim.Shim` (one
  * object, no behavior).
  */
object CoreShim {

  /** Block until every queued listener-bus event has been delivered.
    * Listener events are posted asynchronously; a job-count listener
    * read immediately after an action returns can miss starts still in
    * the bus queue (and then leak them into the NEXT measurement's
    * delta). `graft.Profile.measure` drains the bus outside its timed
    * region so per-face scheduled-job counts are exact.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
