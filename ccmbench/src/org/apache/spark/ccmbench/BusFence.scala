package org.apache.spark.ccmbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark needs: block until every
  * listener event posted so far has been delivered, so counters read after
  * a call include all of that call's jobs, stages and tasks.
  */
object BusFence {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
