package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain call is package-private to Spark; the
  * traced run needs it so every task event of a round is counted
  * before the round's totals are read.
  */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
