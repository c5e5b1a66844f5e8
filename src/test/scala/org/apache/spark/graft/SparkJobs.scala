package org.apache.spark.graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches: the block runs under a
  * fresh local-property scope (inherited by threads it starts), and
  * only jobs submitted under that scope count. The listener bus is
  * drained before the count is read — its drain call is package-private
  * to Spark, hence this package.
  */
object SparkJobs {
  private val ScopeKey = "graft.test.jobScope"

  def count[A](sc: SparkContext)(body: => A): (A, Int) = {
    val scope = UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(ScopeKey) == scope))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (a, n.get)
    } finally {
      sc.setLocalProperty(ScopeKey, outer)
      sc.removeSparkListener(listener)
    }
  }
}
