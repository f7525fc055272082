package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The one engine hook the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so a traced op's task metrics are complete before its
  * listener is detached.
  */
object CdcbenchEngine {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
