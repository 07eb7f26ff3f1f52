package org.apache.spark.sql.graftglue

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private. Listeners
  * receive events asynchronously, so counters folded by a listener
  * ([[graft.monitor.PipelineMetrics]]) are complete only once every event
  * posted before the read has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
