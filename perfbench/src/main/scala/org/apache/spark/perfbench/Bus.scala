package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Two Spark-private handles, which is why this file lives under
  * `org.apache.spark`.
  *
  * Spark delivers listener events asynchronously; a count read right
  * after an action may not include that action's events yet. This waits
  * until every queued event has reached every listener, so that counts
  * taken at a phase boundary are exact.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Generated-code compilations (Janino) since the JVM started; a
    * compilation is a miss of Spark's generated-class cache.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
