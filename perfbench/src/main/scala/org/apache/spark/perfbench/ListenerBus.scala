package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers job, task and progress events asynchronously;
  * a traced pass waits for it to drain before reading what it recorded.
  * The bus is Spark-private, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
