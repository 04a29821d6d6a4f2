package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus. Listener events of an item are
  * enqueued before its action returns but delivered later; the harness
  * waits here at every item boundary so each event lands on the item that
  * caused it. (`listenerBus` is Spark-private, hence this package.) */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
