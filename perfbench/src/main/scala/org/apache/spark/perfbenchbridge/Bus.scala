package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is spark-private; the traced run needs to flush it so
  * that every event of an operation is delivered before the operation's
  * figures are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
