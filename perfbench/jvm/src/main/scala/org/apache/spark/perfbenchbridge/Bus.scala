package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The benchmark drains the bus before it reads what its listeners saw,
  * so an operation's last events are never attributed to the next one.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
