package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` wait on the listener bus: listener
  * events (a `QueryExecutionListener`'s included) are delivered
  * asynchronously, so a caller that reads what its listener captured
  * first waits for the bus to drain.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
