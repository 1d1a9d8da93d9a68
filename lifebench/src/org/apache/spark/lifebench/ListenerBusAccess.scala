package org.apache.spark.lifebench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced cycle must
  * see every event of its own jobs before its spans are summarized.
  * `waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
