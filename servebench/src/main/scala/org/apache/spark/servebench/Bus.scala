package org.apache.spark.servebench

import org.apache.spark.SparkContext

/** SparkContext.listenerBus is `private[spark]`; the traced run drains it
  * so every job, stage and task event of a request has been delivered
  * before the request's spans are closed.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
