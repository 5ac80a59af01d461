package org.apache.spark

/** The one `private[spark]` call the tracer needs: block until every event
  * posted so far has reached the listeners, so span figures are complete
  * before they are read.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
