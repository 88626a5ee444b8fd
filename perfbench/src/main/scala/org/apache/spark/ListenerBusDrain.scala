package org.apache.spark

/** Listener events are delivered asynchronously; reading counters right
  * after an action would miss the action's last task and stage events.
  * `waitUntilEmpty` is package-private, hence this shim.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
