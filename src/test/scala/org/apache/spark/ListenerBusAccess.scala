package org.apache.spark

/** Test-side access to the one package-private call a listener-counting
  * test needs: wait until the listener bus has delivered every queued
  * event, so a count read right after an action is complete. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
