package org.apache.spark

/** The one package-private hook the harness needs: wait until every
  * queued listener event has been delivered, so the listener figures can
  * be switched on and off at the point where events happen. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
