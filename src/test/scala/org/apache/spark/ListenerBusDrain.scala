package org.apache.spark

/** Test hatch into the package-private listener bus: block until every
  * event posted so far (stage completions, SQL execution ends) has been
  * delivered, so a listener's view is complete when a spec reads it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
