package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * the benchmark reads listener-collected counts only after every posted
  * event has been delivered.
  */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
