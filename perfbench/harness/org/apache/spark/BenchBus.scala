package org.apache.spark

/** Waits until every listener has seen every event posted so far. The
  * listener bus delivers asynchronously, and the harness attributes
  * listener counts to a pass or a span only after the bus is drained;
  * `waitUntilEmpty` is visible from this package only.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
