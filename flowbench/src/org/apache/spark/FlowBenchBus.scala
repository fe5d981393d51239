package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
 *  listener read after the last job sees that job's end. Lives in this
 *  package because the bus is package-private. */
object FlowBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
