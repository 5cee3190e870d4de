package org.apache.spark

/** The listener bus is package-private; this drains it so every event of a
  * finished operation has reached the benchmark's listeners before they are
  * read (no sleeps). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
