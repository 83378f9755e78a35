package org.apache.spark

/** Access to Spark's listener bus, which is package-private to Spark,
  * hence this package. */
object GraftListenerBus {
  /** Block until every listener has received every event posted so far
    * (for example the stage completions of a job that just returned). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
