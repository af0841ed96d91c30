package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark makes: block until every
  * event posted so far has reached every listener. SparkListener,
  * QueryExecutionListener and StreamingQueryListener callbacks all run
  * on the asynchronous listener bus, so counters are read only after a
  * drain, and always outside a timed region.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
