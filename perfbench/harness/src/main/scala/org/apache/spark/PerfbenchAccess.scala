package org.apache.spark

/** The two Spark internals the traced run needs, behind one seam. */
object PerfbenchAccess {
  /** Blocks until every queued listener event is delivered, so a traced
    * query's job, SQL and stream events are all in before it is closed. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The display name of a live accumulator, e.g. a SQL metric. */
  def accumulatorName(id: Long): Option[String] =
    org.apache.spark.util.AccumulatorContext.get(id).flatMap(_.name)
}
