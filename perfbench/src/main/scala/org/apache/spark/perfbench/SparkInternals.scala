package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The package-private Spark hooks the benchmark's counters need; nothing
  * else in the harness reaches inside Spark.
  */
object SparkInternals {

  /** Blocks until every listener event posted so far has been delivered,
    * so counters read afterwards are complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Draws a fresh RDD id. Ids are handed out in order, so two draws
    * bracket the RDDs created between them.
    */
  def rddIdMark(sc: SparkContext): Int = sc.newRddId()

  /** The name of a live accumulator, such as an SQL write metric's. */
  def accumulatorName(id: Long): Option[String] =
    org.apache.spark.util.AccumulatorContext.get(id).flatMap(_.name)
}
