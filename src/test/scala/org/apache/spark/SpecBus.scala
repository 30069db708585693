package org.apache.spark

/** Test access to the listener bus: a spec that counts Spark jobs drains
  * the bus before and after the code it measures, so no event of an
  * earlier or a still-queued job is miscounted. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  /** Whether a stage writes a shuffle. */
  def shuffleMap(s: org.apache.spark.scheduler.StageInfo): Boolean =
    s.shuffleDepId.isDefined
}
