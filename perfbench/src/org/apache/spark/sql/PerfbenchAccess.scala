package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The Spark-internal calls the benchmark needs. */
object PerfbenchAccess {
  /** Listener events are delivered asynchronously: wait until the bus has
    * delivered everything posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Close the state-store providers that finished queries leave loaded
    * until Spark's periodic maintenance unloads them. */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
