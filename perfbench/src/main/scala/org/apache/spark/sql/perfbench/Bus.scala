package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Lives in the `org.apache.spark.sql` package for members that are
  * package-private there. */
object Bus {

  /** The traced run drains the listener bus at every op boundary so each
    * event is counted against the op that caused it. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unloads the state stores that Spark's maintenance task would unload at
    * its next run, those of streaming queries that have ended. */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
