package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; tests that count jobs read their
  * counts only after every event posted so far has been delivered.
  */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
