package org.apache.spark.sql.graftio

import org.apache.spark.SparkContext

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: specs that count jobs from a SparkListener wait here
  * until every posted event has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
