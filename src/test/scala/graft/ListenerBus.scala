package org.apache.spark.sql.graftio

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: specs that count jobs from a SparkListener wait here
  * until every posted event has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs `f` starts, counted in its own job group after the
    * listener bus has delivered every event. */
  def jobsOf(sc: SparkContext)(f: => Unit): Int = {
    val group = s"counted-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      drain(sc)
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
