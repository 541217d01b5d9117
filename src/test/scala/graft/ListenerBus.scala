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
    sc.setJobGroup(group, "counted")
    try counted(sc, e => e.properties != null &&
      e.properties.getProperty("spark.jobGroup.id") == group)(f)
    finally sc.clearJobGroup()
  }

  /** Spark jobs started on ANY thread while `f` runs, such as those of a
    * server `f` sends requests to. Exact only while nothing else runs
    * jobs on `sc`. */
  def allJobsOf(sc: SparkContext)(f: => Unit): Int = {
    drain(sc)
    counted(sc, _ => true)(f)
  }

  private def counted(sc: SparkContext, mine: SparkListenerJobStart => Boolean)(
      f: => Unit): Int = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e)) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      drain(sc)
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
