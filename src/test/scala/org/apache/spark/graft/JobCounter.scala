package org.apache.spark.graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts from its thread (and the threads that inherit
  * its local properties). In this package only to reach `listenerBus.waitUntilEmpty`,
  * so every job start posted during the block has been counted when it returns. */
object JobCounter {
  private val Key = "graft.test.jobCounter"

  def count(sc: SparkContext)(body: => Any): Int = {
    val tag = UUID.randomUUID().toString
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try body
    finally {
      sc.setLocalProperty(Key, null)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
