package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. Lives in the
  * spark package tree for `listenerBus.waitUntilEmpty`: listener events
  * arrive asynchronously, and a count read before the bus drains misses
  * the last jobs. */
object JobCount {
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
