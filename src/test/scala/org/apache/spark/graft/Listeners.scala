package org.apache.spark.graft

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** The listeners of one class on a context's bus. In this package only to reach
  * `listenerBus`. */
object Listeners {
  def of[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]().toSeq
}
