package org.apache.spark.sql.graftshim

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.SparkSession

/** Listeners of a class on the session's listener bus, which is
  * `private[spark]`.
  */
object Listeners {
  def count[L <: SparkListenerInterface: ClassTag](spark: SparkSession): Int =
    spark.sparkContext.listenerBus.findListenersByClass[L]().size
}
