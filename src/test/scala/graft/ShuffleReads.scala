package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

/** Shuffle-read records per task, for every task that ends while a body
  * runs. The listener bus is drained before the body, so earlier tasks
  * stay out, and again before return, so the last tasks' counts are in.
  */
object ShuffleReads {

  def during[T](spark: SparkSession)(body: => T): (T, Seq[Long]) = {
    val reads = new ConcurrentLinkedQueue[java.lang.Long]()
    Shim.drainListenerBus(spark)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          reads.add(t.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      Shim.drainListenerBus(spark)
      (r, reads.asScala.map(_.longValue).toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
