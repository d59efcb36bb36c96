package graft.flowbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Per-layer counters of a traced run, read from outside the engine:
  * a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (the `QueryExecution.tracker` phase times)
  * and the block-update events of cached RDDs.
  * Counters only grow; callers diff two [[snapshot]]s around an op or a
  * phase. Installed only with `--trace 1`, so the timed runs pay nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters = Tracer.Keys.map(k => k -> new AtomicLong).toMap
  private def add(k: String, v: Long): Unit = counters(k).addAndGet(v)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Closed job intervals (start ms, end ms), for the driver gap. */
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1); jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_ns", m.executorRunTime * 1000000L)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ns", m.jvmGCTime * 1000000L)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    ph.get(QueryPlanningTracker.ANALYSIS).foreach(p => add("analysis_ns", p.durationMs * 1000000L))
    ph.get(QueryPlanningTracker.OPTIMIZATION).foreach(p => add("optimization_ns", p.durationMs * 1000000L))
    ph.get(QueryPlanningTracker.PLANNING).foreach(p => add("planning_ns", p.durationMs * 1000000L))
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  /** Cached RDD blocks (rdd id, partition) -> bytes, from block updates:
    * exact peaks, however briefly a pin is held.
    */
  private val blocks = mutable.Map.empty[(Int, Int), Long]
  private var cachedPeak = 0L
  private var cachedBytesPeak = 0L
  private def blocksChanged(): Unit = {
    cachedPeak = math.max(cachedPeak, blocks.keysIterator.map(_._1).toSet.size.toLong)
    cachedBytesPeak = math.max(cachedBytesPeak, blocks.valuesIterator.sum)
  }
  private val storageListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, split) => blocks.synchronized {
          val bytes = info.memSize + info.diskSize
          if (info.storageLevel.isValid && bytes > 0) blocks((rdd, split)) = bytes
          else blocks.remove((rdd, split))
          blocksChanged()
        }
        case _ =>
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = blocks.synchronized {
      blocks.keys.filter(_._1 == e.rddId).toSeq.foreach(blocks.remove)
    }
  }

  /** RDDs persisted right now (pins not yet released). */
  def cachedRdds: Int = sc.getPersistentRDDs.size

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    sc.addSparkListener(storageListener)
    spark.listenerManager.register(qeListener)
  }

  def remove(): Unit = {
    sc.removeSparkListener(sparkListener)
    sc.removeSparkListener(storageListener)
    spark.listenerManager.unregister(qeListener)
  }

  def cachedRddsPeak: Long = blocks.synchronized(cachedPeak)
  def cachedBytesPeakValue: Long = blocks.synchronized(cachedBytesPeak)

  /** Listener events arrive asynchronously: a snapshot that must include
    * the work just finished waits (at most 2 s) until no job is open and
    * the counters held still for three polls.
    */
  def snapshot(): Map[String, Long] = {
    def read() = counters.map { case (k, v) => k -> v.get() }
    val deadline = System.currentTimeMillis() + 2000
    var last = read()
    var still = 0
    while (still < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      val cur = read()
      if (cur == last && jobStart.isEmpty) still += 1 else still = 0
      last = cur
    }
    last
  }

  /** Milliseconds of [t0, t1] covered by at least one Spark job. */
  def jobCoverMs(t0: Long, t1: Long): Long = {
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Tracer {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_ns", "task_cpu_ns",
    "gc_ns", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "output_bytes", "analysis_ns", "optimization_ns", "planning_ns")

  /** Unit of an `exec.*` / `plan.*` metric, from its name. */
  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_bytes")) "bytes" else "count"

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** The `exec.*` and `plan.*` metrics of one unit of work (an op or a
    * micro-batch), from a snapshot difference.
    */
  def layerMetrics(d: Map[String, Long]): Map[String, Double] = Map(
    "exec.jobs" -> d("jobs").toDouble,
    "exec.stages" -> d("stages").toDouble,
    "exec.tasks" -> d("tasks").toDouble,
    "exec.task_s" -> d("task_ns") / 1e9,
    "exec.task_cpu_s" -> d("task_cpu_ns") / 1e9,
    "exec.gc_s" -> d("gc_ns") / 1e9,
    "exec.input_bytes" -> d("input_bytes").toDouble,
    "exec.shuffle_read_bytes" -> d("shuffle_read_bytes").toDouble,
    "exec.shuffle_write_bytes" -> d("shuffle_write_bytes").toDouble,
    "exec.spill_bytes" -> d("spill_bytes").toDouble,
    "exec.output_bytes" -> d("output_bytes").toDouble,
    "plan.analysis_ms" -> d("analysis_ns") / 1e6,
    "plan.optimization_ms" -> d("optimization_ns") / 1e6,
    "plan.planning_ms" -> d("planning_ns") / 1e6)
}
