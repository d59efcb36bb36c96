package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** What a body of driver code cost Spark: its jobs, their stages' task
  * metrics, the driver gap between jobs and, for streams, each
  * micro-batch's progress. One `SparkListener` records it all; stream
  * progress reaches it through `onOtherEvent`, since a
  * `StreamingQueryListener.Event` is a `SparkListenerEvent` posted on the
  * same bus. Totals are named after flowbench's `exec.*` per-layer
  * metrics.
  *
  * Build one with [[QueryLedger.during]]; it is complete when `during`
  * returns. The body must run alone on the driver: a concurrent job's
  * events land in the ledger too.
  */
final class QueryLedger private () extends SparkListener {
  import QueryLedger._

  private val open = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val jobsB = mutable.ArrayBuffer.empty[Job]
  private val stagesM = mutable.LinkedHashMap.empty[Int, Stage]
  private val batchesB = mutable.ArrayBuffer.empty[Batch]
  private var startMs = 0L
  private var endMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job description names a phase better than its call site (AQE
    // stage jobs all share one submitting frame)
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val site = e.stageInfos.headOption.map(_.details.linesIterator
      .find(_.contains("graft")).getOrElse("").trim).getOrElse("")
    val label =
      if (desc.nonEmpty) desc
      else if (site.nonEmpty) site
      else e.stageInfos.lastOption.map(_.name).getOrElse("")
    open(e.jobId) = (e.time, label.replace('\n', ' '), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, label, sids) =>
      jobsB += Job(e.jobId, t0, e.time, label, sids)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stagesM(si.stageId) = stage(si.stageId).copy(numTasks = si.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    stagesM(e.stageId) =
      if (m == null) s.copy(tasks = s.tasks + 1)
      else s.copy(tasks = s.tasks + 1,
        runMs = s.runMs + m.executorRunTime,
        cpuNs = s.cpuNs + m.executorCpuTime,
        inputBytes = s.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        memorySpillBytes = s.memorySpillBytes + m.memoryBytesSpilled,
        diskSpillBytes = s.diskSpillBytes + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized { batchesB += Batch.of(p) }
    case _ =>
  }

  private def stage(id: Int): Stage = stagesM.getOrElse(id, Stage(id))

  /** Jobs that ended, in end order. */
  def jobs: Seq[Job] = synchronized(jobsB.toVector)
  /** Stages that ran a task or completed, in first-seen order. */
  def stages: Seq[Stage] = synchronized(stagesM.values.toVector)
  /** One entry per stream progress event, in posting order. */
  def batches: Seq[Batch] = synchronized(batchesB.toVector)

  /** The stages `j` ran. A stage listed by several jobs runs in the first
    * of them; the later ones skip it.
    */
  def stagesOf(j: Job): Seq[Stage] = {
    val js = jobs
    stages.filter(s => js.find(_.stageIds.contains(s.stageId)).exists(_.jobId == j.jobId))
  }

  def wallS: Double = synchronized((endMs - startMs) / 1e3)
  def tasks: Int = stages.map(_.tasks).sum
  def taskS: Double = stages.map(_.runMs).sum / 1e3
  def taskCpuS: Double = stages.map(_.cpuNs).sum / 1e9
  def inputBytes: Long = stages.map(_.inputBytes).sum
  def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def memorySpillBytes: Long = stages.map(_.memorySpillBytes).sum
  def diskSpillBytes: Long = stages.map(_.diskSpillBytes).sum
  def spillBytes: Long = memorySpillBytes + diskSpillBytes

  /** Wall time no job covered: driver-side planning, collect decoding,
    * checkpoint bookkeeping and trigger waits.
    */
  def driverGapS: Double = {
    val (t0, t1) = synchronized((startMs, endMs))
    var uncovered = t1 - t0
    var at = t0 // end of the covered prefix
    jobs.map(j => (math.max(j.startMs, t0), math.min(j.endMs, t1)))
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > at) { uncovered -= e - math.max(s, at); at = e }
      }
    uncovered / 1e3
  }
}

object QueryLedger {

  /** One Spark job: its span in epoch ms, its description (else the graft
    * frame that submitted it) and the stages it listed.
    */
  final case class Job(jobId: Int, startMs: Long, endMs: Long, label: String,
      stageIds: Seq[Int]) {
    def spanMs: Long = endMs - startMs
  }

  /** One stage: `numTasks` as it completed, `tasks` ended, and their
    * metrics summed (run time in ms, CPU time in ns).
    */
  final case class Stage(stageId: Int, numTasks: Int = 0, tasks: Int = 0,
      runMs: Long = 0L, cpuNs: Long = 0L, inputBytes: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      memorySpillBytes: Long = 0L, diskSpillBytes: Long = 0L)

  /** One stream progress event: input rows, every `durationMs` phase, the
    * state operators' commit / update / removal times and rows (summed
    * over operators), the progress timestamp and each source's offsets.
    */
  final case class Batch(batchId: Long, rows: Long, durationMs: Map[String, Long],
      stateCommitMs: Long, stateUpdateMs: Long, stateRemovalMs: Long,
      stateRowsTotal: Long, timestampMs: Long, sources: String) {
    def phaseMs(phase: String): Long = durationMs.getOrElse(phase, 0L)
  }

  object Batch {
    private[QueryLedger] def of(e: QueryProgressEvent): Batch = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
        ops.map(_.allRemovalsTimeMs).sum, ops.map(_.numRowsTotal).sum,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.sources.map(s => s"desc=${s.description.take(40)} start=${s.startOffset} " +
          s"end=${s.endOffset} latest=${s.latestOffset}").mkString(" | "))
    }
  }

  /** Runs `body` with a fresh ledger on the session's listener bus. Events
    * queued before the call are drained first, so earlier work stays out;
    * the bus is drained again before return, so every event of the body's
    * jobs and batches is in. The ledger leaves the bus on every exit path.
    */
  def during[T](spark: SparkSession)(body: => T): (T, QueryLedger) = {
    val sc = spark.sparkContext
    Shim.drainListenerBus(spark)
    val ledger = new QueryLedger
    sc.addSparkListener(ledger)
    try {
      ledger.synchronized(ledger.startMs = System.currentTimeMillis())
      val r = body
      ledger.synchronized(ledger.endMs = System.currentTimeMillis())
      Shim.drainListenerBus(spark)
      (r, ledger)
    } finally sc.removeSparkListener(ledger)
  }
}
