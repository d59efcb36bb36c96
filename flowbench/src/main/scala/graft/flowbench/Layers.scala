package graft.flowbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What Main asks of a workload: repeatable set-up, and one measurement. */
trait Workload {
  /** Make the session ready for the first timed operation; `log` holds
    * the session's streaming progress.
    */
  def setUp(spark: SparkSession, log: ProgressLog, cycle: Int): Unit
  /** Release what [[setUp]] started, before the session stops. */
  def tearDown(): Unit
  def measure(report: Report): Unit
}

/** Per-layer metrics read from micro-batch progress events. */
object Layers {
  val Phases: Seq[String] = Seq("latestOffset", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution")
  private val names = Map("latestOffset" -> "latest_offset",
    "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets",
    "triggerExecution" -> "trigger")

  /** `streaming.*` per-batch p50s and `state.*` from the batches that read
    * input; state commit and update times are summed and divided by
    * `units` (the ops, or the batches, the caller measured).
    */
  def streaming(report: Report, batches: Seq[StreamingQueryProgress], units: Int): Unit = {
    val live = batches.filter(_.numInputRows > 0)
    Phases.foreach { ph =>
      report.layer(s"streaming.${names(ph)}_ms") =
        (Stats.median(live.map(ProgressLog.phaseMs(_, ph))), "ms")
    }
    // trigger time no named phase covers: the phases account for the
    // trigger when this stays small
    report.layer("streaming.other_ms") = (Stats.median(live.map { p =>
      val d = p.durationMs
      d.getOrDefault("triggerExecution", 0L).toDouble -
        d.keySet.toArray.map(_.toString).filter(_ != "triggerExecution")
          .map(k => d.get(k).toDouble).sum
    }), "ms")
    report.layer("streaming.batch_rows_p50") =
      (Stats.median(live.map(_.numInputRows.toDouble)), "count")
    report.layer("streaming.batches") = (live.size.toDouble, "count")
    val ops = batches.flatMap(_.stateOperators.toSeq)
    def perUnit(x: Double) = if (units > 0) x / units else 0.0
    report.layer("state.rows_total") =
      (batches.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0), "count")
    report.layer("state.memory_bytes") =
      (batches.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0), "bytes")
    report.layer("state.commit_ms") = (perUnit(ops.map(_.commitTimeMs.toDouble).sum), "ms")
    report.layer("state.update_ms") = (perUnit(ops.map(_.allUpdatesTimeMs.toDouble).sum), "ms")
  }
}
