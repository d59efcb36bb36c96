package graft.flowbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.Registry

/** A closed-loop client of the analytics engine: one client runs the
  * workload's registered queries (`Registry.queries(name)(spark, sfDir)`)
  * back to back, each written to the `noop` sink, in a seeded order.
  */
final class QueryWorkload(ops: Seq[String], setupOp: String,
    sfDir: String, workDir: String, seed: Long, seconds: Double,
    minOps: Int, trace: Boolean) extends Workload {

  private var spark: SparkSession = _
  private var log: ProgressLog = _
  private val observations = new AtomicLong

  /** Run `op` once into `sink`; returns the row count it produced. The
    * count rides an `Observation`, so the op runs exactly once.
    */
  private def run(op: String, sink: DataFrame => Unit): Long = {
    val obs = Observation(s"rows${observations.incrementAndGet()}")
    sink(Registry.queries(op)(spark, sfDir).observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def setUp(s: SparkSession, l: ProgressLog, cycle: Int): Unit = {
    spark = s
    log = l
    run(setupOp, noop)
  }

  def tearDown(): Unit = ()

  def measure(report: Report): Unit = {
    // first pass, untimed: warms every op and keeps each result for the
    // oracle check, which the runner makes after the JVM exits
    val expectRows = mutable.Map.empty[String, Long]
    ops.foreach { op =>
      report.attempted += 1
      try {
        if (Registry.oracleSql.contains(op)) {
          val dir = s"$workDir/verify/$op"
          expectRows(op) = run(op, _.write.mode("overwrite").parquet(dir))
          report.verify(op) = (dir, Registry.oracleSql(op))
        } else expectRows(op) = run(op, noop)
      } catch {
        case e: Exception => report.fail(s"$op (first pass): ${e.getMessage}")
      }
    }

    Main.mark("first pass")
    // second pass, untimed: after the cold first pass, just-in-time
    // compilation still made the next pass 10-30 % slower than the one
    // after it, which left the timed window's speed to chance
    ops.foreach { op =>
      report.attempted += 1
      try {
        val rows = run(op, noop)
        if (!expectRows.get(op).contains(rows))
          report.fail(s"$op returned $rows rows, first pass ${expectRows.get(op)}")
      } catch {
        case e: Exception => report.fail(s"$op (warm pass): ${e.getMessage}")
      }
    }
    Main.mark("warm pass")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val log0 = log.size
    val times = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val perOp = ArrayBuffer.empty[Map[String, Double]]
    val lastPass = mutable.Map.empty[String, Double]
    var leaked = 0L
    val rnd = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var done = 0
    val passes = ArrayBuffer.empty[Double]
    // whole passes only, so every op is sampled equally often; no pass
    // starts that would run past the deadline (a traced run still owes
    // one untraced pass after the window)
    def passFits =
      Main.remainingMs / 1e3 > passes.lastOption.getOrElse(0.0) * (if (trace) 2 else 1)
    while ((elapsed < seconds || done < minOps) && passFits) {
      val pass0 = System.nanoTime()
      rnd.shuffle(ops).foreach { op =>
        val snap = tracer.map(_.snapshot())
        val cached0 = tracer.map(_.cachedRdds).getOrElse(0)
        val w0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        report.attempted += 1
        try {
          val rows = run(op, noop)
          val sec = (System.nanoTime() - s0) / 1e9
          times.getOrElseUpdate(op, ArrayBuffer.empty) += sec
          lastPass(op) = sec
          if (!expectRows.get(op).contains(rows))
            report.fail(s"$op returned $rows rows, first pass ${expectRows.get(op)}")
          tracer.foreach { t =>
            val w1 = System.currentTimeMillis()
            val d = Tracer.diff(snap.get, t.snapshot())
            perOp += Tracer.layerMetrics(d) +
              ("exec.driver_gap_s" -> (sec - t.jobCoverMs(w0, w1) / 1e3))
            leaked = math.max(leaked, t.cachedRdds - cached0)
          }
        } catch {
          case e: Exception => report.fail(s"$op: ${e.getMessage}")
        }
        done += 1
      }
      passes += (System.nanoTime() - pass0) / 1e9
    }
    val windowSec = elapsed
    Main.mark(s"timed window: $done ops")
    val batches = log.since(log0)
    tracer.foreach(_.remove())

    val all = times.values.flatten.toSeq
    val medians = times.map { case (op, ts) => op -> Stats.median(ts.toSeq) }
    report.info("ops_timed") = all.size.toString
    report.info("window_s") = Stats.fixed(windowSec, 3)
    report.info("passes_s") = passes.map(Stats.fixed(_, 3)).mkString(" ")
    report.e2e("throughput_per_s") = (all.size / all.sum, "1/s")
    report.e2e("pass_s") = (medians.values.sum, "s")
    report.e2e("op_p50_s") = (Stats.median(all), "s")
    report.e2e("op_p75_s") = (Stats.percentile(all, 75.0), "s")
    medians.foreach { case (op, m) => report.info(s"ops.${op}_s") = Stats.num(m) }

    tracer.foreach { t =>
      perOp.headOption.toSeq.flatMap(_.keys).sorted.foreach(k =>
        report.layer(k) = (Stats.median(perOp.map(_(k)).toSeq), Tracer.unitOf(k)))
      report.layer("ext.cached_rdds_peak") = (t.cachedRddsPeak.toDouble, "count")
      report.layer("ext.cached_bytes_peak") = (t.cachedBytesPeakValue.toDouble, "bytes")
      report.layer("ext.leaked_cached_rdds") = (leaked.toDouble, "count")
      Layers.streaming(report, batches, all.size)
      medians.foreach { case (op, m) => report.layer(s"ops.${op}_s") = (m, "s") }
      // one more pass with the listeners removed prices the tracing,
      // against the last traced pass, which ran just as warm
      val untraced = ops.map { op =>
        val s0 = System.nanoTime(); run(op, noop); (System.nanoTime() - s0) / 1e9
      }.sum
      report.layer("trace.overhead_frac") = (lastPass.values.sum / untraced - 1.0, "ratio")
    }
  }
}

object QueryWorkload {
  /** The analyst side of the reference's flows schema, plus one streaming
    * drain, q52d (transformWithState dedup over the state store), that
    * keeps the streaming and state layers measured. qf13's checkpoint pins
    * are the workload's cached RDDs.
    */
  val FlowsAnalyst: Seq[String] = Seq("qf1_top_talkers", "qf2_traffic_matrix",
    "qf3_port_scan", "qf4_syn_no_ack", "qf5_direction_rollup", "qf6_salted_join",
    "qf8_lpm_route", "qf9_k_anonymity", "qf10_dst_fanin", "qf11_window_funnel",
    "qf12_retention", "qf13_pagerank", "q54b_cidr_filter", "q22_count_distinct",
    "q27b_approx_percentile", "q52d_stream_dedup_ingest")
}
