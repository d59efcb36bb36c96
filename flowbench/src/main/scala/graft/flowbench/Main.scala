package graft.flowbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{Bench, Tmp}

/** One benchmark run inside the JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out FILE`.
  * Sets the workload up [[SetupReps]] times (each in a fresh session),
  * measures it once, records box calibration and driver heap, and writes
  * a [[Report]] to FILE. `flowbench/run.py` builds, generates the data,
  * runs this, checks the oracle, and prints the result line.
  */
object Main {
  val SetupReps = 3
  /** Timed ops a flows_analyst run needs: two whole passes, so each op's
    * time is a median of at least two.
    */
  val MinFlowOps = 32

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Measuring ends this long after JVM start, so the checks, the
    * calibration and the runner still finish inside the run's time limit
    * on a slow box; a run that reaches it measures fewer samples.
    */
  val MeasureDeadlineS = 120.0

  /** Milliseconds left before [[MeasureDeadlineS]]. */
  def remainingMs: Long =
    jvmStart + (MeasureDeadlineS * 1000).toLong - System.currentTimeMillis()

  /** Progress line on stderr: seconds since JVM start, and what finished. */
  def mark(what: String): Unit =
    System.err.println(s"[flowbench] ${Stats.fixed((System.currentTimeMillis() - jvmStart) / 1e3, 1)} s: $what")

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.install)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${Tmp.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${Tmp.root}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = s"${Tmp.root}/run"
    val workload: Workload = name match {
      case "collector" => new CollectorWorkload(work, seed, seconds, trace)
      case "flows_analyst" => new QueryWorkload(QueryWorkload.FlowsAnalyst,
        "qf1_top_talkers", opt("data"), work, seed, seconds, MinFlowOps, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val report = new Report(name)

    // set-up: the first repetition counts from JVM start; the median of
    // the repetitions is setup_s, so work moved into set-up shows
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupReps).foreach { cycle =>
      val t0 = if (cycle == 1) jvmStart else System.currentTimeMillis()
      spark = session()
      val log = new ProgressLog
      spark.streams.addListener(log)
      workload.setUp(spark, log, cycle)
      setups += (System.currentTimeMillis() - t0) / 1e3
      mark(s"set-up $cycle")
      if (cycle < SetupReps) {
        workload.tearDown()
        spark.stop()
      }
    }
    report.e2e("setup_s") = (Stats.median(setups.toSeq), "s")
    report.info("setup_runs_s") = setups.map(Stats.num).mkString(" ")

    workload.measure(report)
    mark("measured")

    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    report.e2e("live_heap_mb") = ((rt.totalMemory - rt.freeMemory) / 1048576.0, "MiB")

    // box calibration beside every run, so drift across boxes is visible
    val spin = Bench.measureSpinSec()
    val fsync = Bench.measureFsyncSec()
    report.info("calib_spin_s") = Stats.num(spin)
    report.info("calib_fsync_s") = Stats.num(fsync)
    if (trace) {
      report.layer("calib.spin_s") = (spin, "s")
      report.layer("calib.fsync_s") = (fsync, "s")
    }
    mark("calibrated")
    spark.stop()
    val out = Paths.get(opt("out"))
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.write(out, report.json.getBytes(StandardCharsets.UTF_8))
  }
}
