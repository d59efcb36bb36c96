package graft.ops

import graft.SparkSpec

/** qf13's single-scan + fixed-point obligations (r16, VERDICT r15 #2).
  *
  * 1. The flows scan EXECUTES exactly once no matter the iteration depth
  *    — counted through a QueryExecutionListener over the file scans in
  *    every executed plan (r16 review: a plan-string check on the
  *    returned frame is vacuous, because the final eager checkpoint's
  *    plan is a bare RDD scan whether or not the graph build was pinned;
  *    the r15 regression — every round re-running the scan + edge build —
  *    is only visible in EXECUTION counts).
  * 2. The detected-fixed-point mode converges to an exact integer fixed
  *    point on the sf0.001 graph, its prefix agrees with the unrolled
  *    mode, and one extra unrolled round past convergence is a no-op
  *    (the fixed-point certificate, re-checked independently).
  */
class PageRankSpec extends SparkSpec {

  /** Filesystem bytes actually READ while `body` runs — the Hadoop
    * LocalFileSystem's global statistics, which only parquet/file scans
    * touch (checkpoint blocks live in the block manager, shuffle uses raw
    * local IO), so this measures scan EXECUTIONS where a plan-string
    * check cannot (the checkpoint actions also bypass
    * QueryExecutionListener, measured — a listener-based count reads 0).
    *
    * The statistic is JVM-GLOBAL (ADVICE r16), so the measurement is
    * sound only while nothing else in the JVM reads files. Two guards:
    * the build runs forked test suites SEQUENTIALLY (`Test / fork` with
    * `testForkedParallel := false` pinned in build.sbt — one suite at a
    * time in the test JVM), and the assertion below refuses to measure
    * while any streaming query is active (the one same-JVM background
    * reader a prior suite could leak).
    */
  private def fsBytesRead(body: => Unit): Long = {
    assert(spark.streams.active.isEmpty,
      "active streaming queries would pollute the JVM-global FS statistic")
    def now: Long = Option(org.apache.hadoop.fs.FileSystem
      .getGlobalStorageStatistics.get("file"))
      .map(_.getLong("bytesRead").longValue()).getOrElse(0L)
    val before = now
    body
    now - before
  }

  /** Run a throwaway pageRank inside a pin scope, which frees its
    * result — every invocation in this suite releases what it
    * materializes.
    */
  private def runAndRelease(iters: Int): Unit =
    graft.ext.Caching.pinned { pins =>
      FlowQueries.pageRank(pins, FlowQueries.flows(spark, sf), iters); ()
    }

  test("the flows scan executes exactly once regardless of iteration depth") {
    // warm once so listing/footer caches don't skew the depth-1 baseline
    runAndRelease(1)
    val shallow = fsBytesRead { runAndRelease(1) }
    // > 0 guards the instrument itself: the parquet scan must be visible
    // here, or the assertion below would pass vacuously
    assert(shallow > 0, "instrument saw no file bytes for the flows scan")
    val deep = fsBytesRead { runAndRelease(4) }
    // re-scanning per round (the r15 regression) reads ~4x the bytes at
    // depth 4; single-scan reads the same bytes at any depth (1.5x slack
    // for footer/listing noise)
    assert(deep < (shallow * 3) / 2,
      s"iteration depth multiplied file reads: depth-1 $shallow B vs " +
        s"depth-4 $deep B (the r15 regression)")
  }

  test("fixed-point mode converges and agrees with the unrolled mode") {
    graft.ext.Caching.pinned { pins =>
      val f = FlowQueries.flows(spark, sf)
      val (rFix, it, d0) = FlowQueries.pageRankFixedPoint(pins, f, maxIters = 50)
      assert(it > 0 && it < 50, s"did not converge inside the cap (it=$it)")
      assert(d0 == 0L, s"sf0.001 must reach the EXACT fixed point (delta=$d0)")
      // independent certificate: one more unrolled round past the detected
      // fixed point changes no rank by a single nano-unit
      val again = FlowQueries.pageRank(pins, f, iters = it + 1)
      val diff = rFix.withColumnRenamed("r", "rf")
        .join(again, Seq("addr"))
        .filter(org.apache.spark.sql.functions.col("rf") =!=
          org.apache.spark.sql.functions.col("r"))
        .count()
      assert(diff == 0L, s"$diff addrs moved after the detected fixed point")
      // and the unrolled-3 registration is the same map iterated 3 times
      val r3 = FlowQueries.pageRank(pins, f, iters = 3)
      val rFix3 = {
        // re-run capped at 3 to compare the prefix
        val (r, _, _) = FlowQueries.pageRankFixedPoint(pins, f, maxIters = 3)
        r
      }
      val prefDiff = r3.withColumnRenamed("r", "ra").join(rFix3, Seq("addr"))
        .filter(org.apache.spark.sql.functions.col("ra") =!=
          org.apache.spark.sql.functions.col("r"))
        .count()
      assert(prefDiff == 0L, "fixed-point prefix diverges from unrolled mode")
    }
  }
}
