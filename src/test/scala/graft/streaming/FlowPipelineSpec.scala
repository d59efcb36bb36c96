package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{FlowRecord, FlowSchema, SparkSpec}

/** R1–R6 pipeline parity tests (SURVEY §5.2): raw-bytes → normalize → sink
  * end-to-end, batch ≡ streaming drain, watermark late-data semantics, and
  * the batch-policy invariant (every row lands in exactly one batch).
  */
class FlowPipelineSpec extends SparkSpec {

  private val tmp = s"${graft.Tmp.root}/pipeline-spec"

  private def mkRaw(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (1, 1700000000L + i, i.toLong, 1000L, i % 2,
        Array[Byte](10, 0, 0, (i % 200).toByte),
        1700000000L + i, 1700000010L + i, 1000L + i, 10L + i % 5,
        Array[Byte](10, 1, (i % 100).toByte, 1),
        Array[Byte](-64, -88, 0, (i % 50).toByte), // 192.168.0.x
        2048, 6, 40000 + i % 1000, 443, 64, 18, 0, 0, i.toLong, 0)
    }.toDF(FlowSchema.rawSchema.fieldNames: _*)
  }

  test("normalize projects raw bytes to the 23-column flows schema") {
    val out = FlowPipeline.normalize(mkRaw(10))
    assert(out.schema == FlowSchema.schema)
    val r = out.orderBy("sequence_num").head()
    assert(r.getAs[String]("sampler_address") == "10.0.0.0")
    assert(r.getAs[String]("src_addr") == "10.1.0.1")
    assert(r.getAs[String]("dst_addr") == "192.168.0.0")
  }

  test("file stream -> normalize -> foreachBatch parquet sink == batch result") {
    val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    Seq(srcDir, outDir, cp).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))
    mkRaw(500).write.mode("overwrite").parquet(srcDir)

    val q = FlowPipeline.start(
      FlowPipeline.normalize(FlowPipeline.fileSource(spark, srcDir, maxFilesPerTrigger = 2)),
      outDir, cp, availableNow = true)
    q.awaitTermination()

    val streamed = spark.read.parquet(outDir)
    val batch = FlowPipeline.normalize(spark.read.parquet(srcDir))
    assert(streamed.count() == 500)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("metrics listener observes rows and batches (R6)") {
    val srcDir = s"$tmp/src2"; val outDir = s"$tmp/out2"; val cp = s"$tmp/cp2"
    Seq(srcDir, outDir, cp).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))
    mkRaw(100).write.mode("overwrite").parquet(srcDir)
    val listener = new FlowPipeline.MetricsListener
    spark.streams.addListener(listener)
    try {
      val q = FlowPipeline.start(
        FlowPipeline.normalize(FlowPipeline.fileSource(spark, srcDir)),
        outDir, cp, availableNow = true)
      listener.bind(q.id)
      q.awaitTermination()
      // listener events are async; wait bounded
      val deadline = System.nanoTime() + 10_000_000_000L
      while (listener.rowsIn.sum() < 100 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(listener.rowsIn.sum() == 100)
      assert(listener.batches.sum() >= 1)
    } finally spark.streams.removeListener(listener)
  }

  test("streaming flows land in a JDBC table via foreachBatch (R5/Q4)") {
    val srcDir = s"$tmp/src3"; val cp = s"$tmp/cp_jdbc"
    Seq(srcDir, cp).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))
    FileUtils.deleteQuietly(Paths.get(s"$tmp/derby").toFile)
    mkRaw(300).write.mode("overwrite").parquet(srcDir)
    val url = graft.sources.JdbcSink.derbyUrl(s"$tmp/derby/flows")
    val p = graft.sources.JdbcSink.props()
    // create the table shape first (jdbc append needs it or creates lazily;
    // overwrite-create from an empty slice keeps the DDL in one place)
    val normalized = FlowPipeline.normalize(spark.read.parquet(srcDir))
    normalized.limit(0).write.mode("overwrite").jdbc(url, "flows", p)

    val q = graft.sources.JdbcSink.stream(
      FlowPipeline.normalize(FlowPipeline.fileSource(spark, srcDir)),
      url, "flows", cp, availableNow = true)
    q.awaitTermination()

    val back = spark.read.jdbc(url, "flows", p)
    assert(back.count() == 300)
    assert(back.exceptAll(normalized).isEmpty && normalized.exceptAll(back).isEmpty)
  }

  test("watermark drops late rows past the delay (Q49 unit)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val counts = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "10 seconds")).agg(count(lit(1)).as("n"))
    val cp = s"$tmp/cp3"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    val q = counts.writeStream.format("memory").queryName("wm_sink")
      .outputMode("append").option("checkpointLocation", cp).start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      input.addData((ts(100), 1L), (ts(105), 2L))
      q.processAllAvailable() // watermark after batch: 105-10 = 95
      input.addData((ts(130), 3L))
      q.processAllAvailable() // watermark: 120 -> window [100,110) finalizes
      input.addData((ts(101), 99L)) // late beyond watermark: dropped
      q.processAllAvailable()
      val rows = spark.table("wm_sink")
        .select(col("window.start").cast("long"), col("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == Map(100L -> 2L)) // late row did NOT bump the count
    } finally q.stop()
  }

  test("streaming dedup within watermark (Q50 unit)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val dedup = input.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark(Seq("id"))
    val cp = s"$tmp/cp4"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    val q = dedup.writeStream.format("memory").queryName("dd_sink")
      .outputMode("append").option("checkpointLocation", cp).start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      input.addData((ts(100), 1L), (ts(101), 1L), (ts(102), 2L))
      q.processAllAvailable()
      input.addData((ts(103), 1L), (ts(104), 3L))
      q.processAllAvailable()
      assert(spark.table("dd_sink").select("id").as[Long].collect().sorted
        .sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }
}
