package graft.sources

import java.nio.file.Paths

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.streaming.Trigger

import graft.{FlowSchema, SparkSpec}
import graft.streaming.FlowPipeline

/** The custom MicroBatchStream source (R1 parity): schema, determinism,
  * admission-control count cap (R4), partitioned generation, and
  * integration through the full normalize → sink pipeline.
  */
class FlowGenSourceSpec extends SparkSpec {

  private val tmp = s"${graft.Tmp.root}/flowgen-spec"

  private def readGen(total: Long, perBatch: Long) =
    spark.readStream.format("flowgen") // short name via DataSourceRegister
      .option("totalRows", total).option("maxRowsPerBatch", perBatch)
      .load()

  test("generates the raw flow schema") {
    assert(readGen(100, 50).schema == FlowSchema.rawSchema)
  }

  test("drains exactly totalRows under the admission cap, in capped batches") {
    val cp = s"$tmp/cp1"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    val listener = new FlowPipeline.MetricsListener
    spark.streams.addListener(listener)
    try {
      val q = readGen(1000, 100).writeStream.format("memory")
        .queryName("flowgen_sink").outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      listener.bind(q.id)
      q.awaitTermination()
      val n = spark.table("flowgen_sink").count()
      assert(n == 1000)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (listener.rowsIn.sum() < 1000 && System.nanoTime() < deadline)
        Thread.sleep(50)
      // 1000 rows / 100-row cap ⇒ at least 10 data batches, and no batch
      // exceeds the admission cap (the R4 batch-size invariant:
      // ∀ batches: rows ≤ BatchSize; every row lands in exactly one batch)
      assert(listener.batches.sum() >= 10, s"batches=${listener.batches.sum()}")
      assert(listener.maxBatchRows <= 100, s"maxBatchRows=${listener.maxBatchRows}")
    } finally spark.streams.removeListener(listener)
  }

  test("content is a deterministic function of the row index") {
    val cp1 = s"$tmp/cp2"; val cp2 = s"$tmp/cp3"
    Seq(cp1, cp2).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))
    def drain(name: String, cp: String) = {
      val q = readGen(200, 64).writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name)
    }
    val a = drain("flowgen_a", cp1)
    val b = drain("flowgen_b", cp2)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.select("sequence_num").distinct().count() == 200)
  }

  test("feeds the full normalize pipeline: addresses render as strings") {
    val cp = s"$tmp/cp4"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    val q = FlowPipeline.normalize(readGen(100, 100))
      .writeStream.format("memory").queryName("flowgen_norm")
      .outputMode("append").option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("flowgen_norm")
    assert(out.schema == FlowSchema.schema)
    import org.apache.spark.sql.functions._
    assert(out.filter(col("src_addr").rlike("^10(\\.\\d{1,3}){3}$")).count() == 100)
    assert(out.filter(col("dst_addr").startsWith("192.168.")).count() == 100)
  }
}
