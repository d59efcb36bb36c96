package graft.streaming

import java.nio.file.Paths

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.SparkSpec

/** SURVEY Q51's example shape on Spark 4's transformWithState API: per-key
  * SYN-without-ACK tracking (tcp_flags is the OR of flags over the flow,
  * `main.go:71`; SYN=0x02, ACK=0x10) with explicit ValueState, running on
  * the RocksDB state store provider.
  */
class TransformWithStateSpec extends SparkSpec {

  test("transformWithState tracks SYN-without-ACK per source across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val cp = s"${graft.Tmp.root}/tws-spec/cp"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    try {
      val input = MemoryStream[(String, Int)]
      val tracked = input.toDS()
        .groupByKey(_._1)
        .transformWithState(new SynTrackerProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("src", "syn_only")
      val q = tracked.writeStream.format("memory").queryName("tws_sink")
        .outputMode("update").option("checkpointLocation", cp).start()
      try {
        // batch 1: a sends SYN-only twice, b sends SYN+ACK
        input.addData(("a", 2), ("a", 2), ("b", 18))
        q.processAllAvailable()
        // batch 2: a sends SYN+ACK (no change), b sends SYN-only
        input.addData(("a", 18), ("b", 2))
        q.processAllAvailable()
        val last = spark.table("tws_sink").groupBy("src")
          .agg(org.apache.spark.sql.functions.max("syn_only").as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(last == Map("a" -> 2L, "b" -> 1L))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
