package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger, TTLConfig}

import graft.SparkSpec

/** q52p's eviction contract (r16, VERDICT r15 #4): the recent assembler
  * holds each user's N MOST-RECENT (ts, event_id) points. Under three
  * CONTROLLED batches (one file per trigger, modification times pinned so
  * the file source's order is deterministic) the per-batch emissions must
  * show: truncation to the N largest inside a batch, old points arriving
  * LATE being evicted on arrival (the sliding-window semantics — q52r's
  * first-N form would keep them), and newer points displacing the oldest
  * kept ones — always emitted in ascending series order.
  */
class RecentSeriesSpec extends SparkSpec {

  test("recent assembler evicts oldest-first under controlled batches") {
    import spark.implicits._
    val n = 4
    val base = s"${graft.Tmp.root}/recent-series"
    FileUtils.deleteQuietly(new java.io.File(base))
    val src = s"$base/src"
    Files.createDirectories(Paths.get(src))
    // (user_id, t, event_id, value); value = t so order is legible
    def land(name: String, mtime: Long, pts: Seq[Long]): Unit = {
      val tmp = s"$base/tmp-$name"
      pts.map(t => (7L, t, t, t.toDouble)).toDF("user_id", "t", "event_id", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$src/$name.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
    }
    land("b0", 1000000L, Seq(10L, 11L, 12L, 13L, 14L, 15L))
    land("b1", 2000000L, Seq(1L, 2L, 3L, 4L)) // all OLDER than the kept 4
    land("b2", 3000000L, Seq(16L, 17L))
    val schema = spark.read.parquet(s"$src/b0.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(Long, Long, Long, Double)]
    val assembled = typed.groupByKey(_._1)
      .transformWithState(
        new RecentSeriesAssemblerProcessor(n, TTLConfig.NONE),
        TimeMode.None(), OutputMode.Update())
    val cp = s"$base/cp"
    // transformWithState needs the RocksDB provider (multi-column-family
    // state), selected for this stream only
    val q = Streams.start(assembled.toDF(), cp, Streams.RocksDbState: _*)(
      _.format("memory").queryName("recent_series_sink").outputMode("update")
        .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
    val emits = spark.table("recent_series_sink")
      .orderBy(col("seen"))
      .collect()
      .map(r => (r.getLong(1), r.getSeq[Double](3).toSeq))
    assert(emits.length == 3)
    // batch 0: six points truncate to the 4 most recent, ascending
    assert(emits(0) == ((6L, Seq(12.0, 13.0, 14.0, 15.0))))
    // batch 1: four OLDER points arrive and are all evicted on arrival
    assert(emits(1) == ((10L, Seq(12.0, 13.0, 14.0, 15.0))))
    // batch 2: two newer points displace the two oldest kept
    assert(emits(2) == ((12L, Seq(14.0, 15.0, 16.0, 17.0))))
  }
}
