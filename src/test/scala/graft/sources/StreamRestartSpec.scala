package graft.sources

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end crash recovery of the R4/R5 pipeline: a foreachBatch sink
  * that dies MID-INSERT (a partial prefix already committed to the JDBC
  * table) must, after the query restarts from its checkpoint and the
  * micro-batch replays whole, leave the sink holding exactly-once rows —
  * the composition of at-least-once replay (checkpointed offsets) with
  * [[JdbcSink.idempotentAppend]]'s multiset difference. This is the
  * failure the reference's production deployment actually faces: the
  * collector crashing between a ClickHouse insert and the offset commit.
  */
class StreamRestartSpec extends SparkSpec {

  test("crash mid-insert, restart from checkpoint: sink holds exactly-once rows") {
    val db = s"${graft.Tmp.root}/restart-derby"
    val cp = s"${graft.Tmp.root}/cp/restart"
    FileUtils.deleteQuietly(new java.io.File(db))
    FileUtils.deleteQuietly(new java.io.File(cp))
    val url = JdbcSink.derbyUrl(db)
    val table = "flows_restart"

    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val injected = new AtomicBoolean(false)

    def writer(b: DataFrame, id: Long): Unit = {
      val rows = b.select(col("value").as("sequence_num"),
        lit("10.0.0.1").as("sampler_address"),
        (col("value") + 1000L).as("time_received"),
        (col("value") * 10L).as("bytes"), lit(6).as("proto"))
      if (id == 1L && !injected.getAndSet(true)) {
        // crash mid-insert: commit a partial prefix (the even half), then
        // die before the offset commit — the replayed batch must add ONLY
        // the missing rows
        JdbcSink.idempotentAppend(
          rows.filter(col("sequence_num") % 2 === 0), url, table)
        throw new RuntimeException("injected crash after partial write")
      }
      JdbcSink.idempotentAppend(rows, url, table)
    }

    def start() = ms.toDF().writeStream
      .option("checkpointLocation", cp)
      .foreachBatch(writer _)
      .start()

    ms.addData(1L to 50L)
    val q1 = start()
    q1.processAllAvailable() // batch 0 commits cleanly
    ms.addData(51L to 100L) // batch 1 hits the injected crash
    intercept[Exception] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(!q1.isActive, "query must have died on the injected crash")

    // restart against the SAME checkpoint: offsets say batch 1 never
    // committed, so it replays whole; idempotentAppend adds the odd half
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.jdbc(url, table, JdbcSink.props())
    assert(got.count() == 100L,
      s"expected exactly-once delivery of 100 rows, got ${got.count()}")
    assert(got.select("sequence_num").distinct().count() == 100L,
      "duplicate sequence numbers: the partial prefix was re-inserted")
    // and the partial prefix really did land in the first attempt — the
    // test must not pass vacuously because the injection never fired
    assert(injected.get(), "the crash injection never fired")
  }
}
