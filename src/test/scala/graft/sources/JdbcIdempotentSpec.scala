package graft.sources

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** R5 delivery-semantics parity: foreachBatch is at-least-once (a batch
  * whose sink write fails after partial commit is replayed whole);
  * [[JdbcSink.idempotentAppend]] must make replays insert exactly the
  * multiset difference batch − existing — full replays are no-ops and
  * partial-write retries recover only the missing rows.
  */
class JdbcIdempotentSpec extends SparkSpec {

  test("replayed and overlapping batches insert no duplicate rows") {
    val db = s"${graft.Tmp.root}/idem-derby"
    FileUtils.deleteQuietly(new java.io.File(db))
    val url = JdbcSink.derbyUrl(db)
    val table = "flows_idem"

    val flows = graft.ops.FlowQueries.flows(spark, sf)
      .withColumn("sampler_address", lit("10.0.0.1"))
      .select("sequence_num", "sampler_address", "time_received", "bytes", "proto")
      .filter(col("sequence_num") < 100)
    val n = flows.count()
    assert(n > 50, s"fixture too small for an overlap test: $n rows")

    val b1 = flows.filter(col("sequence_num") < 60)
    val b2 = flows.filter(col("sequence_num") >= 40) // overlaps b1 on [40, 60)
    val n1 = b1.count()

    def tableCount(): Long = spark.read.jdbc(url, table, JdbcSink.props()).count()

    JdbcSink.idempotentAppend(b1, url, table)
    assert(tableCount() == n1)

    // full replay of the same micro-batch: nothing inserted
    JdbcSink.idempotentAppend(b1, url, table)
    assert(tableCount() == n1, "replayed batch inserted duplicates")

    // overlapping later batch: only the genuinely new keys land
    JdbcSink.idempotentAppend(b2, url, table)
    assert(tableCount() == n, "overlap region was double-inserted")

    JdbcSink.idempotentAppend(b2, url, table)
    assert(tableCount() == n)

    // and the content matches the source exactly (no row lost either)
    val back = spark.read.jdbc(url, table, JdbcSink.props())
      .agg(sum("bytes")).head().getLong(0)
    val src = flows.agg(sum("bytes")).head().getLong(0)
    assert(back == src)
  }

  test("retry after a PARTIAL write inserts the missing sibling rows of a packet") {
    // ADVICE r3: all records of one datagram share the natural key
    // (sequence_num, sampler_address, time_received) — a key-level
    // anti-join would see the half-written packet's key present and
    // silently drop its never-written siblings. The multiset-difference
    // append must recover them, including a genuinely duplicated record.
    val db = s"${graft.Tmp.root}/idem-derby-partial"
    FileUtils.deleteQuietly(new java.io.File(db))
    val url = JdbcSink.derbyUrl(db)
    val table = "flows_partial"
    import spark.implicits._

    // one datagram, three records; two of them identical full rows
    val batch = Seq(
      (42L, "10.0.0.1", 1700L, 100L, 6),
      (42L, "10.0.0.1", 1700L, 200L, 17),
      (42L, "10.0.0.1", 1700L, 200L, 17))
      .toDF("sequence_num", "sampler_address", "time_received", "bytes", "proto")

    // simulate the partial failure: only one copy of the (200, 17) record
    // committed before the sink died
    JdbcSink.writeBatch(
      batch.filter(col("proto") === 17).limit(1), url, table)

    // foreachBatch replays the WHOLE batch
    JdbcSink.idempotentAppend(batch, url, table)
    def readBack() = spark.read.jdbc(url, table, JdbcSink.props())
    assert(readBack().count() == 3, "missing siblings were not recovered")
    assert(readBack().agg(sum("bytes")).head().getLong(0) == 500L)
    assert(readBack().filter(col("proto") === 17).count() == 2,
      "the duplicated record must keep both copies")

    // a second replay is a no-op
    JdbcSink.idempotentAppend(batch, url, table)
    assert(readBack().count() == 3)
  }

  test("null-bearing rows stay idempotent under replay") {
    // plain column joins compile to EqualTo, under which NULL never equals
    // NULL — a null-bearing row would be re-inserted on every replay; the
    // multiset diff must use null-safe equality
    val db = s"${graft.Tmp.root}/idem-derby-null"
    FileUtils.deleteQuietly(new java.io.File(db))
    val url = JdbcSink.derbyUrl(db)
    val table = "flows_null"
    import spark.implicits._
    val batch = Seq(
      (1L, "10.0.0.1", 1700L, Some(10L)),
      (2L, "10.0.0.2", 1700L, None: Option[Long]), // NULL bytes
      (3L, "10.0.0.3", 1700L, Some(30L)))
      .toDF("sequence_num", "sampler_address", "time_received", "bytes")

    JdbcSink.idempotentAppend(batch, url, table)
    JdbcSink.idempotentAppend(batch, url, table) // full replay
    val back = spark.read.jdbc(url, table, JdbcSink.props())
    assert(back.count() == 3, "NULL-bearing row was re-inserted on replay")
    assert(back.filter(col("bytes").isNull).count() == 1)
  }
}
