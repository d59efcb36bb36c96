package graft.streaming

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.sources.WriteToMicroBatchDataSource
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.SerializableConfiguration

import graft.{FlowSchema, SparkSpec}
import graft.sources.ParquetSink

/** The collector's parquet sink ([[graft.sources.ParquetSink]]) through
  * [[FlowPipeline.start]]: a replayed batch lands once, and the Hadoop conf
  * is prepared once per query instead of shipped in every task.
  */
class ParquetSinkSpec extends SparkSpec {

  private val tmp = s"${graft.Tmp.root}/parquet-sink-spec"

  /** `n` raw flows with distinct `sequence_num`, as `files` parquet files. */
  private def stage(dir: String, n: Int, files: Int): Unit = {
    import spark.implicits._
    (0 until n).map { i =>
      (1, 1700000000L + i, i.toLong, 1000L, 0, Array[Byte](10, 0, 0, 1),
        1700000000L + i, 1700000010L + i, 1000L + i, 10L,
        Array[Byte](10, 1, (i % 100).toByte, 1), Array[Byte](-64, -88, 0, 1),
        2048, 6, 40000 + i % 1000, 443, 64, 18, 0, 0, i.toLong, 0)
    }.toDF(FlowSchema.rawSchema.fieldNames.toIndexedSeq: _*).repartition(files).write.parquet(dir)
  }

  private def run(src: String, out: String, cp: String, perTrigger: Int): StreamingQuery = {
    val q = FlowPipeline.start(
      FlowPipeline.normalize(FlowPipeline.fileSource(spark, src, maxFilesPerTrigger = perTrigger)),
      out, cp, availableNow = true)
    q.awaitTermination()
    q
  }

  test("a batch replayed after its sink commit lands once") {
    val dir = s"$tmp/replay"
    val (src, out, cp) = (s"$dir/src", s"$dir/out", s"$dir/cp")
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    stage(src, 500, files = 6)
    run(src, out, cp, perTrigger = 2)
    // a crash after the sink committed the last batch and before the
    // commit log recorded it: the restart runs that batch again
    val commits = Paths.get(cp, "commits")
    val last = Files.list(commits).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    val again = run(src, out, cp, perTrigger = 2)
    assert(again.recentProgress.exists(_.batchId == last.toLong), "the batch was not replayed")

    val flows: DataFrame = spark.read.parquet(out)
    assert(flows.count() == 500)
    assert(flows.select("sequence_num").distinct().count() == 500)
  }

  test("one prepared write per query, and tasks get a factory without the conf") {
    val dir = s"$tmp/conf-once"
    val (src, out, cp) = (s"$dir/src", s"$dir/out", s"$dir/cp")
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    stage(src, 300, files = 6)
    val q = run(src, out, cp, perTrigger = 1)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 5)
    assert(spark.read.parquet(out).count() == 300)

    val sink = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.logicalPlan
      .collectFirst { case w: WriteToMicroBatchDataSource => w.table }.get
      .asInstanceOf[ParquetSink.Sink]
    assert(sink.prepared == 1, "the write (and its broadcast) was prepared per batch")

    def serialized(o: AnyRef): Int = {
      val bytes = new ByteArrayOutputStream
      val s = new ObjectOutputStream(bytes)
      try s.writeObject(o) finally s.close()
      bytes.size
    }
    val fourTasks: PhysicalWriteInfo = () => 4
    val factory = serialized(sink.write(q.id.toString).createStreamingWriterFactory(fourTasks))
    val conf = serialized(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    info(s"writer factory $factory B, Hadoop conf $conf B")
    assert(sink.prepared == 1)
    assert(factory < 16 * 1024 && conf > 16 * 1024, s"factory $factory B, conf $conf B")
  }
}
