package graft.streaming

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.sources.WriteToMicroBatchDataSource
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.SerializableConfiguration

import graft.{FlowSchema, SparkSpec}
import graft.sources.ParquetSink

/** The collector's parquet sink ([[graft.sources.ParquetSink]]) through
  * [[FlowPipeline.start]]: a replayed batch lands once, the Hadoop conf
  * is prepared once per query instead of shipped in every task, and the
  * endpoint address columns are written without a dictionary.
  */
class ParquetSinkSpec extends SparkSpec {

  private val tmp = s"${graft.Tmp.root}/parquet-sink-spec"

  /** `n` raw flows with distinct `sequence_num`, as `files` parquet files;
    * flow `i` runs from `srcAddr(i)` to `dstAddr(i)`, sampled at 10.0.0.1.
    */
  private def stage(dir: String, n: Int, files: Int,
      srcAddr: Int => Array[Byte] = i => Array[Byte](10, 1, (i % 100).toByte, 1),
      dstAddr: Int => Array[Byte] = _ => Array[Byte](-64, -88, 0, 1)): Unit = {
    import spark.implicits._
    (0 until n).map { i =>
      (1, 1700000000L + i, i.toLong, 1000L, 0, Array[Byte](10, 0, 0, 1),
        1700000000L + i, 1700000010L + i, 1000L + i, 10L, srcAddr(i), dstAddr(i),
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

  test("endpoint addresses are written plain; the other columns keep their dictionaries") {
    val dir = s"$tmp/plain-addresses"
    val (src, out, cp) = (s"$dir/src", s"$dir/out", s"$dir/cp")
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    // every source distinct, destinations over 64 hosts: a dictionary
    // would pay for dst_addr, and Parquet's own rule keeps one for it
    stage(src, 6000, files = 3,
      srcAddr = i => Array[Byte](10, (i >> 16).toByte, (i >> 8).toByte, i.toByte),
      dstAddr = i => Array[Byte](-64, -88, 0, (i % 64).toByte))
    run(src, out, cp, perTrigger = 1)

    val conf = spark.sessionState.newHadoopConf()
    val files = Files.list(Paths.get(out)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
    val chunks = files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally r.close()
    }.groupBy(_.getPath.toDotString)
    assert(chunks("src_addr").nonEmpty)
    for (c <- FlowSchema.endpointColumns; chunk <- chunks(c))
      assert(!chunk.hasDictionaryPage, s"$c has a dictionary page")
    val lowCardinality =
      Seq("sampler_address", "type", "sampling_rate", "packets", "etype", "proto", "dst_port")
    for (c <- lowCardinality; chunk <- chunks(c))
      assert(chunk.hasDictionaryPage, s"$c lost its dictionary page")

    val input = FlowPipeline.normalize(spark.read.schema(FlowSchema.rawSchema).parquet(src))
    val written = spark.read.parquet(out)
    assert(written.count() == 6000)
    assert(input.exceptAll(written).isEmpty && written.exceptAll(input).isEmpty)
  }
}
