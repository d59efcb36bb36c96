package graft.sources

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.FlowSchema

/** R5 parity for files: the collector's append-only parquet sink as a
  * streaming writer, `writeStream.format(classOf[ParquetSink].getName)
  * .option("path", dir)`. It writes what Spark's batch parquet writer
  * writes, `part-NNNNN-<uuid>-c000.snappy.parquet` plus `.crc` siblings
  * and `_SUCCESS`, without that writer's per-batch costs and with one
  * difference in encoding, the first point below.
  *
  *   - *Endpoint addresses plain.* The columns of
  *     [[graft.FlowSchema.endpointColumns]] (`src_addr`, `dst_addr`) that
  *     the schema holds are written without a dictionary. Parquet decides
  *     between dictionary and plain at the end of a column's first page
  *     (up to 20 000 rows), which in a micro-batch file is nearly the
  *     whole file. For near-unique addresses it builds the dictionary and
  *     then discards it; where it keeps one, the snappy-compressed column
  *     is no smaller than plain (collector traffic, 10–30 k-row files:
  *     7.2 against 6.4 B/row). Those two dictionaries took about a quarter
  *     of the sink tasks' CPU samples. Every other column keeps Parquet's
  *     own rule.
  *   - *Conf once per query.* A batch `write.parquet` puts the job's whole
  *     Hadoop conf (~1 100 keys, ~110 KB serialized) into every write
  *     task: serialized on the driver per batch, deserialized in every
  *     task. Here the write is prepared once, on the first batch, from the
  *     stream's own session (so the `LocalFs` keys that
  *     [[graft.streaming.Streams.start]] installs are in it): one
  *     `Job`, Spark's own `ParquetFileFormat.prepareWrite` (same codec,
  *     encodings and footers) and one broadcast of the conf, which tasks
  *     read like Spark's parquet reader reads its own. The table memoizes
  *     that write because Spark rebuilds the `Write` on every batch.
  *   - *Replay-idempotent commit.* Each task writes its partition under
  *     `<dir>/_staging/<epoch>/` (readers skip `_` directories). The
  *     driver's epoch commit renames each staged file to a name that only
  *     the query id, the epoch and the partition decide, rewrites
  *     `_SUCCESS` and drops `_staging`. An epoch replayed after a crash
  *     between this commit and the stream's commit log therefore replaces
  *     its own files instead of appending them again; the first commit of
  *     a run also deletes every file of its epoch first, in case the replay
  *     has fewer partitions than the crashed attempt (a restart on fewer
  *     cores, say).
  *   - *Visibility.* The renames are not atomic as a set: a reader that
  *     lists the directory while an epoch's commit runs can see part of
  *     that epoch (or, on a replay's first commit, none of it), as during
  *     a `FileOutputCommitter` v1 job commit. A reader that needs whole
  *     epochs lists after the stream has committed them.
  *   - `spark.sql.files.maxRecordsPerFile` is not applied: one file per
  *     partition per epoch.
  *   - The broadcast lives as long as the query's plan: Spark's
  *     `ContextCleaner` removes it once the query (and with it this
  *     table) is no longer referenced.
  */
class ParquetSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("ParquetSink writes its stream's schema")
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val dir = properties.get("path")
    require(dir != null, "ParquetSink needs option(\"path\", dir)")
    new ParquetSink.Sink(schema, dir)
  }
}

object ParquetSink {

  /** One query's sink; [[prepared]] counts the writes it has prepared. */
  final class Sink(tableSchema: StructType, dir: String) extends Table with SupportsWrite {
    private var epochs: Epochs = _
    @volatile private[graft] var prepared = 0

    override def name(): String = s"ParquetSink[$dir]"
    override def schema(): StructType = tableSchema
    override def capabilities(): java.util.Set[TableCapability] =
      Set(TableCapability.STREAMING_WRITE).asJava

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val w = write(info.queryId)
      new WriteBuilder {
        override def build(): Write = new Write { override def toStreaming: StreamingWrite = w }
      }
    }

    private[graft] def write(queryId: String): Epochs = synchronized {
      if (epochs == null) {
        epochs = new Epochs(SparkSession.active, dir, tableSchema, queryId)
        prepared += 1
      }
      epochs
    }
  }

  /** The file an epoch's partition commits to. */
  private def fileName(queryId: String, epoch: Long, partition: Int, ext: String): String =
    f"part-$partition%05d-${epochId(queryId, epoch)}-c000$ext"

  private def epochId(queryId: String, epoch: Long): UUID =
    UUID.nameUUIDFromBytes(s"$queryId/$epoch".getBytes(UTF_8))

  private def staging(dir: String): Path = new Path(dir, "_staging")

  /** The driver side: the prepared write and the epoch commits. */
  final class Epochs(spark: SparkSession, dir: String, schema: StructType, queryId: String)
      extends StreamingWrite {
    private val job = Job.getInstance(spark.sessionState.newHadoopConf())
    FlowSchema.endpointColumns.filter(schema.fieldNames.contains).foreach { c =>
      job.getConfiguration.setBoolean(s"${ParquetOutputFormat.ENABLE_DICTIONARY}#$c", false)
    }
    private val writers =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    private val conf =
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    private val out = new Path(dir)
    private val fs: FileSystem = out.getFileSystem(job.getConfiguration)
    fs.mkdirs(out) // the commit's renames need it
    private var swept = false

    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      new Writers(conf, writers, schema, dir, queryId)

    override def commit(epoch: Long, messages: Array[WriterCommitMessage]): Unit = {
      if (!swept) {
        val earlier = fs.globStatus(new Path(out, s"part-*-${epochId(queryId, epoch)}-c000*"))
        Option(earlier).foreach(_.foreach(f => fs.delete(f.getPath, false)))
        swept = true
      }
      messages.foreach {
        case Staged(from, name) =>
          val to = new Path(out, name)
          if (!fs.rename(new Path(from), to)) throw new IOException(s"could not rename $from to $to")
        case _ => ()
      }
      fs.create(new Path(out, "_SUCCESS"), true).close()
      fs.delete(staging(dir), true)
    }

    override def abort(epoch: Long, messages: Array[WriterCommitMessage]): Unit =
      fs.delete(staging(dir), true)
  }

  /** A task's staged file and the name it commits to. */
  final case class Staged(from: String, name: String) extends WriterCommitMessage
  private case object NoFile extends WriterCommitMessage

  /** What each task deserializes: the broadcast handle, Spark's parquet
    * writer factory and the names, not the conf.
    */
  final class Writers(conf: Broadcast[SerializableConfiguration], writers: OutputWriterFactory,
      schema: StructType, dir: String, queryId: String) extends StreamingDataWriterFactory {
    override def createWriter(partition: Int, task: Long, epoch: Long): DataWriter[InternalRow] =
      new TaskWriter(new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID()),
        partition, task, epoch)

    private final class TaskWriter(ctx: TaskAttemptContextImpl, partition: Int, task: Long,
        epoch: Long) extends DataWriter[InternalRow] {
      private val name = fileName(queryId, epoch, partition, writers.getFileExtension(ctx))
      private val staged = new Path(new Path(staging(dir), epoch.toString), s"$task-$name")
      private var file: OutputWriter = _

      private def open(): Unit = file = writers.newInstance(staged.toString, schema, ctx)

      override def write(row: InternalRow): Unit = {
        if (file == null) open()
        file.write(row)
      }

      // like Spark's file writer, partition 0 writes a file even when empty,
      // so an epoch without rows still leaves a readable schema
      override def commit(): WriterCommitMessage = {
        if (file == null && partition == 0) open()
        if (file == null) NoFile
        else { close(); Staged(staged.toString, name) }
      }

      override def abort(): Unit = {
        try close()
        finally staged.getFileSystem(ctx.getConfiguration).delete(staged, false)
      }

      override def close(): Unit = if (file != null) {
        val f = file
        file = null
        f.close()
      }
    }
  }
}
