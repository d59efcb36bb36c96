package graft.streaming

import java.util.UUID
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.FlowSchema
import graft.functions.IpFunctions
import graft.sources.ParquetSink

/** The reference's ingest pipeline (SURVEY §2.1 R1–R6), Spark-native.
  *
  * Reference dataflow: UDP decoders → one Go channel (`main.go:43`) →
  * count-or-time micro-batcher (10 000 rows OR 10 s, `main.go:114-152`) →
  * single-writer ClickHouse INSERT (`main.go:157-169`), at-most-once.
  *
  * Spark mapping:
  *   - sources: any `readStream` producing the raw flow schema (files,
  *     socket, MemoryStream in tests) — fan-in is `unionByName` (R2);
  *   - R3 projection: [[normalize]], the 23-column select with IP-bytes →
  *     string rendering (`main.go:127-150`);
  *   - R4 micro-batcher: `Trigger.ProcessingTime(batchMaxTime)` bounds
  *     latency exactly like the 10 s timer; the 10 000-row cap maps to
  *     per-trigger source admission (`maxFilesPerTrigger` /
  *     `maxOffsetsPerTrigger`). Spark has no count-OR-time trigger; the
  *     time-trigger + admission-cap pair is the idiomatic equivalent and
  *     strictly bounds both batch size and latency;
  *   - R5 sink: [[graft.sources.ParquetSink]], a streaming parquet writer
  *     with one part file per core per batch and no forked child processes
  *     on the commit path ([[start]]), or `df.write.jdbc` (ClickHouse,
  *     [[graft.sources.JdbcSink.stream]]). The parquet sink prepares its
  *     write once per query and broadcasts the Hadoop conf, so a batch
  *     does not ship the conf to every task. Its epoch commit renames
  *     staged files to names the query id and epoch decide, so a batch
  *     that Spark replays after a crash between the sink commit and the
  *     commit log replaces its own files: effectively-once on the file
  *     sink, where the reference is at-most-once (errors logged + batch
  *     dropped, `main.go:158-172`). The JDBC path is at-least-once;
  *     `JdbcSink.idempotentAppend` dedups on the natural key
  *     (sequence_num, sampler_address, time_received);
  *   - R6 metrics: [[MetricsListener]] (rows/batches/rates/phase times), the
  *     `StreamingQueryProgress` counterpart of goflow's Prometheus counters.
  */
object FlowPipeline {

  /** R3: raw decoded flow (byte-array addresses) → the 23-column flows row.
    * The 3 address renderings are the codegen-native [[graft.functions
    * .IpRender]] expression, so the entire projection compiles into ONE
    * WholeStageCodegen span — no Scala-UDF serde boundary on the path that
    * runs at ingest rate (asserted in PlanSpec).
    */
  def normalize(raw: DataFrame): DataFrame = {
    val ip = IpFunctions.ip_render _
    // opt-in extended surface (FlowSchema.extendedFields): rendered and
    // passed through AFTER the reference's 23 columns when present, so the
    // default projection stays byte-parity with the reference
    val ext =
      if (raw.columns.contains("next_hop"))
        Seq(ip(col("next_hop")).as("next_hop"),
          col("in_if").cast("long").as("in_if"),
          col("out_if").cast("long").as("out_if"),
          col("src_as").cast("long").as("src_as"),
          col("dst_as").cast("long").as("dst_as"),
          col("vlan_id").cast("int").as("vlan_id"),
          col("mpls_1_label").cast("long").as("mpls_1_label"),
          col("mpls_1_ttl").cast("int").as("mpls_1_ttl"),
          col("src_mask").cast("int").as("src_mask"),
          col("dst_mask").cast("int").as("dst_mask"),
          col("next_hop_as").cast("long").as("next_hop_as"))
      else Seq.empty
    raw.select(Seq(
      col("type").cast("int").as("type"),
      col("time_received").cast("long").as("time_received"),
      col("sequence_num").cast("long").as("sequence_num"),
      col("sampling_rate").cast("long").as("sampling_rate"),
      col("flow_direction").cast("int").as("flow_direction"),
      ip(col("sampler_address")).as("sampler_address"),
      col("time_flow_start").cast("long").as("time_flow_start"),
      col("time_flow_end").cast("long").as("time_flow_end"),
      col("bytes").cast("long").as("bytes"),
      col("packets").cast("long").as("packets"),
      ip(col("src_addr")).as("src_addr"),
      ip(col("dst_addr")).as("dst_addr"),
      col("etype").cast("int").as("etype"),
      col("proto").cast("int").as("proto"),
      col("src_port").cast("int").as("src_port"),
      col("dst_port").cast("int").as("dst_port"),
      col("forwarding_status").cast("int").as("forwarding_status"),
      col("tcp_flags").cast("int").as("tcp_flags"),
      col("icmp_type").cast("int").as("icmp_type"),
      col("icmp_code").cast("int").as("icmp_code"),
      col("fragment_id").cast("long").as("fragment_id"),
      col("fragment_offset").cast("int").as("fragment_offset")) ++ ext: _*)
  }

  /** R1 (file-source stand-in): stream raw flow files from a directory.
    * `maxFilesPerTrigger` is the R4 batch-size admission cap.
    */
  def fileSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(FlowSchema.rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** R4+R5: run the pipeline into a parquet sink at `outDir`
    * ([[graft.sources.ParquetSink]]; [[graft.sources.JdbcSink.stream]] is
    * the same pipeline into ClickHouse over JDBC).
    *
    * The stream is coalesced to `defaultParallelism`: one part file per
    * core per batch (a coalesce never splits, so a batch with fewer
    * partitions keeps them). The write is planned inside each micro-batch,
    * with no second query per batch, and its Hadoop conf is prepared and
    * broadcast once per query rather than serialized into every task of
    * every batch. The files are those of Spark's batch parquet writer
    * except that the endpoint address columns
    * ([[graft.FlowSchema.endpointColumns]]) are written without a
    * dictionary: in one-file-per-core micro-batch files a dictionary over
    * near-unique addresses costs CPU and saves no bytes after snappy.
    * Commits are replay-idempotent: a replayed epoch
    * overwrites the files of its first attempt. A reader listing
    * `outDir` during a commit can see part of that batch, as during a
    * `FileOutputCommitter` v1 job commit; `spark.sql.files
    * .maxRecordsPerFile` is not applied. The broadcast is released by
    * Spark's `ContextCleaner` once the query is no longer referenced.
    *
    * The query starts through [[Streams.start]], so the sink and the
    * offsets/commits logs go through [[graft.sources.LocalFs]], which
    * keeps the on-disk layout of stock Hadoop and forks no child process.
    */
  def start(normalized: DataFrame, outDir: String, checkpoint: String,
      batchMaxTime: String = "10 seconds", availableNow: Boolean = false): StreamingQuery = {
    val trigger =
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(batchMaxTime)
    val cores = normalized.sparkSession.sparkContext.defaultParallelism
    Streams.start(normalized.coalesce(cores), checkpoint)(_.trigger(trigger)
      .format(classOf[ParquetSink].getName).option("path", outDir))
  }

  /** R6: rows/batches counters over StreamingQueryProgress — the Spark
    * counterpart of the reference's Prometheus `/metrics`
    * (`main.go:177-180`); expose via Spark's PrometheusServlet in a real
    * deployment.
    *
    * Counts only the query passed to [[bind]], so `/metrics` never absorbs
    * another stream of the session. The listener is registered before its
    * query starts and the bus is asynchronous, so progress that arrives
    * before [[bind]] is held and replayed for the bound id.
    */
  final class MetricsListener extends StreamingQueryListener {
    val rowsIn = new LongAdder
    val batches = new LongAdder
    @volatile var lastRowsPerSecond: Double = 0.0
    /** Largest single micro-batch seen — the R4 batch-size invariant
      * (`flowsBatch ≤ BatchSize`, `main.go:119-152`) is checkable as
      * `maxBatchRows ≤ admission cap`.
      */
    @volatile var maxBatchRows: Long = 0L
    /** Milliseconds summed per [[MetricsListener.Phases]] entry of
      * `progress.durationMs`: where batch time goes (planning, sink,
      * offsets WAL, commit).
      */
    val phaseMs: Map[String, LongAdder] =
      MetricsListener.Phases.map(_ -> new LongAdder).toMap

    private var queryId: Option[UUID] = None
    private val early = ArrayBuffer.empty[StreamingQueryProgress]

    /** Count only `id`'s progress from now on, including any already held. */
    def bind(id: UUID): Unit = synchronized {
      queryId = Some(id)
      early.filter(_.id == id).foreach(record)
      early.clear()
    }

    private def record(p: StreamingQueryProgress): Unit = {
      rowsIn.add(p.numInputRows)
      batches.increment()
      lastRowsPerSecond = p.inputRowsPerSecond
      if (p.numInputRows > maxBatchRows) maxBatchRows = p.numInputRows
      phaseMs.foreach { case (k, ms) =>
        val v = p.durationMs.get(k)
        if (v != null) ms.add(v)
      }
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        if (queryId.contains(p.id)) record(p)
        else if (queryId.isEmpty) early += p
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  object MetricsListener {
    /** The `durationMs` phases exported as
      * `graft_flows_batch_phase_seconds_total{phase=…}`.
      */
    val Phases: Seq[String] = Seq("addBatch", "walCommit", "commitOffsets",
      "queryPlanning", "latestOffset", "triggerExecution")
  }
}
