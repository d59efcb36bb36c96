package graft.sources

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.FlowSchema

/** R1 proper: a DataSourceV2 micro-batch source that LISTENS ON UDP for
  * flow datagrams in all three of the reference's schemes — NetFlow v5
  * ([[NetFlowV5]], `nfl://`), NetFlow v9/IPFIX ([[NetFlowV9]],
  * `netflow://`, with receiver-side template learning), and sFlow v5
  * ([[SFlowV5]], `sflow://`, raw-header dissection) — and decodes them
  * into `FlowSchema.rawSchema` rows: the reference's entire ingest job
  * (`main.go:221-250`, goflow's three FlowRoutine states), Spark-native.
  * One port serves every version: the header version field dispatches
  * (sFlow's u32 version reads as a leading zero u16, disjoint from
  * NetFlow's u16 5/9/10).
  *
  * Architecture (the same shape as Spark's own TextSocketMicroBatchStream):
  * the stream object on the DRIVER owns the socket — one receiver thread
  * appends raw datagrams to a buffer; micro-batch offsets are cumulative
  * packet counts; `planInputPartitions` slices the buffered packets into
  * `numPartitions` serialized chunks that executors DECODE in parallel
  * (decode is the CPU-heavy part — the reference spreads it over `-workers`
  * goroutines the same way, `main.go:35`). `commit(end)` trims the buffer,
  * bounding driver memory by one batch plus arrivals.
  *
  * Scale posture: a UDP listener is inherently a single ingest point — the
  * reference has exactly the same property, and NetFlow deployments scale
  * by pointing exporters at different collector replicas. For the 100 TB
  * batch path this source is not on the critical path (files/Kafka are);
  * it exists for live-collector parity. Throughput ceiling is the driver
  * NIC/thread, not Spark.
  *
  * Semantics: UDP is at-most-once by nature (reference: same). With
  * `dedupSequence=true` the receiver drops datagrams whose
  * (sender, version, domain, sequence) was already seen — an exporter
  * that RE-SENDS packets (or a flaky path that duplicates them) then gets
  * once-per-process-lifetime *packet* admission, which makes test traffic
  * replayable: senders can blindly re-send until the collector confirms
  * receipt. Honest limits of that claim: the seen set is in-memory (a
  * driver restart forgets it — re-sends spanning a restart can be
  * re-admitted), and an exporter REBOOT that resets its sequence counter
  * will have its first packets refused as false duplicates until the old
  * entries age out of the LRU — production exporters don't re-send, so
  * the option defaults to off and exists for replayable test traffic.
  *
  * Restart semantics: offsets are cumulative admitted-packet counts and
  * identify data only within one process lifetime. A batch replayed from
  * the checkpoint after a restart is served EMPTY — the datagrams it
  * named are gone (at-most-once), and refilling the old offset range with
  * NEW packets would hand a batchId-keyed idempotent sink fresh data
  * under an already-delivered batchId, which it would silently discard.
  * New packets always enter at offsets after the replayed range.
  *
  * Options: `port` (0 = ephemeral; the bound port is the stream's
  * [[UdpFlowStream.port]], read from the started query through
  * [[UdpFlowSource.listeners]]), `host` (default 127.0.0.1), `name` (a
  * label only: it names the listener's /metrics counters), `scheme`
  * (`any`/`sflow`/`netflow`/`nfl` — restrict this socket to one protocol,
  * the reference's one-decoder-state-per-listen-URL shape; mismatched
  * versions count as drops), `maxPacketsPerBatch` (admission cap, R4),
  * `numPartitions` (decode parallelism), `dedupSequence` (see above),
  * `extended` (emit [[graft.FlowSchema.rawExtendedSchema]] — next-hop,
  * interface indices, BGP AS numbers, 802.1Q VLAN id, top MPLS
  * label + TTL — beyond the reference's 23-column parity surface;
  * default false).
  *
  * Malformed datagrams (wrong version, truncated) are counted in the
  * listener's `dropped` ([[UdpFlowSource.ListenerStats]]) and skipped — the
  * reference's decoder error path (goflow logs + drops, keeping the
  * listener alive).
  */
class UdpFlowSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "nflv5-udp"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("extended", false)) FlowSchema.rawExtendedSchema
    else FlowSchema.rawSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new UdpFlowTable("true".equalsIgnoreCase(
      Option(properties.get("extended")).getOrElse("false")))
}

object UdpFlowSource {
  /** The UDP listeners of `q`, in plan (union) order, once the query's own
    * thread has built its sources and so bound their sockets. Throws the
    * query's error if it died during startup (a taken port, say).
    */
  def listeners(q: StreamingQuery): Seq[UdpFlowStream] = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    exec.awaitInitialization(60000L)
    // a query stopped before initialization has no sources; reading its
    // plan would build (and bind) them on this thread
    if (!q.isActive) throw new IllegalStateException(s"query ${q.id} is not active")
    exec.logicalPlan.collect {
      case r: StreamingDataSourceV2ScanRelation => r.stream
    }.collect { case u: UdpFlowStream => u }
  }

  /** The streams the current query thread has built. Spark builds a
    * query's sources one at a time (`MicroBatchExecution.logicalPlan`);
    * when a later one throws (a taken port, say), the earlier ones never
    * reach the query's source list, so the query's stop never closes
    * their sockets and receiver threads. [[built]] stops them instead.
    * Only query threads record: each runs exactly one query, so the
    * streams stopped are always the failing query's own.
    */
  private val builtOnQueryThread = new ThreadLocal[List[UdpFlowStream]] {
    override def initialValue(): List[UdpFlowStream] = Nil
  }

  private[sources] def built(stream: => UdpFlowStream): UdpFlowStream =
    if (!Thread.currentThread().isInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.QueryExecutionThread]) stream
    else {
      val s = try stream catch {
        case e: Throwable =>
          builtOnQueryThread.get.foreach { b =>
            try b.stop() catch { case x: Exception => e.addSuppressed(x) }
          }
          builtOnQueryThread.remove()
          throw e
      }
      builtOnQueryThread.set(s :: builtOnQueryThread.get)
      s
    }

  /** Per-listener counters (keyed by the source's `name` option) — the
    * reference runs one goflow FlowRoutine per listen URL and Prometheus
    * labels its counters per listener. They are the only drop/miss
    * counters: the process-wide totals below are sums over them. Created
    * on stream start and kept after stop (counters are process-lifetime,
    * like the reference's).
    *
    * `templateMisses` counts v9/IPFIX data packets refused at admission
    * because their template has not arrived yet (the exporter's periodic
    * template re-send resolves this — RFC 3954 §5; goflow errors these the
    * same way).
    */
  final class ListenerStats {
    val received = new LongAdder
    val dropped = new LongAdder
    val templateMisses = new LongAdder
  }
  private val perListener = new ConcurrentHashMap[String, ListenerStats]()
  private[sources] def statsFor(name: String): ListenerStats =
    perListener.computeIfAbsent(name, _ => new ListenerStats)
  /** Sorted snapshot for /metrics rendering. */
  def listenerStats: Seq[(String, ListenerStats)] = {
    import scala.jdk.CollectionConverters._
    perListener.entrySet().asScala.map(e => (e.getKey, e.getValue))
      .toSeq.sortBy(_._1)
  }
  /** Dropped datagrams, summed over listeners. */
  def dropped: Long = listenerStats.map(_._2.dropped.sum()).sum
  /** Template misses, summed over listeners. */
  def templateMisses: Long = listenerStats.map(_._2.templateMisses.sum()).sum

  /** Entries an sFlow counter registry holds before it evicts. */
  private[graft] val RegistryCap = 65536

  /** Each sFlow counter registry for `/metrics`: its `registry` label,
    * the map, and the count of entries its cap has evicted.
    */
  private[graft] val counterRegistries =
    ArrayBuffer.empty[(String, java.util.Map[_, _], LongAdder)]

  /** Latest generic interface counters per (agent, ifIndex), parsed from
    * sFlow COUNTER samples on the receiver thread (flows rows never carry
    * them; Prometheus gauges do — [[graft.streaming.MetricsServer]]).
    * Bounded LRU: a collector fleet sees thousands of interfaces, not
    * unbounded ones, and stale interfaces age out.
    */
  private def boundedLru[K, V](name: String): java.util.Map[K, V] = {
    val evicted = new LongAdder
    val m = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > RegistryCap && { evicted.increment(); true }
      })
    counterRegistries += ((name, m, evicted))
    m
  }

  val ifCounters: java.util.Map[(String, Long), SFlowV5.IfCounters] =
    boundedLru("if")

  /** Ethernet dot3Stats per (agent, source index) — counter record format
    * 2; attributed by the SAMPLE's source because the record itself
    * carries no ifIndex (goflow v3.4.5 decodes the same struct).
    */
  val ethCounters: java.util.Map[(String, Long), SFlowV5.EthernetCounters] =
    boundedLru("eth")

  /** Per-VLAN tallies per (agent, vlanId) — counter record format 5. */
  val vlanCounters: java.util.Map[(String, Long), SFlowV5.VlanCounters] =
    boundedLru("vlan")

  /** Agent CPU/memory per agent — counter record format 1001. */
  val procCounters: java.util.Map[String, SFlowV5.ProcessorCounters] =
    boundedLru("proc")
}

final class UdpFlowTable(extended: Boolean = false) extends Table with SupportsRead {
  private def tableSchema: StructType =
    if (extended) FlowSchema.rawExtendedSchema else FlowSchema.rawSchema
  override def name(): String = "nflv5-udp"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          UdpFlowSource.built(new UdpFlowStream(
            options.getOrDefault("host", "127.0.0.1"),
            options.getInt("port", 0),
            options.getOrDefault("name", "default"),
            options.getLong("maxPacketsPerBatch", 1000L),
            options.getInt("numPartitions", 4),
            options.getBoolean("dedupSequence", false),
            options.getInt("maxBufferedPackets", 1000000),
            options.getOrDefault("scheme", "any"),
            options.getBoolean("extended", false),
            // opt-in: persist the v9/IPFIX template registry beside the
            // query checkpoint so a restarted collector decodes data
            // records BEFORE the exporter's next periodic re-announcement
            // (default OFF = RFC 3954 §5 wait-for-re-export, goflow parity)
            if (options.getBoolean("persistTemplates", false))
              Some(checkpointLocation)
            else None))
      }
    }
}

/** Offset = cumulative count of admitted packets. */
final case class UdpOffset(count: Long) extends Offset {
  override def json(): String = count.toString
}

/** One decode task: a slice of raw datagrams (with sender addresses) plus
  * the template snapshot current at planning time, serialized driver →
  * executor. Templates are keyed sender → (sourceId, templateId) so the
  * per-packet executor lookup is one map hit, not a scan — a few hundred
  * bytes even for a busy exporter fleet, negligible next to the packets.
  */
final case class UdpPacketsPartition(packets: Array[(Array[Byte], Array[Byte])],
    templates: Map[String, Map[(Long, Int), NetFlowV9.Template]],
    samplingRates: Map[String, Map[Long, Long]])
  extends InputPartition

final class UdpFlowStream(host: String, bindPort: Int, val name: String,
    maxPacketsPerBatch: Long, numParts: Int, dedupSequence: Boolean,
    maxBufferedPackets: Int = 1000000, scheme: String = "any",
    extended: Boolean = false, templateStatePath: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  require(Set("any", "sflow", "netflow", "nfl").contains(scheme),
    s"unknown scheme '$scheme' (reference main.go:241 exits the same way); " +
      "expected sflow | netflow | nfl | any")

  // ---- receiver (driver side) ----
  private val socket = new DatagramSocket(bindPort, InetAddress.getByName(host))
  socket.setReceiveBufferSize(8 * 1024 * 1024)
  /** The bound UDP port (the actual one when `bindPort` is 0). */
  def port: Int = socket.getLocalPort
  /** Every counter this stream touches. */
  val stats: UdpFlowSource.ListenerStats = UdpFlowSource.statsFor(name)
  private def drop(): Unit = stats.dropped.increment()

  /** Buffered (packet, sender) pairs; `base` = offset of buffer head. */
  private val buf = new ArrayBuffer[(Array[Byte], Array[Byte])]()
  private var base = 0L
  /** Offsets persist across restarts (checkpointed by the engine) but a
    * fresh stream's buffer starts at 0 — the FIRST engine call after a
    * checkpoint restart rebases the buffer head: to the committed offset
    * (latestOffset path — new packets continue the numbering), or to the
    * END of a replayed uncommitted range (planInputPartitions path — the
    * replay is served empty, see there). Without the rebase the slice
    * math would silently skip that many NEW packets.
    */
  private var rebased = false
  private def rebaseTo(start: Long): Unit = synchronized {
    if (!rebased) { base = start; rebased = true }
  }
  /** Bounded LRU (sender, version, sourceId, sequence) set — dedup state
    * must not grow without limit on an unbounded stream (the q50 lesson
    * applied to the source): oldest entries age out past 4× the buffer
    * bound, which covers any replay window a re-sending exporter would use.
    * sourceId is in the key because RFC 3954 §5.1 / RFC 7011 §3.1 sequence
    * numbers count per observation domain — two domains behind one exporter
    * IP legitimately reuse sequences (0 for v5/sFlow, which have no domain).
    */
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.LinkedHashMap[(String, Int, Long, Long), java.lang.Boolean]() {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, Long, Long), java.lang.Boolean]): Boolean =
        size() > 4 * maxBufferedPackets
    })
  /** v9/IPFIX templates learned on the receiver thread, keyed per sender
    * (immutable inner maps: per-packet admission reads are one lookup, and
    * the planning snapshot copies only the outer map).
    */
  private val templates =
    scala.collection.mutable.Map.empty[String, Map[(Long, Int), NetFlowV9.Template]]
  /** sender → (sourceId → sampling rate announced via options data). */
  private val samplingRates =
    scala.collection.mutable.Map.empty[String, Map[Long, Long]]
  @volatile private var closed = false

  /** Executor-side decode counters. [[stats]] lives in the DRIVER JVM —
    * an executor incrementing its own copy would be invisible to /metrics
    * on a real cluster, so the reader reports through accumulators and
    * [[commit]] folds the deltas into [[stats]].
    */
  private val execDropped =
    org.apache.spark.sql.SparkSession.active.sparkContext
      .longAccumulator(s"graft.udp.decode.dropped.$name")
  private val execMisses =
    org.apache.spark.sql.SparkSession.active.sparkContext
      .longAccumulator(s"graft.udp.decode.templateMisses.$name")
  private var syncedExecDropped = 0L
  private var syncedExecMisses = 0L

  private val receiver = new Thread(s"nflv5-udp-receiver-$name") {
    override def run(): Unit = {
      val recv = new Array[Byte](65536) // max UDP datagram
      while (!closed) {
        try {
          val dp = new DatagramPacket(recv, recv.length)
          socket.receive(dp)
          val bytes = util.Arrays.copyOfRange(recv, 0, dp.getLength)
          val sender = dp.getAddress.getAddress
          // the SAME rendering executors use for template lookup —
          // getHostAddress would carry a '%zone' suffix for scoped IPv6
          // senders and the executor's key would never match
          classify(bytes, graft.functions.IpUtil.bytesToIpString(sender)).foreach { dedupKey =>
            UdpFlowStream.this.synchronized {
              // bounded buffer: when the engine can't keep up, drop like
              // the kernel socket buffer would (at-most-once UDP; counted).
              // The dedup key is claimed ONLY on actual append — claiming it
              // for a buffer-full drop would refuse every re-sent copy of
              // that packet forever, wedging the blind-re-send contract.
              if (buf.length >= maxBufferedPackets) drop()
              else if (dedupKey.forall(seen.add)) {
                buf += ((bytes, sender)); stats.received.increment()
              }
              // else: duplicate sequence — silently refused (replayable send)
            }
          }
        } catch {
          case _: java.net.SocketException if closed => // shutdown
          case _: Exception if !closed => drop()
        }
      }
    }
  }
  // ---- opt-in template-registry persistence (VERDICT r09 #6 option) ----
  // The registry is tiny (a few hundred bytes per exporter) and changes
  // rarely (once per new template/rate, not per packet), so it is written
  // whole on every CHANGE — via the Hadoop FileSystem of the checkpoint
  // path, so it lands wherever the checkpoint does (HDFS/S3 on a real
  // cluster) with the same tmp+rename crash discipline as the offsets log.
  // Line format, one entry per line:
  //   T|sender|sourceId|templateId|isOptions|fid:len,fid:len,...
  //   R|sender|sourceId|samplingRate
  private val templateStateFile: Option[org.apache.hadoop.fs.Path] =
    templateStatePath.map(p =>
      new org.apache.hadoop.fs.Path(p, "graft_nfv9_templates"))

  /** Hadoop conf captured ONCE at stream construction, where an active
    * session is guaranteed (the engine calls toMicroBatchStream on the
    * driver) — resolving `SparkSession.active` per write on the receiver
    * daemon thread would turn a session-shutdown race into a persist
    * failure (and a silent cold start on next boot) (ADVICE r10).
    */
  private val templateStateConf: Option[org.apache.hadoop.conf.Configuration] =
    templateStateFile.map(_ =>
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        // no session (direct construction in tests / tooling): a default
        // conf still resolves local paths; cluster deployments always
        // construct through the engine, where a session exists
        .getOrElse(new org.apache.hadoop.conf.Configuration()))

  private def templateStateFs: org.apache.hadoop.fs.FileSystem =
    templateStateFile.get.getFileSystem(templateStateConf.get)

  /** Single writer thread for registry snapshots: the snapshot is BUILT
    * under the stream lock (callers hold it), but the filesystem write
    * happens here — classify, latestOffset/planInputPartitions and commit
    * all contend on that lock, so a slow or hung checkpoint filesystem
    * (S3/HDFS hiccup) must never stall packet admission or micro-batch
    * planning into kernel-level UDP drops (ADVICE r10). One thread keeps
    * writes in lock order, so the last rename is always the latest state;
    * stop() drains the queue, keeping restart tests deterministic.
    */
  private val persistExec: Option[java.util.concurrent.ExecutorService] =
    templateStateFile.map { _ =>
      java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, s"graft-udp-$name-tmpl-persist")
        t.setDaemon(true); t
      })
    }

  /** Called with the classify lock held; rare (registry changes only).
    * Serializes the registry under the lock, then hands the write off.
    */
  private def persistTemplateState(): Unit = templateStateFile.foreach { _ =>
    val sb = new StringBuilder
    templates.foreach { case (sender, m) =>
      m.foreach { case ((sid, _), t) =>
        sb.append("T|").append(sender).append('|').append(sid).append('|')
          .append(t.id).append('|').append(if (t.isOptions) 1 else 0).append('|')
          .append(t.fields.map(fl => s"${fl._1}:${fl._2}").mkString(","))
          .append('\n')
      }
    }
    samplingRates.foreach { case (sender, m) =>
      m.foreach { case (sid, rate) =>
        sb.append("R|").append(sender).append('|').append(sid).append('|')
          .append(rate).append('\n')
      }
    }
    // end-of-snapshot marker: E|<line count>. Line-oriented parsing
    // accepts any prefix truncated at a newline / mid-number / comma
    // boundary as "valid", so completeness must be EXPLICIT — the loader
    // requires this marker before trusting a recovered .tmp (review r11:
    // without it, a first-ever write killed mid-stream could load a
    // truncated rate or a misaligned shorter template silently).
    val nLines = sb.toString.linesIterator.size
    sb.append("E|").append(nLines).append('\n')
    val snapshot = sb.toString
    // stop() may have shut the executor down while the receiver was mid-
    // classify — losing that final snapshot degrades to re-learn (the
    // declared fallback); killing the receiver thread on the rejection
    // would not (the loop's catch arms don't match once closed=true)
    try persistExec.foreach(_.execute(() => writeTemplateSnapshot(snapshot)))
    catch { case _: java.util.concurrent.RejectedExecutionException => }
  }

  /** Runs on [[persistExec]] only — off the stream lock. */
  private def writeTemplateSnapshot(snapshot: String): Unit =
    templateStateFile.foreach { f =>
      try {
        val fs = templateStateFs
        val tmp = new org.apache.hadoop.fs.Path(f.getParent, f.getName + ".tmp")
        val out = fs.create(tmp, true)
        try out.write(snapshot.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // Hadoop reports failure by RETURNING false, not throwing (the
        // load-path promotion handles the same contract) — a false rename
        // leaves no target file, so it must be logged or persistence
        // failure is invisible until a cold restart (ADVICE r11).
        // delete's false is normal on the first-ever write (no target yet).
        fs.delete(f, false)
        if (!fs.rename(tmp, f))
          System.err.println(s"[udp:$name] template-state rename $tmp -> $f " +
            "returned false — no snapshot at the target; next restart " +
            "recovers from the complete tmp or re-learns")
      } catch {
        // persistence is an availability optimization, never a correctness
        // dependency: on failure the collector degrades to wait-for-re-export
        case e: Exception =>
          System.err.println(s"[udp:$name] template-state write failed: $e")
      }
    }

  private def loadTemplateState(): Unit = templateStateFile.foreach { f =>
    try {
      val fs = templateStateFs
      // crash-window recovery: a writer killed between delete(target) and
      // rename(tmp, target) leaves no target but a COMPLETE tmp — recover
      // it rather than cold-starting. A tmp is trusted ONLY if it carries
      // the end-of-snapshot marker with a matching line count (truncation
      // at a line / number / comma boundary would otherwise parse as a
      // silently-shorter registry — review r11); the target needs no
      // marker (it is created solely by renaming a fully-closed tmp, and
      // pre-marker files must keep loading). A recovered tmp is promoted
      // to the target so the next write's create(tmp, overwrite) cannot
      // truncate the only surviving copy.
      val tmp = new org.apache.hadoop.fs.Path(f.getParent, f.getName + ".tmp")
      val fromTmp = !fs.exists(f) && fs.exists(tmp)
      val src = if (fs.exists(f)) f else if (fromTmp) tmp else null
      if (src != null) {
        val in = fs.open(src)
        val txt =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val lines = txt.linesIterator.filter(_.nonEmpty).toVector
        val marked = lines.lastOption.exists(_.startsWith("E|"))
        if (fromTmp) {
          require(marked &&
            lines.last == s"E|${lines.size - 1}",
            s"recovered tmp lacks a complete end-of-snapshot marker")
        }
        val body = if (marked) lines.dropRight(1) else lines
        body.foreach { line =>
          line.split('|') match {
            case Array("T", sender, sid, tid, opts, fieldSpec) =>
              val fields =
                if (fieldSpec.isEmpty) Seq.empty[(Int, Int)]
                else fieldSpec.split(',').toSeq.map { fl =>
                  val Array(a, b) = fl.split(':'); (a.toInt, b.toInt)
                }
              val t = NetFlowV9.Template(tid.toInt, fields, opts == "1")
              templates(sender) =
                templates.getOrElse(sender, Map.empty) + ((sid.toLong, t.id) -> t)
            case Array("T", sender, sid, tid, opts) => // zero-field template
              val t = NetFlowV9.Template(tid.toInt, Seq.empty, opts == "1")
              templates(sender) =
                templates.getOrElse(sender, Map.empty) + ((sid.toLong, t.id) -> t)
            case Array("R", sender, sid, rate) =>
              samplingRates(sender) =
                samplingRates.getOrElse(sender, Map.empty) + (sid.toLong -> rate.toLong)
            case _ =>
              throw new IllegalArgumentException(s"bad template-state line: $line")
          }
        }
        if (fromTmp) {
          // promote the recovered complete tmp to the target (parse
          // succeeded, so the content is proven whole). Hadoop rename
          // reports failure by RETURNING false, not throwing — and an
          // unpromoted tmp is the only surviving copy, which the next
          // write's create(tmp, overwrite) would truncate
          if (!fs.rename(tmp, f))
            System.err.println(s"[udp:$name] template-state tmp promotion " +
              "failed — registry loaded, but the on-disk copy stays at risk")
        }
      }
    } catch {
      case e: Exception => // corrupt state = cold start, not a crash loop
        System.err.println(s"[udp:$name] template-state load failed " +
          s"(cold start, will re-learn): $e")
        templates.clear(); samplingRates.clear()
    }
  }
  loadTemplateState()

  receiver.setDaemon(true)
  receiver.start()

  /** Receiver-thread admission: version sniff (garbage never occupies
    * buffer), v9/IPFIX template learning, refusal of data packets whose
    * template is still unknown (the re-sent copy after the template lands
    * is admitted — RFC 3954 §5 periodic template export). Returns `None`
    * when the datagram is refused (already counted), else the dedup key the
    * receiver loop must claim at append time: `Some(None)` = admit without
    * dedup (dedup off, or a template-only packet, which is idempotent);
    * `Some(Some(k))` = admit iff `k` is unseen. The key is NOT claimed
    * here — admission and the buffer-capacity check must be atomic, or a
    * full-buffer drop leaves the sequence marked seen and the re-send is
    * refused forever.
    */
  private def classify(bytes: Array[Byte],
      senderKey: String): Option[Option[(String, Int, Long, Long)]] = {
    if (bytes.length < 16) { drop(); return None }
    val version = ((bytes(0) & 0xff) << 8) | (bytes(1) & 0xff)
    // per-listener scheme restriction (reference parity: each listen URL
    // runs ONE decoder state — goflow's StateSFlow/StateNetFlow/StateNFLegacy
    // each reject other versions; `any` keeps the single-socket auto-detect)
    val schemeOk = scheme match {
      case "sflow" => version == 0
      case "nfl" => version == 5
      case "netflow" => version == 9 || version == 10
      case _ => true
    }
    if (!schemeOk) { drop(); return None }
    def seqAt(off: Int): Long =
      ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
        ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)
    def key(v: Int, sourceId: Long, seq: Long): Option[(String, Int, Long, Long)] =
      if (dedupSequence) Some((senderKey, v, sourceId, seq)) else None
    version match {
      case 0 => // sFlow: version is a u32, so the first u16 reads 0
        if (bytes.length < 28 ||
            (((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)) != 5) {
          drop(); return None
        }
        // counter samples are receiver state (→ Prometheus gauges), like
        // templates; the scan is a cheap skip-by-length pass. Labeled by
        // the AGENT address in the datagram, not the UDP sender — a
        // sub-agent/proxy forwards for the true agent.
        val (agentAddr, counters, hasFlowSamples) = SFlowV5.decodeCounters(bytes)
        val agentKey = graft.functions.IpUtil.bytesToIpString(agentAddr)
        counters.ifc.foreach(c => UdpFlowSource.ifCounters.put((agentKey, c.ifIndex), c))
        counters.eth.foreach { case (src, c) =>
          UdpFlowSource.ethCounters.put((agentKey, src), c)
        }
        counters.vlan.foreach(c => UdpFlowSource.vlanCounters.put((agentKey, c.vlanId), c))
        counters.proc.foreach(c => UdpFlowSource.procCounters.put(agentKey, c))
        if (counters.nonEmpty && !hasFlowSamples) {
          None // counters-only datagram: fully consumed here, zero flows rows
        } else {
          // datagram sequence counts PER SUB-AGENT (sFlow v5 §3.5.1) and
          // sits after the agent address (4B or 16B), preceded by the
          // subAgentId — two line cards behind one chassis IP legitimately
          // reuse sequences, so the sub-agent id is the domain slot
          val agentLen = if (bytes(7) == 2) 16 else 4
          Some(key(0, seqAt(8 + agentLen), seqAt(12 + agentLen)))
        }
      case 5 =>
        if (bytes.length < NetFlowV5.HeaderBytes) {
          drop(); return None
        }
        // flow_sequence counts per engine: (engine_type, engine_id) at
        // bytes 20-21 is the v5 domain
        val engine = (((bytes(20) & 0xffL) << 8) | (bytes(21) & 0xffL))
        Some(key(5, engine, seqAt(16)))
      case 9 | 10 =>
        try {
          val (learned, malformed) = NetFlowV9.readTemplates(bytes)
          if (malformed > 0) stats.dropped.add(malformed)
          val (sourceId, dataIds) = NetFlowV9.dataSetIds(bytes)
          synchronized {
            val senderTmpl = {
              val cur = templates.getOrElse(senderKey, Map.empty)
              if (learned.isEmpty) cur
              else {
                val upd = cur ++ learned.map { case (sid, t) => (sid, t.id) -> t }
                templates(senderKey) = upd
                // write-through only when the registry actually CHANGED —
                // periodic identical re-announcements must not rewrite
                if (upd != cur) persistTemplateState()
                upd
              }
            }
            // exporter-announced sampling rates (options data) are receiver
            // state, like templates; only data-carrying packets can hold
            // options data, so the scan is skipped for template-only ones
            if (dataIds.nonEmpty) {
              NetFlowV9.samplingFromOptions(bytes, senderTmpl).foreach {
                case (sid, rate) =>
                  val cur = samplingRates.getOrElse(senderKey, Map.empty)
                  if (cur.get(sid) != Some(rate)) {
                    samplingRates(senderKey) = cur + (sid -> rate)
                    persistTemplateState()
                  }
              }
            }
            if (!dataIds.forall(id => senderTmpl.contains((sourceId, id)))) {
              stats.templateMisses.increment()
              None // refuse: the re-send (post-template) will be admitted
            } else if (dataIds.isEmpty) {
              Some(None) // template-only packet: idempotent, never deduped
            } else {
              Some(key(version, sourceId, seqAt(if (version == 9) 12 else 8)))
            }
          }
        } catch {
          case _: Exception => drop(); None
        }
      case _ => drop(); None
    }
  }

  // ---- micro-batch contract ----
  override def initialOffset(): Offset = UdpOffset(0L)
  override def deserializeOffset(json: String): Offset = UdpOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPacketsPerBatch)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[UdpOffset].count
    rebaseTo(s)
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => maxPacketsPerBatch
    }
    val received = synchronized { base + buf.length }
    UdpOffset(math.min(received, s + cap))
  }

  override def reportLatestOffset(): Offset =
    UdpOffset(synchronized { base + buf.length })

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[UdpOffset].count
    val e = end.asInstanceOf[UdpOffset].count
    // Replay of the last uncommitted batch after a restart: the datagrams
    // that range named are GONE (at-most-once UDP) — rebase the fresh
    // buffer head to the END of the range so the replay is served EMPTY.
    // Refilling it with new packets would relabel never-delivered data
    // into an already-delivered batchId, which a batchId-keyed idempotent
    // sink would then silently discard (see class scaladoc).
    rebaseTo(e)
    if (e <= s) return Array.empty
    val (slice, tmpl, rates) = synchronized {
      (buf.slice((s - base).toInt, (e - base).toInt).toArray,
        templates.toMap, samplingRates.toMap)
    }
    if (slice.isEmpty) return Array.empty
    val n = math.max(1, math.min(numParts, slice.length))
    (0 until n).map { p =>
      UdpPacketsPartition(
        slice.slice(slice.length * p / n, slice.length * (p + 1) / n), tmpl, rates)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // captured into the serialized factory: executors report decode-path
    // counters through these, never through their own JVM's statics
    val drops = execDropped
    val misses = execMisses
    val toRow: NetFlowV5.RawFlow => InternalRow =
      if (extended) NetFlowV5.toInternalRowExtended else NetFlowV5.toInternalRow
    (partition: InputPartition) => {
      val part = partition.asInstanceOf[UdpPacketsPartition]
      val pkts = part.packets
      new PartitionReader[InternalRow] {
        private val rows = pkts.iterator.flatMap { case (bytes, sender) =>
          try {
            val version = ((bytes(0) & 0xff) << 8) | (bytes(1) & 0xff)
            val flows =
              if (version == 0) // sFlow u32 version marker
                SFlowV5.decode(bytes, sender, System.currentTimeMillis() / 1000L)
              else if (version == 5) NetFlowV5.decode(bytes, sender)
              else {
                // executor-side decode against the shipped template snapshot
                val senderKey = graft.functions.IpUtil.bytesToIpString(sender)
                val tmpl = part.templates.getOrElse(senderKey, Map.empty)
                val rates = part.samplingRates.getOrElse(senderKey, Map.empty)
                val (fs, missed) = NetFlowV9.decode(bytes, sender, tmpl, rates)
                if (missed > 0) misses.add(missed)
                fs
              }
            flows.iterator.map(toRow)
          } catch {
            // ANY per-packet decode failure must drop the packet, never the
            // task: an uncaught exception here fails every task retry
            // identically (same serialized partition) and kills the whole
            // streaming query — a single crafted datagram as remote DoS
            case scala.util.control.NonFatal(_) =>
              drops.add(1); Iterator.empty
          }
        }
        private var cur: InternalRow = _
        override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }

  /** Trim committed packets: bounds driver memory to in-flight batches.
    * Clamped: a replayed batch committed right after a restart can claim
    * more packets than the fresh buffer holds. Also folds the deltas of
    * the executor-side decode accumulators into [[stats]], which /metrics
    * serves (accumulator values are driver-readable here).
    */
  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[UdpOffset].count
    val n = math.max(0, math.min((e - base).toInt, buf.length))
    if (n > 0) buf.remove(0, n)
    if (e > base) base = e
    val d = execDropped.value
    if (d > syncedExecDropped) {
      stats.dropped.add(d - syncedExecDropped)
      syncedExecDropped = d
    }
    val m = execMisses.value
    if (m > syncedExecMisses) {
      stats.templateMisses.add(m - syncedExecMisses)
      syncedExecMisses = m
    }
  }

  /** Test-only visibility (UdpChaosSpec): the two receiver-side state
    * structures whose declared bounds the saturation test asserts.
    */
  private[sources] def bufferedCount: Int = synchronized(buf.length)
  private[sources] def seenSize: Int = synchronized(seen.size)

  override def stop(): Unit = {
    closed = true
    socket.close()
    // drain pending registry snapshots so a restart (or a test asserting
    // on the file) sees the last enqueued state — but BOUNDED (ADVICE r11):
    // a hung checkpoint filesystem is the very scenario the async writer
    // exists for, so it must not stall stream shutdown for 30 s either.
    // 5 s covers any healthy write; past that, force-stop and say so (the
    // declared degradation is re-learn on restart).
    persistExec.foreach { e =>
      e.shutdown()
      if (!e.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)) {
        val dropped = e.shutdownNow().size()
        System.err.println(s"[udp:$name] template-state writer did not " +
          s"drain in 5 s — forced shutdown, $dropped queued snapshot(s) " +
          "dropped (restart re-learns)")
      }
    }
  }
}
