package graft.flowbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sources.UdpFlowSource
import graft.streaming.FlowCollector

/** Every progress event of the session's streaming queries, kept in
  * memory. The collector workload reads batch commits from it; the traced
  * runs read per-batch phase times and state-operator metrics.
  */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: IndexedSeq[StreamingQueryProgress] = events.asScala.toIndexedSeq
  def size: Int = events.size
  def since(n: Int): IndexedSeq[StreamingQueryProgress] = all.drop(n)
}

object ProgressLog {
  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  def commitMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L)
  def phaseMs(p: StreamingQueryProgress, phase: String): Double =
    p.durationMs.getOrDefault(phase, 0L).toDouble
}

/** One running collector under test: three scheme-restricted listeners
  * started by the public `FlowCollector.startUrls`, the shipped
  * normalize and parquet sink, and one sending socket.
  */
final class Collector(spark: SparkSession, log: ProgressLog, dir: String,
    name: String) {
  import Collector._

  val running: FlowCollector.Running = FlowCollector.startUrls(spark,
    Traffic.schemes.map(s => s"$s://127.0.0.1:0").mkString(","),
    outDir = s"$dir/out", checkpoint = s"$dir/cp", name = name,
    batchMaxTime = s"$TriggerMs milliseconds",
    maxPacketsPerBatch = AdmissionCap, numPartitions = 4)
  private val ports = running.listeners.map(_.port).toIndexedSeq
  private val statNames = running.listeners.map(_.name).toIndexedSeq
  private val sock = new DatagramSocket()
  sock.setSendBufferSize(4 << 20)
  private val loopback = InetAddress.getByName("127.0.0.1")

  /** Packets sent to each listener so far: the next packet's offset. */
  val sentTo: Array[Long] = Array.fill(3)(0L)
  private var lastTemplatesNs = 0L
  val lateness = new Timeline.Lateness

  def outDir: String = s"$dir/out"

  private def sendTo(listener: Int, bytes: Array[Byte]): Long = {
    sock.send(new DatagramPacket(bytes, bytes.length, loopback, ports(listener)))
    val off = sentTo(listener); sentTo(listener) += 1; off
  }

  /** Re-announce every template (RFC 3954 §5: exporters resend them
    * periodically), at most every [[TemplateEveryNs]].
    */
  private def announce(force: Boolean): Unit = {
    val now = System.nanoTime()
    if (force || now - lastTemplatesNs >= TemplateEveryNs) {
      Traffic.templates.foreach(t => sendTo(1, t))
      lastTemplatesNs = now
    }
  }

  private def stats(i: Int) =
    UdpFlowSource.listenerStats.toMap.apply(statNames(i))

  def received: Long = (0 until 3).map(i => stats(i).received.sum()).sum
  def dropped: Long = (0 until 3).map(i => stats(i).dropped.sum()).sum
  def templateMisses: Long = (0 until 3).map(i => stats(i).templateMisses.sum()).sum

  def progress: IndexedSeq[StreamingQueryProgress] =
    log.all.filter(_.id == running.query.id)

  /** Per-listener end offset of a batch, in `startUrls` listen order (the
    * union's source order); [[checkSourceOrder]] proves the order.
    */
  def endOffsets(p: StreamingQueryProgress): IndexedSeq[Long] =
    p.sources.toIndexedSeq.map(s => Option(s.endOffset).map(_.trim.toLong).getOrElse(0L))

  /** Packets waiting at the sources when the batch was planned: received
    * past the last batch (`latestOffset - startOffset`), summed over the
    * listeners. The batch takes them all unless the admission cap binds,
    * so `latestOffset - endOffset` alone reads 0 below the cap.
    */
  def backlogPkts(p: StreamingQueryProgress): Long =
    p.sources.map { s =>
      def off(o: String) = Option(o).map(_.trim.toLong).getOrElse(0L)
      math.max(0L, off(s.latestOffset) - off(s.startOffset))
    }.sum

  /** Wait until every packet that arrived is committed and arrivals have
    * stopped; false on timeout.
    */
  def drain(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stable = 0
    var last = -1L
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      val rx = received
      val committed = progress.lastOption.map(endOffsets(_).sum).getOrElse(0L)
      if (rx == last && committed == rx) stable += 1 else stable = 0
      last = rx
      if (stable >= 3) return true
    }
    false
  }

  /** Each source's committed end offset equals what its listener received
    * once drained; this pins which progress source is which listener.
    */
  def checkSourceOrder(): Unit = {
    val ends = progress.lastOption.map(endOffsets).getOrElse(IndexedSeq.empty)
    val rx = (0 until 3).map(i => stats(i).received.sum())
    require(ends == rx,
      s"progress sources $ends do not line up with listeners $rx")
  }

  /** Send `phase` open-loop: each datagram is due when the rows before it
    * reach `rate`; the generator waits for the due time, never skips.
    */
  def run(phase: Phase): Unit = {
    announce(force = true)
    val n = phase.datagrams.length
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    var rows = 0L
    var i = 0
    while (i < n) {
      val d = phase.datagrams(i)
      val due = t0 + Timeline.dueNanos(rows, phase.rate)
      // park, never spin: a spinning generator would take a core from
      // the collector it measures; a park overshoots by tens of µs, which
      // the due-time latency and the lateness record both count
      var now = System.nanoTime()
      while (now < due) {
        LockSupport.parkNanos(due - now)
        now = System.nanoTime()
      }
      announce(force = false)
      val l = Traffic.listenerOf(d.kind)
      phase.listener(i) = l
      phase.offset(i) = sendTo(l, d.bytes)
      lateness.record(due, System.nanoTime())
      phase.dueMs(i) = wall0 + (due - t0) / 1e6
      rows += d.rows
      i += 1
    }
  }

  /** Commit time of each datagram of `phase` (-1 = not committed). */
  def commits(phase: Phase): Array[Long] = {
    val ps = progress
    val ends = (0 until 3).map(l =>
      ps.map(p => (endOffsets(p)(l), ProgressLog.commitMs(p))))
    Array.tabulate(phase.datagrams.length)(i =>
      Timeline.commitOf(ends(phase.listener(i)), phase.offset(i)))
  }

  def stop(): Unit = {
    try running.stop(spark) finally sock.close()
  }
}

object Collector {
  val TriggerMs = 250
  /** Packets per listener per batch: well above a second of the top rung,
    * so admission never binds below it.
    */
  val AdmissionCap = 200000L
  val TemplateEveryNs = 500L * 1000 * 1000
  val SteadyRate = 50000.0
  val PeakRate = 300000.0
  /** p99 limit of a sustained rung: a fifth of the reference's 10 s
    * batch-max-time.
    */
  val LimitMs = 2000.0
  val LadderBase = 50000.0
  val LadderRatio = 1.25
  val LadderMax = 1600000.0
  /** Rungs tried per run: from the peak rung, a bisection over the 16
    * rungs narrows the highest sustained one to within a rung or two.
    */
  val MaxRungs = 3
  /** A rung lasts this share of `--seconds`: long enough for several
    * micro-batches even at the top rungs, where one takes about a second.
    */
  val RungShare = 0.5
  val DrainTimeoutMs = 20000L
  /** Setup traffic uses its own sequence range, never checked. */
  val WarmupSeqBase = 2000000000L

  /** One open-loop phase at a fixed row rate; the send fills in each
    * datagram's listener, offset and due time.
    */
  final class Phase(val name: String, val rate: Double,
      val datagrams: Array[Traffic.Datagram]) {
    val listener = new Array[Int](datagrams.length)
    val offset = new Array[Long](datagrams.length)
    val dueMs = new Array[Double](datagrams.length)
    def rows: Long = datagrams.iterator.map(_.rows.toLong).sum
    /** Drop the payloads once sent; the checks need only the metadata. */
    def release(): Unit = {
      var i = 0
      while (i < datagrams.length) {
        datagrams(i) = datagrams(i).copy(bytes = null); i += 1
      }
    }
  }

  /** Datagrams for `seconds` at `rate`, sequence numbers from `firstSeq`. */
  def phase(name: String, seed: Long, rate: Double, seconds: Double,
      firstSeq: Long): Phase = {
    val target = (rate * seconds).toLong
    val out = ArrayBuffer.empty[Traffic.Datagram]
    var rows = 0L
    var seq = firstSeq
    while (rows < target) {
      val d = Traffic.datagram(seed, seq)
      out += d; rows += d.rows; seq += 1
    }
    new Phase(name, rate, out.toArray)
  }
}
