package graft.flowbench

/** Open-loop schedule, generator lateness, and the mapping from a
  * datagram to the commit of the micro-batch that carried its rows.
  * Pure functions of their inputs, unit-tested in TimelineSpec.
  */
object Timeline {

  /** Nanoseconds after a phase starts at which the datagram that follows
    * `rowsBefore` rows is due, at `rowsPerSec`. Scheduling by rows, not
    * datagrams, keeps the offered row rate exact under a mix of datagram
    * sizes.
    */
  def dueNanos(rowsBefore: Long, rowsPerSec: Double): Long =
    (rowsBefore.toDouble * 1e9 / rowsPerSec).toLong

  /** How late the open-loop generator ran: each send is compared with the
    * time it was due. A send is never early (the generator waits for the
    * due time), so lateness is `sent - due`, floored at 0.
    */
  final class Lateness {
    private var n = 0L
    private var maxNs = 0L
    private var lateOver1ms = 0L
    def record(dueNs: Long, sentNs: Long): Unit = {
      val late = math.max(0L, sentNs - dueNs)
      n += 1
      if (late > maxNs) maxNs = late
      if (late > 1000000L) lateOver1ms += 1
    }
    def count: Long = n
    def maxMs: Double = maxNs / 1e6
    /** Share of sends more than 1 ms behind schedule. */
    def lateFrac: Double = if (n == 0) 0.0 else lateOver1ms.toDouble / n
  }

  /** When the packet at `offset` of one UDP listener was committed. A
    * listener's offsets number its datagrams in arrival order, and on
    * loopback from one sending socket arrival order is send order, so the
    * generator knows each datagram's offset. `ends` holds, per committed
    * micro-batch in batch order, that listener's end offset (exclusive)
    * and the batch's commit time (trigger start + triggerExecution, which
    * covers addBatch, the WAL write and the offset commit). The packet
    * commits with the first batch whose end offset passes it; -1 if none
    * has yet.
    */
  def commitOf(ends: IndexedSeq[(Long, Long)], offset: Long): Long = {
    var lo = 0
    var hi = ends.size - 1
    var found = -1
    while (lo <= hi) { // first batch with endOffset > offset
      val mid = (lo + hi) >>> 1
      if (ends(mid)._1 > offset) { found = mid; hi = mid - 1 }
      else lo = mid + 1
    }
    if (found >= 0) ends(found)._2 else -1L
  }

  /** Latency in ms of each datagram from its due time to its commit; a
    * datagram never committed (`commitMs < 0`) is +Inf, so it misses any
    * limit and sorts past every percentile it affects.
    */
  def latenciesMs(dueMs: Array[Double], commitMs: Array[Long]): Array[Double] = {
    require(dueMs.length == commitMs.length)
    Array.tabulate(dueMs.length) { i =>
      if (commitMs(i) < 0) Double.PositiveInfinity else commitMs(i) - dueMs(i)
    }
  }

  /** Ladder rungs: `base * ratio^i` up to `max`, so adjacent rungs are
    * `ratio` apart.
    */
  def rungs(base: Double, ratio: Double, max: Double): IndexedSeq[Double] =
    Iterator.iterate(base)(_ * ratio).takeWhile(_ <= max * (1 + 1e-9)).toIndexedSeq

  /** Highest share of a rung's datagrams that may be lost (0.1 %). */
  val MaxLoss = 0.001

  /** Batches planned during a rung that the backlog rule needs, counting
    * the first one, which starts from an idle source and is left out.
    */
  val MinRungBatches = 4

  /** A rung sustains its rate when at most [[MaxLoss]] of its datagrams
    * are lost, its p99 latency is within `limitMs`, and its backlog does
    * not grow. `backlogs` holds, in batch order, the packets waiting at
    * the sources when each batch planned while the rung was being sent
    * began. From idle the backlog climbs over the first batches and
    * levels off where a batch's time matches the arrivals it covers; past
    * the collector's capacity it keeps climbing. So the rule reads the
    * rung's end: the last backlog may exceed the one two batches before
    * it by at most `slackPkts` (one trigger interval of arrivals). Too few
    * batches to tell is not sustained.
    */
  def sustains(latInDueOrder: IndexedSeq[Double], lossFrac: Double,
      backlogs: IndexedSeq[Long], slackPkts: Double, limitMs: Double): Boolean = {
    if (latInDueOrder.isEmpty || lossFrac > MaxLoss) return false
    if (Stats.percentile(latInDueOrder, 99.0) > limitMs) return false
    if (backlogs.size < MinRungBatches) return false
    backlogs.last - backlogs(backlogs.size - 3) <= slackPkts
  }
}
