package graft.sources

import java.net.{DatagramPacket, DatagramSocket, InetAddress}

import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.SparkSpec
import graft.sources.{NetFlowV5 => V5, NetFlowV9 => V9}

/** The reference's real production risk (its listener runs for months,
  * `main.go:221-268`): sustained saturation with v5, v9, IPFIX (varlen
  * included), sFlow AND adversarial garbage interleaved, for ≥ 30 s.
  * Asserted invariants:
  *   - the packet buffer NEVER exceeds its declared cap;
  *   - the dedup seen-set NEVER exceeds its 4× bound (state is bounded on
  *     an unbounded stream);
  *   - admitted offsets are monotonic and decoded-row progress continues
  *     through the whole run (garbage never wedges admission or decode);
  *   - malformed datagrams are counted, not fatal — the receiver thread
  *     survives the entire blast.
  *
  * The micro-batch cycle is driven directly (latestOffset → plan → read →
  * commit) so the test reaches the stream's internals; UdpIngestSpec
  * covers the same source under the real engine.
  */
class UdpChaosSpec extends SparkSpec {

  private val BlastNanos = 30_000_000_000L
  private val BufferCap = 2000

  test("30s mixed-protocol saturation with garbage: bounded state, monotonic progress, no fatal") {
    assert(spark.version.nonEmpty) // the stream's accumulators need an active session
    val stream = new UdpFlowStream("127.0.0.1", 0, "chaos", 5000L, 4,
      dedupSequence = true, maxBufferedPackets = BufferCap)
    val sock = new DatagramSocket()
    @volatile var senderDone = false
    @volatile var senderError: Throwable = null
    try {
      val port = stream.port
      val addr = InetAddress.getByName("127.0.0.1")

      val sender = new Thread("chaos-sender") {
        override def run(): Unit = try {
          val rnd = new java.util.Random(7)
          def send(b: Array[Byte]): Unit =
            sock.send(new DatagramPacket(b, b.length, addr, port))
          val v5Recs = (0 until 30).map(i => V5.Rec(
            Array[Byte](10, 0, 0, i.toByte), Array[Byte](10, 0, 1, 1),
            pkts = 1, octets = 500, firstMs = 0, lastMs = 0,
            srcPort = 1000 + i, dstPort = 443, tcpFlags = 18, proto = 6))
          val v9Fields = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 1 -> 4, 4 -> 1)
          def v9Rec(i: Int): Array[Byte] =
            Array(V9.fieldBytes(0x0a000000L + i, 4), V9.fieldBytes(0xc0a80001L, 4),
              V9.fieldBytes(2000 + i, 2), V9.fieldBytes(443, 2),
              V9.fieldBytes(100 + i, 4), V9.fieldBytes(6, 1)).flatten.toArray
          val v9Template = V9.encodeTemplate(9, 1, 310, v9Fields)
          val varlenFields = Seq(8 -> 4, 96 -> 65535, 7 -> 2, 1 -> 4)
          val ipfixTemplate = V9.encodeTemplate(10, 2, 320, varlenFields)
          def ipfixRec(i: Int): Array[Byte] =
            Array(V9.fieldBytes(0x0a010000L + i, 4),
              V9.varlenBytes(s"app-$i".getBytes("UTF-8")),
              V9.fieldBytes(3000 + i, 2), V9.fieldBytes(700 + i, 4)).flatten.toArray
          // a record whose varlen prefix LIES about its length: the decoder
          // must abandon the set with a counted drop, never read past it
          val bogusVarlen = V9.encodeData(10, 2, 320,
            Seq(Array[Byte](10, 1, 0, 9) ++ Array[Byte](250.toByte, 1, 2) ++
              V9.fieldBytes(1, 2) ++ V9.fieldBytes(1, 4)), sequence = 999999L)
          val sflowHdr = SFlowV5.ipv4Frame(Array[Byte](10, 7, 0, 1),
            Array[Byte](10, 8, 0, 1), proto = 6, srcPort = 30000, dstPort = 22,
            tcpFlags = 16)
          var seq = 0L
          val deadline = System.nanoTime() + BlastNanos
          while (System.nanoTime() < deadline) {
            seq += 1
            send(V5.encode(1000L, 1700002000L, 0L, seq, 100, v5Recs))
            if (seq % 50 == 1) { send(v9Template); send(ipfixTemplate) }
            send(V9.encodeData(9, 1, 310, (0 until 4).map(v9Rec),
              sysUptimeMs = 1000L, unixSecs = 1700000300L, sequence = seq))
            send(V9.encodeData(10, 2, 320, (0 until 2).map(ipfixRec),
              unixSecs = 1700000400L, sequence = seq))
            send(SFlowV5.encode(Array[Byte](10, 0, 0, 99), seq, Seq((4096L, 64L, sflowHdr))))
            if (seq % 7 == 0) send(bogusVarlen)
            // garbage volley: random bytes, truncated headers, lying set
            // lengths — admission must sniff or decode must drop, never die
            val g = new Array[Byte](1 + rnd.nextInt(80)); rnd.nextBytes(g); send(g)
            if (seq % 3 == 0) send(Array[Byte](0, 9) ++ new Array[Byte](rnd.nextInt(18)))
            if (seq % 5 == 0) {
              val lying = V9.encodeData(9, 1, 310, Seq(v9Rec(0)), sequence = seq + 500000)
              lying(22) = 0x7f // corrupt the set length field
              send(lying)
            }
            if (seq % 100 == 0) Thread.sleep(1) // let the receiver breathe
          }
        } catch { case t: Throwable => senderError = t } finally senderDone = true
      }

      val limit = ReadLimit.maxRows(5000)
      var committed = 0L
      var decodedRows = 0L
      var cycles = 0
      var maxBuffered = 0
      var maxSeen = 0
      var progressCycles = 0
      sender.start()
      while (!senderDone || {
        val l = stream.latestOffset(UdpOffset(committed), limit)
          .asInstanceOf[UdpOffset].count
        l > committed
      }) {
        val latest = stream.latestOffset(UdpOffset(committed), limit)
          .asInstanceOf[UdpOffset].count
        assert(latest >= committed, s"offset went backwards: $committed -> $latest")
        if (latest > committed) {
          val parts = stream.planInputPartitions(UdpOffset(committed), UdpOffset(latest))
          val factory = stream.createReaderFactory()
          var rows = 0L
          parts.foreach { p =>
            val r = factory.createReader(p)
            try { while (r.next()) rows += 1 } finally r.close()
          }
          stream.commit(UdpOffset(latest))
          committed = latest
          decodedRows += rows
          if (rows > 0) progressCycles += 1
        }
        maxBuffered = math.max(maxBuffered, stream.bufferedCount)
        maxSeen = math.max(maxSeen, stream.seenSize)
        // the two declared bounds, checked CONTINUOUSLY under load
        assert(stream.bufferedCount <= BufferCap,
          s"buffer exceeded cap: ${stream.bufferedCount}")
        assert(stream.seenSize <= 4 * BufferCap,
          s"seen-set exceeded 4x bound: ${stream.seenSize}")
        cycles += 1
        Thread.sleep(20)
      }
      sender.join(10000)
      assert(senderError == null, s"sender died: $senderError")

      // sustained progress: decode advanced across many cycles, not one gulp
      assert(cycles >= 100, s"only $cycles drive cycles in 30s")
      assert(progressCycles >= 50, s"rows advanced in only $progressCycles cycles")
      assert(decodedRows > 50000L, s"only $decodedRows rows decoded under saturation")
      // state actually approached its bounds (the caps were EXERCISED)
      assert(maxSeen > BufferCap, s"seen-set never grew past one buffer ($maxSeen)")
      // the receiver survived the blast and still admits packets
      val before = committed
      val probe = V5.encode(1000L, 1700002000L, 0L, 999999999L, 100,
        Seq(V5.Rec(Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 1, 1),
          pkts = 1, octets = 64, firstMs = 0, lastMs = 0,
          srcPort = 1, dstPort = 2, tcpFlags = 0, proto = 6)))
      sock.send(new DatagramPacket(probe, probe.length, addr, port))
      val deadline2 = System.nanoTime() + 10_000_000_000L
      var after = before
      while (after == before && System.nanoTime() < deadline2) {
        after = stream.latestOffset(UdpOffset(committed), limit)
          .asInstanceOf[UdpOffset].count
        Thread.sleep(10)
      }
      assert(after > before, "receiver no longer admits packets after the blast")
    } finally { sock.close(); stream.stop() }
  }
}
