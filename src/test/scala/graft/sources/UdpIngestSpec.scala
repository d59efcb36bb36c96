package graft.sources

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.file.Paths

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.{FlowSchema, SparkSpec}
import graft.sources.{NetFlowV5 => V5}

/** R1 end-to-end: the NetFlow v5 wire codec and the UDP micro-batch source
  * (`main.go:221-250` parity — datagrams in, flows rows out).
  */
class UdpIngestSpec extends SparkSpec {

  /** Field-by-NAME view of an InternalRow under rawSchema — positional
    * drift between the codec and the schema must fail loudly here.
    */
  private def byName(r: org.apache.spark.sql.catalyst.InternalRow): Map[String, Any] =
    FlowSchema.rawSchema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> (f.dataType match {
        case org.apache.spark.sql.types.IntegerType => r.getInt(i)
        case org.apache.spark.sql.types.LongType => r.getLong(i)
        case org.apache.spark.sql.types.BinaryType => r.getBinary(i)
        case dt => throw new IllegalStateException(s"unexpected type $dt")
      })
    }.toMap

  test("v5 codec round-trips encode -> decode -> toInternalRow by field name") {
    val sampler = Array[Byte](127, 0, 0, 1)
    val recs = Seq(
      V5.Rec(Array[Byte](10, 1, 2, 3), Array[Byte](-64, -88, 0, 9),
        pkts = 7, octets = 5000, firstMs = 1000, lastMs = 2000,
        srcPort = 40000, dstPort = 443, tcpFlags = 18, proto = 6),
      // ICMP: v5 packs type*256+code into dstport (type 3, code 1 -> 769)
      V5.Rec(Array[Byte](10, 9, 9, 9), Array[Byte](10, 0, 0, 1),
        pkts = 1, octets = 84, firstMs = 500, lastMs = 500,
        srcPort = 0, dstPort = 3 * 256 + 1, tcpFlags = 0, proto = 1))
    // header: uptime 10s, export at 1700000000.5s -> exportMs ...000500
    val pkt = V5.encode(sysUptimeMs = 10000L, unixSecs = 1700000000L,
      unixNsecs = 500000000L, flowSequence = 42L, samplingInterval = 512, records = recs)
    assert(pkt.length == V5.HeaderBytes + 2 * V5.RecordBytes)

    val flows = V5.decode(pkt, sampler)
    assert(flows.size == 2)
    val r0 = byName(V5.toInternalRow(flows(0)))
    assert(r0("type") == 2) // NETFLOW_V5
    assert(r0("time_received") == 1700000000L)
    assert(r0("sequence_num") == 42L)
    assert(r0("sampling_rate") == 512L)
    assert(r0("sampler_address").asInstanceOf[Array[Byte]].sameElements(sampler))
    // uptime-relative reconstruction: (exportMs - uptime + firstMs) / 1000
    assert(r0("time_flow_start") == (1700000000500L - 10000L + 1000L) / 1000L)
    assert(r0("time_flow_end") == (1700000000500L - 10000L + 2000L) / 1000L)
    assert(r0("bytes") == 5000L && r0("packets") == 7L)
    assert(r0("src_addr").asInstanceOf[Array[Byte]].sameElements(Array[Byte](10, 1, 2, 3)))
    assert(r0("dst_addr").asInstanceOf[Array[Byte]].sameElements(Array[Byte](-64, -88, 0, 9)))
    assert(r0("etype") == 0x800 && r0("proto") == 6)
    assert(r0("src_port") == 40000 && r0("dst_port") == 443)
    assert(r0("tcp_flags") == 18)
    assert(r0("icmp_type") == 0 && r0("icmp_code") == 0)
    assert(r0("forwarding_status") == 0 && r0("flow_direction") == 0)
    assert(r0("fragment_id") == 0L && r0("fragment_offset") == 0)

    val r1 = byName(V5.toInternalRow(flows(1)))
    assert(r1("proto") == 1)
    assert(r1("icmp_type") == 3 && r1("icmp_code") == 1) // unpacked
    assert(r1("dst_port") == 769) // raw packed value preserved
    assert(r1("time_flow_start") == r1("time_flow_end"))
  }

  test("decode rejects malformed datagrams") {
    intercept[IllegalArgumentException](V5.decode(Array[Byte](1, 2, 3), Array[Byte](127, 0, 0, 1)))
    // version != 5
    val v9 = V5.encode(0, 0, 0, 0, 0, Nil); v9(1) = 9
    intercept[IllegalArgumentException](V5.decode(v9, Array[Byte](127, 0, 0, 1)))
    // count claims more records than the payload carries
    val short = V5.encode(0, 0, 0, 0, 0, Nil); short(3) = 2
    intercept[IllegalArgumentException](V5.decode(short, Array[Byte](127, 0, 0, 1)))
  }

  test("UDP datagrams stream-decode end to end and normalize to the flows shape") {
    val cp = s"${graft.Tmp.root}/udp-spec/cp"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    val raw = spark.readStream.format("nflv5-udp")
      .option("name", "udp-spec").option("port", 0)
      .option("maxPacketsPerBatch", 2).option("numPartitions", 2)
      .option("dedupSequence", true).load()
    val q = graft.streaming.FlowPipeline.normalize(raw)
      .writeStream.format("memory").queryName("udp_spec_sink")
      .outputMode("append").option("checkpointLocation", cp).start()
    val sock = new DatagramSocket()
    try {
      val deadline = System.nanoTime() + 60_000_000_000L
      val port = UdpFlowSource.listeners(q).head.port
      assert(port > 0, "source never bound a UDP port")
      val addr = InetAddress.getByName("127.0.0.1")
      def send(b: Array[Byte]): Unit = sock.send(new DatagramPacket(b, b.length, addr, port))

      val packets = (0 until 4).map { p =>
        V5.encode(5000L, 1700000100L, 0L, 10L * p, 1000,
          (0 until 3).map { r =>
            val i = 3 * p + r
            V5.Rec(Array[Byte](10, 0, 0, i.toByte), Array[Byte](-64, -88, 0, i.toByte),
              pkts = i + 1L, octets = 100L + i, firstMs = i * 100L, lastMs = i * 100L,
              srcPort = 1000 + i, dstPort = 53, tcpFlags = 0, proto = 17)
          })
      }
      val droppedBefore = UdpFlowSource.dropped
      send("not netflow at all".getBytes) // garbage: dropped, query survives
      val expected = 4 * 3
      while (spark.table("udp_spec_sink").count() < expected &&
          System.nanoTime() < deadline) {
        packets.foreach(send) // re-sends dedup by (sender, flow_sequence)
        q.processAllAvailable()
      }
      val got = spark.table("udp_spec_sink")
      assert(got.count() == expected, "re-sent duplicates must not inflate the count")
      // normalized 23-column flows shape, addresses rendered
      assert(got.schema.fieldNames.toSeq == FlowSchema.schema.fieldNames.toSeq)
      assert(got.filter(col("src_addr").rlike("^10\\.0\\.0\\.[0-9]+$")).count() == expected)
      assert(got.filter(col("sampler_address") === "127.0.0.1").count() == expected)
      assert(got.agg(countDistinct("sequence_num")).head().getLong(0) == 4)
      assert(got.agg(sum("packets")).head().getLong(0) == (1 to 12).sum)
      assert(UdpFlowSource.dropped > droppedBefore)
    } finally { sock.close(); q.stop() }
  }

  test("restart from checkpoint resumes at the committed offset without skipping new packets") {
    val tmp = s"${graft.Tmp.root}/udp-restart"
    val cp = s"$tmp/cp"; val out = s"$tmp/out"
    Seq(cp, out).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))

    def mkPacket(seq: Long, port: Int): Array[Byte] =
      V5.encode(1000L, 1700000800L, 0L, seq, 100,
        Seq(V5.Rec(Array[Byte](10, 6, 0, seq.toByte), Array[Byte](10, 6, 0, 99),
          pkts = 1, octets = 100, firstMs = 0, lastMs = 0,
          srcPort = port, dstPort = 443, tcpFlags = 18, proto = 6)))

    def runIncarnation(name: String, seqs: Seq[Long]): Unit = {
      val raw = spark.readStream.format("nflv5-udp")
        .option("name", name).option("port", 0)
        .option("dedupSequence", true).load()
      val q = graft.streaming.FlowPipeline.normalize(raw)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      val sock = new DatagramSocket()
      try {
        val deadline = System.nanoTime() + 60_000_000_000L
        val port = UdpFlowSource.listeners(q).head.port
        assert(port > 0)
        val addr = InetAddress.getByName("127.0.0.1")
        def sunk(): Long =
          try spark.read.parquet(out).agg(countDistinct("sequence_num")).head().getLong(0)
          catch { case _: Exception => 0L }
        val target = seqs.max + 1
        while (sunk() < target && System.nanoTime() < deadline) {
          seqs.foreach(s => sock.send(
            new DatagramPacket(mkPacket(s, port), mkPacket(s, port).length, addr, port)))
          q.processAllAvailable()
        }
      } finally { sock.close(); q.stop() }
    }

    // incarnation 1 commits packets 0-1 into the checkpoint
    runIncarnation("udp-restart-1", Seq(0L, 1L))
    // incarnation 2 resumes from committed offset 2 with a FRESH buffer:
    // without the rebase, the first 2 new packets would be skipped
    runIncarnation("udp-restart-2", Seq(2L, 3L, 4L))

    val got = spark.read.parquet(out)
    assert(got.agg(countDistinct("sequence_num")).head().getLong(0) == 5)
    assert(got.select("sequence_num").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("a buffer-full drop does not claim the dedup key — the re-send is admitted") {
    // ADVICE r3 (medium): claiming (sender, version, sequence) BEFORE the
    // capacity check meant a packet dropped on a full buffer was refused
    // forever on re-send, wedging the blind-re-send convergence contract
    val stream = new UdpFlowStream("127.0.0.1", 0, "adm-buf", 10L, 1,
      dedupSequence = true, maxBufferedPackets = 1)
    val sock = new DatagramSocket()
    try {
      val port = stream.port
      val addr = InetAddress.getByName("127.0.0.1")
      def pkt(seq: Long): Array[Byte] =
        V5.encode(1000L, 1700000900L, 0L, seq, 100,
          Seq(V5.Rec(Array[Byte](10, 5, 0, 1), Array[Byte](10, 5, 0, 2),
            pkts = 1, octets = 64, firstMs = 0, lastMs = 0,
            srcPort = 1, dstPort = 2, tcpFlags = 0, proto = 6)))
      def send(b: Array[Byte]): Unit =
        sock.send(new DatagramPacket(b, b.length, addr, port))
      def buffered(): Long = stream.reportLatestOffset().asInstanceOf[UdpOffset].count
      val deadline = System.nanoTime() + 30_000_000_000L
      def awaitBuffered(n: Long): Unit = {
        while (buffered() < n && System.nanoTime() < deadline) { Thread.sleep(10) }
        assert(buffered() == n, s"expected $n admitted, got ${buffered()}")
      }

      send(pkt(1)); awaitBuffered(1) // fills the 1-packet buffer
      val droppedBefore = UdpFlowSource.dropped
      send(pkt(2)) // buffer full: dropped — and its sequence must stay unclaimed
      while (UdpFlowSource.dropped == droppedBefore &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(UdpFlowSource.dropped > droppedBefore)
      assert(buffered() == 1)

      stream.commit(UdpOffset(1L)) // engine consumed packet 1: buffer drains
      send(pkt(2)) // the blind re-send of the dropped packet
      awaitBuffered(2)
    } finally { sock.close(); stream.stop() }
  }

  test("v9 sequence dedup is per observation domain, not per exporter IP") {
    import graft.sources.{NetFlowV9 => V9}
    // RFC 3954 §5.1: sequence numbers count per source_id — two domains
    // behind one exporter IP legitimately reuse the same sequence
    val stream = new UdpFlowStream("127.0.0.1", 0, "adm-sid", 10L, 1,
      dedupSequence = true, maxBufferedPackets = 100)
    val sock = new DatagramSocket()
    try {
      val port = stream.port
      val addr = InetAddress.getByName("127.0.0.1")
      def send(b: Array[Byte]): Unit =
        sock.send(new DatagramPacket(b, b.length, addr, port))
      def buffered(): Long = stream.reportLatestOffset().asInstanceOf[UdpOffset].count
      val deadline = System.nanoTime() + 30_000_000_000L
      def awaitBuffered(n: Long): Unit = {
        while (buffered() < n && System.nanoTime() < deadline) { Thread.sleep(10) }
        assert(buffered() == n, s"expected $n admitted, got ${buffered()}")
      }

      val fields = Seq(8 -> 4, 1 -> 4, 4 -> 1)
      def rec(i: Int): Array[Byte] =
        Array(V9.fieldBytes(0x0a000000L + i, 4), V9.fieldBytes(100, 4),
          V9.fieldBytes(6, 1)).flatten.toArray
      send(V9.encodeTemplate(9, sourceId = 1, templateId = 310, fields))
      send(V9.encodeTemplate(9, sourceId = 2, templateId = 310, fields))
      awaitBuffered(2) // template-only packets, never deduped
      // same sender, same sequence 100 — DIFFERENT source ids: both admitted
      send(V9.encodeData(9, sourceId = 1, templateId = 310, Seq(rec(1)), sequence = 100L))
      send(V9.encodeData(9, sourceId = 2, templateId = 310, Seq(rec(2)), sequence = 100L))
      awaitBuffered(4)
      // and a true duplicate (same source id, same sequence) IS refused:
      // admit a tie-breaker after it and check the count skipped the dup
      send(V9.encodeData(9, sourceId = 1, templateId = 310, Seq(rec(3)), sequence = 100L))
      send(V9.encodeData(9, sourceId = 1, templateId = 310, Seq(rec(4)), sequence = 101L))
      awaitBuffered(5)
      Thread.sleep(200) // a wrongly-admitted duplicate would now surface as 6
      assert(buffered() == 5)

      // sFlow: datagram sequences count PER SUB-AGENT — two line cards
      // behind one chassis IP reuse the same sequence legitimately
      val hdr = SFlowV5.ipv4Frame(Array[Byte](10, 1, 1, 1), Array[Byte](10, 1, 1, 2),
        proto = 6, srcPort = 1, dstPort = 2)
      send(SFlowV5.encode(Array[Byte](10, 0, 0, 50), 500L, Seq((4L, 64L, hdr)),
        subAgentId = 0L))
      send(SFlowV5.encode(Array[Byte](10, 0, 0, 50), 500L, Seq((4L, 64L, hdr)),
        subAgentId = 1L))
      awaitBuffered(7)

      // v5: flow_sequence counts per (engine_type, engine_id)
      def v5pkt(seq: Long, engId: Int): Array[Byte] =
        graft.sources.NetFlowV5.encode(1000L, 1700000900L, 0L, seq, 100,
          Seq(graft.sources.NetFlowV5.Rec(Array[Byte](10, 2, 2, 1),
            Array[Byte](10, 2, 2, 2), pkts = 1, octets = 64, firstMs = 0,
            lastMs = 0, srcPort = 1, dstPort = 2, tcpFlags = 0, proto = 6)),
          engineId = engId)
      send(v5pkt(600L, 0)); send(v5pkt(600L, 1))
      awaitBuffered(9)
    } finally { sock.close(); stream.stop() }
  }

  test("counters-only sFlow datagrams feed the interface registry, not the buffer") {
    val stream = new UdpFlowStream("127.0.0.1", 0, "adm-cnt", 10L, 1,
      dedupSequence = false, maxBufferedPackets = 100)
    val sock = new DatagramSocket()
    try {
      val port = stream.port
      val addr = InetAddress.getByName("127.0.0.1")
      def send(b: Array[Byte]): Unit =
        sock.send(new DatagramPacket(b, b.length, addr, port))
      def buffered(): Long = stream.reportLatestOffset().asInstanceOf[UdpOffset].count
      val deadline = System.nanoTime() + 30_000_000_000L

      val agent = Array[Byte](10, 0, 0, 77)
      val c = SFlowV5.IfCounters(5, 1000000000L, 111L, 11L, 0L, 222L, 22L, 1L)
      send(SFlowV5.encodeCounters(agent, 1L, Seq(c)))
      // keyed by the AGENT address in the datagram, not the UDP sender
      while (!UdpFlowSource.ifCounters.containsKey(("10.0.0.77", 5L)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(UdpFlowSource.ifCounters.get(("10.0.0.77", 5L)) == c)
      assert(buffered() == 0, "counters-only datagram must not occupy the buffer")

      // a flow-sample datagram from the same agent still buffers normally
      val hdr = SFlowV5.ipv4Frame(Array[Byte](10, 9, 9, 1), Array[Byte](10, 9, 9, 2),
        proto = 6, srcPort = 1, dstPort = 2)
      send(SFlowV5.encode(agent, 2L, Seq((4L, 64L, hdr))))
      while (buffered() < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(buffered() == 1)
    } finally { sock.close(); stream.stop() }
  }

  test("v5, v9 and IPFIX datagrams decode side by side on one port") {
    import graft.sources.{NetFlowV9 => V9}
    val cp = s"${graft.Tmp.root}/udp-spec/cp9"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    val raw = spark.readStream.format("nflv5-udp")
      .option("name", "udp-spec9").option("port", 0)
      .option("numPartitions", 2).option("dedupSequence", true).load()
    val q = graft.streaming.FlowPipeline.normalize(raw)
      .writeStream.format("memory").queryName("udp_spec9_sink")
      .outputMode("append").option("checkpointLocation", cp).start()
    val sock = new DatagramSocket()
    try {
      val deadline = System.nanoTime() + 60_000_000_000L
      val port = UdpFlowSource.listeners(q).head.port
      assert(port > 0)
      val addr = InetAddress.getByName("127.0.0.1")
      def send(b: Array[Byte]): Unit = sock.send(new DatagramPacket(b, b.length, addr, port))

      val v9Fields = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 1 -> 4, 4 -> 1)
      def v9Rec(i: Int): Array[Byte] =
        Array(V9.fieldBytes(0x0a000000L + i, 4), V9.fieldBytes(0xc0a80001L, 4),
          V9.fieldBytes(2000 + i, 2), V9.fieldBytes(443, 2),
          V9.fieldBytes(100 + i, 4), V9.fieldBytes(6, 1)).flatten.toArray
      val v9Template = V9.encodeTemplate(9, sourceId = 1, templateId = 310, v9Fields)
      val v9Data = V9.encodeData(9, sourceId = 1, templateId = 310,
        (0 until 4).map(v9Rec), sysUptimeMs = 1000L, unixSecs = 1700000300L,
        sequence = 1L)
      val ipfixFields = Seq(8 -> 4, 11 -> 2, 1 -> 8, 4 -> 1, 152 -> 8, 153 -> 8)
      def ipfixRec(i: Int): Array[Byte] =
        Array(V9.fieldBytes(0x0a010000L + i, 4), V9.fieldBytes(53, 2),
          V9.fieldBytes(500 + i, 8), V9.fieldBytes(17, 1),
          V9.fieldBytes(1700000400000L + i, 8),
          V9.fieldBytes(1700000401000L + i, 8)).flatten.toArray
      val ipfixTemplate = V9.encodeTemplate(10, sourceId = 2, templateId = 320, ipfixFields)
      val ipfixData = V9.encodeData(10, sourceId = 2, templateId = 320,
        (0 until 3).map(ipfixRec), unixSecs = 1700000400L, sequence = 2L)
      val v5Packet = V5.encode(1000L, 1700000500L, 0L, 900L, 100,
        Seq(V5.Rec(Array[Byte](10, 2, 0, 1), Array[Byte](10, 2, 0, 2),
          pkts = 1, octets = 64, firstMs = 0, lastMs = 0,
          srcPort = 1, dstPort = 2, tcpFlags = 0, proto = 6)))
      val sflowPacket = SFlowV5.encode(Array[Byte](10, 0, 0, 99), 800L,
        (0 until 2).map { i =>
          (4096L, 1000L + i, SFlowV5.ipv4Frame(
            Array[Byte](10, 7, 0, i.toByte), Array[Byte](10, 8, 0, 1),
            proto = 6, srcPort = 30000 + i, dstPort = 22, tcpFlags = 16))
        })

      // malformed-but-admitted shapes must be dropped at decode, never
      // kill the task (DoS hardening): a 16-byte 0x0009 packet passes the
      // admission sniff as template-only, and a short-sample sFlow packet
      // passes because the counter scan skips flow-sample bodies
      send(Array[Byte](0, 9) ++ new Array[Byte](14))
      val shortSample = {
        val bb = java.nio.ByteBuffer.allocate(40)
        bb.putInt(5).putInt(1).put(Array[Byte](10, 0, 0, 66)).putInt(0)
        bb.putInt(7).putInt(123).putInt(1)
        bb.putInt(1).putInt(4).putInt(0)
        bb.array()
      }
      send(shortSample)

      // data BEFORE template: refused at admission, counted, recoverable
      val missesBefore = UdpFlowSource.templateMisses
      send(v9Data)
      val missDeadline = System.nanoTime() + 30_000_000_000L
      while (UdpFlowSource.templateMisses == missesBefore &&
          System.nanoTime() < missDeadline) Thread.sleep(20)
      assert(UdpFlowSource.templateMisses > missesBefore)

      val expected = 4 + 3 + 1 + 2
      while (spark.table("udp_spec9_sink").count() < expected &&
          System.nanoTime() < deadline) {
        // template first in each volley; re-sends are deduped/idempotent
        Seq(v9Template, ipfixTemplate, v9Data, ipfixData, v5Packet,
          sflowPacket).foreach(send)
        q.processAllAvailable()
      }
      val got = spark.table("udp_spec9_sink")
      assert(got.count() == expected)
      val byType = got.groupBy("type").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(byType == Map(1 -> 2L, 2 -> 1L, 3 -> 4L, 4 -> 3L), byType.toString)
      // sFlow rows: dissected raw headers, rendered through normalize
      assert(got.filter(col("type") === 1 && col("dst_addr") === "10.8.0.1" &&
        col("dst_port") === 22 && col("tcp_flags") === 16 &&
        col("sampling_rate") === 4096).count() == 2)
      // v9 rows: rendered IPv4 + reconstructed times
      assert(got.filter(col("type") === 3 && col("src_addr").startsWith("10.0.0.") &&
        col("dst_addr") === "192.168.0.1" && col("dst_port") === 443).count() == 4)
      // IPFIX rows: absolute ms -> seconds
      assert(got.filter(col("type") === 4).agg(min("time_flow_start")).head().getLong(0)
        == 1700000400L)
      assert(got.filter(col("type") === 4 && col("time_flow_end") === 1700000401L)
        .count() == 3)
    } finally { sock.close(); q.stop() }
  }

  test("v9 template state is re-learned after a collector restart (VERDICT r09 #6)") {
    // Offset resume across restart is proven above; this pins the TEMPLATE
    // side: the registry is in-memory per stream (RFC 3954 §5 — a
    // collector that restarts waits for the exporter's periodic template
    // re-export; goflow behaves identically), so after a restart
    //   1. data records sent BEFORE re-announcement are refused at
    //      admission and counted in the listener's template_misses;
    //   2. nothing reaches the sink for them (refused ≠ decoded-empty);
    //   3. once the template is re-announced, the re-sent data decodes.
    import graft.sources.{NetFlowV9 => V9}
    val tmp = s"${graft.Tmp.root}/udp-tmpl-restart"
    val cp = s"$tmp/cp"; val out = s"$tmp/out"
    Seq(cp, out).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))

    val fields = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 1 -> 4, 4 -> 1)
    def rec(i: Int): Array[Byte] =
      Array(V9.fieldBytes(0x0a0b0000L + i, 4), V9.fieldBytes(0xc0a80001L, 4),
        V9.fieldBytes(4000 + i, 2), V9.fieldBytes(443, 2),
        V9.fieldBytes(100 + i, 4), V9.fieldBytes(6, 1)).flatten.toArray
    val template = V9.encodeTemplate(9, sourceId = 7, templateId = 510, fields)
    def data(seq: Long): Array[Byte] = V9.encodeData(9, sourceId = 7,
      templateId = 510, Seq(rec(seq.toInt)), sysUptimeMs = 1000L,
      unixSecs = 1700000900L, sequence = seq)

    def sunkSeqs(): Set[Long] =
      try spark.read.parquet(out).select("sequence_num").distinct()
        .collect().map(_.getLong(0)).toSet
      catch { case _: Exception => Set.empty }

    def withStream(name: String)(body: (Array[Byte] => Unit,
        org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = {
      val raw = spark.readStream.format("nflv5-udp")
        .option("name", name).option("port", 0)
        .option("dedupSequence", true).load()
      val q = graft.streaming.FlowPipeline.normalize(raw)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      val sock = new DatagramSocket()
      try {
        val port = UdpFlowSource.listeners(q).head.port
        assert(port > 0)
        val addr = InetAddress.getByName("127.0.0.1")
        body(b => sock.send(new DatagramPacket(b, b.length, addr, port)), q)
      } finally { sock.close(); q.stop() }
    }

    val deadline = System.nanoTime() + 120_000_000_000L
    // incarnation 1: template + data 0/1 decode normally
    withStream("udp-tmpl-1") { (send, q) =>
      while (sunkSeqs() != Set(0L, 1L) && System.nanoTime() < deadline) {
        send(template); send(data(0)); send(data(1))
        q.processAllAvailable()
      }
      assert(sunkSeqs() == Set(0L, 1L))
    }
    // incarnation 2: fresh stream, EMPTY template registry
    withStream("udp-tmpl-2") { (send, q) =>
      val stats = UdpFlowSource.statsFor("udp-tmpl-2")
      val misses0 = stats.templateMisses.sum()
      // (1)+(2): data before re-announcement is refused at admission
      while (stats.templateMisses.sum() == misses0 &&
          System.nanoTime() < deadline) {
        send(data(2)); q.processAllAvailable()
      }
      assert(stats.templateMisses.sum() > misses0,
        "pre-template data record was not counted as a template miss")
      assert(sunkSeqs() == Set(0L, 1L),
        "a refused data record must not reach the sink")
      // (3): re-announce, then the re-sent data decodes (refusal did NOT
      // claim the dedup key, so the same sequence is admitted now)
      while (sunkSeqs() != Set(0L, 1L, 2L, 3L) && System.nanoTime() < deadline) {
        send(template); send(data(2)); send(data(3))
        q.processAllAvailable()
      }
      assert(sunkSeqs() == Set(0L, 1L, 2L, 3L))
    }
  }

  test("corrupt persisted template state cold-starts instead of crashing") {
    // the load path's declared degradation: persistence is an availability
    // optimization, never a correctness dependency — unparseable state
    // must leave an EMPTY registry (refusal + re-learn), not a crash loop
    import graft.sources.{NetFlowV9 => V9}
    val dir = s"${graft.Tmp.root}/udp-tmpl-corrupt"
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    java.nio.file.Files.createDirectories(Paths.get(dir))
    java.nio.file.Files.write(Paths.get(dir, "graft_nfv9_templates"),
      "T|10.0.0.1|not-a-number|x|?|8:4\nR|broken".getBytes("UTF-8"))
    val stream = new UdpFlowStream("127.0.0.1", 0, "tmpl-corrupt", 10L, 1,
      dedupSequence = false, templateStatePath = Some(dir))
    val sock = new DatagramSocket()
    try {
      val port = stream.port
      val addr = InetAddress.getByName("127.0.0.1")
      val stats = UdpFlowSource.statsFor("tmpl-corrupt")
      val misses0 = stats.templateMisses.sum()
      val data = V9.encodeData(9, sourceId = 1, templateId = 999,
        Seq(Array[Byte](1, 2, 3, 4)))
      val deadline = System.nanoTime() + 30_000_000_000L
      // cold registry: the data record is refused at admission (a crash or
      // a hallucinated template from the corrupt file would not count it)
      while (stats.templateMisses.sum() == misses0 &&
          System.nanoTime() < deadline) {
        sock.send(new DatagramPacket(data, data.length, addr, port))
        Thread.sleep(20)
      }
      assert(stats.templateMisses.sum() > misses0)
      // and the stream still LEARNS: announce, then the data decodes
      val template = V9.encodeTemplate(9, sourceId = 1, templateId = 999,
        Seq(8 -> 4))
      sock.send(new DatagramPacket(template, template.length, addr, port))
      while (stream.reportLatestOffset()
          .asInstanceOf[UdpOffset].count == 0 &&
          System.nanoTime() < deadline) {
        sock.send(new DatagramPacket(data, data.length, addr, port))
        Thread.sleep(20)
      }
      assert(stream.reportLatestOffset().asInstanceOf[UdpOffset].count > 0)
    } finally { sock.close(); stream.stop() }
  }

  test("torn template-state writes: stray tmp loads OLD state; torn target cold-starts (r11)") {
    // The tmp+rename discipline's actual guarantee, killed-writer shaped
    // (VERDICT r10 #7): a writer killed BETWEEN tmp write and rename
    // leaves old-complete target + partial tmp — the loader must read the
    // old state and ignore the tmp (old-complete, never partial). And if
    // the target itself is torn mid-token (what rename atomicity
    // prevents; simulated by truncating), the declared degradation is a
    // cold start + re-learn, not a crash or a half-parsed registry.
    import graft.sources.{NetFlowV9 => V9}
    val dir = s"${graft.Tmp.root}/udp-tmpl-torn"
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    java.nio.file.Files.createDirectories(Paths.get(dir))
    val oldState = "T|127.0.0.1|3|700|0|8:4,12:4,1:4\n"
    java.nio.file.Files.write(Paths.get(dir, "graft_nfv9_templates"),
      oldState.getBytes("UTF-8"))
    // the killed writer's partial tmp (truncated mid-token)
    java.nio.file.Files.write(Paths.get(dir, "graft_nfv9_templates.tmp"),
      "T|127.0.0.1|3|701|0|8:4,12".getBytes("UTF-8"))
    val data = V9.encodeData(9, sourceId = 3, templateId = 700,
      Seq(Array(V9.fieldBytes(0x0a000001L, 4), V9.fieldBytes(0x0a000002L, 4),
        V9.fieldBytes(100, 4)).flatten.toArray))
    val addr = InetAddress.getByName("127.0.0.1")
    val deadline = System.nanoTime() + 60_000_000_000L

    // phase 1: old-complete target decodes the data; zero template misses
    val s1 = new UdpFlowStream("127.0.0.1", 0, "tmpl-torn-1", 10L, 1,
      dedupSequence = false, templateStatePath = Some(dir))
    val sock = new DatagramSocket()
    try {
      val port = s1.port
      val stats = UdpFlowSource.statsFor("tmpl-torn-1")
      val misses0 = stats.templateMisses.sum()
      while (s1.reportLatestOffset().asInstanceOf[UdpOffset].count == 0 &&
          System.nanoTime() < deadline) {
        sock.send(new DatagramPacket(data, data.length, addr, port))
        Thread.sleep(20)
      }
      assert(s1.reportLatestOffset().asInstanceOf[UdpOffset].count > 0,
        "old-complete state must decode through the stray tmp")
      assert(stats.templateMisses.sum() == misses0,
        "the stray partial tmp must not shadow the complete target")
    } finally { sock.close(); s1.stop() }

    // phase 2: target torn mid-token -> cold start (data refused), then
    // re-learn from a live announcement still works
    java.nio.file.Files.write(Paths.get(dir, "graft_nfv9_templates"),
      "T|127.0.0.1|3|700|0|8:4,12".getBytes("UTF-8"))
    val s2 = new UdpFlowStream("127.0.0.1", 0, "tmpl-torn-2", 10L, 1,
      dedupSequence = false, templateStatePath = Some(dir))
    val sock2 = new DatagramSocket()
    try {
      val port = s2.port
      val stats = UdpFlowSource.statsFor("tmpl-torn-2")
      val misses0 = stats.templateMisses.sum()
      while (stats.templateMisses.sum() == misses0 &&
          System.nanoTime() < deadline) {
        sock2.send(new DatagramPacket(data, data.length, addr, port))
        Thread.sleep(20)
      }
      assert(stats.templateMisses.sum() > misses0,
        "torn target must cold-start, not half-parse template 700")
      val template = V9.encodeTemplate(9, sourceId = 3, templateId = 700,
        Seq(8 -> 4, 12 -> 4, 1 -> 4))
      while (s2.reportLatestOffset().asInstanceOf[UdpOffset].count == 0 &&
          System.nanoTime() < deadline) {
        sock2.send(new DatagramPacket(template, template.length, addr, port))
        sock2.send(new DatagramPacket(data, data.length, addr, port))
        Thread.sleep(20)
      }
      assert(s2.reportLatestOffset().asInstanceOf[UdpOffset].count > 0)
    } finally { sock2.close(); s2.stop() }

    // phase 3: writer killed between delete(target) and rename(tmp) —
    // no target, COMPLETE (marker-terminated) tmp: the loader recovers
    // the tmp instead of cold-starting, and promotes it back to the
    // target so the next write cannot truncate the only surviving copy
    java.nio.file.Files.delete(Paths.get(dir, "graft_nfv9_templates"))
    java.nio.file.Files.write(Paths.get(dir, "graft_nfv9_templates.tmp"),
      (oldState + "E|1\n").getBytes("UTF-8"))
    val s3 = new UdpFlowStream("127.0.0.1", 0, "tmpl-torn-3", 10L, 1,
      dedupSequence = false, templateStatePath = Some(dir))
    val sock3 = new DatagramSocket()
    try {
      val port = s3.port
      val stats = UdpFlowSource.statsFor("tmpl-torn-3")
      val misses0 = stats.templateMisses.sum()
      while (s3.reportLatestOffset().asInstanceOf[UdpOffset].count == 0 &&
          System.nanoTime() < deadline) {
        sock3.send(new DatagramPacket(data, data.length, addr, port))
        Thread.sleep(20)
      }
      assert(s3.reportLatestOffset().asInstanceOf[UdpOffset].count > 0,
        "a complete tmp with no target must be recovered, not cold-started")
      assert(stats.templateMisses.sum() == misses0)
      assert(java.nio.file.Files.exists(Paths.get(dir, "graft_nfv9_templates")),
        "the recovered tmp must be promoted to the target")
    } finally { sock3.close(); s3.stop() }

    // phase 4: an UNMARKED tmp (first-ever write killed mid-stream; its
    // truncation can land on a line boundary and parse "cleanly") must be
    // REFUSED — cold start, never a silently-shorter registry. The torn
    // content here is exactly such a clean-prefix truncation: a valid T
    // line whose field list lost its tail at a comma boundary.
    java.nio.file.Files.delete(Paths.get(dir, "graft_nfv9_templates"))
    java.nio.file.Files.write(Paths.get(dir, "graft_nfv9_templates.tmp"),
      "T|127.0.0.1|3|700|0|8:4,12:4\n".getBytes("UTF-8"))
    val s4 = new UdpFlowStream("127.0.0.1", 0, "tmpl-torn-4", 10L, 1,
      dedupSequence = false, templateStatePath = Some(dir))
    val sock4 = new DatagramSocket()
    try {
      val port = s4.port
      val stats = UdpFlowSource.statsFor("tmpl-torn-4")
      val misses0 = stats.templateMisses.sum()
      while (stats.templateMisses.sum() == misses0 &&
          System.nanoTime() < deadline) {
        sock4.send(new DatagramPacket(data, data.length, addr, port))
        Thread.sleep(20)
      }
      assert(stats.templateMisses.sum() > misses0,
        "an unmarked tmp must cold-start, not load a possibly-torn registry")
    } finally { sock4.close(); s4.stop() }
  }

  test("persistTemplates=true: a restarted collector decodes pre-announcement data (r10)") {
    // The opt-in flip side of the re-learning test above: with the
    // registry persisted beside the checkpoint, incarnation 2 decodes data
    // records sent BEFORE any re-announcement — zero template misses, no
    // wait for the exporter's periodic re-export.
    import graft.sources.{NetFlowV9 => V9}
    val tmp = s"${graft.Tmp.root}/udp-tmpl-persist"
    val cp = s"$tmp/cp"; val out = s"$tmp/out"
    Seq(cp, out).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))

    val fields = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 1 -> 4, 4 -> 1)
    def rec(i: Int): Array[Byte] =
      Array(V9.fieldBytes(0x0a0c0000L + i, 4), V9.fieldBytes(0xc0a80002L, 4),
        V9.fieldBytes(4100 + i, 2), V9.fieldBytes(443, 2),
        V9.fieldBytes(200 + i, 4), V9.fieldBytes(6, 1)).flatten.toArray
    val template = V9.encodeTemplate(9, sourceId = 7, templateId = 511, fields)
    // options template + announcement: rate 2048 for the whole domain —
    // the sampling half of the registry (R lines) must survive restart too
    val optTemplate = V9.encodeOptionsTemplate(9, sourceId = 7,
      templateId = 512, scopeFields = Seq(1 -> 4), optionFields = Seq(34 -> 4))
    // distinct sequence: options data shares the (sender, 9, sourceId)
    // dedup domain with the flow packets — seq 0 would shadow data(0)
    val optData = V9.encodeData(9, sourceId = 7, templateId = 512,
      Seq(Array(V9.fieldBytes(1, 4), V9.fieldBytes(2048, 4)).flatten.toArray),
      sequence = 99L)
    def data(seq: Long): Array[Byte] = V9.encodeData(9, sourceId = 7,
      templateId = 511, Seq(rec(seq.toInt)), sysUptimeMs = 1000L,
      unixSecs = 1700000900L, sequence = seq)

    def sunkSeqs(): Set[Long] =
      try spark.read.parquet(out).select("sequence_num").distinct()
        .collect().map(_.getLong(0)).toSet
      catch { case _: Exception => Set.empty }

    def withStream(name: String)(body: (Array[Byte] => Unit,
        org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = {
      val raw = spark.readStream.format("nflv5-udp")
        .option("name", name).option("port", 0)
        .option("dedupSequence", true)
        .option("persistTemplates", true).load()
      val q = graft.streaming.FlowPipeline.normalize(raw)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      val sock = new DatagramSocket()
      try {
        val port = UdpFlowSource.listeners(q).head.port
        assert(port > 0)
        val addr = InetAddress.getByName("127.0.0.1")
        body(b => sock.send(new DatagramPacket(b, b.length, addr, port)), q)
      } finally { sock.close(); q.stop() }
    }

    val deadline = System.nanoTime() + 120_000_000_000L
    withStream("udp-tmplp-1") { (send, q) =>
      while (sunkSeqs() != Set(0L, 1L) && System.nanoTime() < deadline) {
        send(optTemplate); send(optData)
        send(template); send(data(0)); send(data(1))
        q.processAllAvailable()
      }
      assert(sunkSeqs() == Set(0L, 1L))
    }
    // the registry file exists in the source-scoped checkpoint subdir
    assert(java.nio.file.Files.exists(
      Paths.get(cp, "sources", "0", "graft_nfv9_templates")))
    // incarnation 2: DATA ONLY, never re-announce — must decode from the
    // persisted registry with zero new template misses
    withStream("udp-tmplp-2") { (send, q) =>
      val stats = UdpFlowSource.statsFor("udp-tmplp-2")
      val misses0 = stats.templateMisses.sum()
      while (sunkSeqs() != Set(0L, 1L, 2L, 3L) && System.nanoTime() < deadline) {
        send(data(2)); send(data(3))
        q.processAllAvailable()
      }
      assert(sunkSeqs() == Set(0L, 1L, 2L, 3L))
      assert(stats.templateMisses.sum() == misses0,
        "persisted registry should admit pre-announcement data without misses")
      // the ANNOUNCED sampling rate also survived: post-restart flows carry
      // 2048 although no options data was re-sent in this incarnation
      val rates = spark.read.parquet(out)
        .filter(org.apache.spark.sql.functions.col("sequence_num") >= 2)
        .select("sampling_rate").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(rates == Set(2048L),
        s"expected persisted sampling rate 2048, got $rates")
    }
  }
}
