package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NetFlowV9 => V9}

/** Template-based decode (RFC 3954 / RFC 7011): template learning, data
  * decode against templates, uptime vs absolute time semantics, ICMP
  * packing, IPv6 etype flip, unknown-IE skipping, padding, and the
  * data-before-template drop path.
  */
class NetFlowV9Spec extends AnyFunSuite {

  private val sampler = Array[Byte](127, 0, 0, 1)

  private val v9Fields = Seq(
    8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 1 -> 4, 2 -> 4,
    4 -> 1, 6 -> 1, 21 -> 4, 22 -> 4, 34 -> 4, 61 -> 1)

  private def v9Record(srcIp: Long, dstIp: Long, sp: Int, dp: Int, by: Long,
      pk: Long, proto: Int, flags: Int, last: Long, first: Long,
      sampling: Long, dir: Int): Array[Byte] =
    Array(V9.fieldBytes(srcIp, 4), V9.fieldBytes(dstIp, 4),
      V9.fieldBytes(sp, 2), V9.fieldBytes(dp, 2), V9.fieldBytes(by, 4),
      V9.fieldBytes(pk, 4), V9.fieldBytes(proto, 1), V9.fieldBytes(flags, 1),
      V9.fieldBytes(last, 4), V9.fieldBytes(first, 4),
      V9.fieldBytes(sampling, 4), V9.fieldBytes(dir, 1)).flatten.toArray

  test("v9 template learning and data decode with uptime-relative times") {
    val tpkt = V9.encodeTemplate(9, sourceId = 7, templateId = 300, v9Fields)
    val learned = V9.decodeTemplates(tpkt)
    assert(learned == Seq((7L, V9.Template(300, v9Fields))))
    assert(learned.head._2.recordBytes == 35)

    val rec = v9Record(0x0a010203L, 0xc0a80009L, 40000, 443, 5000, 7,
      6, 18, last = 2000, first = 1000, sampling = 1000, dir = 1)
    val dpkt = V9.encodeData(9, sourceId = 7, templateId = 300, Seq(rec),
      sysUptimeMs = 20000L, unixSecs = 1700000000L, sequence = 5L)
    val tmpl = Map((7L, 300) -> learned.head._2)
    val (flows, missed) = V9.decode(dpkt, sampler, tmpl)
    assert(missed == 0 && flows.size == 1)
    val f = flows.head
    assert(f.`type` == 3) // NETFLOW_V9
    assert(f.time_received == 1700000000L && f.sequence_num == 5L)
    assert(f.src_addr.sameElements(Array[Byte](10, 1, 2, 3)))
    assert(f.dst_addr.sameElements(Array[Byte](-64, -88, 0, 9)))
    assert(f.src_port == 40000 && f.dst_port == 443)
    assert(f.bytes == 5000L && f.packets == 7L)
    assert(f.proto == 6 && f.tcp_flags == 18)
    assert(f.sampling_rate == 1000L && f.flow_direction == 1)
    assert(f.etype == 0x800)
    // v5-style reconstruction: (exportMs - uptime + rel) / 1000
    assert(f.time_flow_start == (1700000000000L - 20000L + 1000L) / 1000L)
    assert(f.time_flow_end == (1700000000000L - 20000L + 2000L) / 1000L)
  }

  test("prefix masks decode: IEs 9/13 (IPv4) and 29/30 (IPv6)") {
    // IPv4 masks (the q45i live path exercises 9/13 end-to-end; this pins
    // the decode in isolation)
    val t4 = V9.Template(310, Seq(8 -> 4, 12 -> 4, 9 -> 1, 13 -> 1))
    val rec4 = Array(V9.fieldBytes(0x0a000001L, 4), V9.fieldBytes(0x0a000002L, 4),
      V9.fieldBytes(24, 1), V9.fieldBytes(16, 1)).flatten.toArray
    val d4 = V9.encodeData(9, sourceId = 1, templateId = 310, Seq(rec4))
    val (f4, m4) = V9.decode(d4, sampler, Map((1L, 310) -> t4))
    assert(m4 == 0 && f4.size == 1)
    assert(f4.head.src_mask == 24 && f4.head.dst_mask == 16)

    // IPv6 masks ride IEs 29/30 (2-byte encodings must also work — the
    // uint() path takes the low-order tail)
    val t6 = V9.Template(311, Seq(27 -> 16, 28 -> 16, 29 -> 2, 30 -> 1))
    val v6a = new Array[Byte](16); v6a(0) = 0x20; v6a(15) = 1
    val v6b = new Array[Byte](16); v6b(0) = 0x20; v6b(15) = 2
    val rec6 = Array(v6a, v6b,
      V9.fieldBytes(64, 2), V9.fieldBytes(48, 1)).flatten.toArray
    val d6 = V9.encodeData(10, sourceId = 1, templateId = 311, Seq(rec6))
    val (f6, m6) = V9.decode(d6, sampler, Map((1L, 311) -> t6))
    assert(m6 == 0 && f6.size == 1)
    assert(f6.head.etype == 0x86dd)
    assert(f6.head.src_mask == 64 && f6.head.dst_mask == 48)
  }

  test("ICMP packing decodes and unknown IEs are skipped by length") {
    val fields = Seq(4 -> 1, 32 -> 2, 999 -> 3, 1 -> 4)
    val t = V9.Template(301, fields)
    val rec = Array(V9.fieldBytes(1, 1), V9.fieldBytes(3 * 256 + 1, 2),
      Array[Byte](9, 9, 9), V9.fieldBytes(4242, 4)).flatten.toArray
    val dpkt = V9.encodeData(9, 0, 301, Seq(rec), unixSecs = 1700000000L)
    val (flows, _) = V9.decode(dpkt, sampler, Map((0L, 301) -> t))
    val f = flows.head
    assert(f.proto == 1 && f.icmp_type == 3 && f.icmp_code == 1)
    assert(f.bytes == 4242L) // the junk IE did not shift later fields
  }

  test("IPFIX absolute millisecond times and IPv6 etype flip") {
    val fields = Seq(27 -> 16, 28 -> 16, 152 -> 8, 153 -> 8, 1 -> 8, 2 -> 8, 4 -> 1)
    val tpkt = V9.encodeTemplate(10, sourceId = 3, templateId = 400, fields)
    val learned = V9.decodeTemplates(tpkt)
    assert(learned.map(_._1) == Seq(3L) && learned.head._2.id == 400)

    val src6 = Array.tabulate[Byte](16)(i => i.toByte)
    val dst6 = Array.tabulate[Byte](16)(i => (15 - i).toByte)
    val rec = Array(src6, dst6,
      V9.fieldBytes(1700000123456L, 8), V9.fieldBytes(1700000125999L, 8),
      V9.fieldBytes(987654321L, 8), V9.fieldBytes(1234L, 8),
      V9.fieldBytes(17, 1)).flatten.toArray
    val dpkt = V9.encodeData(10, sourceId = 3, templateId = 400, Seq(rec),
      unixSecs = 1700000200L, sequence = 77L)
    val (flows, _) = V9.decode(dpkt, sampler, Map((3L, 400) -> learned.head._2))
    val f = flows.head
    assert(f.`type` == 4) // IPFIX
    assert(f.etype == 0x86dd)
    assert(f.src_addr.sameElements(src6) && f.dst_addr.sameElements(dst6))
    assert(f.time_flow_start == 1700000123L && f.time_flow_end == 1700000125L)
    assert(f.bytes == 987654321L && f.packets == 1234L && f.proto == 17)
    assert(f.time_received == 1700000200L && f.sequence_num == 77L)
  }

  test("IPFIX variable-length IEs decode: records self-size, mapped fields after them stay aligned") {
    // app-name-style varlen string IE (96) between mapped fixed fields —
    // the goflow-parity case the refusal used to break (RFC 7011 §7)
    val fields = Seq(8 -> 4, 96 -> 65535, 7 -> 2, 371 -> 65535, 1 -> 4)
    val tpkt = V9.encodeTemplate(10, sourceId = 5, templateId = 500, fields)
    val learned = V9.decodeTemplates(tpkt)
    assert(learned.size == 1, "varlen template must be learned, not refused")
    val t = learned.head._2
    assert(t.hasVarlen && t.minRecordBytes == 4 + 1 + 2 + 1 + 4)

    // two records with DIFFERENT varlen payload sizes in one set
    def rec(ip: Long, name: String, port: Int, user: String, by: Long) =
      Array(V9.fieldBytes(ip, 4), V9.varlenBytes(name.getBytes("UTF-8")),
        V9.fieldBytes(port, 2), V9.varlenBytes(user.getBytes("UTF-8")),
        V9.fieldBytes(by, 4)).flatten.toArray
    val dpkt = V9.encodeData(10, sourceId = 5, templateId = 500,
      Seq(rec(0x0a000001L, "https", 443, "alice", 111),
        rec(0x0a000002L, "dns-long-application-name", 53, "", 222)),
      unixSecs = 1700000000L)
    val (flows, missed) = V9.decode(dpkt, sampler, Map((5L, 500) -> t))
    assert(missed == 0 && flows.size == 2)
    assert(flows(0).src_port == 443 && flows(0).bytes == 111L)
    assert(flows(1).src_port == 53 && flows(1).bytes == 222L)
    assert(flows(0).src_addr.sameElements(Array[Byte](10, 0, 0, 1)))
    assert(flows(1).src_addr.sameElements(Array[Byte](10, 0, 0, 2)))
  }

  test("IPFIX varlen long form (0xFF + u16) and empty values decode") {
    val fields = Seq(96 -> 65535, 7 -> 2)
    val t = V9.decodeTemplates(
      V9.encodeTemplate(10, 5, 501, fields)).head._2
    val big = Array.fill[Byte](300)('x'.toByte) // forces the 3-byte prefix
    assert(V9.varlenBytes(big).take(3).sameElements(
      Array[Byte](-1, (300 >> 8).toByte, (300 & 0xff).toByte)))
    val recs = Seq(
      (V9.varlenBytes(big) ++ V9.fieldBytes(8080, 2)),
      (V9.varlenBytes(Array.emptyByteArray) ++ V9.fieldBytes(9090, 2)))
    val dpkt = V9.encodeData(10, 5, 501, recs)
    val (flows, missed) = V9.decode(dpkt, sampler, Map((5L, 501) -> t))
    assert(missed == 0 && flows.map(_.src_port) == Seq(8080, 9090))
  }

  test("an oversized integer IE keeps its LAST 8 bytes (big-endian low-order)") {
    // ADVICE r07: a varlen-encoded counter of 9+ bytes with leading zero
    // padding must decode to the value in its trailing 8 bytes — keeping
    // the FIRST 8 discards the low-order bytes entirely
    val fields = Seq(1 -> 65535, 7 -> 2) // varlen octetDeltaCount, srcPort
    val t = V9.decodeTemplates(
      V9.encodeTemplate(10, 5, 503, fields)).head._2
    // 12-byte big-endian integer: 4 zero-pad bytes + the 8 value bytes
    val value = 0x0123456789abcdefL
    val padded = Array.fill[Byte](4)(0) ++ V9.fieldBytes(value, 8)
    val rec = V9.varlenBytes(padded) ++ V9.fieldBytes(443, 2)
    val (flows, missed) = V9.decode(
      V9.encodeData(10, 5, 503, Seq(rec)), sampler, Map((5L, 503) -> t))
    assert(missed == 0 && flows.size == 1)
    assert(flows.head.bytes == value,
      f"oversized counter decoded to 0x${flows.head.bytes}%x, want 0x$value%x")
    assert(flows.head.src_port == 443, "field after the oversized IE misaligned")
  }

  test("a varlen length prefix overrunning the set abandons the set, counted once") {
    val fields = Seq(96 -> 65535, 7 -> 2)
    val t = V9.decodeTemplates(
      V9.encodeTemplate(10, 5, 502, fields)).head._2
    // claims 200 bytes of payload but carries 4 — the decoder must not
    // read past the set or loop; one counted drop, no flows
    val bogus = Array[Byte](200.toByte, 1, 2, 3, 4)
    val dpkt = V9.encodeData(10, 5, 502, Seq(bogus))
    val (flows, droppedCnt) = V9.decode(dpkt, sampler, Map((5L, 502) -> t))
    assert(flows.isEmpty && droppedCnt == 1)
    // a good record BEFORE the bogus one still decodes
    val good = V9.varlenBytes("ok".getBytes("UTF-8")) ++ V9.fieldBytes(7070, 2)
    val dpkt2 = V9.encodeData(10, 5, 502, Seq(good, bogus))
    val (flows2, dropped2) = V9.decode(dpkt2, sampler, Map((5L, 502) -> t))
    assert(flows2.map(_.src_port) == Seq(7070) && dropped2 == 1)
  }

  test("v9 templates declaring 65535 stay refused (no varlen in RFC 3954)") {
    val tpkt = V9.encodeTemplate(9, 5, 503, Seq(96 -> 65535, 7 -> 2))
    assert(V9.decodeTemplates(tpkt).isEmpty)
  }

  test("multi-record data sets decode fully through 4-byte padding") {
    // 6-byte records, 3 of them -> 22-byte set padded to 24; the decoder
    // must take all 3 records and stop at the 2 padding bytes (records
    // under 4 bytes would be wire-ambiguous with padding; RFC-realistic
    // templates are always larger)
    val fields = Seq(4 -> 1, 6 -> 1, 7 -> 2, 11 -> 2)
    val t = V9.Template(302, fields)
    val recs = (0 until 3).map(i =>
      Array(V9.fieldBytes(6, 1), V9.fieldBytes(16, 1),
        V9.fieldBytes(1000 + i, 2), V9.fieldBytes(53, 2)).flatten.toArray)
    val dpkt = V9.encodeData(9, 0, 302, recs)
    assert(dpkt.length % 4 == 0)
    val (flows, _) = V9.decode(dpkt, sampler, Map((0L, 302) -> t))
    assert(flows.map(_.src_port) == Seq(1000, 1001, 1002))
    assert(flows.forall(f => f.dst_port == 53 && f.tcp_flags == 16))
  }

  test("options templates parse and sampling announcements apply to flows") {
    // v9 options template: scope = System(1), option = samplingInterval(34)
    val otpkt = V9.encodeOptionsTemplate(9, sourceId = 7, templateId = 500,
      scopeFields = Seq(1 -> 4), optionFields = Seq(34 -> 4))
    val learned = V9.decodeTemplates(otpkt)
    assert(learned == Seq((7L, V9.Template(500, Seq(-1 -> 4, 34 -> 4),
      isOptions = true))))

    // options DATA record: scope value + rate 2048
    val orec = Array(V9.fieldBytes(1, 4), V9.fieldBytes(2048, 4)).flatten.toArray
    val odata = V9.encodeData(9, sourceId = 7, templateId = 500, Seq(orec))
    val tmpl = Map((7L, 500) -> learned.head._2)
    assert(V9.samplingFromOptions(odata, tmpl) == Seq((7L, 2048L)))
    // options data sets decode to ZERO flows (metadata, not traffic)
    assert(V9.decode(odata, sampler, tmpl)._1.isEmpty)

    // flows from a template WITHOUT IE 34 pick up the announced default...
    val flowFields = Seq(8 -> 4, 1 -> 4, 4 -> 1)
    val ft = V9.Template(501, flowFields)
    val frec = Array(V9.fieldBytes(0x0a000001L, 4), V9.fieldBytes(100, 4),
      V9.fieldBytes(6, 1)).flatten.toArray
    val fdata = V9.encodeData(9, sourceId = 7, templateId = 501, Seq(frec))
    val (flows, _) = V9.decode(fdata, sampler, tmpl + ((7L, 501) -> ft),
      samplingDefaults = Map(7L -> 2048L))
    assert(flows.head.sampling_rate == 2048L)
    // ...and an explicit per-record IE 34 overrides the announcement
    val (flows2, _) = V9.decode(
      V9.encodeData(9, 7, 300, Seq(v9Record(1, 2, 3, 4, 5, 6, 7, 8, 9, 10,
        sampling = 512, dir = 0))),
      sampler, Map((7L, 300) -> V9.Template(300, v9Fields)),
      samplingDefaults = Map(7L -> 2048L))
    assert(flows2.head.sampling_rate == 512L)

    // IPFIX options template (set 3, scope-count form) parses too
    val o10 = V9.encodeOptionsTemplate(10, sourceId = 3, templateId = 600,
      scopeFields = Seq(149 -> 4), optionFields = Seq(305 -> 8))
    assert(V9.decodeTemplates(o10) == Seq((3L, V9.Template(600,
      Seq(-149 -> 4, 305 -> 8), isOptions = true))))
    val orec10 = Array(V9.fieldBytes(1, 4), V9.fieldBytes(4096, 8)).flatten.toArray
    val odata10 = V9.encodeData(10, 3, 600, Seq(orec10))
    assert(V9.samplingFromOptions(odata10,
      Map((3L, 600) -> V9.Template(600, Seq(-149 -> 4, 305 -> 8), isOptions = true)))
      == Seq((3L, 4096L)))

    // a 9-byte zero-padded rate keeps its LAST 8 bytes (big-endian low
    // bytes are at the end) — the same rule as the data-record uint();
    // keeping the FIRST 8 would decode 4096 as 16 here (VERDICT r08 #2)
    val bigRateTmpl = V9.Template(601, Seq(-149 -> 4, 305 -> 9), isOptions = true)
    val orecPad = Array(V9.fieldBytes(1, 4), V9.fieldBytes(0, 1),
      V9.fieldBytes(4096, 8)).flatten.toArray
    val odataPad = V9.encodeData(10, 3, 601, Seq(orecPad))
    assert(V9.samplingFromOptions(odataPad, Map((3L, 601) -> bigRateTmpl))
      == Seq((3L, 4096L)))
  }

  test("IPFIX enterprise-bit field specs are learned and bounds-checked per byte consumed") {
    import java.nio.ByteBuffer
    // hand-built IPFIX packet: enterprise specs are 8 bytes each, so the
    // 4-bytes-per-field shortcut under-counts and must not be trusted
    def ipfixTemplatePacket(sets: Seq[Array[Byte]]): Array[Byte] = {
      val body = sets.map(_.length).sum
      val bb = ByteBuffer.allocate(16 + body)
      bb.putShort(10).putShort((16 + body).toShort).putInt(1700000000)
        .putInt(1).putInt(3) // obs domain 3
      sets.foreach(bb.put)
      bb.array()
    }
    def set(setLen: Int)(write: ByteBuffer => Unit): Array[Byte] = {
      val bb = ByteBuffer.allocate(setLen)
      bb.putShort(2).putShort(setLen.toShort) // template set
      write(bb)
      bb.array()
    }

    // (a) a well-formed template with one enterprise field decodes to the
    // right layout: the enterprise number is skipped and the field KEEPS
    // its enterprise bit — vendor element (9999, 8) is not IANA IE 8, so
    // its bytes must be skipped at decode, never read as sourceIPv4Address
    val good = ipfixTemplatePacket(Seq(set(4 + 4 + 8 + 4) { bb =>
      bb.putShort(700).putShort(2)
      bb.putShort((0x8000 | 8).toShort).putShort(4).putInt(9999) // enterprise
      bb.putShort(1).putShort(4)
    }))
    assert(V9.decodeTemplates(good) ==
      Seq((3L, V9.Template(700, Seq((0x8000 | 8) -> 4, 1 -> 4)))))
    // and the data decode skips the vendor field by length: bytes land in
    // IE 1 (bytes), src_addr stays zero
    val rec = Array(V9.fieldBytes(0x0a0b0c0dL, 4), V9.fieldBytes(777L, 4))
      .flatten.toArray
    val dpkt = V9.encodeData(10, sourceId = 3, templateId = 700, Seq(rec),
      unixSecs = 1700000000L)
    val (flows, _) = V9.decode(dpkt, Array[Byte](127, 0, 0, 1),
      Map((3L, 700) -> V9.Template(700, Seq((0x8000 | 8) -> 4, 1 -> 4))))
    assert(flows.head.bytes == 777L)
    assert(flows.head.src_addr.sameElements(Array[Byte](0, 0, 0, 0)),
      "vendor bytes decoded as sourceIPv4Address")

    // (b) a template whose enterprise bytes overrun its set boundary: the
    // old 4*nf pre-check passes (2 fields, 8 spec bytes available) but the
    // first enterprise spec eats all 8 — reading field 2 would cross into
    // the NEXT set and learn a garbage layout from its bytes
    val overrun = ipfixTemplatePacket(Seq(
      set(4 + 4 + 8) { bb => // room for 2 plain specs, declares 2 w/ enterprise
        bb.putShort(701).putShort(2)
        bb.putShort((0x8000 | 8).toShort).putShort(4).putInt(9999)
      },
      set(4 + 4 + 4) { bb => // the innocent neighbor set must still learn
        bb.putShort(777).putShort(1)
        bb.putShort(1).putShort(4)
      }))
    val (learned, malformed) = V9.readTemplates(overrun)
    assert(!learned.exists(_._2.id == 701), s"overrunning template learned: $learned")
    assert(learned == Seq((3L, V9.Template(777, Seq(1 -> 4)))))
    assert(V9.decodeTemplates(overrun) == learned)
    assert(malformed == 1, "overrun not counted")

    // (c) same overrun shape in an OPTIONS template (set 3): refused, not
    // learned from the neighbor's bytes
    val optOverrun = ipfixTemplatePacket(Seq({
      val bb = ByteBuffer.allocate(4 + 6 + 8)
      bb.putShort(3).putShort((4 + 6 + 8).toShort)
      bb.putShort(702).putShort(2).putShort(0) // 2 fields, 0 scope
      bb.putShort((0x8000 | 34).toShort).putShort(4).putInt(9999)
      bb.array()
    }))
    assert(V9.decodeTemplates(optOverrun).isEmpty)
  }

  test("short v9 packets fail with IllegalArgumentException, not underflow") {
    // 16-byte packet starting 0x0009: the v9 header is 20 bytes — the old
    // require(>=16) let the sourceId read underflow with an exception the
    // UDP reader does not treat as malformed input (it killed the task)
    val short = Array[Byte](0, 9) ++ new Array[Byte](14)
    intercept[IllegalArgumentException](
      V9.decode(short, sampler, Map.empty))
  }

  test("data before template is dropped and counted, not misdecoded") {
    val rec = v9Record(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 0)
    val dpkt = V9.encodeData(9, sourceId = 7, templateId = 300, Seq(rec))
    val (flows, missed) = V9.decode(dpkt, sampler, Map.empty)
    assert(flows.isEmpty && missed == 1)
    // and the admission sniff exposes what the receiver needs
    assert(V9.dataSetIds(dpkt) == ((7L, Seq(300))))
    assert(V9.dataSetIds(V9.encodeTemplate(9, 7, 300, v9Fields)) == ((7L, Nil)))
  }
}
