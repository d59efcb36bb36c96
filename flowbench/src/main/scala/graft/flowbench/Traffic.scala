package graft.flowbench

import scala.util.hashing.MurmurHash3

import graft.sources.{NetFlowV5, NetFlowV9, SFlowV5}

/** Seeded exporter traffic for the collector workload: a mix of NetFlow
  * v5, v9, IPFIX (with one variable-length field) and sFlow datagrams from
  * several exporter identities. Every field is a pure function of
  * (seed, sequence, record index), and each datagram carries its own
  * expected-row digest, computed from the generator's field values — never
  * by decoding — so the committed rows can be checked against it.
  *
  * Every data datagram gets a sequence number unique across all kinds, so
  * (type, sampler, sequence_num) names exactly one datagram and the
  * receiver's per-exporter dedup never refuses one.
  */
object Traffic {
  val V5 = 0
  val V9 = 1
  val Ipfix = 2
  val SFlow = 3
  val kindNames: IndexedSeq[String] = IndexedSeq("v5", "v9", "ipfix", "sflow")

  /** goflow flow types the decoders emit, per kind. */
  val flowType: IndexedSeq[Int] = IndexedSeq(2, 3, 4, 1)

  /** Listener each kind is sent to: 0 = nfl, 1 = netflow, 2 = sflow. */
  val listenerOf: IndexedSeq[Int] = IndexedSeq(0, 1, 1, 2)
  val schemes: IndexedSeq[String] = IndexedSeq("nfl", "netflow", "sflow")

  /** Records per datagram, per kind. */
  val recordsPer: IndexedSeq[Int] = IndexedSeq(24, 20, 16, 6)

  /** Every datagram is sent from one loopback socket, and the collector
    * records the UDP sender as `sampler_address` for all four codecs.
    */
  val Sampler = "127.0.0.1"

  val V9SourceIds: IndexedSeq[Long] = IndexedSeq(1L, 2L, 3L)
  val IpfixDomains: IndexedSeq[Long] = IndexedSeq(11L, 12L)
  val SFlowAgents: IndexedSeq[Array[Byte]] =
    IndexedSeq(1, 2, 3).map(i => Array[Byte](10, 0, 0, i.toByte))
  val V9TemplateId = 300
  val IpfixTemplateId = 400
  private val UnixSecs = 1700000000L
  private val UptimeMs = 3600000L

  private val v9Fields = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 1 -> 4,
    2 -> 4, 4 -> 1, 6 -> 1, 21 -> 4, 22 -> 4)
  /** IE 82 (interfaceName) is variable-length (65535) and not a flows
    * column: the decoder must skip it by its inline length.
    */
  private val ipfixFields = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 1 -> 4,
    2 -> 4, 4 -> 1, 6 -> 1, 82 -> 65535, 152 -> 8, 153 -> 8)

  /** Template announcements, one per v9 source ID and IPFIX domain. */
  val templates: IndexedSeq[Array[Byte]] =
    V9SourceIds.map(sid => NetFlowV9.encodeTemplate(9, sid, V9TemplateId,
      v9Fields, UptimeMs, UnixSecs)) ++
      IpfixDomains.map(dom => NetFlowV9.encodeTemplate(10, dom,
        IpfixTemplateId, ipfixFields, 0L, UnixSecs))

  /** One data datagram and what the sink must hold for it. */
  final case class Datagram(kind: Int, seq: Long, bytes: Array[Byte],
      rows: Int, digest: Long)

  /** Fields of one generated flow record. */
  final case class Rec(src: Array[Byte], dst: Array[Byte], srcPort: Int,
      dstPort: Int, bytes: Long, packets: Long, proto: Int)

  private val dstPorts = Array(53, 80, 443, 443, 8080, 22, 123, 3306)

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def kindOf(seed: Long, seq: Long): Int = {
    val r = java.lang.Long.remainderUnsigned(mix(seed * 31 + seq), 100).toInt
    if (r < 35) V5 else if (r < 65) V9 else if (r < 80) Ipfix else SFlow
  }

  /** Record `i` of datagram `seq`. The source port is 1024 + i, so every
    * row of a datagram is distinct; sFlow frames always count one packet.
    */
  def rec(seed: Long, seq: Long, i: Int, kind: Int): Rec = {
    val h = mix(mix(seed ^ (seq << 8)) + i)
    val dstPort = dstPorts(((h >>> 56) & 7).toInt)
    val proto = if (dstPort == 53 || dstPort == 123) 17 else 6
    Rec(
      src = Array[Byte](10, (h & 0xff).toByte, ((h >>> 8) & 0x3f).toByte,
        ((h >>> 16) & 0xff).toByte),
      dst = Array[Byte](192.toByte, 168.toByte, ((h >>> 24) & 0xff).toByte,
        ((h >>> 32) & 0xff).toByte),
      srcPort = 1024 + i, dstPort = dstPort,
      bytes = 64 + ((h >>> 40) & 0x3ff),
      packets = if (kind == SFlow) 1L else 1 + ((h >>> 50) & 0x1f),
      proto = proto)
  }

  private def ip(b: Array[Byte]): String =
    s"${b(0) & 0xff}.${b(1) & 0xff}.${b(2) & 0xff}.${b(3) & 0xff}"

  /** Hash of one flows row over the columns the generator controls; the
    * sink side computes the same text from the committed row.
    */
  def rowHash(tpe: Int, sampler: String, seq: Long, src: String, dst: String,
      srcPort: Int, dstPort: Int, bytes: Long, packets: Long, proto: Int): Long =
    MurmurHash3.stringHash(
      s"$tpe|$sampler|$seq|$src|$dst|$srcPort|$dstPort|$bytes|$packets|$proto")
      .toLong

  def datagram(seed: Long, seq: Long): Datagram = {
    val kind = kindOf(seed, seq)
    val recs = (0 until recordsPer(kind)).map(i => rec(seed, seq, i, kind))
    val digest = recs.map(r => rowHash(flowType(kind), Sampler, seq, ip(r.src),
      ip(r.dst), r.srcPort, r.dstPort, r.bytes, r.packets, r.proto)).sum
    val who = java.lang.Long.remainderUnsigned(mix(seq ^ seed), 6).toInt
    val bytes = kind match {
      case V5 =>
        NetFlowV5.encode(UptimeMs, UnixSecs, 0L, seq, 0, recs.map(r =>
          NetFlowV5.Rec(r.src, r.dst, r.packets, r.bytes, firstMs = 1000,
            lastMs = 2000, srcPort = r.srcPort, dstPort = r.dstPort,
            tcpFlags = if (r.proto == 6) 0x18 else 0, proto = r.proto)),
          engineId = who % 2)
      case V9 =>
        NetFlowV9.encodeData(9, V9SourceIds(who % 3), V9TemplateId,
          recs.map(r => Array.concat(r.src, r.dst,
            NetFlowV9.fieldBytes(r.srcPort, 2), NetFlowV9.fieldBytes(r.dstPort, 2),
            NetFlowV9.fieldBytes(r.bytes, 4), NetFlowV9.fieldBytes(r.packets, 4),
            NetFlowV9.fieldBytes(r.proto, 1), NetFlowV9.fieldBytes(0x18, 1),
            NetFlowV9.fieldBytes(2000, 4), NetFlowV9.fieldBytes(1000, 4))),
          UptimeMs, UnixSecs, seq)
      case Ipfix =>
        NetFlowV9.encodeData(10, IpfixDomains(who % 2), IpfixTemplateId,
          recs.map(r => Array.concat(r.src, r.dst,
            NetFlowV9.fieldBytes(r.srcPort, 2), NetFlowV9.fieldBytes(r.dstPort, 2),
            NetFlowV9.fieldBytes(r.bytes, 4), NetFlowV9.fieldBytes(r.packets, 4),
            NetFlowV9.fieldBytes(r.proto, 1), NetFlowV9.fieldBytes(0x18, 1),
            NetFlowV9.varlenBytes(s"eth${r.srcPort % 48}".getBytes("US-ASCII")),
            NetFlowV9.fieldBytes(UnixSecs * 1000, 8),
            NetFlowV9.fieldBytes(UnixSecs * 1000 + 500, 8))),
          0L, UnixSecs, seq)
      case _ =>
        SFlowV5.encode(SFlowAgents(who % 3), seq, recs.map(r =>
          (512L, r.bytes, SFlowV5.ipv4Frame(r.src, r.dst, r.proto, r.srcPort,
            r.dstPort, tcpFlags = if (r.proto == 6) 0x18 else 0))))
    }
    Datagram(kind, seq, bytes, recs.size, digest)
  }
}
