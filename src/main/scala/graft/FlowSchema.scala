package graft

import org.apache.spark.sql.types._

/** Single source of truth for the flows schema — the reference declares it
  * twice by hand (Go struct `main.go:45-77` vs DDL
  * `initdb/create_tables.sql:3-33`, kept in sync by eyeball); here the
  * case class and the StructType derive from one definition.
  *
  * Type map per SURVEY §1.3: ClickHouse UInt32 counters that can exceed
  * Int.MaxValue (sequence_num, sampling_rate, fragment_id) and all UInt64s
  * widen to Long; small enums stay Int; addresses are rendered strings
  * (`main.go:133-139`).
  */
final case class FlowRecord(
    `type`: Int,
    time_received: Long,
    sequence_num: Long,
    sampling_rate: Long,
    flow_direction: Int,
    sampler_address: String,
    time_flow_start: Long,
    time_flow_end: Long,
    bytes: Long,
    packets: Long,
    src_addr: String,
    dst_addr: String,
    etype: Int,
    proto: Int,
    src_port: Int,
    dst_port: Int,
    forwarding_status: Int,
    tcp_flags: Int,
    icmp_type: Int,
    icmp_code: Int,
    fragment_id: Long,
    fragment_offset: Int)

object FlowSchema {
  val schema: StructType =
    org.apache.spark.sql.catalyst.ScalaReflection
      .schemaFor[FlowRecord].dataType.asInstanceOf[StructType]

  /** The ClickHouse column type per field, in DDL order — the reference
    * keeps this in a second hand-synced artifact
    * (`initdb/create_tables.sql:3-33` vs the Go struct `main.go:45-77`);
    * here it lives next to the one schema, [[graft.sources.ClickHouseDdl]]
    * emits the DDL from it, and a golden-file test pins it to the
    * reference byte-for-byte modulo whitespace. The Int/Long choice in
    * [[FlowRecord]] follows SURVEY §1.3: unsigned CH types whose values
    * can exceed Int.MaxValue (UInt64, and the UInt32 counters
    * sequence_num/sampling_rate/fragment_id) widen to Long; small enums
    * stay Int.
    */
  val chTypes: Seq[(String, String)] = Seq(
    "type" -> "Int32",
    "time_received" -> "UInt64",
    "sequence_num" -> "UInt32",
    "sampling_rate" -> "UInt64",
    "flow_direction" -> "UInt32",
    "sampler_address" -> "String",
    "time_flow_start" -> "UInt64",
    "time_flow_end" -> "UInt64",
    "bytes" -> "UInt64",
    "packets" -> "UInt64",
    "src_addr" -> "String",
    "dst_addr" -> "String",
    "etype" -> "UInt32",
    "proto" -> "UInt32",
    "src_port" -> "UInt32",
    "dst_port" -> "UInt32",
    "forwarding_status" -> "UInt32",
    "tcp_flags" -> "UInt32",
    "icmp_type" -> "UInt32",
    "icmp_code" -> "UInt32",
    "fragment_id" -> "UInt32",
    "fragment_offset" -> "UInt32")
  require(chTypes.map(_._1) == schema.fieldNames.toSeq,
    "chTypes must list exactly the schema fields in order")

  /** The per-flow endpoint columns. Nearly every flow brings a new pair,
    * so a Parquet dictionary over them rarely pays for itself in a
    * micro-batch file; [[graft.sources.ParquetSink]] writes them plain.
    */
  val endpointColumns: Seq[String] = Seq("src_addr", "dst_addr")

  /** Raw in-flight shape before the R3 projection: addresses still as
    * network-order bytes, exactly what a goflow decoder emits
    * (`FlowMessage` protobuf, `main.go:21`).
    */
  val rawSchema: StructType = StructType(schema.fields.map {
    case StructField(n @ ("sampler_address" | "src_addr" | "dst_addr"), _, nl, m) =>
      StructField(n, BinaryType, nl, m)
    case f => f
  })

  /** OPT-IN extension beyond the reference's 23-column projection: the
    * goflow FlowMessage fields the reference deliberately drops
    * (`main.go:128-149` maps only the 23; next-hop, interface indices and
    * BGP AS numbers are on the wire in v5 records, v9/IPFIX IEs
    * 10/14/15/16/17/62 and sFlow sample headers but never inserted).
    * Sources emit them only under `extended=true`, so the default surface
    * stays byte-parity with the reference; AS numbers AND ifIndexes widen
    * to Long (4-byte ASNs and SNMP ifIndexes are unsigned32 — values above
    * Int.MaxValue are legal and must not wrap negative; the ClickHouse
    * declaration stays UInt32, the standard UInt32 -> Long widening).
    * sFlow's 2-bit interface-format prefix is stripped at decode and only
    * format 0 (= ifIndex) populates the column.
    */
  val extendedFields: Seq[StructField] = Seq(
    StructField("next_hop", StringType, nullable = true),
    StructField("in_if", LongType, nullable = false),
    StructField("out_if", LongType, nullable = false),
    StructField("src_as", LongType, nullable = false),
    StructField("dst_as", LongType, nullable = false),
    // r10: 802.1Q VLAN id (sFlow dissection / NFv9 IE 58) and the top
    // MPLS label + its TTL (sFlow 0x8847 shim / NFv9 IE 70 label-stack
    // section; v9 carries no TTL for it — stays 0 there). goflow's
    // FlowMessage carries these too; the reference drops them at
    // main.go:128-149 like the other five.
    StructField("vlan_id", IntegerType, nullable = false),
    StructField("mpls_1_label", LongType, nullable = false),
    StructField("mpls_1_ttl", IntegerType, nullable = false),
    // r11: src/dst prefix lengths (goflow SrcNet/DstNet, dropped by the
    // reference with the rest at main.go:128-149) — NFv5 fixed record
    // offsets 44/45, NFv9/IPFIX IEs 9/13 (29/30 for IPv6), sFlow v5
    // extended-router record (format 1002), which also carries the
    // next-hop the plain dissection can't see.
    StructField("src_mask", IntegerType, nullable = false),
    StructField("dst_mask", IntegerType, nullable = false),
    // r11: BGP next-hop AS (goflow NextHopAS, the last FlowMessage field
    // the extended surface lacked) — NFv9/IPFIX IE 128
    // (bgpNextAdjacentAsNumber); sFlow extended-gateway record (format
    // 1003): the first AS of the dst AS path (the BGP neighbor), which
    // record also supplies src_as/dst_as for sFlow flows (the raw-header
    // dissection cannot see AS numbers). Widened to Long like the other
    // ASNs (4-byte ASNs are unsigned32).
    StructField("next_hop_as", LongType, nullable = false))

  val extendedSchema: StructType = StructType(schema.fields ++ extendedFields)

  /** Raw shape of the extended surface (next_hop still network bytes). */
  val rawExtendedSchema: StructType = StructType(rawSchema.fields ++
    extendedFields.map {
      case StructField("next_hop", _, nl, m) => StructField("next_hop", BinaryType, nl, m)
      case f => f
    })
}
