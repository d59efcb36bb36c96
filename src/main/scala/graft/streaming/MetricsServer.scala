package graft.streaming

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** R6 parity, the serving half: the reference exposes its counters over
  * HTTP for Prometheus to scrape (`main.go:177-180`, promhttp handler on
  * `-metrics.addr`/`-metrics.path`). In a production Spark deployment the
  * same job falls to the built-in PrometheusServlet
  * (`spark.ui.prometheus.enabled`) scraping driver/executor metrics; this
  * dependency-free server completes the exact parity point for the
  * pipeline-level counters [[FlowPipeline.MetricsListener]] accumulates,
  * emitting the Prometheus text exposition format (v0.0.4 — what promhttp
  * speaks).
  *
  * Port 0 = ephemeral; [[boundPort]] reports the actual bind for scrape
  * config / tests.
  */
final class MetricsServer(listener: FlowPipeline.MetricsListener, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  private def body: String =
    s"""# HELP graft_flows_rows_total Rows ingested by the collector's streaming query.
       |# TYPE graft_flows_rows_total counter
       |graft_flows_rows_total ${listener.rowsIn.sum()}
       |# HELP graft_flows_batches_total Micro-batches completed.
       |# TYPE graft_flows_batches_total counter
       |graft_flows_batches_total ${listener.batches.sum()}
       |# HELP graft_decoder_dropped_total Datagrams dropped by the flow decoders, summed over graft_udp_listener_dropped_total.
       |# TYPE graft_decoder_dropped_total counter
       |graft_decoder_dropped_total ${graft.sources.UdpFlowSource.dropped}
       |# HELP graft_decoder_template_misses_total v9/IPFIX data packets refused while their template was unknown, summed over graft_udp_listener_template_misses_total.
       |# TYPE graft_decoder_template_misses_total counter
       |graft_decoder_template_misses_total ${graft.sources.UdpFlowSource.templateMisses}
       |# HELP graft_cadence_churn_alerts_total Heavy-hitter cadence writers that reported sustained candidate churn (entrants on ${graft.ops.StreamQueries.ChurnAlertFirings} consecutive firings).
       |# TYPE graft_cadence_churn_alerts_total counter
       |graft_cadence_churn_alerts_total ${graft.ops.StreamQueries.cadenceChurnAlerts.sum()}
       |# HELP graft_flows_last_rows_per_second Input rate at the last progress event.
       |# TYPE graft_flows_last_rows_per_second gauge
       |graft_flows_last_rows_per_second ${listener.lastRowsPerSecond}
       |# HELP graft_flows_max_batch_rows Largest single micro-batch admitted (R4 invariant).
       |# TYPE graft_flows_max_batch_rows gauge
       |graft_flows_max_batch_rows ${listener.maxBatchRows}
       |$phaseBody$listenerBody$registryBody$ifCounterBody$ethVlanProcBody""".stripMargin

  /** Batch time per `durationMs` phase, summed over progress events: an
    * operator sees the commit share (`walCommit` + `commitOffsets`) next to
    * the sink (`addBatch`) and the whole trigger.
    */
  private def phaseBody: String = {
    val name = "graft_flows_batch_phase_seconds_total"
    s"# HELP $name Micro-batch time per StreamingQueryProgress.durationMs phase.\n" +
      s"# TYPE $name counter\n" +
      FlowPipeline.MetricsListener.Phases.map { p =>
        s"""$name{phase="$p"} ${listener.phaseMs(p).sum() / 1000.0}"""
      }.mkString("", "\n", "\n")
  }

  /** Per-listener counter attribution — the reference runs one goflow
    * FlowRoutine per listen URL, so a two-socket deployment
    * (`sflow://:6343,netflow://:2055`) sees its drop/receive counts PER
    * SOCKET; labels mirror that.
    */
  private def listenerBody: String = {
    val entries = graft.sources.UdpFlowSource.listenerStats
    if (entries.isEmpty) ""
    else {
      val counters = Seq[(String, String,
          graft.sources.UdpFlowSource.ListenerStats => Long)](
        ("graft_udp_listener_received_total",
          "Datagrams admitted by this listener.", _.received.sum()),
        ("graft_udp_listener_dropped_total",
          "Datagrams dropped by this listener (malformed, wrong scheme, overflow).",
          _.dropped.sum()),
        ("graft_udp_listener_template_misses_total",
          "v9/IPFIX data packets this listener refused while their template was unknown.",
          _.templateMisses.sum()))
      counters.map { case (name, help, get) =>
        s"# HELP $name $help\n# TYPE $name counter\n" +
          entries.map { case (l, st) =>
            s"""$name{listener="$l"} ${get(st)}"""
          }.mkString("", "\n", "\n")
      }.mkString
    }
  }

  /** Size and cap evictions of each sFlow counter registry: a fleet
    * that outgrows the cap shows as a rising eviction count.
    */
  private def registryBody: String = {
    type R = (String, java.util.Map[_, _], java.util.concurrent.atomic.LongAdder)
    val regs = graft.sources.UdpFlowSource.counterRegistries.map(r => r._1 -> r).toVector
    val label = (r: String) => s"""registry="$r""""
    gaugeSection(regs, Seq[(String, String, R => Long)](("graft_sflow_registry_entries",
      "Entries held in each sFlow counter registry.", _._2.size.toLong)), label) +
    gaugeSection(regs, Seq[(String, String, R => Long)](("graft_sflow_registry_evictions_total",
      "Entries each sFlow counter registry evicted at its cap.", _._3.sum())), label, "counter")
  }

  /** sFlow generic interface counters (the non-flow half of sFlow),
    * labeled by agent and ifIndex — what an operator points Grafana at
    * next to the flows themselves.
    */
  private def ifCounterBody: String = {
    import graft.sources.{SFlowV5 => SF}
    gaugeSection(snapshot(graft.sources.UdpFlowSource.ifCounters),
      Seq[(String, String, SF.IfCounters => Long)](
        ("graft_sflow_if_in_octets", "Input octets on the interface.", _.ifInOctets),
        ("graft_sflow_if_out_octets", "Output octets on the interface.", _.ifOutOctets),
        ("graft_sflow_if_in_ucast_pkts", "Input unicast packets.", _.ifInUcastPkts),
        ("graft_sflow_if_out_ucast_pkts", "Output unicast packets.", _.ifOutUcastPkts),
        ("graft_sflow_if_in_errors", "Input errors.", _.ifInErrors),
        ("graft_sflow_if_out_errors", "Output errors.", _.ifOutErrors)),
      (k: (String, Long)) => s"""agent="${k._1}",ifindex="${k._2}"""")
  }

  /** Snapshot a synchronized LRU registry (iteration needs the map's own
    * lock) into sorted (key, value) pairs.
    */
  private def snapshot[K: Ordering, V](m: java.util.Map[K, V]): Vector[(K, V)] = {
    import scala.jdk.CollectionConverters._
    m.synchronized { m.entrySet().asScala.map(e => (e.getKey, e.getValue)).toVector }
      .sortBy(_._1)
  }

  private def gaugeSection[K, V](entries: Vector[(K, V)], gauges: Seq[(String, String, V => Long)],
      label: K => String, kind: String = "gauge"): String =
    if (entries.isEmpty) ""
    else gauges.map { case (name, help, get) =>
      s"# HELP $name $help\n# TYPE $name $kind\n" +
        entries.map { case (k, v) => s"$name{${label(k)}} ${get(v)}" }
          .mkString("", "\n", "\n")
    }.mkString

  /** sFlow counter-record formats 2/5/1001 (ethernet / vlan / processor) —
    * goflow v3.4.5 decodes the same structs; a headline subset of each
    * becomes gauges (full structs live in the registries).
    */
  private def ethVlanProcBody: String = {
    import graft.sources.{SFlowV5 => SF, UdpFlowSource => U}
    gaugeSection(snapshot(U.ethCounters),
      Seq[(String, String, SF.EthernetCounters => Long)](
        ("graft_sflow_eth_fcs_errors", "dot3StatsFCSErrors.", _.fcsErrors),
        ("graft_sflow_eth_alignment_errors", "dot3StatsAlignmentErrors.", _.alignmentErrors),
        ("graft_sflow_eth_late_collisions", "dot3StatsLateCollisions.", _.lateCollisions),
        ("graft_sflow_eth_symbol_errors", "dot3StatsSymbolErrors.", _.symbolErrors)),
      (k: (String, Long)) => s"""agent="${k._1}",source="${k._2}"""") +
    gaugeSection(snapshot(U.vlanCounters),
      Seq[(String, String, SF.VlanCounters => Long)](
        ("graft_sflow_vlan_octets", "Octets observed on the VLAN.", _.octets),
        ("graft_sflow_vlan_ucast_pkts", "Unicast packets on the VLAN.", _.ucastPkts),
        ("graft_sflow_vlan_discards", "Discards on the VLAN.", _.discards)),
      (k: (String, Long)) => s"""agent="${k._1}",vlan="${k._2}"""") +
    gaugeSection(snapshot(U.procCounters),
      Seq[(String, String, SF.ProcessorCounters => Long)](
        ("graft_sflow_proc_cpu_5s_pct", "CPU utilization over 5 s (percent).", _.cpu5s),
        ("graft_sflow_proc_cpu_1m_pct", "CPU utilization over 1 min (percent).", _.cpu1m),
        ("graft_sflow_proc_total_memory_bytes", "Total agent memory.", _.totalMemory),
        ("graft_sflow_proc_free_memory_bytes", "Free agent memory.", _.freeMemory)),
      (k: String) => s"""agent="$k"""")
  }

  server.createContext("/metrics", (exchange: com.sun.net.httpserver.HttpExchange) => {
    val bytes = body.getBytes("UTF-8")
    exchange.getResponseHeaders.add("Content-Type",
      "text/plain; version=0.0.4; charset=utf-8")
    exchange.sendResponseHeaders(200, bytes.length)
    exchange.getResponseBody.write(bytes)
    exchange.close()
  })
  server.setExecutor(null) // counters only: serve on the accept thread
  server.start()

  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}
