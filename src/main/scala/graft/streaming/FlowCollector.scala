package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.UdpFlowSource

/** The reference's whole `main()` as one call (`main.go:183-268`): UDP
  * flow listeners → decode → 23-column normalize → micro-batched sink,
  * with Prometheus metrics over HTTP — assembled from the parts this
  * library ships. A goflow2clickhouse operator switching to Spark runs
  * exactly this:
  *
  * {{{
  * val c = FlowCollector.start(spark,
  *   outDir = "/data/flows", checkpoint = "/data/cp", udpPort = 2055)
  * // exporters -> udp://host:c.udpPort ; scrape http://host:c.metricsPort/metrics
  * // ... c.stop(spark)
  * }}}
  *
  * The sink writes parquet here ([[FlowPipeline.start]]: one file per
  * core per batch, replay-idempotent commits). For ClickHouse, run the
  * same normalized stream into [[graft.sources.JdbcSink.stream]];
  * `JdbcSink.idempotentAppend` upgrades the reference's at-most-once to
  * effectively-once there.
  *
  * Each micro-batch commits through [[graft.sources.LocalFs]] (see
  * [[Streams.start]]). `/metrics` counts this query only, and exports
  * its batch time per phase (`graft_flows_batch_phase_seconds_total`).
  *
  * Restart semantics for v9/IPFIX templates: the template registry is
  * in-memory per stream (RFC 3954 §5 — templates are receiver state the
  * exporter re-announces periodically; goflow keeps them the same way).
  * After a collector restart, data records arriving BEFORE the exporter's
  * next template announcement are refused at admission and counted in the
  * listener's `template_misses`; refusal does not claim the dedup key, so
  * a re-sent copy after re-announcement decodes normally. Proven in
  * UdpIngestSpec ("v9 template state is re-learned after a collector
  * restart"). Checkpointed offsets resume independently of template state.
  */
object FlowCollector {

  /** One bound listener of a running collector: `name` labels its
    * /metrics counters, `port` is the socket's bound port, read from the
    * started query ([[UdpFlowSource.listeners]]).
    */
  final case class Listener(name: String, scheme: String, host: String, port: Int)

  final case class Running(
      query: StreamingQuery,
      listener: FlowPipeline.MetricsListener,
      metrics: MetricsServer,
      listeners: Seq[Listener]) {
    def udpPort: Int = listeners.head.port
    def metricsPort: Int = metrics.boundPort
    /** Stops the query, then releases the listener and the metrics port
      * even when the stop throws (a stop timeout, say).
      */
    def stop(spark: SparkSession): Unit =
      try query.stop()
      finally try spark.streams.removeListener(listener) finally metrics.stop()
  }

  /** Parsed `scheme://host:port` listen URL (reference `main.go:207-213` —
    * url.Parse over each comma-separated element). Empty host binds
    * loopback; scheme must be one of the reference's three.
    */
  private[graft] final case class ListenUrl(scheme: String, host: String, port: Int)
  private[streaming] def parseListen(listen: String): Seq[ListenUrl] = {
    require(listen.nonEmpty, "empty listen list")
    listen.split(',').toIndexedSeq.map(_.trim).map { u =>
      val i = u.indexOf("://")
      require(i > 0, s"could not parse listen address '$u' (want scheme://host:port)")
      val scheme = u.substring(0, i)
      require(Set("sflow", "netflow", "nfl").contains(scheme),
        s"unknown scheme '$scheme' in '$u' (main.go:241 parity: sflow|netflow|nfl)")
      val rest = u.substring(i + 3)
      // IPv6 hosts must be bracketed ([::1]:6343) like Go's url.Parse; a
      // bare multi-colon host (sflow://::1:6343) would silently mis-split
      // on lastIndexOf(':'), so refuse it at parse time with the fix named
      val (host, portStr) =
        if (rest.startsWith("[")) {
          val close = rest.indexOf(']')
          require(close > 0 && close < rest.length - 1 && rest(close + 1) == ':',
            s"malformed IPv6 listen address '$u' (want scheme://[addr]:port)")
          (rest.substring(1, close), rest.substring(close + 2))
        } else {
          val c = rest.lastIndexOf(':')
          require(c >= 0 && c < rest.length - 1, s"missing port in '$u'")
          require(rest.indexOf(':') == c,
            s"ambiguous IPv6 host in '$u' — bracket it: $scheme://[${rest.substring(0, c)}]:${rest.substring(c + 1)}")
          (rest.substring(0, c), rest.substring(c + 1))
        }
      val port = portStr.toIntOption.getOrElse(-1)
      require(port >= 0 && port <= 65535, s"port '$portStr' in '$u' is not a number in 0-65535")
      ListenUrl(scheme, if (host.isEmpty) "127.0.0.1" else host, port)
    }
  }

  /** Reference CLI parity (`-listen sflow://:6343,netflow://:2055`,
    * `main.go:31,207-256`): one socket PER comma-separated URL, each
    * restricted to its scheme (wrong-version datagrams count as that
    * listener's drops, like goflow's per-state decoders), fanned in via
    * `unionByName` (R2) to one normalized stream and one sink. Counters
    * are labeled per listener on /metrics
    * (`graft_udp_listener_*_total{listener="<name>-<scheme>-<i>"}`).
    * Port 0 = ephemeral; the actual binds come back in
    * [[Running.listeners]].
    *
    * `persistTemplates` (opt-in): persist each listener's v9/IPFIX
    * template + sampling-rate registry beside the query checkpoint (via
    * the checkpoint's Hadoop FileSystem), so a RESTARTED collector decodes
    * data records arriving before the exporter's next periodic template
    * re-export. Default OFF = RFC 3954 §5 wait-for-re-export (goflow
    * parity; a restart counts pre-announcement data in template_misses
    * until re-announcement — both behaviors are spec-pinned in
    * UdpIngestSpec).
    */
  def startUrls(spark: SparkSession, listen: String, outDir: String,
      checkpoint: String, name: String = "collector", metricsPort: Int = 0,
      batchMaxTime: String = "10 seconds", maxPacketsPerBatch: Long = 1000L,
      numPartitions: Int = 4, extended: Boolean = false,
      persistTemplates: Boolean = false): Running = {
    val named = parseListen(listen).zipWithIndex.map { case (u, i) =>
      (u, s"$name-${u.scheme}-$i")
    }
    launch(spark, named, outDir, checkpoint, metricsPort, batchMaxTime,
      maxPacketsPerBatch, numPartitions, extended, persistTemplates)
  }

  /** Start the collector on one `any`-scheme listener (every flow protocol
    * on one port); returns once the UDP port is bound.
    */
  def start(spark: SparkSession, outDir: String, checkpoint: String,
      udpPort: Int = 0, name: String = "collector", metricsPort: Int = 0,
      batchMaxTime: String = "10 seconds", maxPacketsPerBatch: Long = 1000L,
      numPartitions: Int = 4, extended: Boolean = false,
      persistTemplates: Boolean = false): Running = {
    launch(spark, Seq((ListenUrl("any", "127.0.0.1", udpPort), name)), outDir,
      checkpoint, metricsPort, batchMaxTime, maxPacketsPerBatch, numPartitions,
      extended, persistTemplates)
  }

  /** One `nflv5-udp` source per (listen URL, listener name), unioned in
    * that order: the collector's listener assembly.
    */
  private[graft] def udpSources(spark: SparkSession, named: Seq[(ListenUrl, String)],
      maxPacketsPerBatch: Long, numPartitions: Int, extended: Boolean = false,
      persistTemplates: Boolean = false): DataFrame =
    named.map { case (u, n) =>
      spark.readStream.format("nflv5-udp")
        .option("host", u.host).option("port", u.port)
        .option("name", n).option("scheme", u.scheme)
        .option("maxPacketsPerBatch", maxPacketsPerBatch)
        .option("numPartitions", numPartitions)
        .option("extended", extended)
        .option("persistTemplates", persistTemplates)
        .load()
    }.reduce(_ unionByName _)

  /** Metrics listener (scoped to this collector's query) and server, then
    * the query over `named`'s listeners. Every failure past a resource
    * acquisition releases what exists: a query that dies binding its
    * sockets would otherwise leak the query, the listener and the metrics
    * HTTP port with no handle left to stop them.
    */
  private def launch(spark: SparkSession, named: Seq[(ListenUrl, String)],
      outDir: String, checkpoint: String, metricsPort: Int, batchMaxTime: String,
      maxPacketsPerBatch: Long, numPartitions: Int, extended: Boolean,
      persistTemplates: Boolean): Running = {
    val listener = new FlowPipeline.MetricsListener
    spark.streams.addListener(listener)
    var server: MetricsServer = null
    var q: StreamingQuery = null
    try {
      server = new MetricsServer(listener, metricsPort)
      val raw = udpSources(spark, named, maxPacketsPerBatch, numPartitions,
        extended, persistTemplates)
      q = FlowPipeline.start(FlowPipeline.normalize(raw), outDir, checkpoint,
        batchMaxTime)
      listener.bind(q.id)
      val bound = named.zip(UdpFlowSource.listeners(q)).map { case ((u, _), s) =>
        Listener(s.name, u.scheme, u.host, s.port)
      }
      Running(q, listener, server, bound)
    } catch {
      case e: Throwable =>
        if (q != null) { try q.stop() catch { case _: Exception => () } }
        spark.streams.removeListener(listener)
        if (server != null) { try server.stop() catch { case _: Exception => () } }
        throw e
    }
  }
}
