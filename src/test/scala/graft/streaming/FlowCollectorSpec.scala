package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, HttpURLConnection, InetAddress, URI}
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.sources.{NetFlowV5 => V5, SFlowV5 => SF}

/** The whole reference daemon in one call: exporters send datagrams, flows
  * land in the sink, /metrics reports progress (`main.go:183-268` parity).
  */
class FlowCollectorSpec extends SparkSpec {

  test("collector ingests UDP flows to parquet and serves metrics") {
    val tmp = s"${graft.Tmp.root}/collector-spec"
    val out = s"$tmp/out"; val cp = s"$tmp/cp"
    Seq(out, cp).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))

    val c = FlowCollector.start(spark, outDir = out, checkpoint = cp,
      name = "collector-spec", batchMaxTime = "200 milliseconds")
    val sock = new DatagramSocket()
    try {
      assert(c.udpPort > 0 && c.metricsPort > 0)
      val addr = InetAddress.getByName("127.0.0.1")
      def send(b: Array[Byte]): Unit =
        sock.send(new DatagramPacket(b, b.length, addr, c.udpPort))

      val v5 = V5.encode(1000L, 1700000700L, 0L, 1L, 100,
        (0 until 5).map(i => V5.Rec(Array[Byte](10, 0, 1, i.toByte),
          Array[Byte](10, 0, 2, 1), pkts = 1, octets = 500 + i,
          firstMs = 0, lastMs = 0, srcPort = 1000 + i, dstPort = 443,
          tcpFlags = 18, proto = 6)))
      val sflow = SF.encode(Array[Byte](10, 0, 0, 9), 2L,
        Seq((256L, 900L, SF.ipv4Frame(Array[Byte](10, 1, 1, 1),
          Array[Byte](10, 1, 1, 2), proto = 17, srcPort = 53, dstPort = 5353))))

      val deadline = System.nanoTime() + 60_000_000_000L
      def sunkRows(): Long =
        try spark.read.parquet(out).count() catch { case _: Exception => 0L }
      while (sunkRows() < 6 && System.nanoTime() < deadline) {
        send(v5); send(sflow)
        Thread.sleep(200)
      }
      // NOTE: no dedup option here, so re-sent packets may land twice —
      // assert on distinct flows, the idempotent-sink path is the dedup story
      val flows = spark.read.parquet(out)
      assert(flows.schema.fieldNames.toSeq == graft.FlowSchema.schema.fieldNames.toSeq)
      assert(flows.filter(col("type") === 2).select("src_port").distinct().count() == 5)
      assert(flows.filter(col("type") === 1 && col("dst_port") === 5353).count() >= 1)

      // metrics visible over HTTP
      val conn = new URI(s"http://127.0.0.1:${c.metricsPort}/metrics").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      try {
        assert(conn.getResponseCode == 200)
        val text = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        val rows = text.linesIterator
          .find(_.startsWith("graft_flows_rows_total")).get.split(" ")(1).toDouble
        assert(rows >= 6.0, text)
      } finally conn.disconnect()
    } finally { sock.close(); c.stop(spark) }
  }

  test("URL-list collector: two live listeners, per-listener scheme + metrics") {
    // the reference's CLI default shape: -listen sflow://:6343,netflow://:2055
    // (main.go:31) — here with nfl for a deterministic v5 payload and
    // ephemeral ports
    val tmp = s"${graft.Tmp.root}/collector-urls"
    val out = s"$tmp/out"; val cp = s"$tmp/cp"
    Seq(out, cp).foreach(p => FileUtils.deleteQuietly(Paths.get(p).toFile))

    val c = FlowCollector.startUrls(spark, "nfl://:0,sflow://:0",
      outDir = out, checkpoint = cp, name = "collector-urls",
      batchMaxTime = "200 milliseconds")
    val sock = new DatagramSocket()
    try {
      assert(c.listeners.size == 2)
      val Seq(nfl, sfl) = c.listeners
      assert(nfl.scheme == "nfl" && sfl.scheme == "sflow")
      assert(nfl.port > 0 && sfl.port > 0 && nfl.port != sfl.port)
      val addr = InetAddress.getByName("127.0.0.1")
      def send(b: Array[Byte], port: Int): Unit =
        sock.send(new DatagramPacket(b, b.length, addr, port))

      val v5 = V5.encode(1000L, 1700000700L, 0L, 1L, 100,
        (0 until 3).map(i => V5.Rec(Array[Byte](10, 0, 1, i.toByte),
          Array[Byte](10, 0, 2, 1), pkts = 1, octets = 500 + i,
          firstMs = 0, lastMs = 0, srcPort = 2000 + i, dstPort = 443,
          tcpFlags = 18, proto = 6)))
      val sflow = SF.encode(Array[Byte](10, 0, 0, 9), 2L,
        Seq((256L, 900L, SF.ipv4Frame(Array[Byte](10, 1, 1, 1),
          Array[Byte](10, 1, 1, 2), proto = 17, srcPort = 53, dstPort = 5353))))

      val deadline = System.nanoTime() + 60_000_000_000L
      def sunkRows(): Long =
        try spark.read.parquet(out).count() catch { case _: Exception => 0L }
      while (sunkRows() < 4 && System.nanoTime() < deadline) {
        send(v5, nfl.port); send(sflow, sfl.port)
        // wrong-scheme cross-traffic: the v5 packet at the sFlow listener
        // must be REFUSED there (goflow's per-state decoder parity) and
        // counted as that listener's drop
        send(v5, sfl.port)
        Thread.sleep(200)
      }
      val flows = spark.read.parquet(out)
      // both protocols landed through their own listeners...
      assert(flows.filter(col("type") === 2).select("src_port").distinct().count() == 3)
      assert(flows.filter(col("type") === 1 && col("dst_port") === 5353).count() >= 1)
      // ...and the v5 flows came ONLY through the nfl listener: had the
      // sFlow socket admitted the cross-sent v5 packet there would be
      // duplicate-free proof no matter what, so check the counters below

      // per-listener counters over /metrics
      val conn = new URI(s"http://127.0.0.1:${c.metricsPort}/metrics").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      try {
        assert(conn.getResponseCode == 200)
        val text = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        def counter(metric: String, l: String): Double = text.linesIterator
          .find(_.startsWith(s"""$metric{listener="$l"}"""))
          .map(_.split(' ').last.toDouble)
          .getOrElse(fail(s"missing $metric for $l:\n$text"))
        val rx = "graft_udp_listener_received_total"
        val dr = "graft_udp_listener_dropped_total"
        assert(counter(rx, nfl.name) >= 1.0, "nfl listener admitted nothing")
        assert(counter(rx, sfl.name) >= 1.0, "sflow listener admitted nothing")
        // scheme restriction: every cross-sent v5 packet is a drop at the
        // sFlow listener, and the nfl listener (receiving only clean v5)
        // dropped nothing
        assert(counter(dr, sfl.name) >= 1.0, "wrong-scheme packet not counted as drop")
        assert(counter(dr, nfl.name) == 0.0, "clean v5 traffic miscounted as drops")
      } finally conn.disconnect()
    } finally { sock.close(); c.stop(spark) }
  }

  test("listen URL parsing matches the reference's accepted shapes") {
    import FlowCollector.{ListenUrl, parseListen}
    assert(parseListen("sflow://:6343,netflow://:2055") ==
      Seq(ListenUrl("sflow", "127.0.0.1", 6343), ListenUrl("netflow", "127.0.0.1", 2055)))
    assert(parseListen("nfl://0.0.0.0:2056") == Seq(ListenUrl("nfl", "0.0.0.0", 2056)))
    intercept[IllegalArgumentException](parseListen("udp://:99"))
    intercept[IllegalArgumentException](parseListen("sflow://"))
    intercept[IllegalArgumentException](parseListen("garbage"))
    // a port outside 0-65535 or not a number fails here, naming the URL,
    // not later on the query thread at bind
    for (bad <- Seq("nfl://:70000", "sflow://:-1", "netflow://:20x55", "sflow://[::1]:65536")) {
      val e = intercept[IllegalArgumentException](parseListen(s"nfl://:2055,$bad"))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
    assert(parseListen("nfl://:65535,nfl://:0").map(_.port) == Seq(65535, 0))
    // IPv6: bracketed form accepted with brackets stripped (url.Parse
    // parity); an unbracketed multi-colon host would mis-split on the
    // last ':' and must fail at parse time, not at bind (ADVICE r08)
    assert(parseListen("sflow://[::1]:6343") == Seq(ListenUrl("sflow", "::1", 6343)))
    assert(parseListen("netflow://[fe80::1]:2055") ==
      Seq(ListenUrl("netflow", "fe80::1", 2055)))
    val amb = intercept[IllegalArgumentException](parseListen("sflow://::1:6343"))
    assert(amb.getMessage.contains("[::1]:6343"), "error must name the bracketed fix")
    intercept[IllegalArgumentException](parseListen("sflow://[::1]6343"))
    intercept[IllegalArgumentException](parseListen("sflow://[::1]:"))
  }

  test("a failed start releases the query, listener and metrics port") {
    // ADVICE r3: a failure after resources are acquired (here: an
    // uncreatable checkpoint dir) used to leak the started query, the
    // listener and the HTTP port with no handle to stop them
    val activeBefore = spark.streams.active.length
    val listenersBefore = spark.streams.listListeners().length
    // grab a concrete free port so we can prove it is released
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    intercept[Exception] {
      FlowCollector.start(spark, outDir = s"${graft.Tmp.root}/fc-fail",
        checkpoint = "/proc/nonexistent/cp", name = "collector-fail",
        metricsPort = port)
    }
    assert(spark.streams.active.length == activeBefore, "query leaked")
    assert(spark.streams.listListeners().length == listenersBefore, "listener leaked")
    // the metrics port must be bindable again
    val rebind = new java.net.ServerSocket(port)
    rebind.close()
  }

  test("a start on a taken UDP port throws the bind error at once and leaks nothing") {
    val activeBefore = spark.streams.active.length
    val listenersBefore = spark.streams.listListeners().length
    val probe = new java.net.ServerSocket(0)
    val metricsPort = probe.getLocalPort
    probe.close()
    val tmp = s"${graft.Tmp.root}/collector-taken"
    FileUtils.deleteQuietly(Paths.get(tmp).toFile)
    val taken = new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
    try {
      val t0 = System.nanoTime()
      val e = intercept[StreamingQueryException] {
        FlowCollector.startUrls(spark, s"netflow://127.0.0.1:${taken.getLocalPort}",
          outDir = s"$tmp/out", checkpoint = s"$tmp/cp", name = "collector-taken",
          metricsPort = metricsPort)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.net.BindException]), e)
      assert(secs < 10, s"the bind error took $secs s to surface")
    } finally taken.close()
    assert(spark.streams.active.length == activeBefore, "query leaked")
    assert(spark.streams.listListeners().length == listenersBefore, "listener leaked")
    new java.net.ServerSocket(metricsPort).close() // the metrics port is free again
  }

  test("a listener that fails to bind releases the listeners bound before it") {
    val lo = InetAddress.getByName("127.0.0.1")
    val probe = new DatagramSocket(0, lo)
    val free = probe.getLocalPort
    probe.close()
    val name = "collector-half-bound"
    val tmp = s"${graft.Tmp.root}/$name"
    FileUtils.deleteQuietly(Paths.get(tmp).toFile)
    val taken = new DatagramSocket(0, lo)
    try intercept[StreamingQueryException] {
      FlowCollector.startUrls(spark,
        s"nfl://127.0.0.1:$free,netflow://127.0.0.1:${taken.getLocalPort}",
        outDir = s"$tmp/out", checkpoint = s"$tmp/cp", name = name)
    } finally taken.close()
    new DatagramSocket(free, lo).close() // the first listener's port is free again
    def receivers = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"nflv5-udp-receiver-$name"))
    val deadline = System.nanoTime() + 5000000000L
    while (receivers.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(receivers.isEmpty, receivers.map(_.getName))
  }

  test("a malformed template record counts against its listener and in the /metrics total") {
    val tmp = s"${graft.Tmp.root}/collector-overrun"
    FileUtils.deleteQuietly(Paths.get(tmp).toFile)
    val c = FlowCollector.startUrls(spark, "netflow://:0", outDir = s"$tmp/out",
      checkpoint = s"$tmp/cp", name = "collector-overrun",
      batchMaxTime = "200 milliseconds")
    try {
      // IPFIX template set of 16 bytes declaring 2 enterprise fields: the
      // first field spec (8 bytes) uses up the set, so the record overruns
      val overrun = java.nio.ByteBuffer.allocate(32)
        .putShort(10).putShort(32).putInt(1700000000).putInt(1).putInt(3)
        .putShort(2).putShort(16).putShort(701).putShort(2)
        .putShort((0x8000 | 8).toShort).putShort(4).putInt(9999).array()
      val stats = graft.sources.UdpFlowSource.listenerStats.toMap
        .apply(c.listeners.head.name)
      val before = stats.dropped.sum()
      val sock = new DatagramSocket()
      try (0 until 5).foreach(_ => sock.send(new DatagramPacket(overrun, overrun.length,
        InetAddress.getByName("127.0.0.1"), c.udpPort)))
      finally sock.close()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (stats.dropped.sum() < before + 5 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(stats.dropped.sum() == before + 5)

      val m = scrape(c.metricsPort).linesIterator.filterNot(_.startsWith("#")).toSeq
      def values(prefix: String) = m.filter(_.startsWith(prefix)).map(_.split(' ').last.toDouble)
      val total = values("graft_decoder_dropped_total ")
      assert(total.size == 1 && total.head >= 5)
      assert(total.head == values("graft_udp_listener_dropped_total{").sum, m.mkString("\n"))
    } finally c.stop(spark)
  }

  private val v5 = V5.encode(1000L, 1700000700L, 0L, 1L, 100,
    (0 until 5).map(i => V5.Rec(Array[Byte](10, 0, 1, i.toByte),
      Array[Byte](10, 0, 2, 1), pkts = 1, octets = 500 + i,
      firstMs = 0, lastMs = 0, srcPort = 1000 + i, dstPort = 443,
      tcpFlags = 18, proto = 6)))

  /** Send 5-row v5 datagrams, `perRound` to each of `ports` every 50 ms,
    * until `done` or `seconds` pass.
    */
  private def sendUntil(ports: Seq[Int], perRound: Int, seconds: Int)(done: => Boolean): Unit = {
    val sock = new DatagramSocket()
    val addr = InetAddress.getByName("127.0.0.1")
    val deadline = System.nanoTime() + seconds * 1000000000L
    try while (!done && System.nanoTime() < deadline) {
      for (port <- ports; _ <- 0 until perRound)
        sock.send(new DatagramPacket(v5, v5.length, addr, port))
      Thread.sleep(50)
    } finally sock.close()
  }

  private def scrape(port: Int): String = {
    val conn = new URI(s"http://127.0.0.1:$port/metrics").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try new String(conn.getInputStream.readAllBytes(), "UTF-8") finally conn.disconnect()
  }

  test("the commit path forks no process and writes one part file per core per batch") {
    // without libhadoop, Hadoop's local file system forks chmod per created
    // file/dir and readlink per checkpoint rename: dozens of processes per batch
    val tmp = s"${graft.Tmp.root}/collector-forks"
    val out = s"$tmp/out"; val cp = s"$tmp/cp"
    FileUtils.deleteQuietly(Paths.get(tmp).toFile)
    val (live, forks) = HadoopForks.during {
      val c = FlowCollector.startUrls(spark, "nfl://:0,nfl://:0",
        outDir = out, checkpoint = cp, name = "collector-forks",
        batchMaxTime = "200 milliseconds")
      def live = c.query.recentProgress.count(_.numInputRows > 0)
      // 16 datagrams a round fill all 4 partitions of each listener: 8 per
      // batch, coalesced to one part file per core
      try sendUntil(c.listeners.map(_.port), perRound = 16, seconds = 15)(live >= 5)
      finally c.stop(spark)
      live
    }
    assert(live >= 5, s"only $live batches committed")
    // the install is held by the stream only, not left on the session
    Seq("fs.file.impl", "fs.file.impl.disable.cache", "fs.AbstractFileSystem.file.impl")
      .foreach(k => assert(spark.conf.getOption(k).isEmpty, k))
    assert(forks.isEmpty, forks.take(3).mkString("\n"))

    // on-disk layout is stock Hadoop's; at most one part file per core per
    // batch (the write job's uuid is in each part file's name)
    val sink = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSet
    val parts = sink.filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.forall(f => sink.contains(s".$f.crc")), sink)
    assert(sink.contains("_SUCCESS") && sink.contains("._SUCCESS.crc"), sink)
    val perBatch = parts.groupBy(_.split('-').slice(2, 7).mkString("-")).values.map(_.size)
    assert(perBatch.size >= 5 && perBatch.forall(_ <= spark.sparkContext.defaultParallelism),
      perBatch)
    Seq("offsets", "commits").foreach { d =>
      val f = Files.list(Paths.get(cp, d)).iterator().asScala.map(_.getFileName.toString).toSet
      assert(f.contains("0") && f.contains(".0.crc"), s"$d: $f")
    }
  }

  test("/metrics counts only the collector's query while another stream runs") {
    val tmp = s"${graft.Tmp.root}/collector-scoped"
    val out = s"$tmp/out"
    FileUtils.deleteQuietly(Paths.get(tmp).toFile)
    val other = spark.readStream.format("flowgen")
      .option("totalRows", 1000000000L).option("maxRowsPerBatch", 500L).load()
      .writeStream.format("noop").option("checkpointLocation", s"$tmp/other-cp")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      val c = FlowCollector.start(spark, outDir = out, checkpoint = s"$tmp/cp",
        name = "collector-scoped", batchMaxTime = "200 milliseconds")
      try {
        def sunk = try spark.read.parquet(out).count() catch { case _: Exception => 0L }
        sendUntil(Seq(c.udpPort), perRound = 2, seconds = 30)(sunk >= 50)
        assert(other.isActive && other.recentProgress.exists(_.numInputRows > 0))
        // progress is delivered asynchronously: wait until the scrape settles
        def rows = scrape(c.metricsPort).linesIterator
          .find(_.startsWith("graft_flows_rows_total ")).get.split(' ')(1).toDouble
        val deadline = System.nanoTime() + 10_000_000_000L
        while (rows != sunk && System.nanoTime() < deadline) Thread.sleep(100)
        assert(sunk >= 50 && rows == sunk, s"scraped $rows rows, sink holds $sunk")
      } finally c.stop(spark)
    } finally other.stop()
  }

  test("stop releases the listener and the metrics port when the query's stop throws") {
    val listener = new FlowPipeline.MetricsListener
    spark.streams.addListener(listener)
    val server = new MetricsServer(listener)
    val port = server.boundPort
    val stuck = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[StreamingQuery]), (_: Any, m: java.lang.reflect.Method, _: Array[AnyRef]) =>
        if (m.getName == "stop") throw new TimeoutException("stop timed out")
        else throw new UnsupportedOperationException(m.getName))
      .asInstanceOf[StreamingQuery]
    intercept[TimeoutException](FlowCollector.Running(stuck, listener, server, Nil).stop(spark))
    assert(!spark.streams.listListeners().contains(listener), "listener leaked")
    new java.net.ServerSocket(port).close() // the metrics port is free again
  }
}
