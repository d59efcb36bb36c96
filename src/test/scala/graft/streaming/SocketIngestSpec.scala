package graft.streaming

import java.io.PrintWriter
import java.net.ServerSocket
import java.nio.file.Paths

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Network ingest over a real TCP socket — the closest in-container
  * analogue of the reference's UDP listeners (`main.go:225-250`): a local
  * server emits NDJSON flow records (goflow2's alternative transport
  * format), Spark's socket source receives them, `from_json` decodes, the
  * R3 projection normalizes. Exercises the full network → decode →
  * normalize path that FlowGenSource (in-process) and the file source
  * (staged) only approximate.
  */
class SocketIngestSpec extends SparkSpec {

  test("NDJSON flows over a TCP socket decode and normalize") {
    val n = 200
    val server = new ServerSocket(0) // ephemeral port
    val port = server.getLocalPort
    val writer = new Thread {
      override def run(): Unit = {
        val sock = server.accept()
        val out = new PrintWriter(sock.getOutputStream, true)
        (0 until n).foreach { i =>
          out.println(
            s"""{"type":1,"time_received":${1700000000L + i},"sequence_num":$i,""" +
              s""""sampling_rate":1000,"flow_direction":${i % 2},""" +
              s""""src_addr":"10.0.${i % 200}.1","dst_addr":"192.168.0.${i % 50}",""" +
              s""""bytes":${1000 + i},"packets":${1 + i % 5},"proto":6,""" +
              s""""src_port":${40000 + i},"dst_port":443,"tcp_flags":18}""")
        }
        out.flush()
        // leave the socket open until the query has drained; the query
        // stop below closes the client side first
        Thread.sleep(30000)
        sock.close(); server.close()
      }
    }
    writer.setDaemon(true)
    writer.start()

    val cp = s"${graft.Tmp.root}/socket-spec/cp"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    val schema = "type INT, time_received BIGINT, sequence_num BIGINT, " +
      "sampling_rate BIGINT, flow_direction INT, src_addr STRING, " +
      "dst_addr STRING, bytes BIGINT, packets BIGINT, proto INT, " +
      "src_port INT, dst_port INT, tcp_flags INT"
    val decoded = spark.readStream.format("socket")
      .option("host", "localhost").option("port", port).load()
      .select(from_json(col("value"), schema, new java.util.HashMap[String, String]()).as("f"))
      .select(col("f.*"))
    val q = decoded.writeStream.format("memory").queryName("socket_sink")
      .outputMode("append").option("checkpointLocation", cp).start()
    try {
      val deadline = System.nanoTime() + 60_000_000_000L
      while (spark.table("socket_sink").count() < n && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val got = spark.table("socket_sink")
      assert(got.count() == n)
      // decode fidelity + the flows-domain aggregation over the stream
      val top = got.groupBy("src_addr")
        .agg(sum(col("bytes") * col("sampling_rate")).as("est_bytes"))
        .orderBy(col("est_bytes").desc).limit(1).head()
      assert(top.getAs[String]("src_addr").startsWith("10.0."))
      assert(got.filter(col("dst_port") === 443).count() == n)
      assert(got.agg(countDistinct("sequence_num")).head().getLong(0) == n)
    } finally q.stop()
  }
}
