package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.SparkSpec

/** An untiered cadence catch-up, and q52u's drain poll, read the rows
  * dirs they list, so Spark's file-source metadata probe never sees a
  * glob path: reading `rows/batch=*` made `FileStreamSink.hasMetadata`
  * stat the literal glob, fail, and log a WARN with a full
  * FileNotFoundException trace on every read.
  */
class CadenceCatchupLogSpec extends SparkSpec {

  private val sinkLogger =
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"

  /** WARN events FileStreamSink's logger emits while `body` runs. */
  private def sinkWarns(body: => Unit): Int = {
    val n = new AtomicInteger
    val app = new AbstractAppender("cadence-warns", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) n.incrementAndGet()
    }
    app.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger(sinkLogger).asInstanceOf[Logger]
    logger.addAppender(app)
    try body finally { logger.removeAppender(app); app.stop() }
    n.get
  }

  test("untiered catch-up reads with entrants log no FileStreamSink WARN") {
    import spark.implicits._
    import graft.ops.StreamQueries.{heavyHitterSketchWriter, CumLedger}
    val dir = s"${graft.Tmp.root}/cadence-catchup-log"
    FileUtils.deleteQuietly(new java.io.File(dir))
    val ledger = new CumLedger
    val writer = heavyHitterSketchWriter(s"$dir/sketch", s"$dir/rows",
      s"$dir/hh", 2, s"$dir/cum", ledger)
    // unique tails per doc: every firing admits entrants, so each one
    // runs the catch-up read over every rows dir
    def batch(ids: Range) = ids.map(i => (i.toLong,
      s"alpha beta gamma tail$i x$i")).toDF("doc_id", "text")
    val warns = sinkWarns {
      (0 to 3).foreach(id => writer(batch(id * 10 until id * 10 + 10), id))
    }
    assert(ledger.rows.exists(r => r.fired && r.entrants > 0),
      s"no firing with entrants — the catch-up path never ran: ${ledger.rows}")
    assert(warns == 0, s"$warns FileStreamSink WARNs during catch-up reads")
  }

  test("the q52u drain polls its rows dirs without a FileStreamSink WARN") {
    val warns = sinkWarns {
      graft.Registry.queries("q52u_stream_top_talkers")(spark, sf).collect()
    }
    assert(warns == 0, s"$warns FileStreamSink WARNs while q52u polled its rows")
  }
}
