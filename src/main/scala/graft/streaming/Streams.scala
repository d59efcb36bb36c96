package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryException}

import graft.sources.LocalFs

/** The one place this library starts a stream. */
object Streams {

  /** [[graft.sources.LocalFs]] for `file:` paths, as a `FileSystem` and as
    * the FileContext `AbstractFileSystem`. The `file:` FileSystem cache is
    * off because the JVM-wide cache is keyed on scheme and user and
    * already holds a stock instance. Non-`file:` paths never read these.
    */
  val LocalFsKeys: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFs.Checksummed].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName)

  /** The RocksDB state store, which `transformWithState` needs, with
    * changelog checkpointing: a batch commit appends only the batch's
    * changed keys instead of uploading a full SST snapshot per store, and
    * snapshots move to background maintenance. Commit cost then tracks
    * change volume, not state size.
    */
  val RocksDbState: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Start `df`'s stream with its checkpoint at `checkpoint`; `sink`
    * completes the writer (format, trigger, output mode, `foreachBatch`).
    *
    * Install scope: [[LocalFsKeys]] and `conf` are set on the session only
    * while the query starts, under a lock, and the caller's values are
    * restored after. The query builds its logs and clones the session for
    * its batches inside that window, and the window stays open until the
    * query's own thread has built its sources (a file source keeps a log
    * under the checkpoint too). So its checkpoint, state store, sink and
    * any write planned from a batch's own session keep the keys; the
    * caller's session does not. Starts are serialised by the lock, but
    * another thread using the session during the window also sees the
    * keys; the scope therefore holds for sessions whose streams start from
    * one thread.
    */
  def start(df: DataFrame, checkpoint: String, conf: (String, String)*)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val spark = df.sparkSession
    val keys = LocalFsKeys ++ conf
    synchronized {
      val caller = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val q = sink(df.writeStream.option("checkpointLocation", checkpoint)).start()
        // a query that dies here reports it through its own handle
        try q.asInstanceOf[StreamingQueryWrapper].streamingQuery.awaitInitialization(60000L)
        catch { case _: StreamingQueryException => () }
        q
      } finally caller.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
