package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{Registry, SparkSpec}

/** The stateful streaming set (Q50 dedup, Q51 mapGroupsWithState, Q52b
  * stream-stream join) under `RocksDBStateStoreProvider` — the 100 TB
  * posture for state that outgrows the default HDFS-backed heap store
  * (running state lives off-heap in RocksDB, checkpointed as SST
  * snapshots, so executor heap no longer bounds key cardinality). The
  * provider must be a pure swap: identical oracle rows under both
  * providers, and state must survive a checkpoint restart the same way.
  * q51b already runs ON RocksDB inside its registered query; these cases
  * cover the rest of the stateful surface.
  */
class RocksDbStateSpec extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[T](body: => T): T = {
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksProvider)
    try body finally prev match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** RocksDB checkpoints are zip snapshots (+ optional changelogs); the
    * HDFS-backed provider writes `.delta`/`.snapshot` instead — so the
    * presence of RocksDB artifacts under the query's state dir proves the
    * provider actually engaged and the parity test isn't vacuous.
    */
  private def rocksArtifacts(stateDir: String): Seq[String] = {
    val p = Paths.get(stateDir)
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .map(_.toString)
      .filter(f => f.endsWith(".zip") || f.endsWith(".changelog"))
      .toSeq
  }

  for (name <- Seq("q50_stream_dedup", "q51_stream_stateful",
      "q52b_stream_stream_join")) {
    test(s"$name: same rows under HDFS-backed and RocksDB state stores") {
      val q = Registry.queries(name)
      val base = rows(q(spark, sf))
      val rocks = withRocksDb { rows(q(spark, sf)) }
      assert(rocks == base,
        s"$name diverged across state-store providers " +
          s"(${base.size} vs ${rocks.size} rows)")
      // the RocksDB run was the LAST one against this checkpoint (drain
      // recreates the dir per run), so its artifacts must be RocksDB's
      val state = s"${graft.Tmp.root}/cp/${name.split('_').head}_sink/state"
      assert(rocksArtifacts(state).nonEmpty,
        s"no RocksDB snapshot/changelog under $state — provider never engaged")
    }
  }

  test("RocksDB state survives a checkpoint restart (running counts resume)") {
    withRocksDb {
      val cp = s"${graft.Tmp.root}/cp/rocksdb-restart"
      FileUtils.deleteQuietly(new java.io.File(cp))
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[String]
      def start() = ms.toDF().groupBy("value").count()
        .writeStream.format("memory").queryName("rocksdb_restart_sink")
        .outputMode("complete").option("checkpointLocation", cp).start()

      ms.addData("a", "a", "b")
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()

      // second query instance, same checkpoint: the running counts must
      // resume from RocksDB state, not restart from zero
      ms.addData("a", "c")
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val got = spark.table("rocksdb_restart_sink").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L),
        s"state lost across restart: $got")
      assert(rocksArtifacts(s"$cp/state").nonEmpty,
        "no RocksDB artifacts in the restart checkpoint")
    }
  }
}
