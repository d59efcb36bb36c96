package graft.streaming

import java.nio.file.Paths

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.SparkSpec

/** Streaming PLAN obligations (the §4.2 analogue for the incremental
  * planner): watermark nodes must exist where state must age out, the
  * stateful operators the registry queries rely on must actually appear in
  * the executed streaming plan (visible via progress `stateOperators`),
  * and update-mode sinks must be read as last-emission-per-key across
  * MULTIPLE micro-batches — the q46–q51 shapes, on MemoryStream fixtures
  * so batch boundaries are controlled.
  */
class StreamingPlanSpec extends SparkSpec {

  private val tmp = s"${graft.Tmp.root}/streaming-plan-spec"

  private def freshCp(name: String): String = {
    val cp = s"$tmp/$name"
    FileUtils.deleteQuietly(Paths.get(cp).toFile)
    cp
  }

  test("watermark appears in the analyzed plan and bounds dedup/agg state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = input.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    // logical obligation: an EventTimeWatermark node guards the state
    assert(deduped.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      deduped.queryExecution.analyzed.toString)

    val q = deduped.writeStream.format("memory").queryName("splan_dedup")
      .outputMode("append").option("checkpointLocation", freshCp("dedup")).start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
      input.addData((t(0), 1L), (t(0), 1L), (t(5), 2L)) // dup in-batch
      q.processAllAvailable()
      input.addData((t(5), 2L), (t(300), 99L)) // dup across batches + closer
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
      // both stateful operators are in the executed plan, in order
      assert(ops.contains("dedupeWithinWatermark"), ops.mkString(","))
      assert(ops.exists(_.contains("stateStoreSave")), ops.mkString(","))
      // watermark advanced past the first hour: window [10:00,11:00)
      // finalized with both duplicates (in-batch AND cross-batch) dropped —
      // 2 surviving rows, not 4
      val out = spark.table("splan_dedup").collect()
      assert(out.exists(_.getLong(1) == 2), out.mkString(";"))
    } finally q.stop()
  }

  test("session window plans a session-window state operator (q48 shape)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val sess = input.toDF().toDF("ts", "uid")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "10 minutes"), col("uid"))
      .agg(count(lit(1)).as("n"))
    val q = sess.writeStream.format("memory").queryName("splan_sess")
      .outputMode("append").option("checkpointLocation", freshCp("sess")).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:05:00"), 1L),
        (t("2024-01-01 12:00:00"), 1L))
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
      assert(ops.exists(_.toLowerCase.contains("session")), ops.mkString(","))
      assert(q.lastProgress.stateOperators.exists(_.numRowsTotal > 0))
    } finally q.stop()
  }

  test("q51 shape emits per batch; last-emission read is correct over multiple batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)] // (user, event, cents)
    val updated = input.toDS().groupByKey(_._1).mapGroupsWithState(
      GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long)], st: GroupState[(Long, Long, Long)]) =>
          val prev = st.getOption.getOrElse((0L, 0L, -1L))
          var (n, c, maxId) = prev
          rows.foreach { r => n += 1; c += r._3; if (r._2 > maxId) maxId = r._2 }
          st.update((n, c, maxId))
          (uid, n, c, maxId)
      }.toDF("user_id", "n_events", "cents", "max_event_id")
    val q = updated.writeStream.format("memory").queryName("splan_state")
      .outputMode("update").option("checkpointLocation", freshCp("state")).start()
    try {
      input.addData((1L, 10L, 5L), (2L, 11L, 7L))
      q.processAllAvailable()
      input.addData((1L, 12L, 3L)) // user 1 appears in a SECOND batch
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
      assert(ops.exists(_.contains("GroupsWithState")), ops.mkString(","))

      val sink = spark.table("splan_state")
      // raw sink holds one row per emission: user 1 twice (r02 bug class)
      assert(sink.filter(col("user_id") === 1).count() == 2)
      // the registry's last-emission read: max per key (values monotonic)
      val last = sink.groupBy("user_id")
        .agg(max("n_events").as("n"), max("cents").as("c"), max("max_event_id").as("m"))
        .orderBy("user_id").collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(last == Seq((1L, 2L, 8L, 12L), (2L, 1L, 7L, 11L)), last)
    } finally q.stop()
  }

  test("stream-stream join plans a symmetric hash join with bounded state (q52b shape)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val c = clicks.toDF().toDF("click_ts", "user_id", "click_id")
      .withWatermark("click_ts", "10 minutes")
    val b = buys.toDF().toDF("buy_ts", "b_user_id", "buy_id")
      .withWatermark("buy_ts", "10 minutes")
    val joined = c.join(b,
      col("user_id") === col("b_user_id") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
    // both watermarks survive analysis — the state-cleanup precondition
    assert("EventTimeWatermark".r
      .findAllIn(joined.queryExecution.analyzed.toString).size == 2)
    val q = joined.writeStream.format("memory").queryName("splan_ssj")
      .outputMode("append").option("checkpointLocation", freshCp("ssj")).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      clicks.addData((t("2024-01-01 10:00:00"), 1L, 100L))
      buys.addData((t("2024-01-01 10:05:00"), 1L, 200L)) // in range
      buys.addData((t("2024-01-01 10:30:00"), 1L, 201L)) // outside 10 min
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
      assert(ops.exists(_.contains("symmetricHashJoin")), ops.mkString(","))
      // the interval condition held: exactly the in-range pair emitted
      val rows = spark.table("splan_ssj").select("click_id", "buy_id").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 200L)),
        rows.mkString(";"))
      // watermark advance evicts expired join state rather than growing it
      // forever: push both watermarks far past the buffered rows and check
      // the state-store row count came back down
      clicks.addData((t("2024-01-01 13:00:00"), 9L, 900L))
      buys.addData((t("2024-01-01 13:00:00"), 8L, 800L))
      q.processAllAvailable()
      clicks.addData((t("2024-01-01 14:00:00"), 9L, 901L))
      buys.addData((t("2024-01-01 14:00:00"), 8L, 801L))
      q.processAllAvailable()
      val join = q.lastProgress.stateOperators.find(_.operatorName.contains("symmetricHashJoin")).get
      assert(join.numRowsRemoved > 0, s"expected watermark eviction, total=${join.numRowsTotal}")
    } finally q.stop()
  }

  test("dedup-at-ingest shape (q52d): transformWithState, bounded per-batch emission") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = MemoryStream[(Long, String)]
      val idx = Seq("seen text").toDF("t")
        .select(org.apache.spark.sql.functions.md5(col("t")).as("dig"))
        .withColumn("in_index", lit(true))
      val tracked = docs.toDF().toDF("doc_id", "text")
        .select(org.apache.spark.sql.functions.md5(col("text")).as("dig"), col("doc_id"))
        .join(broadcast(idx), Seq("dig"), "left")
        .select(col("dig"), col("doc_id"),
          coalesce(col("in_index"), lit(false)).as("in_index"))
        .as[(String, Long, Boolean)]
        .groupByKey(_._1)
        .transformWithState(new DedupIngestProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("dig", "n_copies", "first_doc", "dup_of_index")
      val q = tracked.writeStream.format("memory").queryName("splan_q52d")
        .outputMode("update").option("checkpointLocation", freshCp("q52d")).start()
      try {
        docs.addData((1L, "seen text"), (2L, "fresh text"), (3L, "fresh text"))
        q.processAllAvailable()
        // the state operator in the EXECUTED plan is transformWithState —
        // the weak-flag fix: not a complete-mode stateStoreSave re-emitter
        val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
        assert(ops.exists(_.toLowerCase.contains("transformwithstate")), ops.mkString(","))
        // state is per distinct TEXT, not per doc: 3 docs -> 2 state rows
        assert(q.lastProgress.stateOperators.head.numRowsTotal == 2)
        assert(spark.table("splan_q52d").count() == 2)
        // BOUNDED EMISSION: a second batch touching ONE digest emits ONE
        // row — the sink grows by the batch's key count, never re-emitting
        // the full state table (the r10 complete-mode scale-killer)
        docs.addData((4L, "fresh text"))
        q.processAllAvailable()
        assert(spark.table("splan_q52d").count() == 3,
          s"expected 2+1 emissions, got ${spark.table("splan_q52d").count()}")
        assert(q.lastProgress.stateOperators.head.numRowsTotal == 2)
        // last-emission-per-key read (counters monotone): exact dedup verdicts
        val last = spark.table("splan_q52d").groupBy("dig")
          .agg(max("n_copies").as("n"), min("first_doc").as("f"),
            max("dup_of_index").as("i"))
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
        assert(last == Set((1L, 1L, true), (3L, 2L, false)), last.mkString(";"))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("dedup-at-ingest TTL variant (q52f): expired digest state is re-admitted as new") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = MemoryStream[(String, Long, Boolean)]
      val tracked = docs.toDS()
        .groupByKey(_._1)
        .transformWithState(new DedupIngestTtlProcessor(1000L),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("dig", "n_copies", "first_doc", "dup_of_index")
      // NOTE: no processAllAvailable anywhere in this test — under
      // TimeMode.ProcessingTime the TTL clock makes the operator's
      // shouldRunAnotherBatch always true, so the engine schedules empty
      // micro-batches forever and processAllAvailable NEVER returns
      // (measured: 3 700+ empty batches before the hang was killed). The
      // sink is polled for the expected committed rows instead — the same
      // quiescence-by-observation device as StreamQueries.
      // drainUntilQuiescent.
      val q = tracked.writeStream.format("memory").queryName("splan_q52f")
        .outputMode("update").option("checkpointLocation", freshCp("q52f")).start()
      def awaitSink(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 120_000_000_000L
        while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
        assert(cond, "sink never reached the expected state")
      }
      try {
        // two copies in ONE batch: counted together (no timing hazard on
        // the pre-expiry side)
        docs.addData(("d", 4L, false), ("d", 2L, false))
        awaitSink(spark.table("splan_q52f").count() >= 1)
        val t1 = spark.table("splan_q52f").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(t1 == Set(("d", 2L, 2L)), t1.mkString(";"))
        // let the 1 s TTL lapse, then re-arrive: the digest must have been
        // FORGOTTEN — n_copies restarts at 1 and first_doc resets to the
        // new arrival, the rolling-window semantics the TTL variant
        // declares (vs q52d's unbounded n_copies = 3 here)
        Thread.sleep(2500)
        docs.addData(("d", 9L, false))
        awaitSink(spark.table("splan_q52f").count() >= 2)
        val rows = spark.table("splan_q52f").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        assert(rows.size == 2, rows.mkString(";"))
        assert(rows.contains(("d", 1L, 9L)), rows.mkString(";"))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("watermark-agg shape (q49): append emits only watermark-closed windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    assert(agg.queryExecution.analyzed.toString.contains("EventTimeWatermark"))
    val q = agg.writeStream.format("memory").queryName("splan_wm")
      .outputMode("append").option("checkpointLocation", freshCp("wm")).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2024-01-01 10:10:00"), 1L), (t("2024-01-01 10:20:00"), 2L))
      q.processAllAvailable()
      // nothing can be final yet: watermark is 09:50
      assert(spark.table("splan_wm").count() == 0)
      input.addData((t("2024-01-01 11:40:00"), 3L)) // watermark -> 11:10 closes [10:00,11:00)
      q.processAllAvailable()
      val rows = spark.table("splan_wm").collect()
      assert(rows.length == 1 && rows(0).getLong(1) == 2, rows.mkString(";"))
      // state metrics expose rows dropped-by-watermark accounting surface
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }
}
