package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q52x's composed pipeline under restart chaos (VERDICT r12 #1): the
  * untested interaction is a `transformWithState` admission operator
  * FEEDING a foreachBatch tail that does real work (decontam probe +
  * PQ-encode + per-batch overwrite append) — a crash after the tail has
  * written a PARTIAL batch directory but before the offset commit must
  * (a) roll the admission STATE back with the batch (state commits with
  * the epoch, so the replayed batch re-emits the same admissions), and
  * (b) have the replayed tail REPLACE the partial directory (q52g's
  * overwrite device), composing to effectively-once for the whole
  * filter → dedup → decontam → encode chain.
  *
  * The end-state assertion is against the BATCH-computed expectation
  * (funnel-kept → min-per-digest → clean → encode over the same fixture
  * slice), not a second streaming run — the strongest form: crash +
  * resume must land exactly where a crash-free batch computation does,
  * including the cross-batch dedup (batch 1 re-sends a digest batch 0
  * admitted: state must suppress it through the crash-replay).
  *
  * `TimeMode.None` here (vs the registered query's ProcessingTime TTL):
  * crash-replay is the state-commit EPOCH contract, orthogonal to the TTL
  * clock — the expiry contract itself is pinned separately in
  * StreamingPlanSpec — and the no-TTL mode lets `processAllAvailable`
  * drive deterministic batch boundaries for the injection.
  */
class PipelineRestartSpec extends SparkSpec {

  test("crash mid-batch in the composed pipeline tail; restart resumes to the batch answer") {
    val out = s"${graft.Tmp.root}/pipelinerestart-out"
    val cp = s"${graft.Tmp.root}/cp/pipelinerestart"
    FileUtils.deleteQuietly(new java.io.File(out))
    FileUtils.deleteQuietly(new java.io.File(cp))

    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bucket = pmod(col("doc_id") * 2654435761L, lit(100L))
      // the q52x static assets, from the sf0.001 fixtures
      val evalIdx = graft.Tables.documents(spark, sf).filter(bucket >= 90)
        .select(col("doc_id"), col("text"), md5(col("text")).as("dig"))
      val emb = graft.ext.SimilarityQueries.quantFrame(spark, sf)
      graft.ext.Caching.pinned { pins =>
        val (_, eBuckets, shEval) =
          graft.ext.DedupQueries.indexArtifactsFrom(pins, evalIdx)
        val cb = pins.checkpoint(graft.ext.SimilarityQueries.pqBuildFrom(emb)._3)
        // stream the train docs in two halves; the second half also
        // RE-SENDS the first half's rows (cross-batch duplicates whose
        // suppression must survive the crash-replay of the state)
        val train = graft.Tables.documents(spark, sf).filter(bucket < 80)
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          .sortBy(_._1)
        val (half0, half1) = train.splitAt(train.length / 2)

        val ms = MemoryStream[(Long, String, String, Long)]
        val admitted = graft.ext.TextQueries.withFunnelVerdict(
            ms.toDF().toDF("doc_id", "text", "lang", "n_chars"))
          .filter(col("drop_rule") === "kept")
          .select(md5(col("text")).as("dig"), col("doc_id"), col("text"))
          .as[(String, Long, String)]
          .groupByKey(_._1)
          .transformWithState(new AdmitFirstProcessor(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("dig", "doc_id", "text")

        val injected = new AtomicBoolean(false)
        val realWriter =
          graft.ops.StreamQueries.pipelineBatchWriter(eBuckets, shEval, emb, cb,
            graft.ext.TextQueries.loadOrTrainMerges(spark, sf), out) _
        def writer(b: DataFrame, id: Long): Unit = {
          if (id == 1L && !injected.getAndSet(true)) {
            // the tail writes a PARTIAL batch=1 dir, then dies before the
            // offset (and state) commit
            realWriter(b.filter(col("doc_id") % 2 === 0), id)
            throw new RuntimeException("injected crash after partial batch dir")
          }
          realWriter(b, id)
        }
        def start() = admitted.writeStream
          .outputMode("update")
          .option("checkpointLocation", cp)
          .foreachBatch(writer _)
          .start()

        ms.addData(half0.toSeq)
        val q1 = start()
        q1.processAllAvailable() // batch 0 commits cleanly
        ms.addData((half1 ++ half0).toSeq) // batch 1: fresh docs + replayed dups
        intercept[Exception] {
          q1.processAllAvailable()
          q1.awaitTermination()
        }
        assert(!q1.isActive, "query must have died on the injected crash")

        val q2 = start()
        q2.processAllAvailable()
        // the composed plan's shape: exactly ONE stateful operator (the
        // admission state) — the funnel is stateless in-plan map work and
        // the probes/encode live in the foreachBatch tail, so no hidden
        // aggregation state rides the incremental plan
        val ops = q2.lastProgress.stateOperators.map(_.operatorName).toSeq
        assert(ops.length == 1 &&
          ops.head.toLowerCase.contains("transformwithstate"),
          s"expected exactly the admission transformWithState operator, got $ops")
        q2.stop()
        assert(injected.get(), "the crash injection never fired")

        // batch-computed expectation over the same rows: funnel-kept →
        // min-per-digest → decontam-clean → PQ codes
        val kept = graft.ext.TextQueries.withFunnelVerdict(
            graft.Tables.documents(spark, sf).filter(bucket < 80))
          .filter(col("drop_rule") === "kept")
          .select(col("doc_id"), col("text"), md5(col("text")).as("dig"))
        val adm = kept.groupBy("dig").agg(min(col("doc_id")).as("doc_id"))
          .join(kept, Seq("dig", "doc_id"))
        val expected = graft.ext.Caching.pinned { vp =>
          val clean = graft.ext.DedupQueries
            .streamDecontamPlan(vp, adm, eBuckets, shEval)
            .filter(!col("contaminated"))
            .select(col("doc_id").as("vec_id"))
          graft.ext.SimilarityQueries
            .pqEncode(emb.join(broadcast(clean), Seq("vec_id")), cb)
            .select(col("vec_id"), col("s"), col("code"))
            .collect().map(_.toString).sorted.toSeq
        }

        val st = graft.ext.SimilarityQueries.readPqStore(spark, out)
          .select("dig", "vec_id", "s", "code")
        val got = st.join(
            st.groupBy("dig").agg(min(col("vec_id")).as("vec_id")),
            Seq("dig", "vec_id"))
          .select(col("vec_id"), col("s"), col("code"))
          .collect().map(_.toString).sorted.toSeq
        assert(expected.nonEmpty, "fixture produced an empty pipeline — vacuous test")
        assert(got == expected,
          s"composed pipeline end state diverged after crash-replay: " +
            s"got ${got.size} rows, expected ${expected.size}")
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("maintenance cadence invariance: K = 1, 2, 3 read back identical row sets") {
    // VERDICT r13 #5: the flagship's maintenance cadence is a THROUGHPUT
    // knob, never a correctness knob — the one-cycle expiry grace plus
    // _SUCCESS gating make readPqStore cadence-invariant by construction.
    // Same three-batch arrival through the full composed writer at each
    // K; the store layouts differ (K=1 folds thrice, K=3 once), the row
    // sets must not.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bucket = pmod(col("doc_id") * 2654435761L, lit(100L))
      val evalIdx = graft.Tables.documents(spark, sf).filter(bucket >= 90)
        .select(col("doc_id"), col("text"), md5(col("text")).as("dig"))
      val emb = graft.ext.SimilarityQueries.quantFrame(spark, sf)
      graft.ext.Caching.pinned { pins =>
        val (_, eBuckets, shEval) =
          graft.ext.DedupQueries.indexArtifactsFrom(pins, evalIdx)
        val cb = pins.checkpoint(graft.ext.SimilarityQueries.pqBuildFrom(emb)._3)
        val train = graft.Tables.documents(spark, sf).filter(bucket < 80)
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          .sortBy(_._1)
        val thirds = train.grouped(math.max(1, train.length / 3 + 1)).toSeq

        def runAt(k: Int): Seq[String] = {
          val out = s"${graft.Tmp.root}/pipelinecadence-out-k$k"
          val cp = s"${graft.Tmp.root}/cp/pipelinecadence-k$k"
          FileUtils.deleteQuietly(new java.io.File(out))
          FileUtils.deleteQuietly(new java.io.File(cp))
          val ms = MemoryStream[(Long, String, String, Long)]
          val admitted = graft.ext.TextQueries.withFunnelVerdict(
              ms.toDF().toDF("doc_id", "text", "lang", "n_chars"))
            .filter(col("drop_rule") === "kept")
            .select(md5(col("text")).as("dig"), col("doc_id"), col("text"))
            .as[(String, Long, String)]
            .groupByKey(_._1)
            .transformWithState(new AdmitFirstProcessor(),
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Update())
            .toDF("dig", "doc_id", "text")
          val q = admitted.writeStream
            .outputMode("update")
            .option("checkpointLocation", cp)
            .foreachBatch(graft.ops.StreamQueries
              .pipelineBatchWriter(eBuckets, shEval, emb, cb,
                graft.ext.TextQueries.loadOrTrainMerges(spark, sf), out,
                every = k) _)
            .start()
          thirds.foreach { g => ms.addData(g.toSeq); q.processAllAvailable() }
          q.stop()
          graft.ext.SimilarityQueries.readPqStore(spark, out)
            .select("dig", "vec_id", "s", "code")
            .collect().map(_.toString).sorted.toSeq
        }

        val at1 = runAt(1)
        val at2 = runAt(2)
        val at3 = runAt(3)
        assert(at1.nonEmpty, "vacuous cadence comparison")
        assert(at1 == at2, s"K=1 (${at1.size} rows) != K=2 (${at2.size} rows)")
        assert(at1 == at3, s"K=1 (${at1.size} rows) != K=3 (${at3.size} rows)")
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
