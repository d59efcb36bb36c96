package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Caching

/** Scale-stress gate (VERDICT r07 #1, widened per r08 #4): every 100 TB
  * claim in SURVEY §2.3 was architecture-verified but measured only at
  * sf0.1 — this main synthesizes DETERMINISTIC replicated fixtures
  * (`target/sfgen/sf<k>`) by shifting keys over the sf0.1 tables, runs the
  * scale-path query set on base and scaled data under the capped-memory
  * session sbt launches (`SPARK_DRIVER_MEM`), and writes
  * `BENCH_SCALE.json` with per-query growth ratios, per-query SHUFFLE
  * SPILL BYTES (memory + disk, from task metrics — a query that stays
  * inside the wall-clock gate by spilling its working set to disk is a
  * finding, not a pass), and the x6g partition-count-invariance check.
  *
  * Two tiers (r08 #4): the dedup / decontam / ANN path runs at 30× —
  * these are the operators whose 100 TB posture rests on bucketing
  * staying O(occupancy), so they get the deepest stress; the two join
  * demonstrations stay at 10× because their outputs GROW quadratically by
  * declared design (qf6 enumerates the hot key's join pairs to prove
  * salting bounds reducers — 30× data is 900× pairs, measuring the
  * declared output size, not the engine).
  *
  * Replication rules (all pure column arithmetic — rerunnable bit-identical):
  *   - documents ×k, doc_id shifted, text UNCHANGED — every original doc
  *     becomes a k-copy exact-duplicate group, the crawl-corpus shape the
  *     r08 exact-dup collapse defends against, so the dedup family is
  *     measured under realistic duplication, not an artificially
  *     dupe-free corpus;
  *   - embeddings ×k, vec_id shifted, replicas perturbed by +k·0.001 per
  *     element (distinct vectors, neighborhoods preserved); query vectors
  *     stay `vec_id < 8`, so ANN scans k× corpus at fixed query count;
  *   - events ×k, event_id shifted, user_id/ts unchanged — qf6's hot
  *     dst_port keys get k× hotter, which is the point;
  *   - lineitem/orders ×k, orderkeys shifted by the SAME offset so each
  *     replica joins within itself (join selectivity preserved).
  *
  * "~linear growth" gate: scaled/base wall-clock ratio per query must stay
  * under 2× the data scale (generous headroom for fixed per-query
  * overheads and the duplication-induced extra output, but far below what
  * any quadratic path would produce: quadratic at 30× is ~900×).
  */
object ScaleBench {

  /** Generated scale fixtures and index artifacts, under the checkout's
    * `target/` (sbt runs at the repo root).
    */
  private val SfGen = new java.io.File("target/sfgen").getAbsolutePath

  /** (queries, data scale) tiers — see scaladoc. */
  private val tiers: Seq[(Int, Seq[String])] = Seq(
    30 -> Seq(
      "x2_dedup_minhash", "x2b_dedup_simhash", "x2e_dedup_embed", "x2f_cc_star",
      "x6g_shard_pack", "x7d_decontam_bloom",
      "x3c_knn_ivf", "x3f_pq_adc", "x3g_sq8",
      // r10 batch 2: the incremental-dedup increment (30× replicated docs
      // = 30-copy exact-dup groups on BOTH the batch and index sides —
      // the digest join must keep identical texts away from the band
      // join) and the composed IVF-PQ index (pruning must hold the
      // admitted-candidate count at nprobe/centroids of the corpus)
      "x2h_incremental_dedup", "x3i_ivf_pq",
      // dedup-at-ingest: transformWithState holds one state row per
      // distinct INCOMING text and emits O(batch) per micro-batch — the
      // gate proves the stream side stays linear when the corpus (and its
      // exact-dup groups) grow 30×
      "q52d_stream_dedup_ingest",
      // streaming decontam-at-ingest (r11): stateless per batch; the gate
      // proves per-batch cost stays O(batch + collisions) when both the
      // train stream and the eval index grow 30×
      "q52e_stream_decontam_ingest",
      // r11 batch ops: filtered ANN (code-row predicate must prune before
      // scoring), stratified split (two-phase per-stratum rank must not
      // collapse a 30× stratum into one task), repetition metrics (pure
      // map + one agg — the linear control), phash dedup (the 30-copy
      // exact-dup groups make every band bucket a 30-clique: the declared
      // clique-pair output appears here, and the gate bounds the band
      // join + verify around it)
      "x3j_filtered_knn", "x6m_stratified_split", "x4i_repetition",
      "x5g_phash_dedup",
      // r12 batch: semantic dedup (the scaled corpus is 60k DISTINCT
      // vectors — embedding replicas are perturbed by design, see the
      // replication rules — so this measures the adaptive-k rule: k =
      // max(8, ceil(distinct/256)) must hold the within-cluster pair
      // stage linear; fixed k=8 measured 225M pairs / ratio 14.5 here
      // before the rule), the
      // mixture sampler (two-phase per-source rank + integer
      // apportionment must stay linear), and streaming index ingest
      // (stateless per-batch encode: cost tracks the vector stream, not
      // index history)
      "x2j_semantic_dedup", "x6n_temperature_mix", "q52g_stream_ann_ingest",
      // index delete: the tombstone anti-join is an O(index) columnar
      // filter — the ratio must track the index, with the broadcast
      // tombstone list never forcing a vector shuffle
      "x3m_pq_index_delete",
      // r14 index update: delete ∘ append in one pass — anti-join off the
      // loaded frames + encode only the update batch; linear in the index
      // like its two parents
      "x3r_pq_index_update",
      // r13 index compaction: fragment + O(index) shard rewrite + serve —
      // linear in the store, never touching raw vectors
      "x3n_pq_index_compact",
      // r13: ingest with in-loop generational compaction — per-batch cost
      // tracks the batch, maintenance cost tracks the store, both linear;
      // the bounded-store gate below pins the file-count claim
      "q52y_stream_index_maintain",
      // r14 boilerplate scrub: the 30× replicas make EVERY ≥8-token doc's
      // windows hot (each occurs in 30 docs), so this is the worst case —
      // hot set = all distinct window hashes (still vocabulary-sized and
      // broadcastable), coverage explode 8× the window frame, full-corpus
      // rebuild. The ratio proves the one content-keyed shuffle + per-row
      // rebuild stay linear when the scrub degenerates to near-total
      // removal
      "x2k_boilerplate_scrub",
      // r14 scrub-at-ingest: same worst case as x2k but the hot index is
      // frozen — the ratio proves the per-batch probe cost tracks the
      // batch, not the store or stream history
      "q52v_stream_scrub_ingest",
      // r13 BPE training: ONE corpus-sized word-frequency shuffle, then 8
      // vocab-frame rounds — the ratio proves the rounds don't secretly
      // rescan the corpus; the merge-stability gate below pins semantics
      "x4k_bpe_train",
      // r14 BPE apply: one kernel call per word with the merge table as
      // a broadcast plan object — pure per-row map over the corpus, the
      // linear control for the tokenizer serve path
      "x4l_bpe_apply",
      // r14 hybrid-over-the-index: lexical arm is a corpus scan, vector
      // arm is the IVF-PQ chain (probe-bounded fan-out, 20 raw vectors
      // per query) — the ratio proves the serving arm keeps the x3i
      // shape when the corpus grows 30×, where x3p's brute arm scales
      // with the corpus by design. The brute-overlap audit lives in
      // HybridOverlapSpec, NOT in the registered plan, precisely so this
      // entry times the serving path alone (r14 review finding)
      "x3q_hybrid_ivfpq",
      // r14 random-projection ranker: one rp_project kernel call per
      // vector + 32-d scoring — the ratio proves the projection pass and
      // the shortlist window stay linear in the corpus; recall floor in
      // the ANN gate below
      "x3s_rp_shortlist",
      // r14 sketched heavy hitters: the Misra–Gries pass must hold every
      // partial-agg buffer at capacity while the distinct-trigram space
      // grows with the corpus — the ratio proves sketch + broadcast
      // recount stay linear where an exact-count shuffle would grow with
      // the key space
      "x4s_heavy_hitters",
      // r14 heavy hitters at ingest: per-batch sketch + capacity-bounded
      // cross-batch artifact fold — the ratio proves per-batch cost
      // tracks the batch and the fold stays O(capacity) while the
      // stream's distinct-gram space grows 30×
      "q52t_stream_heavy_hitters",
      // quality-filter-at-ingest: all four continuous ingest shapes are
      // now tier-gated; pure per-row map, the streaming linear control
      "q52h_stream_quality_ingest",
      // r15 series assembly at ingest: per-user state is CAPPED at N
      // points while 30× longer histories stream through — the ratio
      // proves state size tracks keys (not history) and the per-batch
      // merge-truncate stays O(batch + keys·N)
      "q52r_stream_series_ingest",
      // r16 sliding face: same capped state holding the N most-RECENT
      // points under a state TTL — the ratio proves the min-evicting
      // merge-truncate and the TTL-mode quiescence drain inherit q52r's
      // linearity when histories grow 30×
      "q52p_stream_series_recent",
      // r15 LM filter at ingest: the LM trains once from the 30× corpus's
      // reference split, batches score against the pinned frames — the
      // ratio proves per-batch cost tracks the batch's bigrams and the
      // pinned LM join doesn't degrade as both sides grow
      "q52s_stream_lm_filter",
      // r15 elastic series kNN: the LB_Keogh pass is one sequential scan
      // per (query, candidate) and the DP kernel runs on shortlist rows
      // plus the linear truth arm — the ratio proves the lower bound
      // keeps the O(n·band) DP off the full candidate set
      "x11b_dtw_knn",
      // r15 series kNN: 30× replication multiplies every user's event
      // HISTORY, not the user count — the ratio proves the first-N
      // row_number prune caps per-series work before any array
      // materializes (collect-then-slice would carry 30× histories
      // through the shuffle)
      "x11_series_knn",
      // r15 containment dedup: the 30-copy exact-dup groups collapse to
      // base-sized representatives in front of the prefix-filter join —
      // the ratio proves the inverted-index probe inherits the collapse
      // (without it every group would put its 900 pair candidates into
      // the index join)
      "x2l_containment",
      // r15 KL domain-shift card: two keyed token shuffles + a vocab-
      // sized marginal join — the ratio proves the card stays linear
      // when every source grows 30×
      "x4u_kl_divergence",
      // r15 reference-LM filter: the reference split replicates 30× with
      // the corpus, so the LM table's keyed shuffles and the two scoring
      // joins (bigram + backoff marginal) must all track the corpus —
      // the ratio catches any accidental broadcast of the grown LM or a
      // re-scan per join
      "x4t_lm_filter",
      // r15 matryoshka ranker: a column slice + broadcast-query scoring
      // pass — strictly less work than x3s (no projection kernel), gated
      // beside it so the two approximate rankers stay comparable
      "x3t_matryoshka",
      // r15 windowFunnel: two forward as-of passes over 30× the events —
      // the ratio proves the sort-merge as-of keeps its one-streamed-pass
      // shape when anchors and steps both grow (a pair-exploding range
      // join would go quadratic in the per-user event density)
      "qf11_window_funnel",
      // r15 retention: one user-keyed aggregation, no joins — the flows
      // family's linear control
      "qf12_retention",
      // r15 pagerank: three unrolled contribution shuffles over 30× the
      // edge set — the ratio proves each iteration is one keyed shuffle
      // and the dangling/teleport certificates stay 1-row broadcasts
      "qf13_pagerank",
      // r15 flows k-anonymity: one keyed shuffle to the QI class frame,
      // threshold sweep over classes only — the ratio proves the sweep
      // never re-keys the flow table
      "qf9_k_anonymity",
      // r15 fan-in entropy: the two-level (dst,src)→dst re-aggregation —
      // the ratio proves level 2 runs on the pair frame, not the flows
      "qf10_dst_fanin",
      // r15 format sniff: pure per-row probe map, a scan-only linear
      // control for the multimodal family
      "x5h_format_sniff",
      // r13: the four ingest shapes COMPOSED under one checkpoint (filter
      // → TTL-dedup-state → decontam-probe → PQ-encode): the gate proves
      // the composition stays linear when every stage's input grows 30×
      // — admission state per distinct content, O(batch) probes/encodes,
      // and the drain's empty-batch maintenance ticks stay O(1)
      "q52x_stream_pipeline_e2e",
      // the nightly-rebuild composition: diff classes stay proportional
      // under replication (ids shift, %10 classes are preserved), so both
      // the diff join and the increment must scale together
      "x10b_incremental_rebuild",
      // r10: the composed pipeline — its exact-dedup head collapses the
      // 30 replicated copies to one representative per distinct text, so
      // every later stage runs on a base-sized survivor set; the ratio
      // measures that the composition inherits the collapse, not just
      // each stage in isolation
      "x10_pipeline_e2e",
      // r14 batch flagship to training sequences: funnel → dedup →
      // decontam → tokenize → pack; the clean filter applies at the DOC
      // level before the explode, so the token stream never joins — the
      // ratio proves the composed lineage stays linear end to end
      "x10c_tokenized_build"),
    10 -> Seq("q12b_join_bucketed", "qf6_salted_join"))

  private def maxRatio(scale: Int): Double = 2.0 * scale

  /** Planted-pair recall gate (VERDICT r09 #3): LSH recall was audited at
    * fixture scale only (LshAuditSpec); this plants KNOWN near-duplicate
    * embedding pairs into the 30× corpus and measures band-join recall
    * where it matters. Each planted vector is its source scaled
    * element-wise by (1 ± 0.1) alternating — cos(v, v∘w) =
    * (1+u)/sqrt((1+u)²+ε²−u²) ≥ 1/sqrt(1+ε²) ≈ 0.995 for ε=0.1
    * REGARDLESS of v — so every planted pair is a true near-dup far above
    * the τ=0.4 verify threshold, and a miss is a band-join miss, not a
    * verify rejection. At cos ≈ 0.995 the hyperplane agreement probability
    * is p = 1 − arccos(0.995)/π ≈ 0.968, so P[≥1 of 8 8-bit bands] =
    * 1−(1−p⁸)⁸ ≈ 0.9999 — the 0.8 floor has enormous slack and only a
    * geometry regression (band collapse, plane drift) can trip it.
    *
    * Pair ids are pure deterministic arithmetic: sources are the first 50
    * base vec_ids ≥ 100 whose x6/x7 split hash lands in TRAIN (< 80);
    * each planted id is searched from PlantBase so its hash lands in EVAL
    * (≥ 90) — one planted set serves both x2e (same-corpus dedup) and
    * x7e (cross-split semantic decontamination).
    */
  private val PlantBase = 900000000L
  private def splitBucket(id: Long): Long = math.floorMod(id * 2654435761L, 100L)

  /** Planted near-dup DOCUMENT pairs for the x5g recall gate (VERDICT r11
    * #1): x5g was the only LSH-family operator whose recall at scale was
    * unmeasured — the fixture oracle is the agreed-empty set, so a
    * pigeonhole or band-width bug at 30× passed silently. Each source doc
    * (the first 50 base doc_ids with length ≥ 64 — deterministic, derived
    * identically at generate and gate time) gets one planted copy under
    * `PlantDocBase + doc_id` whose 45th character is shifted by ±1
    * ([[perturbMidChar]]): payload md5 differs (so the pair does NOT
    * collapse into one exact-dup rep — it must cross the BAND JOIN), while
    * the aHash moves at most a few bits (w/h bytes untouched ⇒ identical
    * sample indices; one sampled pixel ±1 and the 64-pixel sum ±1 flip
    * only near-mean threshold bits). Ground truth is computed at gate time
    * through the aHash kernel itself on just the 100 involved docs, so the
    * wanted set is exactly the planted pairs at true Hamming ≤ 3 — a miss
    * is a band-join miss, never a verify rejection — and the gate also
    * asserts ≥ 25 of the 50 pairs are eligible so recall can't pass on an
    * empty denominator.
    */
  private val PlantDocBase = 950000000L
  private def plantedDocSources(spark: SparkSession, base: String): Seq[Long] =
    spark.read.parquet(s"$base/documents.parquet")
      .filter(length(col("text")) >= 64)
      .select("doc_id").orderBy("doc_id").limit(50)
      .collect().map(_.getLong(0)).toSeq

  /** ±1 on the 45th character (`when < 'z'` guards the printable range so
    * the delta is always exactly one): the text-side perturbation whose
    * image-side effect the x5g gate measures.
    */
  private def perturbMidChar(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val c = ascii(substring(text, 45, 1))
    concat(substring(text, 1, 44),
      when(c < 122, chr(c + 1)).otherwise(chr(c - 1)),
      substring(text, 46, 1000000000))
  }
  private[graft] val plantedPairs: Seq[(Long, Long)] = {
    val origs = Iterator.from(100).map(_.toLong)
      .filter(splitBucket(_) < 80).take(50).toSeq
    origs.map { o =>
      val p = Iterator.from(0).map(j => PlantBase + o * 1000L + j)
        .find(splitBucket(_) >= 90).get
      (o, p)
    }
  }

  private def generate(spark: SparkSession, base: String, out: String,
      scale: Int): Unit = {
    Files.createDirectories(Paths.get(out))
    val ks = (0 until scale).map(_.toLong)

    def reps(df: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      ks.map(k => shift(df, k)).reduce(_ unionByName _)

    // exact-duplicate replicas: the crawl shape (see scaladoc), plus the
    // planted near-dup pairs for the x5g recall gate (see
    // [[plantedDocSources]]): one ±1-character copy per source doc under a
    // fresh PlantDocBase id — near-dup at the IMAGE-hash level, distinct
    // at the digest level, so the pair must cross the band join
    val baseDocs = spark.read.parquet(s"$base/documents.parquet")
    val pdm = spark.createDataFrame(
        plantedDocSources(spark, base).map(o => (o, PlantDocBase + o)))
      .toDF("doc_id", "planted_id")
    val plantedDocs = baseDocs.join(broadcast(pdm), "doc_id")
      .withColumn("doc_id", col("planted_id")).drop("planted_id")
      .withColumn("text", perturbMidChar(col("text")))
    reps(baseDocs) { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + k * 10000000L)
    }.unionByName(plantedDocs)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val baseEmb = spark.read.parquet(s"$base/embeddings.parquet")
    val scaledEmb = reps(baseEmb) { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + k * 10000000L)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(k * 0.001f)))
    }
    // planted near-dup pairs for the recall gate (see [[plantedPairs]]):
    // each source vector gets one perturbed copy under a fresh eval-split id
    val pm = spark.createDataFrame(plantedPairs).toDF("vec_id", "planted_id")
    val planted = baseEmb.join(broadcast(pm), "vec_id")
      .withColumn("vec_id", col("planted_id")).drop("planted_id")
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => x * (lit(1.0f) +
          when(pmod(i, lit(2)) === 0, lit(0.1f)).otherwise(lit(-0.1f)))))
    scaledEmb.unionByName(planted)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events.ts ships as either TIMESTAMP(NANOS) or µs TIMESTAMP_NTZ
    // depending on fixture vintage: read through the same nanosAsLong
    // surface Tables.events uses and replicate the raw encoding verbatim —
    // Tables.normalizeEventsTs handles both on the query side
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reps(spark.read.parquet(s"$base/events.parquet")) { (df, k) =>
      df.withColumn("event_id", col("event_id") + k * 100000000L)
    }.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    reps(spark.read.parquet(s"$base/lineitem.parquet")) { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + k * 100000000L)
    }.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    reps(spark.read.parquet(s"$base/orders.parquet")) { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + k * 100000000L)
    }.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // small dims pass through unscaled (they are dims at every scale)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  /** Content fingerprint of a staged parquet fixture (file OR directory of
    * part files — TESTDATA ships single files, `generate` writes dirs):
    * total byte size + max mtime over all regular files. Artifact caches
    * key on this (ADVICE r10: the x2h index artifacts were materialized
    * if-absent only, so a regenerated fixture silently fed STALE artifacts
    * into the increment-equality gate and failed it with a confusing
    * signal — now a fingerprint mismatch rebuilds the artifacts instead).
    */
  private def fixtureFingerprint(path: String): String = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return "absent"
    val files = {
      val s = Files.walk(root)
      try {
        val out = Vector.newBuilder[java.nio.file.Path]
        s.filter(Files.isRegularFile(_)).forEach(p => out += p)
        out.result() // materialized before the stream closes
      } finally s.close()
    }
    val size = files.map(Files.size).sum
    val mtime = if (files.isEmpty) 0L
      else files.map(Files.getLastModifiedTime(_).toMillis).max
    s"$size:$mtime"
  }

  /** Materialize x2h-style index artifacts at `art` iff absent or the
    * `key` fingerprint changed; returns the artifact dir. The marker file
    * is written AFTER the parquet writes succeed, so a killed
    * materialization re-runs (tmp-state discipline via write-order, same
    * reasoning as stageFixture's copy+atomic-move).
    */
  private def materializedArtifacts(art: String, key: String)(
      build: Caching.Pins => (DataFrame, DataFrame, DataFrame)): String = {
    val marker = Paths.get(s"$art/FIXTURE_KEY")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8) == key
    if (!fresh) {
      System.err.println(s"[scale] materializing index artifacts at $art")
      org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(art).toFile)
      Caching.pinned { pins =>
        val (indexDigs, iBuckets, shIdx) = build(pins)
        indexDigs.write.mode("overwrite").parquet(s"$art/digs.parquet")
        iBuckets.write.mode("overwrite").parquet(s"$art/buckets.parquet")
        shIdx.write.mode("overwrite").parquet(s"$art/shingles.parquet")
      }
      Files.write(marker, key.getBytes(StandardCharsets.UTF_8))
    }
    art
  }

  /** Same contract as [[materializedArtifacts]] for the x3l PQ index
    * triple (codes, norms, codebook) — marker written after the parquet
    * writes, fingerprint-keyed rebuild on fixture change.
    */
  private def materializedPqIndex(art: String, key: String)(
      build: => (DataFrame, DataFrame, DataFrame)): String = {
    val marker = Paths.get(s"$art/FIXTURE_KEY")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8) == key
    if (!fresh) {
      System.err.println(s"[scale] materializing PQ index artifacts at $art")
      org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(art).toFile)
      val (codes, norms, cb) = build
      codes.write.mode("overwrite").parquet(s"$art/codes.parquet")
      norms.write.mode("overwrite").parquet(s"$art/norms.parquet")
      cb.write.mode("overwrite").parquet(s"$art/codebook.parquet")
      Files.write(marker, key.getBytes(StandardCharsets.UTF_8))
    }
    art
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.localSession(32, "ERROR")

    def fixture(scale: Int): String = {
      // "q" = planted-DOC vintage (r12: the x5g recall gate's planted
      // near-dup documents joined the embedding plants): planted rows are
      // part of the fixture, so a prior-vintage cached fixture must not be
      // reused
      val out = s"$SfGen/sfx${scale}q"
      if (!Files.exists(Paths.get(s"$out/documents.parquet"))) {
        System.err.println(s"[scale] generating ${scale}x fixture at $out")
        generate(spark, base, out, scale)
      }
      out
    }

    // (sec, memSpill, diskSpill)
    def run(name: String, dir: String): (Double, Long, Long) = {
      val (ok, cost) = QueryLedger.during(spark) {
        try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[scale] $name failed on $dir: ${e.getMessage}")
          false
        }
      }
      if (ok) (cost.wallS, cost.memorySpillBytes, cost.diskSpillBytes)
      else (-1.0, 0L, 0L)
    }
    def best(name: String, dir: String): (Double, Long, Long) = {
      // min-of-2 wall time — same robust estimator as Bench; spill is
      // reported from the FASTER run (the steady-state execution). When
      // the two observations disagree by > 1.4× (a GC pause or page-cache
      // cold start landed in one of them — x2e's ratio swung 3.5→6.5
      // across otherwise-identical runs), take a THIRD and keep the min:
      // noise can only inflate a ratio, never deflate it, so extra
      // samples tighten the gate rather than gaming it.
      val a = run(name, dir); val b = run(name, dir)
      val two =
        if (a._1 < 0) b else if (b._1 < 0) a
        else if (a._1 <= b._1) a else b
      val spread = if (a._1 > 0 && b._1 > 0)
        math.max(a._1, b._1) / math.min(a._1, b._1) else 1.0
      if (two._1 > 0 && spread > 1.4) {
        val c = run(name, dir)
        if (c._1 > 0 && c._1 < two._1) c else two
      } else two
    }

    run("q01_scan_parquet", base); run("q20_agg_hash", base) // warmup

    val rows = tiers.flatMap { case (scale, names) =>
      val out = fixture(scale)
      names.map { n =>
        val (b, _, _) = best(n, base)
        val (s, sm, sd) = best(n, out)
        val ratio = if (b > 0 && s > 0) s / b else -1.0
        System.err.println(
          f"[scale] $n%-24s base $b%7.2f s  x$scale $s%7.2f s  ratio $ratio%6.2f" +
            f"  spill ${(sm + sd) / 1024 / 1024}%5d MiB")
        (n, scale, b, s, ratio, sm, sd)
      }
    }

    // x6g's own claimed invariant: byte-budget shard packing must be
    // partition-count independent — identical rows under different
    // shuffle widths at the scaled size
    val x6g = "x6g_shard_pack"
    val x6gDir = fixture(tiers.head._1)
    def x6gRows(parts: String): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try SparkEntry.queries(x6g)(spark, x6gDir).collect().map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val invariant = x6gRows("8") == x6gRows("64")

    // planted-pair recall at the 30× tier (VERDICT r09 #3): run the full
    // registered x2e / x7e queries on the planted corpus and count how
    // many of the 50 known near-dup pairs each emits. The collect is
    // prefiltered to planted-id rows (≤ corpus-sized, gate-harness only).
    val recallFloor = 0.8
    val (recall2e, recall7e) = {
      val dir = fixture(tiers.head._1)
      val wanted = plantedPairs.toSet
      val found2e = SparkEntry.queries("x2e_dedup_embed")(spark, dir)
        .filter(col("b") >= PlantBase)
        .select(col("a"), col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val found7e = SparkEntry.queries("x7e_decontam_semantic")(spark, dir)
        .filter(col("eval_vec") >= PlantBase)
        .select(col("train_vec"), col("eval_vec")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (wanted.count(found2e.contains).toDouble / wanted.size,
        wanted.count(found7e.contains).toDouble / wanted.size)
    }
    val recallOk = recall2e >= recallFloor && recall7e >= recallFloor
    System.err.println(
      f"[scale] planted recall: x2e $recall2e%.2f  x7e $recall7e%.2f  floor $recallFloor")

    // x2e verify-stage candidate count at 30× (VERDICT r12 #6): the tier
    // ratio swung 2.42 → 4.50 across the r11/r12 gate runs with zero
    // spill both times — emit the count of distinct-vector pairs entering
    // the cosine verify so a REAL candidate-set regression (a banding
    // change inflating collisions) is distinguishable from box/sweep
    // timing noise. Informational, not gated.
    val x2eCandidates = {
      val dir = fixture(tiers.head._1)
      Caching.pinned(pins =>
        ext.SimilarityQueries.embedLshPairsPlanFull(pins, spark, dir)._2.count())
    }
    System.err.println(s"[scale] x2e verify-stage candidates at 30x: $x2eCandidates")

    // x2e geometry A/B (r14, VERDICT r13 #6): the retired 8×8 banding vs
    // the registered 8×12, on IDENTICAL planes (the pool draw is
    // sequential, so 8×8's 64 planes are a prefix of 8×12's 96). Per
    // geometry: band-join candidate volume (Σ C(bucket,2) per band — the
    // verify-stage input the cut targets) and planted-pair recall over
    // ScaleBench's 50 planted near-dups (cos ≈ 0.995). Gate: the
    // registered geometry cuts candidates ≥ 5× and holds recall ≥ 0.8 —
    // the boundary-recall trade this buys is declared at the geometry
    // constants' scaladoc.
    val (x2eAb, x2eAbOk) = Caching.pinned { pins =>
      val dir = fixture(tiers.head._1)
      val e = pins.checkpoint(spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast(org.apache.spark.sql.types.DoubleType) * 1048576d)
              .cast(org.apache.spark.sql.types.LongType)).as("qe")))
        def measure(nb: Int, bits: Int): (Long, Int, Int) = {
          val planes = ext.SimilarityQueries.lshPlanesFor(nb * bits)
            .flatMap(_.map(_.toByte)).toArray
          val keyed = e.select(col("vec_id"),
            explode(graft.functions.Kernels
              .rademacher_band_structs(col("qe"), planes, nb, bits)).as("bk"))
            .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
          val cand = keyed.groupBy("band", "key").agg(count(lit(1)).as("m"))
            .agg(sum(expr("m * (m - 1) DIV 2"))).collect()(0).getLong(0)
          val pp = plantedPairs
          val keysById = keyed.filter(col("vec_id").isin(
              pp.flatMap(p => Seq(p._1, p._2)): _*))
            .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
          val present = pp.filter { case (o, p) =>
            keysById.keys.exists(_._1 == o) && keysById.keys.exists(_._1 == p) }
          val hits = present.count { case (o, p) =>
            (0 until nb).exists(b =>
              keysById.get((o, b)).zip(keysById.get((p, b)))
                .exists { case (a, c) => a == c }) }
          (cand, hits, present.size)
        }
        val (c88, h88, t88) = measure(8, 8)
        val (c812, h812, t812) = measure(8, 12)
        val reduction = c88.toDouble / math.max(1L, c812)
        val recall = h812.toDouble / math.max(1, t812)
        val ok = reduction >= 5.0 && recall >= 0.8 && t812 >= 25
        System.err.println(f"[scale] x2e band A/B at 30x: 8x8 $c88 cand " +
          f"recall $h88/$t88; 8x12 $c812 cand recall $h812/$t812 " +
          f"(reduction $reduction%.1fx) ok=$ok")
        ((c88, h88, t88, c812, h812, t812, reduction), ok)
    }

    // x2h REAL-increment measurement (r10): the registered query (and the
    // tier row above) recomputes the index-side signatures every run; a
    // production increment loads yesterday's index as an on-disk asset and
    // pays signature work only for the batch. Materialize the 30× index
    // artifacts once, then time increments that merely LOAD them — and
    // assert the precomputed path emits the IDENTICAL verdict row set, so
    // the speedup is measured on a proven-equivalent plan.
    def timedIncrement(batch: DataFrame, art: String): (Double, DataFrame) = {
      val out = ext.DedupQueries.incrementVerdictPlan(batch,
        spark.read.parquet(s"$art/digs.parquet"),
        spark.read.parquet(s"$art/buckets.parquet"),
        spark.read.parquet(s"$art/shingles.parquet"))
      val t0 = System.nanoTime()
      val ckpt = out.localCheckpoint()
      ((System.nanoTime() - t0) / 1e9, ckpt)
    }

    val (incrSec, incrFullSec, incrEqual) = {
      val dir = fixture(tiers.head._1)
      val art = materializedArtifacts(s"$SfGen/x2h_idx30p",
        fixtureFingerprint(s"$dir/documents.parquet")) {
        pins => ext.DedupQueries.indexArtifactsFrom(pins,
          ext.DedupQueries.x2hIndex(spark, dir))
      }
      def increment() = timedIncrement(ext.DedupQueries.x2hBatch(spark, dir), art)
      val (tA, outA) = increment()
      val (tB, _) = increment()
      val incr = math.min(tA, tB)
      val full = rows.collectFirst {
        case ("x2h_incremental_dedup", _, _, s, _, _, _) => s
      }.getOrElse(-1.0)
      val equal = {
        val got = outA.collect().map(_.toString).sorted.toSeq
        val want = SparkEntry.queries("x2h_incremental_dedup")(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        got == want
      }
      System.err.println(
        f"[scale] x2h increment: full $full%.2f s  precomputed-index $incr%.2f s" +
          f"  speedup ${full / incr}%.1fx  equal=$equal")
      (incr, full, equal)
    }

    // x2h |index|-independence (VERDICT r10 #3): the scaladoc claims the
    // per-increment cost is O(|batch| + collisions) — signature work only
    // for the batch; the index side contributes precomputed-artifact
    // equi-join probes, never recompute. Prove it: FIX the batch (the base
    // corpus's eval split) and scale the DISTINCT index content 1×/10×/30×
    // with synthetic filler docs (8 md5-hex words derived from the base
    // digest — shares no shingles with any real text, so batch×index
    // collisions stay CONSTANT while |index| grows k×). Gate: increment
    // wall-time at 30× the index stays within `x2hIndexFlatBound` of 1× —
    // flat up to the O(|index|) artifact SCAN term, whose constant
    // (columnar parquet read + hash probe) is orders below the signature
    // recompute the full path pays (that growth is already measured by the
    // x2h tier row above).
    val x2hIndexFlatBound = 2.5
    val (x2hIndexSeries, x2hIndexFlatOk) = {
      val baseFp = fixtureFingerprint(s"$base/documents.parquet")
      val baseIdxDocs = spark.read.parquet(s"$base/documents.parquet")
        .filter(pmod(col("doc_id") * 2654435761L, lit(100L)) < 80)
        .select(col("doc_id"), col("text"), md5(col("text")).as("dig"))
      def scaledArt(k: Int): String =
        materializedArtifacts(s"$SfGen/x2h_idxscale_$k",
          s"$baseFp:k=$k") { pins =>
          val frame = (0 until k).map { j =>
            if (j == 0) baseIdxDocs
            else baseIdxDocs.select(
              (col("doc_id") + j * 10000000L).as("doc_id"),
              concat_ws(" ", (0 until 8).map(w =>
                md5(concat(col("dig"), lit(s":$j:$w")))): _*).as("text"))
              .withColumn("dig", md5(col("text")))
          }.reduce(_ unionByName _)
          ext.DedupQueries.indexArtifactsFrom(pins, frame)
        }
      val batch = ext.DedupQueries.x2hBatch(spark, base)
      val series = Seq(1, 10, 30).map { k =>
        val art = scaledArt(k)
        val t = math.min(timedIncrement(batch, art)._1, timedIncrement(batch, art)._1)
        System.err.println(f"[scale] x2h increment vs index x$k: $t%.2f s")
        (k, t)
      }
      val flatRatio = series.last._2 / series.head._2
      val ok = flatRatio <= x2hIndexFlatBound
      System.err.println(
        f"[scale] x2h index-scaling 30x/1x ratio $flatRatio%.2f (bound $x2hIndexFlatBound)")
      (series, ok)
    }

    // ANN recall at 30×, FLOOR-GATED for the rerank-bearing indexes
    // (VERDICT r10 #2: 0.525/0.800/0.500 were measured but unfailable —
    // nothing tripped if pruning collapsed). The queries annotate every
    // returned row with `in_exact_top5` against the global exact top-5 —
    // computed in-query, discarded by the tier's noop sink; re-collect the
    // 40-row outputs on the scaled corpus where candidate sets are 30×
    // denser. Floors: x3h/x3i/x3j carry 0.7 — each has a recall dial
    // (shortlist depth; x3i additionally nprobe, tuned 3→8 in r11) so a
    // declared floor states how much index loss is acceptable and the dial
    // answers it. x3f carries a STAGE floor of 0.45 (VERDICT r11 #2: the
    // last floor:null entry could collapse silently) — it is the undialed
    // codes-only ADC top-5, whose loss is by design (x3h proves a 20-deep
    // rerank over the SAME codes recovers to ≥ 0.7), so its floor declares
    // the minimum shortlist-feeding quality: below 0.45 the codebook
    // itself has degenerated (measured 0.525 at 30× in r10/r11) and the
    // rerank stages would be reranking noise.
    // x3s carries 0.7 with the rerank-bearing family: its dial is
    // shortlist depth (and projection width) — and the 30× corpus is the
    // EASY regime for JL (each query's exact top-5 is its perturbed
    // replicas at cos ≈ 1, far above the 0.5 background, and JL preserves
    // large gaps), so a breach means the projection itself regressed.
    val annFloors = Map("x3f_pq_adc" -> 0.45, "x3h_pq_rerank" -> 0.7,
      "x3i_ivf_pq" -> 0.7, "x3j_filtered_knn" -> 0.7, "x3s_rp_shortlist" -> 0.7)
    val annRecall: Seq[(String, Double, Option[Double])] = {
      val dir = fixture(tiers.head._1)
      Seq("x3f_pq_adc", "x3h_pq_rerank", "x3i_ivf_pq", "x3j_filtered_knn",
        "x3s_rp_shortlist").map { n =>
        val rows = SparkEntry.queries(n)(spark, dir)
          .select(col("in_exact_top5")).collect()
        val r = rows.count(_.getBoolean(0)).toDouble / math.max(1, rows.length)
        val fl = annFloors.get(n)
        System.err.println(f"[scale] ann recall@5 x30: $n $r%.2f (${rows.length} rows)" +
          fl.map(f => f"  floor $f%.2f").getOrElse(""))
        (n, r, fl)
      }
    }
    val annOk = annRecall.forall { case (_, r, fl) => fl.forall(r >= _) }

    // x5g planted-pair recall at 30× (VERDICT r11 #1): see
    // [[plantedDocSources]]. Ground truth runs the aHash kernel itself
    // over just the 100 involved docs; the wanted set is the planted pairs
    // at TRUE Hamming ≤ 3, so a miss is a band-join miss by construction
    // (pigeonhole says Hamming ≤ 3 ⇒ some 16-bit band equal — recall
    // below 1.0 means the banding itself regressed).
    val x5gFloor = 0.8
    val (x5gRecall, x5gEligible, x5gOk) = {
      val dir = fixture(tiers.head._1)
      val pairs = plantedDocSources(spark, base).map(o => (o, PlantDocBase + o))
      val involved = pairs.flatMap(p => Seq(p._1, p._2))
      val m = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id").isin(involved: _*))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      val bands = ext.Multimodal.aHashBands(m).collect()
        .map(r => r.getLong(0) ->
          Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
      def ham(a: Long, b: Long): Int =
        bands(a).zip(bands(b)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      val wanted = pairs.filter { case (a, b) => ham(a, b) <= 3 }.toSet
      val found = SparkEntry.queries("x5g_phash_dedup")(spark, dir)
        .filter(col("b") >= PlantDocBase)
        .select(col("a"), col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val r = wanted.count(found.contains).toDouble / math.max(1, wanted.size)
      System.err.println(f"[scale] x5g planted recall: $r%.2f " +
        f"(${wanted.size} eligible of ${pairs.size} planted, floor $x5gFloor)")
      // eligibility floor: the ±1-char perturbation must actually land
      // ≥ 25 of 50 pairs under the Hamming threshold, or the gate would
      // pass vacuously on a near-empty denominator
      (r, wanted.size, wanted.size >= 25 && r >= x5gFloor)
    }

    // x2j conservation invariant at 30× (r12): exact_dup must equal
    // corpus − distinct(vector) and surviving reps must equal distinct —
    // the collapse loses nothing and merges nothing. The scaled
    // embedding replicas are PERTURBED by design (the x2e neighborhood
    // contract), so distinct == corpus here and the check pins the
    // identity direction; the positive replica-collapse contract
    // (identical vectors → one rep + exact_dup members) is pinned on
    // controlled data in SemanticDedupSpec.
    val (x2jCollapse, x2jCollapseOk) = {
      val dir = fixture(tiers.head._1)
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val total = e.count()
      val distinct = e.select(col("embedding")).distinct().count()
      val byReason = SparkEntry.queries("x2j_semantic_dedup")(spark, dir)
        .groupBy("reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactDup = byReason.getOrElse("exact_dup", 0L)
      val reps = byReason.getOrElse("kept", 0L) +
        byReason.getOrElse("semantic_dup", 0L)
      val ok = exactDup == total - distinct && reps == distinct
      System.err.println(s"[scale] x2j collapse: corpus $total distinct " +
        s"$distinct exact_dup $exactDup reps $reps ok=$ok")
      ((total, distinct, exactDup, reps), ok)
    }

    // x2j semantic recall at 30× from the SAME 50 planted near-dup
    // embedding pairs the x2e gate uses (cos ≥ 0.995 by construction) —
    // split into the two loss channels SemDeDup actually has:
    //  (1) WITHIN-CLUSTER detection is EXHAUSTIVE, not probabilistic (the
    //      point of semantic dedup vs LSH banding): every planted pair
    //      whose members share a cluster MUST have ≥ 1 member pruned —
    //      required 1.00, a miss is a τ-test or keep-rule bug;
    //  (2) CLUSTER-BOUNDARY separation is the paper's declared loss (a
    //      near-dup pair split across coarse cells is invisible to the
    //      within-cell pair stage) — measured, floored at 0.5 so a
    //      quantizer regression (e.g. assignment noise scattering twins)
    //      fails loudly while honest boundary loss passes.
    val x2jBoundaryFloor = 0.5
    val (x2jSameCluster, x2jPrunedGivenSame, x2jSemOk) = {
      val dir = fixture(tiers.head._1)
      val pairs = plantedPairs
      val involved = pairs.flatMap(p => Seq(p._1, p._2))
      val frame = SparkEntry.queries("x2j_semantic_dedup")(spark, dir)
      val v = frame
        .filter(col("vec_id").isin(involved: _*))
        .select(col("vec_id"), col("cluster"), col("keep")).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
      val same = pairs.filter { case (a, b) =>
        v.contains(a) && v.contains(b) && v(a)._1 == v(b)._1 }
      val prunedGivenSame =
        if (same.isEmpty) 0.0
        else same.count { case (a, b) => !v(a)._2 || !v(b)._2 }.toDouble / same.size
      val sameRate = same.size.toDouble / pairs.size
      val ok = sameRate >= x2jBoundaryFloor &&
        (same.nonEmpty && prunedGivenSame == 1.0)
      System.err.println(f"[scale] x2j semantic recall: same-cluster " +
        f"$sameRate%.2f (floor $x2jBoundaryFloor), pruned-given-same " +
        f"$prunedGivenSame%.2f (required 1.00) ok=$ok")
      (sameRate, prunedGivenSame, ok)
    }

    // x2j seed-vs-trained A/B on the boundary-loss channel (VERDICT r12
    // #3): the registered query now trains 2 k-means rounds over the rep
    // set; re-run the SAME planted-pair same-cluster measurement under
    // raw seed centroids (trainRounds = 0) so the lift the training buys
    // is a recorded number, not an assumption. Informational — the gate
    // floor above applies to the registered (trained) plan.
    val x2jSeedSameCluster = {
      val dir = fixture(tiers.head._1)
      val pairs = plantedPairs
      val involved = pairs.flatMap(p => Seq(p._1, p._2))
      val frame = ext.SimilarityQueries
        .semanticDedupPlan(spark, dir, trainRounds = 0)
      val v = frame
        .filter(col("vec_id").isin(involved: _*))
        .select(col("vec_id"), col("cluster")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      pairs.count { case (a, b) =>
        v.contains(a) && v.contains(b) && v(a) == v(b)
      }.toDouble / pairs.size
    }
    System.err.println(f"[scale] x2j same-cluster A/B: seed " +
      f"$x2jSeedSameCluster%.2f vs trained $x2jSameCluster%.2f")

    // r12 ingest/mixture invariants at 30× — single-aggregate checks that
    // pin SEMANTICS the tier's time gate can't see:
    //   q52g completeness: the accumulated store must hold exactly M=8
    //   code rows per corpus vector (a retry double-append and a dropped
    //   batch both break the count — the per-batchId overwrite sink is
    //   what makes this exact);
    //   x6n budget exactness: quotas must sum to ⌊N/5⌋ EXACTLY and every
    //   source must fill its quota — the largest-remainder contract,
    //   verified where the two-phase rank actually spans partitions.
    val (ingestInv, ingestInvOk) = {
      val dir = fixture(tiers.head._1)
      val nVec = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val nCodes = SparkEntry.queries("q52g_stream_ann_ingest")(spark, dir).count()
      val mix = SparkEntry.queries("x6n_temperature_mix")(spark, dir)
        .agg(sum(col("n_source")).as("n"), sum(col("quota")).as("q"),
          sum(when(col("n_sampled") === col("quota"), 0L).otherwise(1L)).as("bad"))
        .head()
      val (tot, qsum, bad) = (mix.getLong(0), mix.getLong(1), mix.getLong(2))
      val ok = nCodes == nVec * 8 && qsum == tot / 5 && bad == 0L
      System.err.println(s"[scale] ingest/mix invariants: codes $nCodes " +
        s"(want ${nVec * 8}), quota sum $qsum (want ${tot / 5}), " +
        s"quota-misses $bad ok=$ok")
      ((nVec, nCodes, tot, qsum, bad), ok)
    }

    // x3l |index|-independent APPEND (VERDICT r11 #3 — the x2h story for
    // the ANN index): a persisted PQ index that must be fully rebuilt per
    // batch isn't a production index. FIX the batch (base-corpus copies,
    // +3 perturbed, fresh ids) and scale the STANDING index 1×/10×/30×;
    // the timed append is pqAppendArtifacts — encode ONLY the batch
    // against the LOADED codebook + batch norms — whose cost must stay
    // flat in |index| (the codebook, the only index-side input, is 128
    // rows at every scale). Then prove append ≡ rebuild at 30×: serving
    // from loaded+appended artifacts must emit the IDENTICAL row set as a
    // full rebuild over corpus ∪ batch (same 16 seed vectors train both
    // codebooks — batch ids sit far above the seed range — so code
    // assignment, ADC, shortlist and rerank agree bit-for-bit).
    val x3lFlatBound = 2.5
    val (x3lSeries, x3lFlatOk, x3lAppendEqual) = {
      val sq = ext.SimilarityQueries
      def dirAt(k: Int): String = if (k == 1) base else fixture(k)
      def corpusAt(k: Int): DataFrame = sq.quantFrame(spark, dirAt(k))
      def art(k: Int): String =
        materializedPqIndex(s"$SfGen/x3l_idx_$k",
          fixtureFingerprint(s"${dirAt(k)}/embeddings.parquet")) {
          sq.pqBuildFrom(corpusAt(k))
        }
      val batch = sq.quantFrame(spark, base)
        .select((col("vec_id") + 500000000L).as("vec_id"),
          transform(col("qe"), x => x + lit(3L)).as("qe"), col("label"))
      def timedAppend(a: String): Double = {
        val lcb = spark.read.parquet(s"$a/codebook.parquet")
        // disposable COPY of the store, so the physical append below can
        // never corrupt the fingerprint-cached artifact (copy cost sits
        // outside the timed region)
        val stage = new java.io.File(
          graft.Tmp.sessionDir(spark, "x3l_append_stage"))
        org.apache.commons.io.FileUtils.deleteQuietly(stage)
        org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(a), stage)
        val (bc, bn) = sq.pqAppendArtifacts(batch, lcb)
        // ADVICE r12: the timed region covers the FULL per-append work the
        // scaladoc claims — the O(|batch|) encode AND the O(|batch|)
        // columnar append into the standing store (mode-append writes only
        // the batch's files; an append path that accidentally rewrote or
        // re-scanned the standing index would surface here as an
        // |index|-dependent cost and trip the flat gate). The previous
        // region timed only the encode, which is |index|-independent by
        // construction.
        val t0 = System.nanoTime()
        bc.write.mode("append").parquet(s"$stage/codes.parquet")
        bn.write.mode("append").parquet(s"$stage/norms.parquet")
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.commons.io.FileUtils.deleteQuietly(stage)
        sec
      }
      val series = Seq(1, 10, 30).map { k =>
        val a = art(k)
        val t = math.min(timedAppend(a), timedAppend(a))
        System.err.println(f"[scale] x3l append vs index x$k: $t%.2f s")
        (k, t)
      }
      val flatRatio = series.last._2 / series.head._2
      val a30 = art(30)
      val all = corpusAt(30).unionByName(batch)
      val lcb = spark.read.parquet(s"$a30/codebook.parquet")
      val (bc, bn) = sq.pqAppendArtifacts(batch, lcb)
      val servedAppend = sq.pqServe(
        spark.read.parquet(s"$a30/codes.parquet").unionByName(bc),
        spark.read.parquet(s"$a30/norms.parquet").unionByName(bn), lcb, all)
        .collect().map(_.toString).sorted.toSeq
      val (rc, rn, rcb) = sq.pqBuildFrom(all)
      val servedRebuild = sq.pqServe(rc, rn, rcb, all)
        .collect().map(_.toString).sorted.toSeq
      val equal = servedAppend.nonEmpty && servedAppend == servedRebuild
      System.err.println(f"[scale] x3l index-scaling 30x/1x ratio " +
        f"$flatRatio%.2f (bound $x3lFlatBound)  append==rebuild: $equal")
      (series, flatRatio <= x3lFlatBound, equal)
    }

    // x3n compaction at 30× (VERDICT r12 #2): run the registered query on
    // the 30× corpus (fragments the index into the q52g/x3l accumulation
    // shape, compacts, serves from the compacted generation), then record
    // the file-count win and prove SERVE PARITY — the fragment store and
    // the compacted store must emit the identical served row set (the
    // registered query's oracle already proves compacted == rebuild; this
    // adds fragment == compacted at scale, closing the triangle).
    val (x3nFilesBefore, x3nFilesAfter, x3nServeEqual) = {
      val sq = ext.SimilarityQueries
      val dir = fixture(tiers.head._1)
      val servedCompact = SparkEntry.queries("x3n_pq_index_compact")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      // sessionDir is idempotent — same path the registered query used;
      // one definition of the session layout
      val idxDir = graft.Tmp.sessionDir(spark, "x3n_idx")
      val before = sq.partFiles(spark, s"$idxDir/frag").size
      val after = sq.partFiles(spark, s"$idxDir/compact").size
      val lcb = spark.read.parquet(s"$idxDir/codebook.parquet")
      val servedFrag = sq.pqServe(
        spark.read.parquet(s"$idxDir/frag/codes").drop("batch"),
        spark.read.parquet(s"$idxDir/frag/norms").drop("batch"),
        lcb, sq.quantFrame(spark, dir))
        .collect().map(_.toString).sorted.toSeq
      val equal = servedCompact.nonEmpty && servedCompact == servedFrag
      System.err.println(s"[scale] x3n compaction: $before part files -> " +
        s"$after, serve parity $equal")
      (before, after, equal)
    }
    val x3nOk = x3nServeEqual && x3nFilesAfter < x3nFilesBefore

    // q12b bucket-sizing rule A/B WHERE THE RULE ENGAGES (VERDICT r11 #4):
    // the max(8, ceil(rows/1M)) rule was A/B-measured only at 6M rows —
    // below its own 8M crossover, where it deliberately does nothing. At
    // 30× lineitem (~18M rows → 18 buckets) build both layouts side by
    // side and time the SAME join (CoreQueries.bucketedJoin) on each: the
    // rule's extra parallelism and smaller per-task sorted runs must not
    // lose to fixed-8 (≤ 1.05× absorbs run-to-run noise; the expected
    // result is a clear win — 18 tasks on 32 cores vs 8).
    val (q12bAb, q12bAbOk) = {
      val dir = fixture(tiers.head._1)
      val rows = spark.read.parquet(s"$dir/lineitem.parquet").count()
      val nb = ops.CoreQueries.ruleBuckets(rows)
      ops.CoreQueries.bucketedPairWith(spark, dir, nb, "_r30rule")
      ops.CoreQueries.bucketedPairWith(spark, dir, 8, "_r30fix8")
      def t(suffix: String): Double = {
        def one(): Double = {
          val t0 = System.nanoTime()
          ops.CoreQueries.bucketedJoin(spark, suffix)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        math.min(one(), one())
      }
      val tr = t("_r30rule"); val tf = t("_r30fix8")
      val ok = tr <= tf * 1.05
      System.err.println(f"[scale] q12b 30x A/B: rule($nb buckets) $tr%.2f s" +
        f"  fixed-8 $tf%.2f s  ok=$ok")
      ((rows, nb, tr, tf), ok)
    }

    // x4k merge stability at 30× (r13; r14: 64 merges via 8 batched
    // rounds of 8 symbol-disjoint picks — one candidate collect per
    // ROUND, so vocab size costs rounds, not merges, in driver trips):
    // replication copies every text ×30 verbatim, so on the REPLICATED
    // ROWS ALONE the learned merge sequence (step, pair, merged) must be
    // identical to the base corpus's — counts scale ×30, ties and
    // tie-breaks are preserved exactly. The planted x5g/x2e noise docs
    // are excluded from the gated arm: at r13's 8-merge depth they could
    // never reach the leading counts, but a 64-merge vocab descends into
    // near-tied pairs where ~100 off-scale docs DO flip (count, pair)
    // orders — that is tie sensitivity to corpus composition (inherent
    // to BPE, the reason real tokenizers version their training set),
    // not a replication-invariance bug, so it is REPORTED (first
    // divergence depth with plants included) rather than gated.
    val (x4kBaseMerges, x4kScaledMerges, x4kPlantDiverge, x4kStableOk,
        x4kDeltaLedger, x4kDeltaOk) = {
      val dir = fixture(tiers.head._1)
      def merges(d: String, excludePlants: Boolean,
          ledger: Option[scala.collection.mutable.Buffer[(Int, Long, Long)]]
            = None): Seq[(Int, String, String)] = {
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val src = if (excludePlants) docs.filter(col("doc_id") < PlantDocBase)
                  else docs
        ext.TextQueries.bpeTrain(spark, ext.TextQueries.bpeWordFreq(src),
            rounds = 8, picksPerRound = 8, ledger = ledger)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
          .sortBy(_._1).toSeq
      }
      val b = merges(base, excludePlants = false) // base has no plants
      // the incremental-train ledger (VERDICT r14 #2): per round,
      // (affected words, total words) — the measured shrink of per-round
      // work under delta pair-count maintenance; gated as a strict
      // subset in some round (the whole point — a full recount touches
      // total every round), declining trend reported
      val ledger = scala.collection.mutable.Buffer.empty[(Int, Long, Long)]
      val s = merges(dir, excludePlants = true, ledger = Some(ledger))
      val withPlants = merges(dir, excludePlants = false)
      val diverge = b.zip(withPlants).indexWhere { case (x, y) => x != y } match {
        case -1 => math.min(b.size, withPlants.size)
        case i => i
      }
      val ok = b.nonEmpty && b == s
      val deltaOk = ledger.nonEmpty &&
        ledger.exists { case (_, aff, total) => aff < total } &&
        ledger.last._2 <= ledger.head._2
      System.err.println(s"[scale] x4k merge stability at 30x: $ok " +
        s"(${b.size} merges; with plants diverges at depth $diverge) " +
        s"(base ${b.map(_._3).mkString(",")} vs ${s.map(_._3).mkString(",")}); " +
        s"delta rounds affected/total " +
        s"${ledger.map(l => s"${l._2}/${l._3}").mkString(",")} ok=$deltaOk")
      (b, s, diverge, ok, ledger.toSeq, deltaOk)
    }

    // q52y TIERED maintenance at 30× (r14, VERDICT r13 #1; r15 extends
    // the window per VERDICT r14 #5 so a SECOND-LEVEL merge lands under
    // the fold-bytes gate): drive the in-loop store over THIRTY-SIX
    // staged batches (maintenance every 2nd = 18 cycles, fanout 4)
    // against the 30× embeddings and gate the thing the whole-store fold
    // could never show — per-cycle L0 fold bytes track the CYCLE'S
    // fragment input (flat across cycles), not the store size, while
    // level merges amortize GEOMETRICALLY across levels: L1 merges fire
    // at cycles 5/9/13/17 (4 L0 gens each), and cycle 17's fourth L1
    // immediately cascades into the ONE L2 merge (4 L1 gens ≈ fanout ×
    // L1 size = 16 batch-units) — 5 merges total, the log-structured
    // shape at two levels. End state: 3 live gens (L2[0,31] + two L0) +
    // the last cycle's 2 grace-retained fragments — LOGARITHMIC in the
    // 18 cycles — and serving parity against a direct batch encode.
    val (q52yLedger, q52yGens, q52yFrags, q52yServeEqual, q52yL2Bytes, q52yOk) =
        Caching.pinned { pins =>
      val sq = ext.SimilarityQueries
      val dir = fixture(tiers.head._1)
      val base = graft.Tmp.sessionDir(spark, "q52y_tiered")
      val store = s"$base/store"
      val cp = s"$base/cp"
      val src = s"$base/src"
      Seq(store, cp).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      sq.maintainLedger.remove(store)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      emb.repartition(36).write.mode("overwrite").parquet(src)
      val cb = pins.checkpoint(sq.pqBuildFrom(sq.quantFrame(spark, dir))._3)
      val arrivals = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      streaming.Streams.start(arrivals, cp)(
        _.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch(ops.StreamQueries.annMaintainBatchWriter(cb, store, 2) _))
        .awaitTermination()
      val ledger = Option(sq.maintainLedger.get(store))
        .map(l => scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq)
        .getOrElse(Seq.empty)
      val live = sq.liveGens(sq.completeGens(spark, store))
      val gens = live.size
      val frags = Option(new java.io.File(s"$store/frag").listFiles())
        .getOrElse(Array.empty[java.io.File]).count(_.isDirectory)
      val served = sq.readPqStore(spark, store).select("vec_id", "s", "code")
      val direct = sq.pqEncode(sq.quantFrame(spark, dir), cb)
        .select("vec_id", "s", "code")
      val serveEqual = served.exceptAll(direct).isEmpty &&
        direct.exceptAll(served).isEmpty
      val l0 = ledger.map(_.l0InputBytes)
      val l0Flat = l0.nonEmpty && l0.max <= 2L * l0.min // input-sized, not store-sized
      val merges = ledger.map(_.mergesFired).sum
      // the L1→L2 evidence (VERDICT r14 #5): one live level-2 gen
      // spanning [0, 31], and the cascade cycle's merge fold ≈ fanout ×
      // L1 size — its mergeInputBytes carry one L1 merge (4 L0 units) +
      // the L2 merge (4 L1 units ≈ 16 L0 units) ≈ 5× a plain L1 cycle's
      val l2Live = live.count(g => g.level == 2 && g.lo == 0L && g.hi == 31L)
      val mergeCycles = ledger.filter(_.mergesFired > 0)
      val l1OnlyBytes = mergeCycles.filter(_.mergesFired == 1)
        .map(_.mergeInputBytes)
      val cascadeBytes = mergeCycles.filter(_.mergesFired == 2)
        .map(_.mergeInputBytes)
      // both bounds anchored to the same statistic (mean of the plain-L1
      // cycles): [4*max, 6*min] could go EMPTY under the 2x per-gen
      // variance the l0 gate itself permits
      val l1Mean = if (l1OnlyBytes.isEmpty) 0L
                   else l1OnlyBytes.sum / l1OnlyBytes.size
      val l2BytesOk = l1OnlyBytes.size == 3 && cascadeBytes.size == 1 &&
        cascadeBytes.head >= 4 * l1Mean && cascadeBytes.head <= 6 * l1Mean
      val ok = ledger.size == 18 && l0Flat && merges == 5 && l2Live == 1 &&
        l2BytesOk && gens == 3 && frags == 2 && serveEqual
      System.err.println(s"[scale] q52y tiered store after 36 batches: " +
        s"$gens live gen(s) + $frags frag dir(s), l0 bytes/cycle " +
        s"${l0.mkString(",")}, merges $merges (L2 live $l2Live, cascade " +
        s"bytes ${cascadeBytes.mkString(",")} vs L1 ${l1OnlyBytes.mkString(",")}), " +
        s"serve parity $serveEqual, ok=$ok")
      (ledger, gens, frags, serveEqual,
        cascadeBytes.headOption.getOrElse(0L), ok)
    }

    // q52t CADENCE LEDGER at 30× (r16, VERDICT r15 #1): drive the sketch
    // writer over TWENTY hash-sliced staged batches of the 30× corpus
    // with the cum-fold ledger on and gate what the 6-batch fixture
    // drain cannot show — every firing reads ZERO history bytes (it
    // θ-filters the in-memory mergeable fold) and the entrant catch-up
    // DECAYS to zero once the vocabulary has been seen, where the r15
    // shape re-read ALL ingested rows at every firing (O(T²·B/M) over a
    // stream's lifetime, the q52y-pre-tiering cost class). Slicing is
    // xxhash64(doc_id) % 20 — replica ids shift by a multiple of 20, so
    // a plain modulus would give each batch a disjoint text subset and
    // fake permanent churn; the hash spreads each text's 30 copies
    // across batches, the steady state a real stream reaches. Plus
    // serve parity: the final firing's artifact equals a sketch-free
    // exact θ-recount over everything staged.
    // sketch-free exact θ-heavy (gram, cnt, ppm) set over `docs`; the
    // total is summed off the counts so the gram explode runs once
    def hhTruth(docs: DataFrame): Set[(String, Long, Long)] = {
      val cnt = ext.TextQueries.heavyHitterGrams(docs)
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
      cnt.crossJoin(broadcast(cnt.agg(sum(col("cnt")).as("total"))))
        .filter(col("cnt") * ext.TextQueries.HhThetaInv >= col("total"))
        .select(col("gram"), col("cnt"), expr("cnt * 1000000 DIV total").as("ppm"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    val (hhCadLedger, hhCadParity, hhCadOk) = {
      val dir = fixture(tiers.head._1)
      val base = graft.Tmp.sessionDir(spark, "hh_cadence")
      Seq("sketch", "rows", "hh", "cum").foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$base/$p")))
      val ledger = new ops.StreamQueries.CumLedger
      val writer = ops.StreamQueries.heavyHitterSketchWriter(
        s"$base/sketch", s"$base/rows", s"$base/hh", 2, s"$base/cum", ledger)
      // the sf0.1 corpus has NO θ-heavy gram (max count 25 vs threshold
      // ~52: the vocabulary outgrows θ = 1/5000 past sf0.01), so an
      // unplanted gate would be vacuously empty — plant a hot phrase on
      // every 30th doc: 3 planted trigrams at ~3.2× θ, while the hottest
      // organic gram stays ~2.5× BELOW θ — a clean separation band, so
      // the pruned set is exactly {planted} from batch 0 on and the
      // tail-flatness gate has margin instead of a knife edge
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < PlantDocBase)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(30L)) === 0L,
            concat(lit("zzalpha zzbeta zzgamma zzdelta zzepsilon "),
              col("text"))).otherwise(col("text")).as("text"))
      val nB = 20
      (0 until nB).foreach { id =>
        writer(docs.filter(
          pmod(xxhash64(col("doc_id")), lit(nB.toLong)) === id.toLong), id)
      }
      val served = spark.read.parquet(s"$base/hh/batch=${nB - 1}").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val truth = hhTruth(docs)
      val parity = truth.nonEmpty && served == truth
      val rowsL = ledger.rows.toSeq
      val tail = rowsL.drop(8) // every text seen w.p. ~1 − (0.6)^30 by batch 8
      // r17 (VERDICT r16 #2) gates: every firing's fold window is bounded
      // by recountEvery on the crash-free path this gate observes (a
      // crash between a firing's rows write and its cum-gen write widens
      // the NEXT window to ≤ 2·recountEvery−1 — still bounded, still
      // exact; ADVICE r17 wording), and the happy-path job budget holds —
      // r19: 2 jobs on non-firing batches (rows write + fused agg; the
      // capacity-bounded sketch gen moved to the driver-side
      // DriverParquet path and costs no job), ≤ 4 at firings (+ window
      // semi-join, +1 only while entrants still catch up), vs r17's 3/6
      // and r16's 6–7 every batch
      val windowOk = rowsL.forall(r =>
        r.windowBatchesRead <= (if (r.fired) 2L else 0L))
      val jobsOk = tail.forall(r => r.jobs <= (if (r.fired) 4L else 2L))
      val ok = rowsL.size == nB && rowsL.count(_.fired) == nB / 2 &&
        tail.forall(r => r.entrants == 0L && r.histBatchesRead == 0L) &&
        windowOk && jobsOk && parity
      System.err.println(s"[scale] q52t cadence ledger at 30x: entrants " +
        s"${rowsL.map(_.entrants).mkString(",")}; hist reads " +
        s"${rowsL.map(_.histBatchesRead).mkString(",")}; window reads " +
        s"${rowsL.map(_.windowBatchesRead).mkString(",")}; jobs " +
        s"${rowsL.map(_.jobs).mkString(",")}; parity $parity ok=$ok")
      (rowsL, parity, ok)
    }

    // TIERED entrant catch-up under ADVERSARIAL churn at 30× (r18,
    // VERDICT r17 #4): the ledger gate above proves catch-up DECAYS on a
    // converging vocabulary; this one proves the deployment shape for
    // the opposite regime — planted UNBOUNDED key growth above the prune
    // floor. Every batch plants a fresh hot phrase (batch-id-derived, so
    // the planted trigrams are unique per batch) on every 6th doc of
    // that batch — far above the prune floor at its firing, so EVERY
    // firing has entrants and the untiered writer would re-read the
    // entire raw history per firing, the O(T²) lifetime class the churn
    // alert warns about — PLUS the hhCad gate's STANDING hot phrase on
    // every 30th doc, because without a standing θ-heavy gram the exact
    // recount is empty at this θ (sf0.1's organic distribution has no
    // θ-heavy member) and an empty-truth parity would assert nothing
    // (the VERDICT r17 #2 lesson, applied here from day one — the first
    // run of this gate caught exactly that). With tierDir on, the
    // catch-up folds the generational summary store (q52y's machinery +
    // an additive gram fold): per-firing catch-up read BYTES (task
    // inputMetrics — actual bytes, not planned file sizes) must grow
    // like the SUMMARY store — O(accumulated vocabulary), sub-linear in
    // rows and sawtoothing down at cascade merges — while the
    // raw-history counterfactual (rowsDir bytes in scope at each
    // firing — a listing, not a scan) grows linearly in rows ingested.
    // Absolute flatness is NOT the claim: text vocabulary grows with
    // corpus size (Heaps' law), so the store and its probes grow too —
    // strictly slower than raw, which is what tiering buys. Exactness
    // under tiering: the final firing's artifact equals the sketch-free
    // exact θ-recount over everything staged, planted churn included.
    val (hhChurnLedger, hhChurnBytes, hhChurnRaw, hhChurnParity, hhChurnOk) = {
      val dir = fixture(tiers.head._1)
      val base = graft.Tmp.sessionDir(spark, "hh_churn_tiered")
      Seq("sketch", "rows", "hh", "cum", "tier").foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$base/$p")))
      val ledger = new ops.StreamQueries.CumLedger
      val writer = ops.StreamQueries.heavyHitterSketchWriter(
        s"$base/sketch", s"$base/rows", s"$base/hh", 2, s"$base/cum",
        ledger, tierDir = s"$base/tier")
      val nB = 24
      // ONE churn-corpus definition (batch id derived from the same hash
      // that slices batches) serves both the staged batches and the
      // exact-recount truth — no drift between what was fed and what is
      // recounted
      val bid = pmod(xxhash64(col("doc_id")), lit(nB.toLong))
      val churned = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < PlantDocBase)
        .select(col("doc_id"), bid.as("bid"),
          when(pmod(col("doc_id"), lit(30L)) === 0L,
            // the standing θ-heavy phrase (hhCad's plant — non-empty truth)
            concat(lit("zzalpha zzbeta zzgamma zzdelta zzepsilon "),
              col("text")))
            .when(pmod(col("doc_id"), lit(6L)) === 1L,
              // the per-batch churn phrase (disjoint residue class, so
              // standing and churn plants never stack on one doc)
              concat(lit("qq"), bid, lit("a qq"), bid, lit("b qq"), bid,
                lit("c qq"), bid, lit("d qq"), bid, lit("e "),
                col("text")))
            .otherwise(col("text")).as("text"))
      (0 until nB).foreach { id =>
        writer(churned.filter(col("bid") === id.toLong)
          .select("doc_id", "text"), id.toLong)
      }
      // raw-history counterfactual per firing, from per-batch dir sizes
      val batchBytes = (0 until nB).map(k => ext.SimilarityQueries
        .partFiles(spark, s"$base/rows/batch=$k").map(_._2).sum)
      val rowsL = ledger.rows.toSeq
      val firings = rowsL.filter(_.fired)
      val rawAt = firings.map(r => batchBytes.take(r.batchId.toInt + 1).sum)
      val served = spark.read.parquet(s"$base/hh/batch=${nB - 1}").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val truth = hhTruth(churned.select("doc_id", "text"))
      val parity = truth.nonEmpty && served == truth
      val cb = firings.map(_.catchupBytes)
      // churn precondition: entrants at EVERY firing, and the tier keeps
      // raw-history batch reads at ZERO while still measuring a catch-up
      val churny = firings.forall(r =>
        r.entrants >= 1 && r.histBatchesRead == 0L && r.catchupBytes >= 0L)
      // scaling: from firing 4 to the last, tiered catch-up bytes must
      // grow strictly slower than the raw history they replace (store
      // grows with vocabulary — Heaps-sublinear — raw with rows; first
      // run measured 1.6x vs 3.0x over this span)
      val growthOk = cb.size > 4 && cb(3) > 0L && rawAt(3) > 0L &&
        cb.last.toDouble / cb(3) <= 0.7 * (rawAt.last.toDouble / rawAt(3))
      // economics: the raw scan the untiered catch-up would pay at the
      // LAST firing dwarfs what the tiered one actually read (first run
      // measured ~730x; 50x leaves an order of magnitude of margin)
      val econ = rawAt.nonEmpty && cb.last > 0L && rawAt.last >= 50L * cb.last
      val ok = rowsL.size == nB && firings.size == nB / 2 &&
        churny && growthOk && econ && parity
      System.err.println(s"[scale] hh churn-tiered at 30x: entrants " +
        s"${firings.map(_.entrants).mkString(",")}; catchup bytes " +
        s"${cb.mkString(",")}; raw-in-scope ${rawAt.mkString(",")}; jobs " +
        s"${rowsL.map(_.jobs).mkString(",")}; parity $parity ok=$ok")
      (rowsL, cb, rawAt, parity, ok)
    }

    // BPE at production depth (r16, VERDICT r15 #5; REAL depth r17,
    // VERDICT r16 #3): the r16 gate exhausted the fixture's 31-word
    // vocabulary at ~90 merges and proved the 512-entry plan literal with
    // inert padding — the depth itself went untested. r17 plants a
    // MORPHOLOGY-RICH corpus whose pair pool survives the full budget:
    // 18 432 distinct words = 12 prefixes × 64 CVCV roots × 24 suffixes
    // (compositional affix grammar — shared morphemes give BPE a deep
    // merge hierarchy, like natural text), Zipf-ish counts summing ~2M
    // word instances (30×-corpus word mass). Gates AT depth: ≥ 512 REAL
    // merges train (no padding anywhere), the delta trainer's per-round
    // cost stays ∝ affected words (strict subset in the back half, first
    // → last declining), the incremental fold at depth 512 equals a
    // from-scratch recount trainer MERGE-FOR-MERGE (BpeDeltaSpec's
    // parity, now at production depth), and bpe_apply with the 512
    // trained merges as a plan literal still whole-stage-codegens.
    val (bpe512N, bpe512Ledger, bpe512CodegenOk, bpe512Parity, bpe512Ok) = {
      import spark.implicits._
      val cons = "bcdfgklmnprstvz"
      val vows = "aeiou"
      val roots = (0 until 64).map { i =>
        s"${cons(i % 15)}${vows((i / 15) % 5)}" +
          s"${cons((i * 2 + 3) % 15)}${vows((i * 4 + 1) % 5)}"
      }
      val prefixes = Seq("re", "un", "de", "pre", "dis", "over", "sub",
        "anti", "inter", "non", "semi", "mis")
      val suffixes = Seq("ing", "ed", "ation", "ness", "ly", "ment",
        "able", "ity", "ize", "ful", "er", "est", "ism", "ist", "ous",
        "ive", "al", "en", "ward", "ship", "hood", "dom", "less", "like")
      val wordCnt: Seq[(String, Long)] = (for {
        (p, pi) <- prefixes.zipWithIndex
        (r, ri) <- roots.zipWithIndex
        (sfx, si) <- suffixes.zipWithIndex
      } yield {
        val idx = (pi * roots.size + ri) * suffixes.size + si
        (p + r + sfx, 1L + 200000L / (1L + idx))
      })
      // narrow shuffle width for the ~140 vocabulary-frame rounds: the
      // frames are ≤ 200k rows, and at 32 partitions the dominant cost is
      // SHUFFLE FILE COMMITS (measured: all 32 executor threads parked in
      // writeMetadataFileAndCommit — tiny-frame rounds are file-IO bound,
      // not compute bound; a production trainer on a cluster would size
      // this to its vocab frame exactly the same way)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val ledger = scala.collection.mutable.Buffer.empty[(Int, Long, Long)]
      // 48 rounds × 16 picks from a top-384 candidate window: budget
      // headroom over 512 because symbol-disjointness caps real picks
      // well under the nominal width on a morpheme-sharing vocabulary
      // (measured ~21 disjoint picks max per round at width 48).
      // The conf set, the wf build AND both trainers sit inside the
      // try (a throw between set and the try's entry would leak the
      // 4-partition conf to the rest of the run), and wf's pin is
      // released once both trainers finish.
      val (m, mRec) = try Caching.pinned { pins =>
        spark.conf.set("spark.sql.shuffle.partitions", 4)
        val wf = pins.checkpoint(wordCnt.toDF("word", "cnt") // two trainers consume it
          .select(ext.TextQueries.wordToSym.as("sym"), col("cnt"))
          .repartition(4))
        val a = ext.TextQueries.bpeTrain(spark, wf,
            rounds = 48, picksPerRound = 16, candLimit = 384,
          ledger = Some(ledger))
          .collect().sortBy(_.getInt(0))
        val b = ext.TextQueries.bpeTrain(spark, wf,
            rounds = 48, picksPerRound = 16, candLimit = 384,
          incremental = false)
          .collect().sortBy(_.getInt(0))
        (a, b)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      def key(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      val recountParity = key(m).sameElements(key(mRec))
      val trained = m.map { r =>
        val Array(l, rr) = r.getString(1).split(" ", 2); (l, rr)
      }.toSeq
      val pairs512 = trained.take(512)
      // the serving-path shape (x4l: one kernel call per raw word,
      // fromChars = true), exchange-free so the executed plan prints its
      // codegen markers directly — an aggregated input wraps in AQE,
      // whose unexecuted plan hides them (and count() executes a
      // DIFFERENT QueryExecution, not this one)
      // parquet-backed scan: a LocalRelation input collapses to a bare
      // LocalTableScan with no WholeStageCodegen wrapper (measured —
      // cg=false on the identical expression), and an exchange would wrap
      // the plan in AQE, whose unexecuted printout hides the markers; a
      // FileScan is the exchange-free shape that prints them (the x4l
      // serving path's own input shape)
      val wordsPath = s"${graft.Tmp.sessionDir(spark, "bpe512")}/words"
      wordCnt.map(_._1).toDF("word")
        .coalesce(1).write.mode("overwrite").parquet(wordsPath)
      val apF = spark.read.parquet(wordsPath)
        .select(graft.functions.Kernels.bpe_apply(col("word"), pairs512,
          fromChars = true).as("s"))
        .filter(length(col("s")) > 0)
      val plan = apF.queryExecution.executedPlan.toString
      val cg = plan.linesIterator.find(_.contains("bpe_apply"))
        .exists(_.trim.startsWith("*("))
      val applied = apF.count()
      // ∝-affected-words AT depth: every back-half round rewrites a
      // strict subset of the vocabulary, and depth rounds touch no more
      // words than round 1 did
      val backHalf = ledger.drop(ledger.size / 2)
      val lateSubset = backHalf.nonEmpty &&
        backHalf.forall { case (_, aff, total) => aff < total }
      val declining = ledger.nonEmpty && ledger.last._2 <= ledger.head._2
      val ok = trained.size >= 512 && pairs512.size == 512 &&
        recountParity && cg && applied > 0 && lateSubset && declining
      System.err.println(s"[scale] bpe 512-budget depth (morphology " +
        s"corpus): ${trained.size} merges trained over ${ledger.size} " +
        s"rounds, recount parity $recountParity, codegen@512=$cg, " +
        s"applied=$applied, delta " +
        s"${ledger.take(4).map(l => s"${l._2}/${l._3}").mkString(",")}..." +
        s"${ledger.takeRight(2).map(l => s"${l._2}/${l._3}").mkString(",")} ok=$ok")
      (trained.size, ledger.toSeq, cg, recountParity, ok)
    }

    // x2l prefix-filter candidate economics at 30× (r16, VERDICT r15
    // #6): COUNT the claim instead of asserting it — the probe side must
    // carry ~10% of each doc's windows (ceil bound ≈ 0.1·na + 1, gated
    // ≤ 0.25 of the window frame for short-doc slack), and the
    // inverted-index candidate pairs must be a vanishing fraction of the
    // brute all-pairs product the prefix filter exists to avoid. The
    // wall/spill entry lives in the tier table like every other query.
    val (x2lStats, x2lOk) = {
      val dir = fixture(tiers.head._1)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val dq = ext.DedupQueries
      // five actions over the shared chain — pin the two frames every
      // later count re-derives, or the window build runs ~5x and the
      // index join ~3x
      val (reps, windows, prefWindows, candPairs, verified) =
        Caching.pinned { pins =>
          val sets = pins.checkpoint(dq.containmentSets(docs))
          val cand = pins.checkpoint(dq.containmentCandidates(sets))
          // coalesce: sum over an EMPTY sets frame is NULL — a degenerate
          // fixture must fail the gate cleanly (ok=false), not crash the
          // whole ScaleBench run on getLong
          (pins.rows(sets),
            sets.agg(coalesce(sum(col("na")), lit(0L))).head().getLong(0),
            dq.containmentPrefix(sets).count(), pins.rows(cand),
            dq.containmentVerified(sets, cand).count())
        }
      val brute = reps * (reps - 1) / 2
      val ok = windows > 0 && prefWindows * 4 <= windows &&
        candPairs * 10 <= brute && verified <= candPairs && reps > 0
      val prefPct = if (windows > 0) s"${prefWindows * 100 / windows}%" else "n/a"
      System.err.println(s"[scale] x2l candidates at 30x: reps=$reps " +
        s"windows=$windows prefix=$prefWindows ($prefPct) " +
        s"cand=$candPairs of brute=$brute verified=$verified ok=$ok")
      ((reps, windows, prefWindows, candPairs, verified, brute), ok)
    }

    // Fixed-point PageRank at its REAL depth on the 30× graph (r17,
    // VERDICT r16 #5): the tier's qf13 row runs the unrolled-3
    // registration (oracle-parity); a deployment runs pageRankFixedPoint
    // to convergence. Run it here, record iterations + the terminal
    // delta, and gate the single-scan claim AT depth: filesystem bytes
    // read during the convergence run must stay within 1.5× of a depth-1
    // run — the PageRankSpec instrument promoted to the tier (ScaleBench
    // is a standalone sequential main, so the JVM-global FS statistic is
    // uncontended here; no streams are live between tier blocks).
    // Convergence on THIS graph is to the integer map's QUANTIZATION
    // FLOOR, not an exact fixed point: measured deltas contract 12317 →
    // 62 over 8 rounds and then oscillate at ~67 nano-units forever (a
    // div-truncation limit cycle — 0.067 ppm of the 1e9 rank mass, two
    // orders below any real rank movement), so the run stops on stall
    // detection and the gate accepts delta == 0 OR a floor ≤ 1 ppm of
    // total mass.
    val (prIters, prDelta, prShallowB, prDeepB, prFixOk) = {
      val dir = fixture(tiers.head._1)
      def fsBytes(body: => Unit): Long = {
        def now: Long = Option(org.apache.hadoop.fs.FileSystem
          .getGlobalStorageStatistics.get("file"))
          .map(_.getLong("bytesRead").longValue()).getOrElse(0L)
        val before = now; body; now - before
      }
      def flows() = ops.FlowQueries.flows(spark, dir)
      // warm listing/footer caches so the depth-1 baseline isn't inflated
      def depth1(): Unit =
        Caching.pinned { pins => ops.FlowQueries.pageRank(pins, flows(), iters = 1); () }
      depth1()
      val shallow = fsBytes(depth1())
      var iters = 0
      var delta = Long.MaxValue
      val deep = fsBytes {
        Caching.pinned { pins =>
          val (_, it, d) = ops.FlowQueries.pageRankFixedPoint(pins, flows(),
            maxIters = 40, stallRounds = 3)
          iters = it; delta = d
        }
      }
      val ok = shallow > 0 && iters > 1 && iters < 40 &&
        deep < shallow * 3 / 2 &&
        (delta == 0L || delta * 1000000L <= 1000000000L)
      System.err.println(s"[scale] qf13 fixed-point at 30x: stopped after " +
        s"$iters rounds at delta $delta nano (quantization floor), scan " +
        s"bytes depth-1 $shallow vs convergence $deep ok=$ok")
      (iters, delta, shallow, deep, ok)
    }

    // box calibration (VERDICT r10 #9: Bench carries it; BENCH_SCALE
    // ratios are within-run pairs — fine — but CROSS-round ratio drift was
    // unattributable without the same fixed-work yardstick here): the ONE
    // shared kernel, so both JSONs report the same unit.
    val spinSec = Bench.measureSpinSec()
    val fsyncSec = Bench.measureFsyncSec()

    val ok = rows.forall { case (_, scale, b, s, r, _, _) =>
      b > 0 && s > 0 && r <= maxRatio(scale)
    } && recallOk && incrEqual && annOk && x2hIndexFlatOk &&
      x5gOk && x2jCollapseOk && x2jSemOk && ingestInvOk && x3lFlatOk &&
      x3lAppendEqual && q12bAbOk && x3nOk && x4kStableOk && x4kDeltaOk &&
      q52yOk && x2eAbOk && hhCadOk && hhChurnOk && bpe512Ok && x2lOk &&
      prFixOk
    val json = {
      val qs = rows.map { case (n, scale, b, s, r, sm, sd) =>
        f""""$n":{"scale":$scale,"base_sec":$b%.3f,"scaled_sec":$s%.3f,""" +
          f""""ratio":$r%.3f,"max_ratio_allowed":${maxRatio(scale)}%.1f,""" +
          s""""spill_mem_bytes":$sm,"spill_disk_bytes":$sd}"""
      }.mkString("{", ",", "}")
      val worst = rows.map { case (_, scale, _, _, r, _, _) => r / maxRatio(scale) }.max
      s"""{"metric":"scale_stress","scales":[${tiers.map(_._1).mkString(",")}],""" +
        s""""base":"$base","gate":"ratio <= 2x data scale per query",""" +
        s""""driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",""" +
        f""""worst_ratio_fraction_of_allowed":$worst%.3f,"linear_ok":$ok,""" +
        f""""recall":{"x2e":$recall2e%.3f,"x7e":$recall7e%.3f,""" +
        f""""n_planted":${plantedPairs.size},"min_cos":0.995,""" +
        f""""floor":$recallFloor%.2f,"ok":$recallOk},""" +
        s""""x2e_verify_candidates_30x":$x2eCandidates,""" +
        s""""x2e_band_ab_30x":{"geom_8x8":{"candidates":${x2eAb._1},""" +
        s""""planted_recall":"${x2eAb._2}/${x2eAb._3}"},""" +
        s""""geom_8x12":{"candidates":${x2eAb._4},""" +
        s""""planted_recall":"${x2eAb._5}/${x2eAb._6}"},""" +
        f""""reduction":${x2eAb._7}%.2f,""" +
        s""""gate":"reduction >= 5 AND recall >= 0.8","ok":$x2eAbOk},""" +
        s""""ann_recall_at5_30x":{${annRecall.map { case (n, r, fl) =>
          f""""$n":{"recall":$r%.3f,"floor":${fl.map(f => f"$f%.2f").getOrElse("null")},""" +
            s""""ok":${fl.forall(r >= _)}}""" }.mkString(",")}},""" +
        f""""x2h_increment":{"full_recompute_sec":$incrFullSec%.3f,""" +
        f""""precomputed_index_sec":$incrSec%.3f,""" +
        f""""speedup":${incrFullSec / incrSec}%.2f,"equal":$incrEqual},""" +
        s""""x2h_index_scaling":{"fixed_batch":true,${x2hIndexSeries.map {
          case (k, t) => f""""x$k":$t%.3f""" }.mkString(",")},""" +
        f""""ratio_30x_over_1x":${x2hIndexSeries.last._2 / x2hIndexSeries.head._2}%.3f,""" +
        f""""flat_bound":$x2hIndexFlatBound%.1f,"ok":$x2hIndexFlatOk},""" +
        f""""x5g_planted_recall":{"recall":$x5gRecall%.3f,"n_planted":50,""" +
        f""""n_eligible":$x5gEligible,"min_eligible":25,"floor":$x5gFloor%.2f,""" +
        s""""ok":$x5gOk},""" +
        s""""x2j_collapse_30x":{"corpus":${x2jCollapse._1},""" +
        s""""distinct":${x2jCollapse._2},"exact_dup":${x2jCollapse._3},""" +
        s""""reps":${x2jCollapse._4},""" +
        s""""gate":"exact_dup == corpus - distinct AND reps == distinct",""" +
        s""""ok":$x2jCollapseOk},""" +
        f""""x2j_semantic_recall_30x":{"same_cluster":$x2jSameCluster%.3f,""" +
        f""""same_cluster_seed_ab":$x2jSeedSameCluster%.3f,""" +
        f""""boundary_floor":$x2jBoundaryFloor%.2f,""" +
        f""""pruned_given_same_cluster":$x2jPrunedGivenSame%.3f,""" +
        s""""pruned_required":1.0,"n_planted":50,"ok":$x2jSemOk},""" +
        s""""ingest_mix_invariants_30x":{"n_vectors":${ingestInv._1},""" +
        s""""n_code_rows":${ingestInv._2},"codes_per_vector":8,""" +
        s""""n_docs":${ingestInv._3},"quota_sum":${ingestInv._4},""" +
        s""""quota_misses":${ingestInv._5},"ok":$ingestInvOk},""" +
        s""""x3l_append_scaling":{"fixed_batch":true,${x3lSeries.map {
          case (k, t) => f""""x$k":$t%.3f""" }.mkString(",")},""" +
        f""""ratio_30x_over_1x":${x3lSeries.last._2 / x3lSeries.head._2}%.3f,""" +
        f""""flat_bound":$x3lFlatBound%.1f,""" +
        s""""append_equals_rebuild":$x3lAppendEqual,""" +
        s""""ok":${x3lFlatOk && x3lAppendEqual}},""" +
        s""""x3n_compaction_30x":{"files_before":$x3nFilesBefore,""" +
        s""""files_after":$x3nFilesAfter,"serve_parity":$x3nServeEqual,""" +
        s""""ok":$x3nOk},""" +
        s""""x4k_merge_stability_30x":{"n_merges":${x4kBaseMerges.size},""" +
        s""""rounds":8,"picks_per_round":8,"driver_collects_per_round":1,""" +
        s""""gated_arm":"replicated rows only (plants excluded)",""" +
        s""""with_plants_first_divergence_depth":$x4kPlantDiverge,""" +
        s""""merged":[${x4kScaledMerges.map(m => s""""${m._3}"""").mkString(",")}],""" +
        s""""base_equals_scaled":${x4kBaseMerges == x4kScaledMerges},""" +
        s""""ok":$x4kStableOk,""" +
        s""""delta_rounds_affected_total":[${x4kDeltaLedger
          .map(l => s"[${l._1},${l._2},${l._3}]").mkString(",")}],""" +
        s""""delta_gate":"some round touches a strict subset AND last """ +
        s"""round affected <= round 1 affected","delta_ok":$x4kDeltaOk},""" +
        s""""q52y_tiered_store_30x":{"batches":36,"maintain_every":2,""" +
        s""""fanout":4,"grace":"expiry one cycle late",""" +
        s""""l0_fold_bytes_per_cycle":[${q52yLedger.map(_.l0InputBytes).mkString(",")}],""" +
        s""""merge_fold_bytes_per_cycle":[${q52yLedger.map(_.mergeInputBytes).mkString(",")}],""" +
        s""""merges_fired":${q52yLedger.map(_.mergesFired).sum},""" +
        s""""l2_cascade_cycle_fold_bytes":$q52yL2Bytes,""" +
        s""""live_gens":$q52yGens,"frag_dirs":$q52yFrags,""" +
        s""""serve_parity":$q52yServeEqual,""" +
        s""""gate":"18 cycles AND max(l0)<=2*min(l0) AND merges==5 AND """ +
        s"""one live L2 gen [0,31] AND cascade cycle fold in [4,6]*mean(L1) """ +
        s"""AND live_gens==3 AND frag_dirs==2 AND serve_parity",""" +
        s""""ok":$q52yOk},""" +
        s""""q12b_bucket_rule_30x":{"rows":${q12bAb._1},""" +
        s""""rule_buckets":${q12bAb._2},""" +
        f""""rule_sec":${q12bAb._3}%.3f,"fixed8_sec":${q12bAb._4}%.3f,""" +
        s""""gate":"rule_sec <= 1.05 * fixed8_sec","ok":$q12bAbOk},""" +
        s""""hh_cadence_ledger_30x":{"batches":${hhCadLedger.size},""" +
        s""""recount_every":2,"firings":${hhCadLedger.count(_.fired)},""" +
        s""""entrants_per_batch":[${hhCadLedger.map(_.entrants).mkString(",")}],""" +
        s""""hist_batches_read_per_batch":[${hhCadLedger
          .map(_.histBatchesRead).mkString(",")}],""" +
        s""""window_batches_read_per_batch":[${hhCadLedger
          .map(_.windowBatchesRead).mkString(",")}],""" +
        s""""jobs_per_batch":[${hhCadLedger.map(_.jobs).mkString(",")}],""" +
        s""""jobs_per_batch_r16":"6-7 every batch (cum read + cum write + """ +
        s"""candidate semi-join per micro-batch; now firing-only)",""" +
        s""""firing_history_reads":${hhCadLedger.filter(_.fired)
          .map(_.histBatchesRead).sum},""" +
        s""""serve_parity":$hhCadParity,""" +
        s""""gate":"20 batches AND 10 firings AND entrants==0 AND """ +
        s"""hist_reads==0 from batch 8 AND window<=recountEvery at every """ +
        s"""firing AND jobs<=2 steady / <=4 at firings from batch 8 AND """ +
        s"""final artifact == exact recount",""" +
        s""""ok":$hhCadOk},""" +
        s""""hh_churn_tiered_30x":{"batches":${hhChurnLedger.size},""" +
        s""""recount_every":2,"firings":${hhChurnLedger.count(_.fired)},""" +
        s""""churn":"fresh hot phrase per batch on every 6th doc — """ +
        s"""entrants above the prune floor at EVERY firing — plus the """ +
        s"""standing theta-heavy phrase on every 30th doc so the exact """ +
        s"""recount is non-empty",""" +
        s""""entrants_per_firing":[${hhChurnLedger.filter(_.fired)
          .map(_.entrants).mkString(",")}],""" +
        s""""catchup_read_bytes_per_firing":[${hhChurnBytes.mkString(",")}],""" +
        s""""raw_history_bytes_in_scope_per_firing":[${hhChurnRaw.mkString(",")}],""" +
        s""""jobs_per_batch":[${hhChurnLedger.map(_.jobs).mkString(",")}],""" +
        s""""serve_parity":$hhChurnParity,""" +
        s""""gate":"24 batches AND 12 firings AND entrants>=1 AND """ +
        s"""raw-history reads==0 at every firing AND catchup-bytes """ +
        s"""growth (firing 4 -> last) <= 0.7x raw-history growth over """ +
        s"""the same span (store grows with vocabulary, raw with rows) """ +
        s"""AND raw-in-scope at last firing >= 50x tiered catchup bytes """ +
        s"""AND final artifact == exact recount over the churned """ +
        s"""corpus",""" +
        s""""ok":$hhChurnOk},""" +
        s""""x4k_512_budget_depth_30x":{"merges_trained":$bpe512N,""" +
        s""""budget":512,"rounds":48,"picks_per_round":16,"cand_limit":384,""" +
        s""""corpus":"morphology fixture: 18432 distinct words = 12 """ +
        s"""prefixes x 64 CVCV roots x 24 suffixes, Zipf counts ~2M """ +
        s"""instances (r17, VERDICT r16 #3 — the doc fixture exhausted """ +
        s"""at 90)","rounds_run":${bpe512Ledger.size},""" +
        s""""incremental_equals_recount_at_depth":$bpe512Parity,""" +
        s""""apply_codegen_at_512_entries":$bpe512CodegenOk,""" +
        s""""delta_rounds_affected_total":[${bpe512Ledger
          .map(l => s"[${l._1},${l._2},${l._3}]").mkString(",")}],""" +
        s""""gate":"trained >= 512 REAL merges AND incremental == """ +
        s"""recount merge-for-merge at depth AND bpe_apply codegen with """ +
        s"""the 512 trained merges as plan literal AND every back-half """ +
        s"""round touches a strict subset AND last round affected <= """ +
        s"""round 1 affected","ok":$bpe512Ok},""" +
        s""""x2l_candidates_30x":{"reps":${x2lStats._1},""" +
        s""""windows":${x2lStats._2},"prefix_windows":${x2lStats._3},""" +
        s""""cand_pairs":${x2lStats._4},"verified_pairs":${x2lStats._5},""" +
        s""""brute_pairs":${x2lStats._6},""" +
        s""""gate":"prefix <= windows/4 AND cand <= brute/10",""" +
        s""""ok":$x2lOk},""" +
        s""""qf13_fixed_point_30x":{"iterations":$prIters,""" +
        s""""final_delta_nano":$prDelta,""" +
        s""""scan_bytes_depth1":$prShallowB,""" +
        s""""scan_bytes_convergence":$prDeepB,""" +
        s""""gate":"stall-stops in (1, 40) AND terminal delta == 0 OR """ +
        s"""<= 1 ppm of rank mass (quantization floor) AND convergence """ +
        s"""scan bytes < 1.5x depth-1 (single-scan at real depth)",""" +
        s""""ok":$prFixOk},""" +
        f""""calibration":{"spin_sec":$spinSec%.3f,""" +
        f""""fsync_sec":$fsyncSec%.3f},""" +
        s""""x6g_partition_invariant":$invariant,"queries":$qs}"""
    }
    Files.write(Paths.get("BENCH_SCALE.json"),
      json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
    if (!ok || !invariant) sys.exit(1)
  }
}
