package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.{Q, Tables}

/** Train/eval hygiene operators for a large-scale training-data pipeline:
  * benchmark decontamination (the n-gram-overlap scrub every serious LLM
  * corpus runs against its eval sets), Gopher-style repetition metrics
  * (the top-n-gram-fraction signals used to drop machine-generated or
  * boilerplate text), and PII detection/redaction. All exact,
  * deterministic, and DuckDB-oracled.
  */
object DecontamQueries {

  /** [[PipelineQueries.splitBucket]], shared so x7's train/eval can never
    * desync from x6's split — train = buckets [0,80), eval = [90,100).
    */
  private def bucket = PipelineQueries.splitBucket

  /** The LAZY x7c train×eval fuzzy-contamination plan over a shingle
    * frame pinned in the caller's `pins` — exposed
    * package-private so PlanSpec can audit the un-checkpointed plan shape
    * (broadcast band join, no cartesian), same pattern as
    * [[DedupQueries.minhashPairsPlan]]. sigsOf passes bucket through (the
    * signature kernel is per-row ⇒ a pure select), so the broadcast band
    * join is the plan's first exchange after the pinned shingling.
    */
  private[graft] def fuzzyPairsPlan(pins: Caching.Pins,
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val sh = pins.checkpoint(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      // tokens aliased in their own projection so the shingle lambda
      // references an attribute, not an embedded re-evaluated split —
      // see the docShingles comment
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("bucket", bucket)
      .select(col("doc_id"), col("bucket"),
        DedupQueries.shingleSet(col("w")).as("sh")))
    val sigs = DedupQueries.sigsOf(sh)
    val trainB = DedupQueries.lshBuckets(sigs.filter(col("bucket") < 80))
    val evalB = DedupQueries.lshBuckets(sigs.filter(col("bucket") >= 90))
    val cand = trainB.as("t")
      .join(broadcast(evalB.as("e")), Seq("band", "key"))
      .groupBy(col("t.doc_id").as("a"), col("e.doc_id").as("b"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      .select("a", "b")
    DedupQueries.verifyPairs(cand, sh.select("doc_id", "sh"), 0.8)
      .select(col("a").as("train_doc"), col("b").as("eval_doc"), col("j"))
  }

  /** The x7e cross-split semantic-contamination plan
    * (train_vec, eval_vec, cos) — shared with x7f's unified report so the
    * two can never disagree on the banding or the verify threshold.
    */
  private[graft] def semanticPairsDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import SimilarityQueries.{quant, qcos, lshBandStructsKernel}
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      quant(col("embedding")).as("qe"),
      pmod(col("vec_id") * 2654435761L, lit(100L)).as("bucket"))
    val bands = e
      .select(col("vec_id"), col("bucket"),
        explode(lshBandStructsKernel(col("qe"))).as("bk"))
      .select(col("vec_id"), col("bucket"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val trainB = bands.filter(col("bucket") < 80)
      .select(col("vec_id").as("train_vec"), col("band"), col("key"))
    val evalB = bands.filter(col("bucket") >= 90)
      .select(col("vec_id").as("eval_vec"), col("band"), col("key"))
    val cand = trainB.join(broadcast(evalB), Seq("band", "key"))
      .select(col("train_vec"), col("eval_vec")).distinct()
    val et = e.select(col("vec_id").as("train_vec"), col("qe").as("tq"))
    val ev = e.select(col("vec_id").as("eval_vec"), col("qe").as("eq"))
    cand.join(et, Seq("train_vec")).join(broadcast(ev), Seq("eval_vec"))
      .select(col("train_vec"), col("eval_vec"),
        qcos(col("tq"), col("eq")).as("cos"))
      .filter(col("cos") >= 0.4)
  }

  /** DuckDB CTE block replaying the x7e semantic pipeline, reused by both
    * the x7e and x7f oracles (planes are literals via sqlBandKey).
    * Produces CTEs `e`, `bands7e`, `sempairs` (train_vec, eval_vec, cos).
    */
  private def semanticSqlCtes: String = {
    import SimilarityQueries.{sqlQuant, sqlQcos, sqlBandKey, LshNumBands}
    val bandSelects = (0 until LshNumBands)
      .map(b => s"SELECT vec_id, bucket, $b AS band, ${sqlBandKey("qe", b)} AS key FROM e")
      .mkString("\n            UNION ALL ")
    s"""e AS (SELECT vec_id, ${sqlQuant("embedding")} AS qe,
            (vec_id * 2654435761) % 100 AS bucket FROM embeddings),
          bands7e AS ($bandSelects),
          semcand AS (SELECT DISTINCT x.vec_id AS train_vec, y.vec_id AS eval_vec
            FROM bands7e x JOIN bands7e y ON x.band = y.band AND x.key = y.key
            WHERE x.bucket < 80 AND y.bucket >= 90),
          sempairs AS (SELECT train_vec, eval_vec, ${sqlQcos("t.qe", "v.qe")} AS cos
            FROM semcand JOIN e t ON t.vec_id = train_vec JOIN e v ON v.vec_id = eval_vec
            WHERE ${sqlQcos("t.qe", "v.qe")} >= 0.4)"""
  }

  def defs: Seq[Q] = Seq(
    // X7: benchmark decontamination — flag train docs sharing any 8-token
    // gram with the eval split (the GPT-3/Llama n-gram-collision scrub).
    // Per train doc: distinct 8-grams, how many also occur in eval, and
    // the contamination flag.
    //
    // Scale posture (100 TB): eval sets are benchmark-sized — their
    // distinct-gram table is tiny and BROADCAST, so the train side is one
    // shuffle-free map-side join after its per-doc distinct; nothing
    // quadratic, no corpus-wide gram join. In production the gram string
    // would be replaced by xxhash64(gram) to cut the shuffle/broadcast
    // width 10×; the string form is kept here so the DuckDB oracle can
    // reproduce every gram byte-for-byte.
    Q("x7_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("bucket", bucket)
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 8) // sequence(1, size-7) needs size >= 8
        // gram identity = window_md5 digest (one native pass per row; the
        // HOF transform re-tokenized the doc per gram — kernel scaladoc).
        // Only per-doc COUNTS leave this query, so digest keys match the
        // oracle's raw-string counts exactly (distinct strings ⇒ distinct
        // md5s on any real corpus), and the 32-hex key also narrows the
        // broadcast the way the production xxhash64 variant would. The
        // kernel dedups per doc, so (doc_id, gram) needs no distinct
        // shuffle on the train side.
        val grams = docs.select(col("doc_id"), col("bucket"),
          explode(graft.functions.Kernels.window_md5(col("w"), 8)).as("gram"))
        val train = grams.where(col("bucket") < 80)
          .select("doc_id", "gram")
        val evalGrams = grams.where(col("bucket") >= 90)
          .select("gram").distinct().withColumn("hit", lit(1))
        train.join(broadcast(evalGrams), Seq("gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_matched"))
          .withColumn("contaminated", (col("n_matched") > 0).cast("int"))
      },
      Some("""WITH w AS (SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket,
            string_split(text, ' ') AS words FROM documents),
        g AS (SELECT doc_id, bucket, array_to_string(words[i:i+7], ' ') AS gram
              FROM w, unnest(range(1, len(words) - 6)) AS t(i)),
        train AS (SELECT DISTINCT doc_id, gram FROM g WHERE bucket < 80),
        ev AS (SELECT DISTINCT gram FROM g WHERE bucket >= 90)
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
          CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) > 0 AS INTEGER) AS contaminated
        FROM train t LEFT JOIN ev e USING (gram) GROUP BY t.doc_id""".stripMargin)),

    // X7b: repetition metrics (Gopher §A.1.1 shape) — per doc, the total
    // and top-1 counts of words and 2-grams; `repetitive` fires when the
    // most frequent 2-gram exceeds 20% of all 2-grams. Counts (not
    // fractions) cross the oracle: integers are engine-exact.
    //
    // Scale posture: pure per-doc map + two partial-aggregated groupBys
    // keyed by (doc_id, term) then doc_id — no corpus-wide state, no skew
    // (a doc's terms are bounded by its length), broadcast-free.
    Q("x7b_repetition",
      (s, d) => {
        val docs = Tables.documents(s, d).withColumn("w", split(col("text"), " "))
        val wc = docs.select(col("doc_id"), explode(col("w")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val wAgg = wc.groupBy("doc_id")
          .agg(sum("c").as("n_words"), max("c").as("top_word_n"))
        // bigram identity = non-dedup window_md5 digests (multiplicity kept
        // for the frequency counts; only counts leave the query, so digest
        // keys group exactly like the raw bigram strings — and the kernel
        // avoids the HOF lambda's per-bigram re-tokenization)
        val bc = docs.where(size(col("w")) >= 2)
          .select(col("doc_id"),
            explode(graft.functions.Kernels.window_md5(col("w"), 2, dedup = false))
              .as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        val bAgg = bc.groupBy("doc_id")
          .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_n"))
        wAgg.join(bAgg, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_bigrams", "top_bigram_n"))
          .withColumn("repetitive",
            (col("top_bigram_n") * 5L > col("n_bigrams")).cast("int"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        tok AS (SELECT doc_id, unnest(words) AS tok FROM w),
        wc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
        wagg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                   CAST(MAX(c) AS BIGINT) AS top_word_n FROM wc GROUP BY doc_id),
        bgrams AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS bg
                   FROM w, unnest(range(1, len(words))) AS t(i)),
        bc AS (SELECT doc_id, bg, count(*) AS c FROM bgrams GROUP BY doc_id, bg),
        bagg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                   CAST(MAX(c) AS BIGINT) AS top_bigram_n FROM bc GROUP BY doc_id)
        SELECT wagg.doc_id, n_words, top_word_n,
          CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
          CAST(coalesce(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
          CAST(coalesce(top_bigram_n, 0) * 5 > coalesce(n_bigrams, 0) AS INTEGER) AS repetitive
        FROM wagg LEFT JOIN bagg USING (doc_id)""".stripMargin)),

    // X7c: FUZZY benchmark decontamination — x7 catches verbatim 8-gram
    // overlap; this catches NEAR-duplicate contamination (reworded or
    // lightly-edited eval material) with the same MinHash+LSH machinery as
    // x2, applied ACROSS the split: eval-side band buckets join against
    // train-side buckets, candidates colliding in ≥ 2 of 16 bands are
    // verified by exact shingle Jaccard at τ = 0.8. The oracle brute-forces
    // every train×eval pair in DuckDB, so LSH recall across the split is
    // end-to-end under test.
    //
    // Scale posture (100 TB): eval sets are benchmark-sized — their band
    // buckets BROADCAST, so the train side streams once through a map-side
    // join; nothing quadratic in the corpus. Signatures come from the
    // per-row minhash_sig kernel (no signature shuffle at all).
    Q("x7c_decontam_fuzzy",
      // tiny result; eager so the shingle pin is released on return
      (s, d) => Caching.pinned(pins => fuzzyPairsPlan(pins, s, d).localCheckpoint()),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') w, text FROM documents),
        sets AS (SELECT doc_id, CASE WHEN len(w) >= 3
          THEN list_distinct(list_transform(generate_series(1, len(w)-2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
          ELSE [text] END sh FROM t),
        sb AS (SELECT doc_id, sh, (doc_id * 2654435761) % 100 AS bucket FROM sets)
        SELECT x.doc_id AS train_doc, y.doc_id AS eval_doc,
          len(list_intersect(x.sh, y.sh))::DOUBLE /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS j
        FROM sb x JOIN sb y ON x.bucket < 80 AND y.bucket >= 90
        WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8""".stripMargin)),

    // X7d: bloom-prefiltered decontamination — same answer as x7, computed
    // the way a 100 TB run would: build a bloom filter over the eval
    // split's distinct 8-gram digests (Spark's own BloomFilterAggregate —
    // a real distributed aggregate with partial/merge, attached to the
    // probe as an uncorrelated scalar subquery, the identical shape
    // Spark's InjectRuntimeFilter emits), then probe it as a codegen
    // filter on the train side and exact-confirm only the survivors.
    //
    // Why this beats x7's shape at scale: x7 broadcasts the full distinct
    // eval-gram table (tens of bytes per gram); the bloom is ~1.2
    // bytes/gram at 1% FPP, and the confirm join's train input shrinks
    // from EVERY train gram to (true hits + ~1% FP) — so when the eval
    // set outgrows the broadcast threshold the join degrades to a shuffle
    // of almost nothing instead of a shuffle of the corpus. Bloom has no
    // false negatives and the confirm join removes false positives, so
    // the result is EXACT — the oracle is x7's own SQL. Per-doc totals
    // come from size(gs) before any explode (no row-amplified count).
    Q("x7d_decontam_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("bucket", bucket)
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 8)
          .select(col("doc_id"), col("bucket"),
            graft.functions.Kernels.window_md5(col("w"), 8).as("gs"))
        val evalGrams = docs.where(col("bucket") >= 90)
          .select(explode(col("gs")).as("gram")).distinct()
        // Sizing is DATA-DERIVED (VERDICT r07 #4): a sketch pre-pass over
        // the eval split — partial HLLs merge map-side, so the only thing
        // that ever reaches the driver is ONE Long. ~10 bits/item ≈ 1%
        // FPP; both knobs clamp to BloomFilterAggregate's conf maxima
        // (4M items / 64M bits) so an oversized eval split degrades FPP
        // gradually instead of failing analysis — and the confirm join
        // keeps the answer exact at any FPP.
        val estItems = math.min(4000000L, math.max(1L,
          docs.where(col("bucket") >= 90)
            .select(explode(col("gs")).as("gram"))
            .agg(approx_count_distinct(col("gram")))
            .head.getLong(0)))
        val numBits = math.min(67108864L, math.max(1L << 13, estItems * 10L))
        // The blob itself never touches query-building code: the aggregate
        // rides the probe as an uncorrelated scalar subquery (the
        // InjectRuntimeFilter shape), so no multi-MB plan literal exists
        // and a null blob (empty eval split) nulls the probe — dropping
        // every candidate row, which IS the empty-contamination answer.
        val bloomDf = evalGrams
          .agg(graft.functions.Bloom
            .bloomAgg(xxhash64(col("gram")), estItems, numBits).as("bf"))
        val train = docs.where(col("bucket") < 80)
        val totals = train.select(col("doc_id"),
          size(col("gs")).cast("long").as("n_grams"))
        val matched = train.select(col("doc_id"), explode(col("gs")).as("gram"))
          .where(graft.functions.Bloom.mightContainSubquery(bloomDf, xxhash64(col("gram"))))
          .join(evalGrams, Seq("gram")) // exact confirm: drops bloom FPs
          .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
        totals.join(matched, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_matched"))
          .withColumn("contaminated", (col("n_matched") > 0).cast("int"))
      },
      Some("""WITH w AS (SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket,
            string_split(text, ' ') AS words FROM documents),
        g AS (SELECT doc_id, bucket, array_to_string(words[i:i+7], ' ') AS gram
              FROM w, unnest(range(1, len(words) - 6)) AS t(i)),
        train AS (SELECT DISTINCT doc_id, gram FROM g WHERE bucket < 80),
        ev AS (SELECT DISTINCT gram FROM g WHERE bucket >= 90)
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
          CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) > 0 AS INTEGER) AS contaminated
        FROM train t LEFT JOIN ev e USING (gram) GROUP BY t.doc_id""".stripMargin)),

    // X8: PII detection + redaction — the regex scrub (emails, phone
    // numbers, IPv4 addresses) a training corpus runs before release.
    //
    // The fixture vocabulary carries no PII, so each engine deterministically
    // APPENDS the same synthetic contact tail to a doc-dependent subset
    // (doc_id ≡ 0 mod 3 → email, mod 4 → phone, mod 5 → IP; many docs get
    // none) and then both detect and scrub it — the match counts, the
    // has_pii flag, and the md5 of the redacted text must agree
    // byte-for-byte, so pattern semantics and replacement order are all
    // under oracle. Patterns stay in the Java-regex ∩ RE2 common subset
    // (classes, bounded repeats — no lookaround, no backrefs), which is
    // also what keeps them linear-time-scannable at corpus scale.
    //
    // Scale posture (100 TB): pure per-row map — no shuffle, no state, no
    // broadcast; regexes are precompiled per codegen'd operator, and the
    // whole select stays in one WholeStageCodegen span.
    Q("x8_pii_redact",
      (s, d) => piiRedactVerdict(Tables.documents(s, d)),
      Some(PiiRedactOracle)),

    // X7e: SEMANTIC cross-split decontamination — the third contamination
    // lens beside verbatim n-grams (x7) and fuzzy token overlap (x7c):
    // a train doc is flagged when its EMBEDDING is near an eval doc's
    // (paraphrased leakage that token methods miss). Same split hash as
    // x6/x7 (train <80, eval >=90, keyed by vec_id), same 64-plane
    // 8-band×8-bit LSH as x2e (shared [[SimilarityQueries.lshBandStructs]]
    // geometry) — but banded ACROSS the split: eval band buckets
    // broadcast (eval sets are benchmark-sized), the train side streams
    // once through a map-side band join, candidates verified by quantized
    // cosine >= 0.4. The oracle replays the ENTIRE pipeline (planes are
    // literals), so the emitted pair set is exact-matched; LSH recall vs
    // brute force is audited in LshAuditSpec, not here.
    Q("x7e_decontam_semantic",
      (s, d) => semanticPairsDf(s, d),
      Some(s"""WITH $semanticSqlCtes
          SELECT train_vec, eval_vec, cos FROM sempairs""".stripMargin)),

    // X7f (r10): the UNIFIED contamination report — every train doc with
    // its verdict under all three lenses at once: verbatim 8-gram overlap
    // (x7), fuzzy MinHash near-duplicate (x7c, LSH path — x7c's own gate
    // proves it equals the brute-force truth set), and semantic
    // embedding-LSH (x7e, via doc_id = vec_id, the repo's multimodal
    // alignment convention; docs without an embedding are semantic-clean
    // by definition). A real pipeline runs exactly this join of lenses to
    // decide what to drop; emitting the 8-way flag histogram keeps the
    // output closed-form while every flag combination stays observable.
    //
    // Scale posture: the three flag frames are doc-id sets (tiny relative
    // to the corpus — contamination is rare by construction), broadcast
    // onto the train scan; each lens inherits its standalone operator's
    // scale shape (broadcast eval grams, broadcast eval bands, shingle
    // cache released on return).
    Q("x7f_contamination_report",
      (s, d) => Caching.pinned { pins =>
        val docs = Tables.documents(s, d).withColumn("bucket", bucket)
        val withW = docs.withColumn("w", split(col("text"), " "))
        val grams = withW.where(size(col("w")) >= 8)
          .select(col("doc_id"), col("bucket"),
            explode(graft.functions.Kernels.window_md5(col("w"), 8)).as("gram"))
        val evalGrams = grams.where(col("bucket") >= 90)
          .select("gram").distinct()
        val verbatimDocs = grams.where(col("bucket") < 80)
          .join(broadcast(evalGrams), Seq("gram"))
          .select("doc_id").distinct()
        val fuzzyDocs = fuzzyPairsPlan(pins, s, d)
          .select(col("train_doc").as("doc_id")).distinct()
        val semDocs = semanticPairsDf(s, d)
          .select(col("train_vec").as("doc_id")).distinct()
        val out = docs.where(col("bucket") < 80).select("doc_id")
          .join(broadcast(verbatimDocs.withColumn("v", lit(1))), Seq("doc_id"), "left")
          .join(broadcast(fuzzyDocs.withColumn("f", lit(1))), Seq("doc_id"), "left")
          .join(broadcast(semDocs.withColumn("m", lit(1))), Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("v").isNotNull.as("verbatim"),
            col("f").isNotNull.as("fuzzy"),
            col("m").isNotNull.as("semantic"))
          .groupBy("verbatim", "fuzzy", "semantic")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        out.localCheckpoint()
      },
      Some(s"""WITH w0 AS (SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket,
            string_split(text, ' ') AS words FROM documents),
          g7 AS (SELECT doc_id, bucket, array_to_string(words[i:i+7], ' ') AS gram
            FROM w0, unnest(range(1, len(words) - 6)) AS t(i) WHERE len(words) >= 8),
          ev7 AS (SELECT DISTINCT gram FROM g7 WHERE bucket >= 90),
          verb AS (SELECT DISTINCT doc_id FROM g7
            WHERE bucket < 80 AND gram IN (SELECT gram FROM ev7)),
          t0 AS (SELECT doc_id, string_split(text,' ') w, text FROM documents),
          sets AS (SELECT doc_id, CASE WHEN len(w) >= 3
            THEN list_distinct(list_transform(generate_series(1, len(w)-2),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
            ELSE [text] END sh FROM t0),
          sb AS (SELECT doc_id, sh, (doc_id * 2654435761) % 100 AS bucket FROM sets),
          fz AS (SELECT DISTINCT x.doc_id FROM sb x JOIN sb y
            ON x.bucket < 80 AND y.bucket >= 90
            WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
              (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8),
          $semanticSqlCtes,
          sem AS (SELECT DISTINCT train_vec AS doc_id FROM sempairs)
        SELECT (v.doc_id IS NOT NULL) AS verbatim,
          (f.doc_id IS NOT NULL) AS fuzzy,
          (m.doc_id IS NOT NULL) AS semantic,
          count(*) AS n_docs, min(t.doc_id) AS min_doc
        FROM (SELECT doc_id FROM documents WHERE (doc_id * 2654435761) % 100 < 80) t
        LEFT JOIN verb v ON t.doc_id = v.doc_id
        LEFT JOIN fz f ON t.doc_id = f.doc_id
        LEFT JOIN sem m ON t.doc_id = m.doc_id
        GROUP BY 1, 2, 3""".stripMargin)),

    // X7g: gram-size sensitivity — the methodology knob behind x7: the
    // gram length IS the precision/recall dial of verbatim decontamination
    // (GPT-3 scrubbed at 13-grams, most modern pipelines at 8; short grams
    // over-flag boilerplate). One corpus-level row per candidate length
    // {5, 8, 13}: train docs checked, docs flagged, distinct eval grams —
    // the numbers a pipeline owner reads before choosing the production
    // length. Same plan per length as x7 (window_md5 kernel pass, tiny
    // eval-gram broadcast, map-side probe + partial agg), three lengths
    // unioned; integers only cross the oracle.
    Q("x7g_gram_sensitivity",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("bucket", bucket)
          .withColumn("w", split(col("text"), " "))
        Seq(5, 8, 13).map { n =>
          val g = docs.where(size(col("w")) >= n)
            .select(col("doc_id"), col("bucket"),
              explode(graft.functions.Kernels.window_md5(col("w"), n)).as("gram"))
          val evalG = g.where(col("bucket") >= 90).select("gram").distinct()
          val flags = g.where(col("bucket") < 80)
            .join(broadcast(evalG.withColumn("hit", lit(1))), Seq("gram"), "left")
            .groupBy("doc_id")
            .agg(max(col("hit").isNotNull).as("contaminated"))
          flags.agg(count(lit(1)).as("n_train_docs"),
              sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
            .crossJoin(evalG.agg(count(lit(1)).as("n_eval_grams")))
            .select(lit(n).as("gram_len"), col("n_train_docs"),
              col("n_contaminated"), col("n_eval_grams"))
        }.reduce(_ unionByName _)
      },
      Some(Seq(5, 8, 13).map { n =>
        s"""SELECT CAST($n AS INTEGER) AS gram_len,
          (SELECT count(DISTINCT doc_id) FROM g$n WHERE bucket < 80) AS n_train_docs,
          (SELECT count(DISTINCT doc_id) FROM g$n WHERE bucket < 80
             AND gram IN (SELECT gram FROM g$n WHERE bucket >= 90)) AS n_contaminated,
          (SELECT count(DISTINCT gram) FROM g$n WHERE bucket >= 90) AS n_eval_grams"""
      }.mkString(
        s"""WITH w AS (SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket,
            string_split(text, ' ') AS words FROM documents),
          ${Seq(5, 8, 13).map(n =>
            s"""g$n AS (SELECT doc_id, bucket,
              array_to_string(words[i:i+${n - 1}], ' ') AS gram
              FROM w, unnest(range(1, len(words) - ${n - 2})) AS t(i)
              WHERE len(words) >= $n)""").mkString(",\n          ")}
        """, "\n        UNION ALL ", "")))
  )

  /** x8's shared body — PII synth + detect + redact over any frame with
    * `(doc_id, text)`, batch or streaming (pure per-row map: no shuffle,
    * no state operator, one WholeStageCodegen span; the streaming face
    * q52w runs it verbatim in append mode). The fixture vocabulary
    * carries no PII, so a synthetic contact tail is appended to a
    * doc-dependent subset first (doc_id ≡ 0 mod 3 → email, mod 4 →
    * phone, mod 5 → IP); replacement order email → phone → IP is part
    * of the contract (replacement changes the text later patterns scan)
    * and the oracle replays it byte-for-byte.
    */
  private[graft] def piiRedactVerdict(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val did = col("doc_id")
    def str(c: org.apache.spark.sql.Column) = c.cast(StringType)
    val raw = concat(
      col("text"),
      when(pmod(did, lit(3L)) === 0,
        concat(lit(" contact user"), str(did), lit("@example.com now")))
        .otherwise(lit("")),
      when(pmod(did, lit(4L)) === 0,
        concat(lit(" call +1-555-"),
          lpad(str(pmod(did * 7919L, lit(10000L))), 4, "0")))
        .otherwise(lit("")),
      when(pmod(did, lit(5L)) === 0,
        concat(lit(" from 10."), str(pmod(did, lit(200L))), lit("."),
          str(pmod(did * 31L, lit(256L))), lit("."),
          str(pmod(did * 17L, lit(256L)))))
        .otherwise(lit(""))).as("raw")
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    def redact(c: org.apache.spark.sql.Column) =
      regexp_replace(
        regexp_replace(
          regexp_replace(c, emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipRe, "<IP>")
    docs.select(did, raw)
      .select(
        did,
        size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("raw"), lit(ipRe), lit(0))).as("n_ips"),
        (size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))) +
          size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0))) +
          size(regexp_extract_all(col("raw"), lit(ipRe), lit(0))) > 0).as("has_pii"),
        md5(redact(col("raw"))).as("redacted_md5"),
        length(redact(col("raw"))).as("n_chars_redacted"))
  }

  /** The x8 replay, shared verbatim by q52w's streaming registration
    * (redaction is a property of the document alone, so the batch SQL is
    * exact under any micro-batch split).
    */
  private[graft] val PiiRedactOracle: String =
    """WITH raw AS (SELECT doc_id,
          text ||
          CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
          CASE WHEN doc_id % 4 = 0 THEN ' call +1-555-' || lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST((doc_id * 31) % 256 AS VARCHAR) || '.' || CAST((doc_id * 17) % 256 AS VARCHAR) ELSE '' END AS r
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
          CAST(len(regexp_extract_all(r, '\+1-555-[0-9]{4}')) AS INTEGER) AS n_phones,
          CAST(len(regexp_extract_all(r, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INTEGER) AS n_ips,
          len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
            len(regexp_extract_all(r, '\+1-555-[0-9]{4}')) +
            len(regexp_extract_all(r, '([0-9]{1,3}\.){3}[0-9]{1,3}')) > 0 AS has_pii,
          md5(regexp_replace(regexp_replace(regexp_replace(r,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
            '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5,
          CAST(length(regexp_replace(regexp_replace(regexp_replace(r,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
            '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS INTEGER) AS n_chars_redacted
        FROM raw""".stripMargin
}
