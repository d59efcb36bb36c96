package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** SURVEY §2.3 X4: text analysis over `documents` — language ID, quality
  * scoring, token counting, document fingerprinting, tf-idf term stats.
  *
  * The fixture corpus shares one ~31-token vocabulary across all `lang`
  * labels (FIXTURES.md), so language ID cannot key on charset/stopwords;
  * the operator is therefore the real statistical shape: learn per-language
  * token-frequency profiles from the corpus and classify each document
  * against them — all in exact integer arithmetic so the oracle matches
  * bit-for-bit.
  *
  * Scale posture: everything is explode → groupBy with map-side combine;
  * profiles are tiny (langs × vocab) and broadcast; no driver collect.
  */
object TextQueries {

  private def tokens: Column = split(col("text"), " ")

  /** The x4j per-doc rule chain — ONE definition shared by the batch
    * funnel (x4j aggregates it) and the streaming filter-at-ingest (q52h
    * drains it per micro-batch), so the two registrations cannot drift.
    * Pure per-row map arithmetic: no shuffle, no state — which is exactly
    * why the same frame streams unchanged in append mode.
    */
  private[graft] def filterFunnelVerdict(docs: DataFrame): DataFrame =
    withFunnelVerdict(docs)
      .select(col("doc_id"), col("lang"), col("n").as("n_tok"), col("drop_rule"))

  /** The same rule chain, ADDING `drop_rule` (and the intermediate stats)
    * while KEEPING the input columns — q52x's composed ingest pipeline
    * needs the verdict attached without losing `text` (the dedup and
    * decontam stages downstream consume it). One definition, two
    * projections: this and [[filterFunnelVerdict]] cannot drift.
    *
    * r13: the rule chain moved into the one-pass `funnel_stats` codegen
    * kernel ([[graft.functions.FunnelStats]]). The previous expression
    * formulation (split → bigram transform → array_distinct → CASE) was
    * correct but FILTER-hostile: q52x/q52h filter on `drop_rule`, Catalyst
    * pushes the predicate below these projections by inlining every
    * alias, and the inlined CASE expands to ~15 `split(text)` + 3
    * `array_distinct` evaluations per row (measured 0.4 s → 6.3 s on the
    * sf0.1 corpus, single scan task). The kernel inlines as ONE pass.
    * Arithmetic is byte-for-byte identical; the DuckDB oracle CTE below
    * is untouched and keeps proving it.
    */
  private[graft] def withFunnelVerdict(docs: DataFrame): DataFrame =
    docs
      .withColumn("fs",
        graft.functions.Kernels.funnel_stats(col("text"), col("n_chars")))
      .withColumn("n", col("fs.n_tok"))
      .withColumn("db_ppm", col("fs.db_ppm"))
      .withColumn("ttr_ppm", col("fs.ttr_ppm"))
      .withColumn("drop_rule", col("fs.drop_rule"))
      .drop("fs")

  /** The per-doc verdict oracle (q52h; x4j's oracle aggregates the same
    * CTE text).
    */
  private[graft] val FilterFunnelVerdictCte: String =
    """WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w
          FROM documents),
        m AS (SELECT doc_id, lang, n_chars, CAST(len(w) AS BIGINT) AS n,
          CASE WHEN len(w) >= 2 THEN
            CASE WHEN len(list_transform(generate_series(1, len(w)-1),
                i -> w[i] || ' ' || w[i+1])) > 0 THEN
              ((len(w)-1 - len(list_distinct(list_transform(generate_series(1, len(w)-1),
                i -> w[i] || ' ' || w[i+1])))) * 1000000) // (len(w)-1)
            ELSE 0 END
          ELSE 0 END AS db_ppm,
          (len(list_distinct(w)) * 1000000) // len(w) AS ttr_ppm
          FROM t),
        v AS (SELECT doc_id, lang, n AS n_tok,
          CASE WHEN n < 20 THEN 'too_short'
               WHEN n_chars * 100 // n >= 600 THEN 'long_words'
               WHEN db_ppm >= 200000 THEN 'repetitive'
               WHEN ttr_ppm < 300000 THEN 'low_diversity'
               ELSE 'kept' END AS drop_rule
          FROM m)"""

  /** The frozen reference-LM asset behind x4t and its streaming face
    * q52s: bigram counts, context counts, the backoff unigram marginal,
    * and the 1-row (total tokens, vocab) certificate — all trained from
    * the TRUSTED source split only. Every frame is a DataFrame because
    * at corpus scale the LM is a distributed table (a production vocab
    * is 10⁷+ grams), never a broadcast map.
    */
  private[graft] case class RefLm(cb: DataFrame, cu: DataFrame,
      uni: DataFrame, tot: DataFrame) {
    def frames: Seq[DataFrame] = Seq(cb, cu, uni, tot)
  }

  private[graft] val RefLmSources = Seq("src0", "src1", "src2")

  /** Per-doc bigram explode of a (doc_id, [source,] text) frame. */
  private def bigrams(docs: DataFrame): DataFrame = {
    val w = tokens
    val n = size(w)
    val carried = docs.columns.filter(_ != "text").map(col).toSeq
    docs.select(carried :+
      explode(zip_with(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("z"): _*)
      .select(carried :+ col("z.w1").as("w1") :+ col("z.w2").as("w2"): _*)
  }

  /** Lazy LM tables — the right shape for a ONE-SHOT consumer (x4t):
    * the score plan embeds the reference explodes redundantly, but they
    * run CONCURRENTLY inside the single score job on otherwise-idle
    * cores, and the pinned [[pinnedRefLm]] form measured 0.7 s SLOWER
    * there (2.2→3.0 s — six serialized checkpoint jobs in front of one
    * consumption). Streams that re-consume the tables per micro-batch
    * use [[pinnedRefLm]].
    */
  private[graft] def trainRefLm(docs0: DataFrame): RefLm = {
    val docs = graft.Tables.fanOut(docs0, col("doc_id")) // guide §2.5
    val ref = bigrams(docs.select(col("doc_id"), col("source"), col("text")))
      .filter(col("source").isin(RefLmSources: _*))
    val cb = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cu = ref.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val refTok = docs.filter(col("source").isin(RefLmSources: _*))
      .select(explode(tokens).as("t"))
    val uni = refTok.groupBy(col("t")).agg(count(lit(1)).as("u"))
      .withColumnRenamed("t", "w2")
    val tot = refTok.agg(count(lit(1)).as("tt"), countDistinct(col("t")).as("v"))
    RefLm(cb, cu, uni, tot)
  }

  /** Train the stupid-backoff bigram LM from `docs`' reference split
    * into LM tables pinned in `pins`.
    *
    * Lifecycle: cb/cu both fold the reference BIGRAM explode and
    * uni/tot both fold the reference TOKEN explode — handed out lazily,
    * every downstream consumer re-runs the corpus-wide explode per LM
    * table (profiled in q52s: four 8–14 s-task-time stages, two bigram +
    * two token re-explosions). The two explodes are therefore
    * checkpointed ONCE, in a scope of their own that closes as soon as
    * the four LM tables have folded off them eagerly.
    */
  private[graft] def pinnedRefLm(pins: Caching.Pins, docs0: DataFrame): RefLm = {
    val docs = graft.Tables.fanOut(docs0, col("doc_id")) // guide §2.5
    Caching.pinned { ep =>
      val ref = ep.checkpoint(
        bigrams(docs.select(col("doc_id"), col("source"), col("text")))
          .filter(col("source").isin(RefLmSources: _*)))
      val refTok = ep.checkpoint(docs.filter(col("source").isin(RefLmSources: _*))
        .select(explode(tokens).as("t")))
      RefLm(
        pins.checkpoint(ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))),
        pins.checkpoint(ref.groupBy(col("w1")).agg(count(lit(1)).as("cu"))),
        pins.checkpoint(refTok.groupBy(col("t")).agg(count(lit(1)).as("u"))
          .withColumnRenamed("t", "w2")),
        pins.checkpoint(refTok.agg(count(lit(1)).as("tt"),
          countDistinct(col("t")).as("v"))))
    }
  }

  /** Score every multi-token document in `docs` against the frozen LM:
    * P(w2|w1) = add-0.5-smoothed bigram when the reference saw it, else
    * stupid backoff 0.4·P_uni(w2) — total by construction, so every doc
    * gets a finite bits-per-bigram and the keep verdict at 5.2 bits.
    */
  private[graft] def lmScore(docs0: DataFrame, lm: RefLm): DataFrame = {
    val docs = graft.Tables.fanOut(docs0, col("doc_id")) // guide §2.5
    val docbg = bigrams(docs.select(col("doc_id"), col("text")))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))
    val vD = col("v").cast(DoubleType)
    val logp = when(col("cb").isNotNull,
      log2((col("cb").cast(DoubleType) + lit(0.5)) /
        (col("cu").cast(DoubleType) + lit(0.5) * vD)))
      .otherwise(log2(lit(0.4) *
        (coalesce(col("u"), lit(0L)).cast(DoubleType) + lit(0.5)) /
        (col("tt").cast(DoubleType) + lit(0.5) * vD)))
    docbg
      .join(lm.cb, Seq("w1", "w2"), "left")
      .join(lm.cu, Seq("w1"), "left")
      .join(lm.uni, Seq("w2"), "left")
      .crossJoin(broadcast(lm.tot))
      .select(col("doc_id"), col("occ"), logp.as("logp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_bigrams"),
        ((sum(col("occ").cast(DoubleType) * col("logp")) * lit(-1.0)) /
          sum(col("occ")).cast(DoubleType)).as("bits"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("bits") * 10000).cast(LongType).as("bits_e4"),
        (round(col("bits") * 10000).cast(LongType) <= lit(52000L)).as("keep"))
  }

  /** x4t's oracle — shared verbatim by q52s (the streamed corpus IS the
    * standing corpus, so stream-score ≡ batch-score under the hash gate).
    */
  private[graft] val LmFilterOracle: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT doc_id, source, z[1] AS w1, z[2] AS w2
               FROM (SELECT doc_id, source, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS z FROM d)),
        ref AS (SELECT * FROM bg WHERE source IN ('src0', 'src1', 'src2')),
        cb AS (SELECT w1, w2, count(*) AS cb FROM ref GROUP BY 1, 2),
        cu AS (SELECT w1, count(*) AS cu FROM ref GROUP BY 1),
        rt AS (SELECT unnest(w) AS t FROM d WHERE source IN ('src0', 'src1', 'src2')),
        uni AS (SELECT t AS w2, count(*) AS u FROM rt GROUP BY 1),
        tot AS (SELECT count(*) AS tt, count(DISTINCT t) AS v FROM rt),
        docbg AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bg GROUP BY 1, 2, 3),
        sc AS (SELECT doc_id, SUM(occ) AS nb,
                 SUM(CAST(occ AS DOUBLE) * CASE WHEN cb.cb IS NOT NULL
                   THEN log2((CAST(cb.cb AS DOUBLE) + 0.5) / (CAST(cu.cu AS DOUBLE) + 0.5 * CAST(tot.v AS DOUBLE)))
                   ELSE log2(0.4 * (CAST(coalesce(uni.u, 0) AS DOUBLE) + 0.5) / (CAST(tot.tt AS DOUBLE) + 0.5 * CAST(tot.v AS DOUBLE))) END) AS slogp
               FROM docbg LEFT JOIN cb USING (w1, w2) LEFT JOIN cu USING (w1) LEFT JOIN uni USING (w2) CROSS JOIN tot
               GROUP BY doc_id)
        SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
          CAST(round((-slogp) / CAST(nb AS DOUBLE) * 10000) AS BIGINT) AS bits_e4,
          CAST(round((-slogp) / CAST(nb AS DOUBLE) * 10000) AS BIGINT) <= 52000 AS keep
        FROM sc"""

  def defs: Seq[Q] = Seq(
    // X4: corpus-profile language ID. score(doc, lang) = Σ_tok count_corpus
    // (lang, tok) over the doc's token multiset (integer naive-Bayes-ish
    // evidence); predict argmax with lang-asc tiebreak; emit per-lang
    // confusion counts.
    Q("x4_langid",
      (s, d) => {
        val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id")) // §2.5
        val docTok = docs.select(col("doc_id"), col("lang"), explode(tokens).as("tok"))
        val profile = docTok.groupBy(col("lang").as("p_lang"), col("tok").as("p_tok"))
          .agg(count(lit(1)).as("w"))
        val scored = docTok.join(broadcast(profile), col("tok") === col("p_tok"))
          .groupBy(col("doc_id"), col("lang"), col("p_lang"))
          .agg(sum(col("w")).as("score"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("p_lang"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy(col("lang"), col("p_lang").as("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some("""WITH dt AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        profile AS (SELECT lang AS p_lang, tok AS p_tok, count(*) AS w FROM dt GROUP BY 1, 2),
        scored AS (SELECT dt.doc_id, dt.lang, p.p_lang, CAST(SUM(p.w) AS BIGINT) AS score
          FROM dt JOIN profile p ON dt.tok = p.p_tok GROUP BY 1, 2, 3),
        pred AS (SELECT doc_id, lang, p_lang FROM
          (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rn FROM scored)
          WHERE rn = 1)
        SELECT lang, p_lang AS pred_lang, count(*) AS n_docs FROM pred GROUP BY 1, 2""".stripMargin)),

    // X4b: quality scoring — length stats, type-token ratio, stopword
    // ratio, all exact (counts and ratios of integers).
    Q("x4b_quality",
      (s, d) => {
        val t = tokens
        Tables.documents(s, d).select(
          col("doc_id"),
          col("n_chars"),
          size(t).as("n_tokens"),
          size(array_distinct(t)).as("n_types"),
          (size(array_distinct(t)).cast(DoubleType) / size(t).cast(DoubleType))
            .as("type_token_ratio"),
          (length(col("text")).cast(DoubleType) / size(t).cast(DoubleType))
            .as("avg_tok_span"),
          (size(filter(t, x => x.isin("a", "the"))).cast(DoubleType) /
            size(t).cast(DoubleType)).as("stopword_ratio"),
          (size(t) >= 20 && size(array_distinct(t)) >= 10).as("passes_quality"))
      },
      Some("""SELECT doc_id, n_chars,
        CAST(len(w) AS INTEGER) AS n_tokens,
        CAST(len(list_distinct(w)) AS INTEGER) AS n_types,
        CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS type_token_ratio,
        CAST(length(text) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS avg_tok_span,
        CAST(len(list_filter(w, x -> x IN ('a', 'the'))) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS stopword_ratio,
        len(w) >= 20 AND len(list_distinct(w)) >= 10 AS passes_quality
        FROM (SELECT *, string_split(text, ' ') AS w FROM documents)""".stripMargin)),

    // X4c: token counting — whitespace tokens plus a BPE-ish regex
    // segmentation (letter runs / digit runs / single other), the standard
    // pre-tokenizer shape; same regex in both engines.
    Q("x4c_token_count",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
          .as("bpe_ish_tokens"),
        length(col("text")).as("n_chars_m"),
        (length(col("text")).cast(DoubleType) /
          size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
            .cast(DoubleType)).as("chars_per_token")),
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS bpe_ish_tokens,
        CAST(length(text) AS INTEGER) AS n_chars_m,
        CAST(length(text) AS DOUBLE) / CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS DOUBLE) AS chars_per_token
        FROM documents""".stripMargin)),

    // X4d: document fingerprinting — full-text digest plus a winnowing-style
    // shingle fingerprint (lexicographic-min md5 over 3-token shingles; the
    // min-over-window rolling-hash idiom with a content-defined
    // representative); identical digests in both engines.
    Q("x4d_fingerprint",
      (s, d) => {
        val w = tokens
        // 3-token shingle digests via the native window_md5 kernel (the
        // HOF transform re-tokenized the doc per shingle — kernel scaladoc);
        // min/max are insensitive to its distinct-ness. Short docs keep the
        // whole-text fallback digest.
        val sh = when(size(w) >= 3,
          graft.functions.Kernels.window_md5(w, 3))
          .otherwise(array(md5(col("text"))))
        // explode + agg rather than array_min/array_max over `sh`:
        // CollapseProject would inline the shingle expression once per
        // consumer, recomputing every md5 twice. Repartition fans the
        // single-file fixture scan out to all cores for the md5 kernel.
        Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), md5(col("text")).as("doc_md5"), explode(sh).as("fp"))
          .groupBy("doc_id", "doc_md5")
          .agg(min(col("fp")).as("min_shingle_fp"), max(col("fp")).as("max_shingle_fp"))
      },
      Some("""SELECT doc_id, md5(text) AS doc_md5,
        list_min(sh) AS min_shingle_fp, list_max(sh) AS max_shingle_fp FROM
        (SELECT doc_id, text,
          CASE WHEN len(w) >= 3
            THEN list_transform(generate_series(1, len(w)-2), i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
            ELSE [md5(text)] END AS sh
         FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))""".stripMargin)),

    // X4e: tf-idf term statistics per language — rational idf (N/df as an
    // exact integer-derived double) so scoring is engine-exact; top-3 terms
    // per lang by (tf·N/df, term) with deterministic tiebreak.
    Q("x4e_tfidf",
      (s, d) => {
        val docTok = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), explode(tokens).as("tok"))
        // ONE shuffle builds the (lang, doc, tok) count cube; tf and df are
        // tiny re-aggregations of it. The direct formulation evaluated the
        // explode three times (tf, df-distinct, and the distinct's own
        // shuffle) — at corpus scale that is three passes over every token.
        // A doc has exactly one lang, so cube rows ARE the distinct
        // (doc, tok) pairs and df = row count per tok.
        Caching.pinned { pins =>
          val cube = pins.checkpoint(docTok
            .groupBy(col("lang"), col("doc_id"), col("tok"))
            .agg(count(lit(1)).as("c")))
          val nDf = Tables.documents(s, d).agg(count(lit(1)).as("n"))
          val df = cube.groupBy(col("tok").as("d_tok")).agg(count(lit(1)).as("df"))
          val tf = cube.groupBy(col("lang"), col("tok")).agg(sum(col("c")).as("tf"))
          val scored = tf.join(broadcast(df), col("tok") === col("d_tok"))
            .crossJoin(broadcast(nDf))
            .select(col("lang"), col("tok"), col("tf"), col("df"),
              (col("tf").cast(DoubleType) * col("n").cast(DoubleType) / col("df").cast(DoubleType))
                .as("tfidf_rat"))
          val w = Window.partitionBy(col("lang")).orderBy(col("tfidf_rat").desc, col("tok"))
          scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
            .select(col("lang"), col("rn"), col("tok"), col("tf"), col("df"), col("tfidf_rat"))
            .localCheckpoint() // 3 rows per lang; eager so the pin can go
        }
      },
      Some("""WITH dt AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        n AS (SELECT count(*) AS n FROM documents),
        df AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM dt) GROUP BY tok),
        tf AS (SELECT lang, tok, count(*) AS tf FROM dt GROUP BY 1, 2),
        scored AS (SELECT lang, tf.tok, tf, df,
          CAST(tf AS DOUBLE) * CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf_rat
          FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        SELECT lang, CAST(rn AS INTEGER) AS rn, tok, tf, df, tfidf_rat FROM
          (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY tfidf_rat DESC, tok) AS rn FROM scored)
        WHERE rn <= 3""".stripMargin)),

    // X4f: BM25 retrieval — score every document against a fixed query-term
    // set and return the top-10. Uses the RATIONAL idf (N-df+0.5)/(df+0.5)
    // (the log-free Robertson-Sparck-Jones core) so, like x4e, every scalar
    // is a fixed-order IEEE-double expression both engines evaluate
    // identically — no transcendental whose last ulp could differ.
    //
    // Scale posture: term frequencies come from `filter()` over the token
    // array (pure per-row map, no explode/shuffle); corpus stats (N, avgdl,
    // per-term df) are ONE tiny global aggregate broadcast back via
    // crossJoin; top-10 is TakeOrderedAndProject (per-partition heaps, no
    // global sort). The whole query is one scan + one 1-row exchange.
    Q("x4f_bm25", bm25Fn, Some(bm25Sql)),

    // X4g: vocabulary-diversity scoring — per-doc token count, distinct
    // token count, type-token ratio, and Shannon entropy of the token
    // distribution, via the one-pass token_stats kernel. The oracle
    // computes the same statistics the row-amplified way (unnest → two
    // GROUP BYs): at corpus scale that shape shuffles one row per token
    // TWICE; the kernel is a pure map — zero shuffle, whole-stage codegen
    // (plan pinned in PlanSpec, kernel ≡ explode parity in KernelSpec).
    //
    // Float parity: ttr is a single IEEE division of two exact integers
    // (engine-identical); entropy sums c·log2(c) in engine-specific order,
    // so it ships as round(H·10⁴) BIGINT per the Registry float rules.
    Q("x4g_entropy",
      (s, d) => Tables.fanOut(Tables.documents(s, d), col("doc_id")) // §2.5
        .select(col("doc_id"), col("lang"),
          graft.functions.Kernels.token_stats(col("text")).as("st"))
        .select(col("doc_id"), col("lang"),
          col("st.n_tok").as("n_tok"),
          col("st.n_distinct").as("n_distinct"),
          (col("st.n_distinct").cast(DoubleType) /
            col("st.n_tok").cast(DoubleType)).as("ttr"),
          round(col("st.entropy") * 10000).cast(LongType).as("entropy_e4")),
      Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
              FROM documents),
        cnt AS (SELECT doc_id, lang, t, CAST(count(*) AS DOUBLE) AS c
                FROM tok GROUP BY 1, 2, 3),
        agg AS (SELECT doc_id, lang, SUM(c) AS n, COUNT(*) AS nd,
                  SUM(c * log2(c)) AS s
                FROM cnt GROUP BY 1, 2)
        SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tok,
          CAST(nd AS BIGINT) AS n_distinct,
          CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) AS ttr,
          CAST(round((log2(n) - s / n) * 10000) AS BIGINT) AS entropy_e4
        FROM agg""".stripMargin)),

    // X4i (r11): intra-document REPETITION metrics — the Gopher/FineWeb
    // quality rule the x4b surface lacked: heavily repetitive documents
    // (boilerplate, scraped menus, generation loops) are flagged by the
    // duplicate fraction of their own words / bigrams / trigrams. All
    // per-row map-side arithmetic, and every fraction is PURE INTEGER
    // ppm ((n - distinct) * 1e6 DIV n — Spark's DIV and DuckDB's // agree
    // on the non-negative domain), so the oracle is bit-exact with no
    // float summation-order hazard. The flag threshold (bigram dup
    // fraction ≥ 20%) is the published Gopher-style cut; per-lang
    // aggregation keeps the output stable and the verdict hashable.
    Q("x4i_repetition",
      (s, d) => {
        val base = Tables.fanOut(Tables.documents(s, d), col("doc_id")) // §2.5
          .select(col("lang"), split(col("text"), " ").as("w"))
          .withColumn("bg", expr("CASE WHEN size(w) >= 2 THEN " +
            "transform(sequence(1, size(w)-1), i -> concat(element_at(w, i), ' ', element_at(w, i+1))) " +
            "ELSE array() END"))
          .withColumn("tg", expr("CASE WHEN size(w) >= 3 THEN " +
            "transform(sequence(1, size(w)-2), i -> concat(element_at(w, i), ' ', element_at(w, i+1), ' ', element_at(w, i+2))) " +
            "ELSE array() END"))
          .withColumn("dw_ppm", expr(
            "(CAST(size(w) - size(array_distinct(w)) AS BIGINT) * 1000000) DIV size(w)"))
          .withColumn("db_ppm", expr("CASE WHEN size(bg) > 0 THEN " +
            "(CAST(size(bg) - size(array_distinct(bg)) AS BIGINT) * 1000000) DIV size(bg) " +
            "ELSE CAST(0 AS BIGINT) END"))
          .withColumn("dt_ppm", expr("CASE WHEN size(tg) > 0 THEN " +
            "(CAST(size(tg) - size(array_distinct(tg)) AS BIGINT) * 1000000) DIV size(tg) " +
            "ELSE CAST(0 AS BIGINT) END"))
        base.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("db_ppm") >= 200000L, 1L).otherwise(0L)).as("n_repetitive"),
            sum(col("dw_ppm")).as("sum_dw_ppm"),
            sum(col("db_ppm")).as("sum_db_ppm"),
            sum(col("dt_ppm")).as("sum_dt_ppm"),
            max(col("db_ppm")).as("max_db_ppm"))
      },
      Some("""WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
        m AS (SELECT lang,
          CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w)-1),
            i -> w[i] || ' ' || w[i+1]) ELSE [] END AS bg,
          CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w)-2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS tg,
          ((len(w) - len(list_distinct(w))) * 1000000) // len(w) AS dw_ppm
          FROM t),
        m2 AS (SELECT lang, dw_ppm,
          CASE WHEN len(bg) > 0 THEN ((len(bg) - len(list_distinct(bg))) * 1000000) // len(bg) ELSE 0 END AS db_ppm,
          CASE WHEN len(tg) > 0 THEN ((len(tg) - len(list_distinct(tg))) * 1000000) // len(tg) ELSE 0 END AS dt_ppm
          FROM m)
        SELECT lang, count(*) AS n_docs,
          CAST(SUM(CASE WHEN db_ppm >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
          CAST(SUM(dw_ppm) AS BIGINT) AS sum_dw_ppm,
          CAST(SUM(db_ppm) AS BIGINT) AS sum_db_ppm,
          CAST(SUM(dt_ppm) AS BIGINT) AS sum_dt_ppm,
          CAST(MAX(db_ppm) AS BIGINT) AS max_db_ppm
        FROM m2 GROUP BY lang""".stripMargin)),

    // X4j (r12): FILTER FUNNEL with per-rule attribution — the
    // FineWeb/Gopher-style ordered quality-rule ensemble, reported the
    // way pipelines actually publish it: every doc is attributed to the
    // FIRST rule that drops it (or 'kept'), and the funnel table counts
    // docs and tokens per (lang, rule). Rules reuse the established
    // integer/ppm metrics so every verdict is engine-exact:
    //   1. too_short      — n_tok < 20              (x4b's gate)
    //   2. long_words     — chars-per-token ≥ 6.00  (Gopher mean-word-
    //      length shape, integer ×100 compare on the n_chars column)
    //   3. repetitive     — duplicate-bigram ppm ≥ 200000 (x4i's metric)
    //   4. low_diversity  — type-token ratio < 30%  (x4g's shape, ppm)
    // Ordered first-fail attribution matters: a doc failing several
    // rules is counted ONCE, under the earliest rule — the funnel's
    // rows sum exactly to the corpus, so the report composes (unlike
    // per-rule independent counts, which double-count). 100 TB: one
    // pass, per-row map arithmetic, a single (lang, rule) aggregation.
    Q("x4j_filter_funnel",
      (s, d) => filterFunnelVerdict(Tables.documents(s, d))
        .groupBy("lang", "drop_rule")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")),
      Some(s"""$FilterFunnelVerdictCte
        SELECT lang, drop_rule, count(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM v GROUP BY lang, drop_rule""".stripMargin)),

    // X4h: perplexity quality filter — the CCNet/Gopher shape: train an
    // add-k bigram LM on the corpus ITSELF (k = 0.5, vocab = all distinct
    // tokens), score every doc by mean bits per bigram (-Σ occ·log2 p / Σ
    // occ where p(w2|w1) = (c(w1,w2)+k)/(c(w1)+k·V)), flag the
    // high-perplexity tail. c(w1) is the bigram-table marginal (doc-final
    // tokens excluded), so Σ_w2 c(w1,w2) = c(w1) — a proper conditional.
    //
    // 100 TB posture: token-level rows only ever cross KEYED shuffles
    // (bigram counts, the w1 marginal, per-doc re-aggregation), each with
    // map-side partial aggregation; the LM stays a DISTRIBUTED table
    // joined on its bigram key — never broadcast (at corpus scale the
    // bigram table is itself huge). The only broadcast is the 1-row vocab
    // size. Per the float rules, bits are compared at round(·1e4); the
    // outlier flag derives from the already-rounded value.
    Q("x4h_perplexity",
      (s, d) => {
        // fanOut: the bigram explode feeds THREE aggregation consumers,
        // each re-running it from the one-split scan in a single task
        // (profiled: 3 x ~0.5 s one-task jobs at sf0.1) — see Tables.fanOut
        val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        val w = tokens
        val n = size(w)
        // the bigram explode feeds THREE fold consumers (uni, bgc,
        // docbg) — LAZY on purpose: the redundant explodes overlap
        // inside the one final job on idle cores, and an eager
        // checkpoint pin regressed the full sweep 1.7→2.4 s (the
        // x4t/pinnedRefLm finding — eager pays only under re-USE, as in
        // q52s's per-micro-batch scoring)
        val bg = docs.select(col("doc_id"),
          explode(zip_with(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("z"))
          .select(col("doc_id"), col("z.w1").as("w1"), col("z.w2").as("w2"))
        val uni = bg.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
        val bgc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        val vocab = docs.select(explode(w).as("t"))
          .agg(countDistinct(col("t")).as("v"))
        val lp = bgc.join(uni, Seq("w1")).crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"),
            log2((col("cb").cast(DoubleType) + lit(0.5)) /
              (col("cu").cast(DoubleType) + lit(0.5) * col("v").cast(DoubleType)))
              .as("logp"))
        val docbg = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("occ"))
        docbg.join(lp, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(sum(col("occ")).as("n_bigrams"),
            ((sum(col("occ").cast(DoubleType) * col("logp")) * lit(-1.0)) /
              sum(col("occ")).cast(DoubleType)).as("bits"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("bits") * 10000).cast(LongType).as("bits_e4"),
            (round(col("bits") * 10000).cast(LongType) > lit(50000L)).as("is_outlier"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2
               FROM (SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS z FROM d)),
        uni AS (SELECT w1, count(*) AS cu FROM bg GROUP BY 1),
        vocab AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM d)),
        lp AS (SELECT w1, w2, log2((CAST(cb AS DOUBLE) + 0.5) / (CAST(cu AS DOUBLE) + 0.5 * CAST((SELECT v FROM vocab) AS DOUBLE))) AS logp
               FROM (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2) JOIN uni USING (w1)),
        docbg AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bg GROUP BY 1, 2, 3),
        sc AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_bigrams,
                 (-SUM(CAST(occ AS DOUBLE) * logp)) / CAST(SUM(occ) AS DOUBLE) AS bits
               FROM docbg JOIN lp USING (w1, w2) GROUP BY 1)
        SELECT doc_id, n_bigrams,
          CAST(round(bits * 10000) AS BIGINT) AS bits_e4,
          CAST(round(bits * 10000) AS BIGINT) > 50000 AS is_outlier
        FROM sc""".stripMargin)),

    // X4t (r15): reference-LM quality filter — the CCNet shape (Wenzek
    // et al. 2020, arXiv:1911.00359): train the n-gram LM on a TRUSTED
    // reference split only (there Wikipedia; here sources src0–src2),
    // then score EVERY document against it and keep the low-perplexity
    // side. This is the piece x4h (self-trained, no split) cannot do:
    // quality is defined relative to a curated distribution, and scoring
    // must handle bigrams the reference never saw — stupid backoff
    // (Brants et al. 2007): P(w2|w1) = cb/cu when the reference has the
    // bigram, else 0.4 · P_uni(w2), both sides add-0.5 smoothed so the
    // log is total.
    //
    // 100 TB posture (same as x4h): the LM stays a DISTRIBUTED table —
    // bigram scores join on (w1,w2), the backoff marginal joins on w2,
    // each with map-side partial aggregation in front; only the 1-row
    // (total, vocab) certificate broadcasts. A production reference
    // split is ~1% of the corpus, so training cost is a keyed shuffle
    // over that slice, and scoring is two hash joins per corpus bigram.
    Q("x4t_lm_filter",
      // LAZY LM on purpose (see trainRefLm's scaladoc): the one-shot
      // score job overlaps the redundant reference explodes on idle
      // cores; the pinned pinnedRefLm form was 0.7 s slower here
      (s, d) => {
        val docs = Tables.documents(s, d)
        lmScore(docs, trainRefLm(docs))
      },
      Some(LmFilterOracle)),

    // X4u (r15): per-source KL-divergence domain-shift card — the mixture
    // designer's diagnostic (DoReMi/Pile-style weighting starts from
    // exactly this table): for each source s, KL(p_s ‖ p_corpus) over the
    // token unigram distributions, plus volume. High-KL sources are the
    // distribution outliers a reweighting or a curriculum treats
    // specially; KL ≈ 0 sources are interchangeable with the mix. Every
    // source token occurs in the corpus by construction (q is a superset
    // mixture of the p's), so the log is total with NO smoothing — the
    // one divergence that needs none.
    //
    // 100 TB posture: two keyed token shuffles (per-(source,token) and
    // per-token marginals, map-side combined), one broadcast of the
    // source-totals frame (|sources| rows) and the 1-row corpus total;
    // the KL sum reduces per source. The token-level join keys on t —
    // the corpus marginal stays DISTRIBUTED (vocab-sized, not
    // driver/broadcast) because a production vocab is 10⁷+ grams.
    //
    // e4-rounding determinism (ADVICE r15): the per-token double terms
    // sum under partial aggregation, whose order differs between engines
    // (unlike the series family's strictly sequential folds). The hash
    // gate stays deterministic because the reordering error is bounded
    // far below the rounding half-ulp: with ~n ≤ 10⁴ terms each |term|
    // ≤ ~15 bits, any summation order differs from any other by at most
    // ~n²·ε·max|term| ≈ 10⁸·2.2e-16·15 ≈ 3e-7, while a kl_e4 flip needs
    // the true value within that distance of a 0.5e-4 boundary — the
    // fixture's KL values sit O(1e-2..1) away from boundaries, 5 orders
    // of magnitude more margin than the bound (same argument at qf10's
    // entropy sum). A production deployment comparing across engines at
    // much larger n should widen to a ±1 e4 tolerance instead.
    Q("x4u_kl_divergence",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"), explode(tokens).as("t"))
        val st = tok.groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
        val srcTot = st.groupBy(col("source")).agg(sum(col("c")).as("cs"))
        val ct = tok.groupBy(col("t")).agg(count(lit(1)).as("ct"))
        val tot = tok.agg(count(lit(1)).as("ctot"))
        val p = col("c").cast(DoubleType) / col("cs").cast(DoubleType)
        val q = col("ct").cast(DoubleType) / col("ctot").cast(DoubleType)
        st.join(ct, Seq("t"))
          .join(broadcast(srcTot), Seq("source"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("cs"), (p * log2(p / q)).as("term"))
          .groupBy(col("source"))
          .agg(max(col("cs")).as("n_tokens"),
            round(sum(col("term")) * 10000).cast(LongType).as("kl_e4"))
          .select(col("source"), col("n_tokens"), col("kl_e4"))
      },
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        st AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
        srct AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM st GROUP BY 1),
        ct AS (SELECT t, count(*) AS ct FROM tok GROUP BY 1),
        tot AS (SELECT count(*) AS ctot FROM tok)
        SELECT source, max(cs) AS n_tokens,
          CAST(round(SUM((CAST(c AS DOUBLE) / CAST(cs AS DOUBLE)) *
            log2((CAST(c AS DOUBLE) / CAST(cs AS DOUBLE)) /
                 (CAST(ct AS DOUBLE) / CAST(ctot AS DOUBLE)))) * 10000) AS BIGINT) AS kl_e4
        FROM st JOIN ct USING (t) JOIN srct USING (source) CROSS JOIN tot
        GROUP BY source""".stripMargin)),

    // X4k: distributed BPE tokenizer TRAINING (Sennrich et al. 2016,
    // arXiv:1508.07909) — the missing piece between the token-counting
    // heuristics (x4c's whitespace+regex count) and a real subword
    // vocabulary: learn 64 merge rules from the corpus itself, persisted
    // as the on-disk artifact x4l serves from (the x3k index story).
    //
    // Distribution shape (the reason this scales where naive BPE can't):
    // the ONLY corpus-sized work is the word-frequency aggregation (one
    // shuffle, map-side combine); every merge round then runs over the
    // DISTINCT-WORD frame — vocab-sized, millions of rows at 100 TB,
    // still cluster work — and reduces to a candidate-list collect of at
    // most 64 rows (the k-means scalar-certificate device). r14 (VERDICT
    // r13 #2 + ADVICE): merges are selected in BATCHES of 8 per round —
    // the top-count pairs whose symbol sets {l, r, l+r} are pairwise
    // DISJOINT, which makes each pick's pre-round count certificate
    // exact (a symbol-disjoint merge cannot create or destroy another
    // pick's occurrences: overlap would force a shared symbol) — so 64
    // merges cost 8 driver round-trips, not 64; pairs a merge CREATES
    // become candidates next round. Each round rewrites the vocab with
    // ONE [[graft.functions.BpeApply]] kernel call applying the round's
    // picks in rank order via the GREEDY left-to-right fold (the
    // two-chained-`replace` formulation this replaces was wrong on
    // l == r runs ≥ 5, ADVICE r13 — and the old oracle mirrored the same
    // bug, so the hash gate could not see it; BpeSpec now pins the runs).
    // The DuckDB oracle replays every round — candidate top-64, the 8
    // nested disjoint argmaxes, and the greedy rewrite as a list_reduce
    // fold — so the hash gate proves selection-for-selection and
    // merge-for-merge equality against an INDEPENDENT greedy
    // implementation, not a mirror of the engine's.
    Q("x4k_bpe_train",
      (s, d) => trainAndPersistMerges(s, d),
      Some(bpeOracle)),

    // X4l: APPLY the trained BPE vocabulary — the token-budget counter a
    // pipeline actually runs once a subword tokenizer exists (x4c counts
    // whitespace tokens; real budgets count SUBWORD tokens). The merge
    // table is LOADED from x4k's persisted parquet artifact (trained and
    // persisted on demand if absent — BpeSpec pins load ≡ retrain), then
    // every document is tokenized by ONE codegen kernel call per word:
    // [[graft.functions.BpeApply]] char-splits the word and replays all
    // 64 merges in rank order with the greedy fold, subword count =
    // symbols left. One explode + one groupBy(doc_id) with map-side
    // combine; the merge table rides into the executors as a single
    // plan-referenced String[] — at a 32k-merge production vocab that is
    // one broadcast object and one kernel call per word, where the
    // replaced formulation was 2×|merges| nested `replace` expressions.
    // The oracle re-runs the training replay and tokenizes via a
    // DISTINCT-WORD join against the final vocab state (same result by
    // word-functionality), so the hash gate proves train+apply
    // end-to-end: a drifted merge rule would shift some document's count.
    Q("x4l_bpe_apply",
      (s, d) => {
        val merges = loadOrTrainMerges(s, d)
        // fanOut: one kernel call per word must not serialize into the
        // single fixture split (guide §2.5; see Tables.fanOut)
        Tables.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .select(col("doc_id"), size(split(trim(
              graft.functions.Kernels.bpe_apply(col("word"), merges,
                fromChars = true)), " ")).cast(LongType).as("n_sub"))
          .groupBy("doc_id")
          .agg(sum(col("n_sub")).as("n_subword"), count(lit(1)).as("n_words"))
      },
      Some(bpeApplyOracle)),

    // X4n (r14): the BPE VOCABULARY as a hash-gated artifact — the table
    // a tokenizer actually ships beside its merge rules: corpus alphabet
    // (binary-sorted single characters, ids 0..|A|-1) then each merge's
    // symbol at id = |A| + step - 1. The oracle derives the alphabet
    // from the training chain's own w0 frame and the merge ids from the
    // per-round pick CTEs, so a drifted id assignment — the bug class
    // that silently corrupts every downstream token stream — is caught
    // at the hash gate, not in training.
    Q("x4n_bpe_vocab",
      (s, d) => {
        import s.implicits._
        bpeVocab(s, d).toDF("token_id", "token", "kind")
      },
      Some(bpeVocabOracle)),

    // X4m (r14): ENCODE documents to token-id streams — what a training
    // pipeline materializes from a corpus once a tokenizer exists (x4l
    // counts subwords; training consumes ids). Per (doc, word): one
    // bpe_apply kernel call (char-split + all 64 merges greedily in rank
    // order), subtokens resolved to ids through a BROADCAST HASH JOIN
    // against the vocab frame (min-id on collision pre-folded, so the
    // join key is unique) — O(1) hashed lookup per subword; the literal
    // plan-map alternative pays GetMapValue's LINEAR key scan per row,
    // which dies at a 32k production vocab — output one row per subword
    // token keyed (doc_id, word_pos, sub_pos): a complete deterministic
    // ordering without any corpus-wide window. 100 TB posture: per-row
    // map + generator work and one broadcast exchange, zero shuffles,
    // zero driver data beyond the vocab certificate; the oracle replays
    // tokenization via the distinct-word join against the final vocab
    // state and the identical min-id resolution, so every single token
    // id in the corpus stream is hash-pinned.
    Q("x4m_bpe_encode",
      (s, d) => bpeTokenStream(s, d),
      Some(bpeEncodeOracle)),

    // X6p (r14): PACK token streams into fixed-length TRAINING SEQUENCES
    // — the last step between a tokenized corpus and a pretraining data
    // loader: x4m's token stream in its canonical (doc_id, word_pos,
    // sub_pos) order, concatenated ACROSS document boundaries and cut
    // into L=64-token sequences (the GPT-style pack; x6b packs whole
    // docs by token BUDGET, this packs the tokens themselves). The
    // global token index is NEVER a corpus-wide window: within-doc
    // ordinals from a doc-partitioned window (state bounded by one
    // document), doc offsets from the x6b/x6g two-phase distributed
    // prefix sum (range partition by doc_id → P-row offset table →
    // broadcast). Output is per-sequence: token count, spanned docs, and
    // a position-weighted integer checksum Σ token_id·(pos+1) that pins
    // CONTENT AND ORDER of every sequence at the hash gate — a
    // token-order regression anywhere in the pipeline shifts some
    // sequence's checksum. The oracle replays tokenization (the x4m
    // chain) and derives the same sequences from one global row_number.
    Q("x6p_pack_tokens",
      (s, d) => packTokenSeqs(bpeTokenStream(s, d), 64L),
      Some(packTokensOracle)),

    // X10c (r14): the BATCH flagship carried to TRAINING SEQUENCES — the
    // full corpus build a pretraining run actually consumes: quality
    // funnel → first-per-digest exact dedup → LSH decontamination against
    // the eval split → tokenize with the frozen x4k artifact → pack into
    // fixed-length sequences. q52x is this loop's streaming face (stages
    // 1–3 share its oracle CTEs VERBATIM via [[CleanCorpusCtes]]); x10
    // composes the doc-level stages to shards, x10c composes the
    // token-level tail to the tensor-shaped output. Scale shape: every
    // stage keeps its standalone posture — the funnel is per-row map,
    // dedup is one digest groupBy, decontam probes broadcast eval
    // artifacts, the CLEAN filter applies at the doc level BEFORE the
    // tokenize explode (the token stream itself never joins or
    // shuffles), and the pack is the two-phase distributed prefix sum.
    // The per-sequence position-weighted checksum pins content AND order
    // of every training sequence, so a drift anywhere in the composed
    // lineage — one wrongly admitted doc, one shifted token — flips some
    // sequence's row at the hash gate.
    Q("x10c_tokenized_build",
      (s, d) => Caching.pinned { pins =>
        val bucket = pmod(col("doc_id") * 2654435761L, lit(100L))
        val kept = withFunnelVerdict(
            Tables.documents(s, d).filter(bucket < 80))
          .filter(col("drop_rule") === "kept")
          .select(md5(col("text")).as("dig"), col("doc_id"), col("text"))
        val admitted = kept.groupBy("dig").agg(min(col("doc_id")).as("doc_id"))
        val admDocs = kept.join(admitted, Seq("dig", "doc_id"))
        val evalIdx = Tables.documents(s, d).filter(bucket >= 90)
          .select(col("doc_id"), col("text"), md5(col("text")).as("dig"))
        val (_, eBuckets, shEval) = DedupQueries.indexArtifacts(evalIdx)
        val verdict = DedupQueries.streamDecontamPlan(pins, admDocs, eBuckets, shEval)
        val cleanDocs = admDocs
          .join(verdict.filter(!col("contaminated")).select("doc_id"),
            Seq("doc_id"))
          .select(col("doc_id"), col("text"))
        // packTokenSeqs is eager (returns its own seq-sized
        // localCheckpoint), so the pins can release on return
        packTokenSeqs(tokenStreamFrom(s, cleanDocs, d), 64L)
      },
      Some(tokenizedBuildOracle)),

    // X4o (r14): the TOKENIZER CARD — the per-language audit a vocab
    // rollout reads before switching tokenizers: document/word/subword
    // volumes, characters per subword (the compression ratio, as an
    // exact ×1000 integer — the headline number BPE exists to improve),
    // and the single-char-token count (high = the vocab hasn't learned
    // the language's units; the fallback-rate analogue of byte-level
    // tokenizers). One explode + one map-side-combined groupBy(lang);
    // per-word work is one bpe_apply kernel call. The oracle replays
    // tokenization via the distinct-word join, so every per-language
    // aggregate is exact-integer hash-gated.
    Q("x4o_tokenizer_card",
      (s, d) => {
        val merges = loadOrTrainMerges(s, d)
        val sym = trim(graft.functions.Kernels.bpe_apply(col("word"), merges,
          fromChars = true))
        val toks = split(sym, " ")
        Tables.fanOut(Tables.documents(s, d), col("doc_id")) // guide §2.5
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .select(col("doc_id"), col("lang"),
            size(toks).cast(LongType).as("n_sub"),
            size(filter(toks, t => length(t) === 1)).cast(LongType)
              .as("n_single"),
            length(col("word")).cast(LongType).as("n_char"))
          .groupBy("lang")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_words"),
            sum(col("n_sub")).as("n_subwords"),
            sum(col("n_single")).as("n_single_char_tokens"),
            sum(col("n_char")).as("word_chars"))
          .select(col("lang"), col("n_docs"), col("n_words"),
            col("n_subwords"), col("n_single_char_tokens"), col("word_chars"),
            expr("word_chars * 1000 DIV n_subwords").as("chars_per_subword_e3"))
      },
      Some(tokenizerCardOracle)),

    // X4r (r14): the ZIPF CARD — the head-of-distribution audit a vocab
    // sizing decision reads: the top-50 tokens by corpus frequency with
    // rank, count, and CUMULATIVE coverage in exact integer ppm (what
    // fraction of all token occurrences the top-k tokens absorb — the
    // curve that says how much a k-entry vocab buys). One map-side-
    // combined token count shuffle, a top-50 TakeOrdered, and a window
    // over the 50-row result (never a corpus-wide window); total count
    // rides in as a 1-row broadcast. Ties break lexicographically so the
    // rank order is deterministic cross-engine; coverage is floor-div
    // ppm per the integer float-parity rules.
    Q("x4r_zipf_card",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
        // counts feeds two consumers (total + top-50) of one plan; both
        // read the token shuffle's one exchange, so it runs once unpinned
        val counts = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
        val total = counts.agg(sum(col("cnt")).as("total"))
        val top = counts.orderBy(col("cnt").desc, col("word")).limit(50)
        val w = Window.orderBy(col("cnt").desc, col("word"))
        top.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(w).cast(LongType))
          .withColumn("cum_ppm",
            expr("sum(cnt) OVER (ORDER BY cnt DESC, word) * 1000000 DIV total"))
          .select(col("rank"), col("word"), col("cnt"), col("cum_ppm"))
      },
      Some("""WITH c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE len(word) > 0 GROUP BY word),
          tot AS (SELECT SUM(cnt) AS total FROM c),
          top AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 50)
          SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank,
            word, cnt,
            CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word) * 1000000 // t.total AS BIGINT) AS cum_ppm
          FROM top, tot t""".stripMargin)),

    // X4s (r14): SKETCHED HEAVY HITTERS — frequent word-trigrams by
    // Misra–Gries sketch + exact recount, the boilerplate-phrase detector
    // x2k's scrub list would be SEEDED from at corpus scale. Why a sketch
    // when x4r's exact groupBy also works: an exact n-gram count shuffles
    // one row per distinct gram per map task, and at 100 TB the distinct
    // n-gram space is billions wide — the shuffle IS the job. The
    // [[graft.functions.Aggregators.MisraGriesAgg]] pass caps every
    // partial-agg buffer at 8192 entries (capacity+1 > 1/θ = 5000, so the
    // candidate set PROVABLY contains every gram with frequency ≥ θn —
    // Misra & Gries 1982; mergeable form Agarwal et al. 2012), then one
    // exact recount of candidates only (broadcast semi-join — the
    // candidate set is ≤ 8192 rows by construction) restores exact
    // counts. The final θ filter kills the sketch's false positives, so
    // the result is IDENTICAL to the full exact computation the DuckDB
    // oracle runs — sketch in the plan, no sketch in the answer. Fixture
    // note: 16k distinct trigrams vs capacity 8192 means the sketch
    // genuinely saturates and decrements here (the real code path, not
    // the everything-fits degenerate case).
    Q("x4s_heavy_hitters",
      (s, d) => {
        // three consumers (sketch, recount, total) — one gram scan each is
        // fine at scale, but pinning the exploded frame keeps the fixture
        // run honest about which pass costs what
        Caching.pinned { pins =>
          val grams = pins.checkpoint(heavyHitterGrams(
            Tables.fanOut(Tables.documents(s, d), col("doc_id")))) // §2.5
          val cand = grams
            .agg(graft.functions.Aggregators.misra_gries(HhCapacity)(col("gram"))
              .as("sk"))
            .select(explode(map_keys(col("sk"))).as("gram"))
          heavyHitterRecount(grams, cand)
            .localCheckpoint() // ≤ 1/θ rows; eager so the gram pin can go
        }
      },
      Some(HeavyHittersOracle)),

    // X4q (r14): DETOKENIZATION ROUND-TRIP — the soundness audit every
    // tokenizer rollout runs before training on its ids: decode the x4m
    // token-id stream back through the x4n vocab table (ids are unique
    // per symbol, and the min-id collision fold composes with id→symbol
    // to the identity on symbols) and the reassembled document must
    // md5-match the whitespace-normalized original — a wrong merge, a
    // drifted id, or a lost/reordered token anywhere in
    // train→vocab→encode flips some document's digest. Decode is one
    // broadcast join + two ordered per-group folds (sub_pos within word,
    // word_pos within doc — both windows bounded by one document); the
    // oracle replays decode via its own id→symbol map and DuckDB's
    // ordered string_agg.
    Q("x4q_detok_roundtrip",
      (s, d) => {
        import s.implicits._
        val idTok = bpeVocab(s, d).map { case (id, t, _) => (id, t) }
          .toDF("token_id", "token")
        val words = bpeTokenStream(s, d)
          .join(broadcast(idTok), Seq("token_id"))
          .groupBy("doc_id", "word_pos")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("sub_pos"), col("token")))),
            x => x.getField("token")), "").as("word"))
        val rebuilt = words.groupBy("doc_id")
          .agg(md5(array_join(transform(
            array_sort(collect_list(struct(col("word_pos"), col("word")))),
            x => x.getField("word")), " ")).as("detok_md5"))
        val orig = Tables.documents(s, d)
          .select(col("doc_id"),
            md5(concat_ws(" ",
              filter(split(col("text"), " "), w => length(w) > 0)))
              .as("orig_md5"))
        rebuilt.join(orig, Seq("doc_id"))
          .select(col("doc_id"), col("detok_md5"), col("orig_md5"),
            (col("detok_md5") === col("orig_md5")).as("roundtrip_ok"))
      },
      Some(detokOracle)),

    // X3p: HYBRID retrieval with reciprocal-rank fusion — the serving
    // pattern RAG stacks actually run: a lexical ranker (x4f's BM25, one
    // term per query) and a vector ranker (x3's exact quantized cosine,
    // one query vector per query) each produce a top-20 list, fused as
    // Σ 1/(60+rank) over a full-outer join (Cormack et al. 2009's RRF —
    // rank-based, so the two scorers' incomparable scales never meet).
    // Four hybrid queries: query i = (term i, query vector i). 100 TB
    // posture: the lexical side is one scan + a 1-row broadcast stats
    // frame + a per-qid top-20 window over docs that CONTAIN the term;
    // the vector side is the brute baseline here (x3c/x3i are the scale
    // path — swap the ranker, the fusion is unchanged); fusion joins two
    // 80-row frames. Ranks tie-break on doc_id and every float is the
    // same expression text on both sides, so the RRF doubles are
    // IEEE-exact against the oracle.
    Q("x3p_hybrid_rrf",
      (s, d) => fuseRrf(lexTop20(s, d), bruteVecTop20(s, d)),
      Some(hybridRrfSql)),

    // X3q (r14, VERDICT r13 #3): the hybrid fusion SERVED FROM THE INDEX
    // — x3p's lexical arm and RRF fusion verbatim, with the vector arm
    // swapped from the brute broadcast cross-join to x3i's IVF-PQ chain
    // (coarse-probe 8 partitions → ADC-score admitted code rows →
    // 20-deep shortlist → exact rerank), i.e. the declared scale path:
    // per-query work is bounded by nprobe BEFORE any scoring and raw
    // vectors move for 20 rows per query, where x3p's arm scans every
    // vector per query. The brute-overlap audit (how much the ranker
    // swap changes the fusion) lives in HybridOverlapSpec at fixture
    // scale — NOT in the registered plan (r14 review finding; the x2e
    // precedent: a quadratic audit riding inside the registered query
    // made the 30× tier time brute + index, so the gate's "serving arm
    // stays x3i-shaped" claim measured mostly the baseline arm). The
    // oracle replays centroids → probes → ADC → shortlist → rerank (the
    // x3i device) and then the identical fusion text, so every rank and
    // every RRF double is IEEE-exact against an independent replay.
    Q("x3q_hybrid_ivfpq",
      (s, d) => {
        val vt = SimilarityQueries.ivfPqTopK(s, d, nQueries = 4)
          .select(col("q_id").cast(IntegerType).as("qid"),
            col("c_id").as("doc_id"), col("rv"))
        fuseRrf(lexTop20(s, d), vt)
      },
      Some(hybridIvfPqSql))
  )

  /** x3p/x3q's shared lexical ranker: per-term BM25 over documents that
    * CONTAIN the term, top-20 per qid — `(qid, doc_id, rl)`.
    */
  private def lexTop20(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    val base = Tables.documents(s, d).select(
      col("doc_id") +: size(w).as("dl") +:
        bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(w, x => x === lit(t))).as(s"tf$i") }: _*)
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sumdl") +:
        bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
      .withColumn("avgdl",
        col("sumdl").cast(DoubleType) / col("n").cast(DoubleType))
    val arms = bm25Terms.indices.map(i => struct(
      lit(i).as("qid"), col(s"tf$i").as("tf"), col(s"df$i").as("df")))
    val lex = base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), col("n"), col("avgdl"),
        explode(array(arms: _*)).as("t"))
      .filter(col("t.tf") > 0)
      .select(col("t.qid").as("qid"), col("doc_id"),
        bm25Contrib(col("t.tf"), col("t.df"), col("n"), col("dl"),
          col("avgdl")).as("score"))
    val wl = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    lex.withColumn("rl", row_number().over(wl))
      .filter(col("rl") <= 20).select("qid", "doc_id", "rl")
  }

  /** x3p's brute vector ranker (and HybridOverlapSpec's baseline for
    * x3q's ranker-swap audit): exact quantized cosine of every vector
    * against queries 0..3, top-20 — `(qid, doc_id, rv)`.
    */
  private[ext] def bruteVecTop20(s: SparkSession, d: String): DataFrame = {
    val e = SimilarityQueries.quantFrame(s, d)
      .select(col("vec_id"), col("qe"))
    val q = e.filter(col("vec_id") < 4)
      .select(col("vec_id").cast(IntegerType).as("qid"),
        col("qe").as("qemb"))
    val wv = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        SimilarityQueries.qcos(col("qemb"), col("qe")).as("cos"))
      .withColumn("rv", row_number().over(wv))
      .filter(col("rv") <= 20).select("qid", "doc_id", "rv")
  }

  /** The RRF fusion tail shared by x3p/x3q: full-outer join of the two
    * ranked arms, Σ 1/(60+rank), top-10 per qid — rank-based, so the
    * arms' incomparable score scales never meet (Cormack et al. 2009).
    */
  private def fuseRrf(lt: DataFrame, vt: DataFrame): DataFrame = {
    val f = lt.join(vt, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id"))
    f.withColumn("rank", row_number().over(wf)).filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf"))
  }

  /** x4s/q52t heavy-hitter geometry: θ = 1/HhThetaInv of the corpus's
    * trigram occurrences; HhCapacity + 1 > HhThetaInv makes the
    * Misra–Gries candidate set a PROVEN superset of the θ-heavy grams at
    * any corpus size (error < n/(capacity+1) < θn).
    */
  private[graft] val HhCapacity = 8192
  private[graft] val HhThetaInv = 5000L

  /** Word-trigram frame over a `text` frame — the key space x4s/q52t
    * sketch. Docs under 3 words contribute nothing (the oracle's
    * generate_series(1, len-2) is empty there by construction).
    */
  private[graft] def heavyHitterGrams(docs: DataFrame): DataFrame =
    docs
      .select(filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 2),
        i => concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
        .as("gram"))

  /** The exact tail shared by x4s and q52t: recount ONLY the candidate
    * grams (broadcast semi-join — the candidate frame is
    * capacity-bounded), then the θ filter. Output is identical to the
    * full exact computation whenever `cand` ⊇ the θ-heavy set, which the
    * sketch guarantees.
    */
  private[graft] def heavyHitterRecount(grams: DataFrame,
      cand: DataFrame): DataFrame = {
    val counts = grams.join(broadcast(cand), Seq("gram"), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
    val total = grams.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * HhThetaInv >= col("total"))
      .select(col("gram"), col("cnt"),
        expr("cnt * 1000000 DIV total").as("ppm"))
  }

  /** The full-exact DuckDB computation both x4s and q52t must equal —
    * no sketch anywhere in the oracle; θ interpolated from the SAME
    * constant the engine filters on, so the two sides cannot drift.
    */
  private[graft] val HeavyHittersOracle: String =
    s"""WITH d AS (SELECT list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
          FROM documents),
        g AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          FROM d, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
        tot AS (SELECT count(*) AS total FROM g),
        c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram)
        SELECT gram, cnt, CAST(cnt * 1000000 // t.total AS BIGINT) AS ppm
        FROM c, tot t WHERE cnt * $HhThetaInv >= t.total""".stripMargin

  private val BpeRounds = 8
  private val BpePicksPerRound = 8
  private val BpeCandLimit = 64

  /** Corpus → word-frequency frame for BPE: `(sym, cnt)` where `sym` is
    * the word as a space-delimited, space-PADDED character sequence
    * (' h e l l o '). The padding makes the symbol string self-
    * delimiting for the kernel's split and the oracle's `string_split`.
    * This is the single corpus-sized aggregation of the operator.
    */
  /** `word` → the space-padded character-sequence `sym` encoding — ONE
    * definition shared by [[bpeWordFreq]] and the ScaleBench depth-512
    * morphology fixture, so the two cannot drift on the delimiter
    * convention the kernel and the oracle both parse.
    */
  private[graft] def wordToSym: Column =
    concat(lit(" "), concat_ws(" ", expr(
      "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))")),
      lit(" "))

  private[graft] def bpeWordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(wordToSym.as("sym"), col("cnt"))

  /** Greedy symbol-disjoint batch selection from a (c DESC, pair ASC)-
    * sorted candidate list: scan in order, take a pair iff none of
    * {l, r, l+r} was touched by an earlier pick this round, stop at
    * `maxPicks`. Equals the repeated argmax-with-exclusions the oracle
    * runs (filtering a fixed-order list then taking its head, repeatedly,
    * is the same as one ordered scan — BpePropertySpec pins it).
    */
  private[graft] def disjointPicks(cand: Seq[(String, Long)],
      maxPicks: Int): Seq[(String, String, String, Long)] = {
    val picks = scala.collection.mutable.Buffer.empty[(String, String, String, Long)]
    val used = scala.collection.mutable.Set.empty[String]
    val it = cand.iterator
    while (picks.size < maxPicks && it.hasNext) {
      val (pair, c) = it.next()
      val Array(l, r) = pair.split(" ", 2)
      val m = l + r
      if (!used(l) && !used(r) && !used(m)) {
        picks += ((l, r, m, c))
        used ++= Seq(l, r, m)
      }
    }
    picks.toSeq
  }

  /** Frequency-weighted adjacent-symbol pair counts of a `(sym, cnt)`
    * frame — BPE's one aggregation shape, shared by the round-1
    * initialization, the per-round delta recounts over affected words,
    * and the full-recount reference path the equality spec pins against.
    */
  private[graft] def adjacentPairCounts(words: DataFrame): DataFrame =
    words
      .withColumn("l", split(trim(col("sym")), " "))
      .select(col("cnt"), explode(expr("CASE WHEN size(l) >= 2 THEN " +
        "transform(sequence(1, size(l) - 1), " +
        "i -> concat(element_at(l, i), ' ', element_at(l, i + 1))) " +
        "ELSE array() END")).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("c"))

  /** The BPE training loop over a `(sym, cnt)` word-frequency frame:
    * `rounds` rounds of (take the top-`candLimit` pairs from a MAINTAINED
    * pair-count frame → greedily select up to `picksPerRound`
    * SYMBOL-DISJOINT pairs in (count DESC, pair ASC) order → rewrite the
    * AFFECTED words with the round's picks in rank order via one greedy
    * [[graft.functions.BpeApply]] kernel pass → fold the affected words'
    * before/after pair-count DELTA back into the maintained frame).
    * Returns the learned merge table `(step, pair, merged, cnt)` with
    * `step = (round-1)·picksPerRound + pickIndex` — the trained artifact
    * a tokenizer ships.
    *
    * Disjointness ({l, r, l+r} pairwise disjoint across a round's picks)
    * is what keeps the batched counts EXACT: a merge can only create or
    * destroy occurrences of a pair it shares a symbol with, so each
    * pick's pre-round count equals its count at apply time, and the
    * batch applied in rank order equals applying the picks one
    * recount-free step at a time. Pairs a merge CREATES (e.g. (ab, c)
    * after (a, b)) enter the candidate pool next round. `picksPerRound
    * = 1` degenerates to exact sequential BPE (BpeSpec's algebra cases
    * run there).
    *
    * Incremental maintenance (VERDICT r14 #2): a word's sym can change
    * this round iff it contains some pick's ADJACENCY `" l r "` before
    * the pass — disjointness means no pick can create or destroy another
    * pick's adjacency within the round (a merge's new adjacencies all
    * involve its output symbol m, and every other pick's l/r ≠ m), so the
    * pre-round containment predicate is exact, and the kernel, the
    * explode, and the shuffle all touch AFFECTED WORDS ONLY — round cost
    * is rounds × |affected words|, not rounds × |whole frame| (the full
    * pair frame is exploded exactly once, at round 1). The maintained
    * count frame is kept to true counts > 0 (delta exactness means a
    * count can reach 0 but never go below), so its top-`candLimit` prefix
    * is identical to a full recount's — BpeDeltaSpec pins delta ≡ recount
    * merge-for-merge, and `incremental = false` preserves the recount
    * path as the reference. Each round localCheckpoints the rewritten
    * vocab + count frames so the plan stays flat (at a 4k-round
    * production vocab the unchanged-rows copy could amortize further by
    * checkpointing every C rounds); driver traffic is one
    * ≤`candLimit`-row collect per ROUND — 8 round-trips for a 64-merge
    * vocab (VERDICT r13 #3).
    *
    * `ledger`, when supplied (ScaleBench), records one
    * `(round, affectedWords, totalWords)` row per round that picked —
    * the measured shrink of per-round work as the vocabulary grows.
    */
  private[graft] def bpeTrain(s: SparkSession, wordsInit: DataFrame,
      rounds: Int, picksPerRound: Int = 1,
      candLimit: Int = BpeCandLimit,
      incremental: Boolean = true,
      ledger: Option[scala.collection.mutable.Buffer[(Int, Long, Long)]] = None)
      : DataFrame = Caching.pinned { pins =>
    val merges = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    var words = pins.checkpoint(wordsInit)
    // the vocab frame's ROW count is invariant across rounds (rewrites
    // replace syms, never add or drop words) — one job, not one per
    // ledgered round (at depth-512 budgets the per-round count was a
    // measurable slice of the round's job budget)
    lazy val totalWords: Long = words.count()
    val wordsParts = math.max(1, words.rdd.getNumPartitions)
    var counts: DataFrame = null
    if (incremental) counts = pins.checkpoint(adjacentPairCounts(words))
    for (round <- 1 to rounds) {
      val candFrame = if (incremental) counts else adjacentPairCounts(words)
      val cand = candFrame
        .orderBy(col("c").desc, col("pair").asc)
        .limit(candLimit).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val picks = disjointPicks(cand, picksPerRound)
      merges ++= picks.zipWithIndex.map { case ((l, r, m, c), j) =>
        ((round - 1) * picksPerRound + j + 1, s"$l $r", m, c)
      }
      if (picks.nonEmpty) {
        if (incremental) {
          // syms are space-padded and single-space-delimited, so plain
          // substring containment of " l r " is whole-symbol adjacency
          val affPred = picks.map(p =>
            col("sym").contains(s" ${p._1} ${p._2} ")).reduce(_ || _)
          // ONE fused checkpoint carrying both the affected rows and
          // their rewrites — one eager job per round where two
          // checkpoints (`aff`, then `newAff`) would take two; the
          // delta's before-side reads (sym, cnt), the after-side and the
          // vocab update read (nsym → sym, cnt) — both are projections
          // of this one frame
          val aff2 = pins.checkpoint(words.filter(affPred)
            .select(col("sym"), graft.functions.Kernels.bpe_apply(
                col("sym"), picks.map(p => (p._1, p._2)),
                fromChars = false).as("nsym"),
              col("cnt")))
          val aff = aff2.select(col("sym"), col("cnt"))
          val newAff = aff2.select(col("nsym").as("sym"), col("cnt"))
          ledger.foreach(_ += ((round, newAff.count(), totalWords)))
          val delta = adjacentPairCounts(newAff).withColumnRenamed("c", "ca")
            .join(adjacentPairCounts(aff).withColumnRenamed("c", "cb"),
              Seq("pair"), "full_outer")
            .select(col("pair"), (coalesce(col("ca"), lit(0L)) -
              coalesce(col("cb"), lit(0L))).as("d"))
            .filter(col("d") =!= 0L)
          val nextCounts = pins.checkpoint(counts.join(delta, Seq("pair"), "full_outer")
            .select(col("pair"), (coalesce(col("c"), lit(0L)) +
              coalesce(col("d"), lit(0L))).as("c"))
            .filter(col("c") > 0L))
          pins.release(counts)
          counts = nextCounts
          // coalesce back to the input width: union SUMS its sides'
          // partition counts and localCheckpoint preserves them, so
          // without this the vocab frame gains +width partitions EVERY
          // round — at a 512-merge budget the round cost grows linearly
          // in round number (measured: ~40 s/round by round 20, all of
          // it tiny-task shuffle-file commits) instead of staying flat
          val nextWords = pins.checkpoint(words.filter(!affPred)
            .unionByName(newAff).coalesce(wordsParts))
          pins.release(aff2)
          pins.release(words)
          words = nextWords
        } else {
          val nextWords = pins.checkpoint(words.select(
            graft.functions.Kernels.bpe_apply(col("sym"),
              picks.map(p => (p._1, p._2)), fromChars = false).as("sym"),
            col("cnt")))
          pins.release(words)
          words = nextWords
        }
      }
    }
    import s.implicits._
    merges.toSeq.toDF("step", "pair", "merged", "cnt")
  }

  /** x4k's persisted-artifact path, keyed on the data dir so a session
    * that verifies sf0.01 and benches sf0.1 in one JVM never serves the
    * wrong vocabulary.
    */
  private def mergesPath(s: SparkSession, d: String): String =
    s"${graft.Tmp.sessionDir(s, "x4k")}/merges_" +
      java.lang.Integer.toHexString(d.hashCode).replace('-', 'n')

  /** Train on `d`'s corpus and persist the merge table parquet (the
    * artifact x4l serves from); returns the merge table. Always retrains
    * — x4k IS the trainer.
    */
  private[graft] def trainAndPersistMerges(s: SparkSession, d: String): DataFrame = {
    val m = bpeTrain(s, bpeWordFreq(Tables.documents(s, d)),
      BpeRounds, BpePicksPerRound)
    m.write.mode("overwrite").parquet(mergesPath(s, d))
    s.read.parquet(mergesPath(s, d))
  }

  /** x4l/x4m/x4n's merge source: LOAD the persisted x4k artifact,
    * training and persisting it first only if absent (so the serve
    * queries are order-independent of x4k within a session, and
    * deterministic either way — BpeSpec pins load ≡ retrain). Returns
    * (step, l, r) in rank order; ids derive from STEP, not position, so
    * a round that found fewer than 8 disjoint picks cannot shift every
    * later token id.
    */
  private[graft] def loadOrTrainMergeRows(s: SparkSession,
      d: String): Seq[(Int, String, String)] = {
    val path = mergesPath(s, d)
    // Probe through the path's Hadoop FileSystem, exactly like the PQ
    // store and the template registry (VERDICT r14 #1: the java.io.File
    // probe this replaces was local-disk-only, so pointing the frozen
    // tokenizer artifact — the one asset every downstream consumer
    // (x4l/x4m/x4o/q52z/x10c) loads — at HDFS/S3 silently retrained).
    val (fs, p) = SimilarityQueries.fsAndPath(s, path)
    val table =
      if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        s.read.parquet(path)
      else trainAndPersistMerges(s, d)
    table.collect().sortBy(_.getInt(0))
      .map { r =>
        val Array(l, rr) = r.getString(1).split(" ", 2)
        (r.getInt(0), l, rr)
      }.toSeq
  }

  /** Per-row subword count of a whitespace-tokenized `text` column
    * against a trained merge table — ONE `aggregate` HOF folding the
    * `bpe_apply` kernel within the row: no explode, no state, no shuffle,
    * so it streams natively in append mode. ONE definition shared by
    * q52z's standalone registration and the q52x flagship's tokenize
    * stage (r14 review finding: the two sites previously duplicated the
    * expression verbatim, leaving the "shares q52z's exact form" claim
    * asserted rather than structural).
    */
  private[graft] def subwordCountCol(merges: Seq[(String, String)]): Column = {
    def subCount(w: Column): Column =
      when(length(w) > 0,
        size(split(trim(graft.functions.Kernels.bpe_apply(w, merges,
          fromChars = true)), " ")).cast(LongType))
        .otherwise(0L)
    aggregate(split(col("text"), " "), lit(0L), (acc, w) => acc + subCount(w))
  }

  private[graft] def loadOrTrainMerges(s: SparkSession, d: String): Seq[(String, String)] =
    loadOrTrainMergeRows(s, d).map { case (_, l, r) => (l, r) }

  /** The BPE VOCABULARY: the corpus alphabet (distinct single characters
    * of the word stream, binary-sorted, ids 0..|A|-1) followed by the
    * merge symbols at id = |A| + step - 1. Alphabet-sized driver data
    * (tens of strings) — the certificate pattern. A merge result that
    * collides with an existing token keeps both rows in the table (ids
    * are the identity); ENCODING resolves a token string to its MINIMUM
    * id, identically on both engines.
    */
  /** bpeVocab memo (r14 review finding: x4q derived the vocab TWICE per
    * run — once directly, once inside bpeTokenStream — each paying a full
    * corpus distinct-characters job plus a merge-artifact load). Keyed
    * like the merge artifact: application × corpus dir; the value is
    * alphabet-sized driver data, and both inputs (corpus, persisted
    * merges) are fixed for a session, so the memo is sound.
    */
  private val vocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, String, String)]]()

  private[graft] def bpeVocab(s: SparkSession, d: String): Seq[(Int, String, String)] =
    vocabCache.computeIfAbsent(s"${s.sparkContext.applicationId}:$d",
      _ => bpeVocabUncached(s, d))

  private def bpeVocabUncached(s: SparkSession, d: String): Seq[(Int, String, String)] = {
    val chars = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(explode(expr(
        "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))")).as("c"))
      // sort by CODE POINT (each element is one code point by
      // construction) — java.lang.String ordering is UTF-16-unit order,
      // which disagrees with the oracle's UTF-8 binary ORDER BY when the
      // alphabet mixes U+E000..U+FFFF with supplementary-plane chars
      .distinct().collect().map(_.getString(0)).sortBy(_.codePointAt(0))
    chars.zipWithIndex.map { case (c, i) => (i, c, "char") }.toSeq ++
      loadOrTrainMergeRows(s, d).map { case (step, l, r) =>
        (chars.length + step - 1, l + r, "merge") }
  }

  /** The greedy-fold rewrite as DuckDB SQL: tokens re-padded to
    * ' t '-form, then `list_reduce` with a VARCHAR accumulator — merge
    * the accumulator's LAST token with the next when they equal (l, r),
    * else append. Boundary-exact because `ends_with(acc, ' l ')` needs
    * the space before `l`; greedy because a just-merged last token is
    * `l || r`, strictly longer than `l`, so it can never chain within
    * the round — the same argument the engine kernel rests on, but
    * implemented independently (fold over a DuckDB list vs the kernel's
    * write-pointer scan). NULL l/r/m (an exhausted pick slot) degrades
    * to the identity rewrite: every condition is NULL → every token
    * appends.
    */
  private def sqlGreedyFold: String =
    """list_reduce(
      list_transform(string_split(trim(sym), ' '), t -> ' ' || t || ' '),
      (acc, x) -> CASE WHEN ends_with(acc, ' ' || b.l || ' ') AND x = ' ' || b.r || ' '
                  THEN acc[1 : len(acc) - len(b.l) - 1] || b.merged || ' '
                  ELSE acc || x[2:] END)"""

  /** DuckDB replay of [[bpeTrain]] at the registered (8 rounds × 8
    * picks) shape. Per round i: `c_i` = top-64 candidate pairs from the
    * round's vocab state (ORDER BY c DESC, pair — both engines binary
    * collation); `b_i_j` = the j-th pick, an argmax over `c_i` excluding
    * every symbol an earlier pick of the round touched (repeated
    * argmax-with-exclusions ≡ the engine's ordered disjoint scan);
    * `w_i_j` = the vocab after pick j, rewritten with [[sqlGreedyFold]]
    * via LEFT JOIN ON TRUE so an empty pick slot is an identity rewrite,
    * not row annihilation. Every CTE is AS MATERIALIZED: DuckDB inlines
    * plain CTEs and the stage chain references predecessors repeatedly —
    * materialization keeps the replay linear (r13: the inlined form blew
    * up 5^n). The `word` column rides through the chain so the apply
    * oracle can join the final vocab state back to documents.
    */
  private def bpeCtes(rounds: Int = BpeRounds,
      b: Int = BpePicksPerRound, k: Int = BpeCandLimit): String = {
    val ctes = scala.collection.mutable.Buffer(
      """w0_0 AS MATERIALIZED (SELECT word, ' ' || array_to_string(
          list_transform(generate_series(1, len(word)), i -> word[i]), ' ')
          || ' ' AS sym, cnt
        FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              WHERE len(word) > 0 GROUP BY word))""")
    for (i <- 1 to rounds) {
      val prev = if (i > 1) s"w${i - 1}_$b" else "w0_0"
      ctes += s"""c$i AS MATERIALIZED (SELECT pair,
            replace(pair, ' ', '') AS merged,
            string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r, c
          FROM (SELECT pair, SUM(cnt) AS c FROM (
            SELECT cnt, unnest(list_transform(generate_series(1, len(ls) - 1),
              j -> ls[j] || ' ' || ls[j + 1])) AS pair
            FROM (SELECT cnt, string_split(trim(sym), ' ') AS ls FROM $prev))
          GROUP BY pair)
          ORDER BY c DESC, pair LIMIT $k)"""
      for (j <- 1 to b) {
        val excl = if (j == 1) "" else {
          val prior = (1 until j)
            .map(jj => s"SELECT l, r, merged FROM b${i}_$jj")
            .mkString(" UNION ALL ")
          s"""WHERE NOT EXISTS (SELECT 1 FROM ($prior) u
                  WHERE c$i.l IN (u.l, u.r, u.merged)
                     OR c$i.r IN (u.l, u.r, u.merged)
                     OR c$i.merged IN (u.l, u.r, u.merged))"""
        }
        ctes += s"""b${i}_$j AS MATERIALIZED (SELECT pair, merged, l, r, c
          FROM c$i $excl ORDER BY c DESC, pair LIMIT 1)"""
      }
      for (j <- 1 to b) {
        val src = if (j > 1) s"w${i}_${j - 1}" else prev
        ctes += s"""w${i}_$j AS MATERIALIZED (SELECT word, $sqlGreedyFold AS sym, cnt
          FROM $src LEFT JOIN b${i}_$j b ON TRUE)"""
      }
    }
    ctes.mkString(", ")
  }

  /** The training-chain CTE body (no leading WITH), for splicing into a
    * composed oracle that already opened its own chain (q52x's pipeline
    * replay tokenizes admitted docs against the final vocab state).
    */
  private[graft] def bpeTrainCteBody: String = bpeCtes()

  /** Name of the final vocab-state CTE in [[bpeTrainCteBody]]. */
  private[graft] def bpeFinalVocabCte: String = s"w${BpeRounds}_$BpePicksPerRound"

  /** x4o's replay: per-(doc, word) tokenization via the distinct-word
    * join, three integer measures per word, grouped by language.
    */
  private def tokenizerCardOracle: String =
    s"""WITH ${bpeCtes()},
      docw AS (SELECT doc_id, lang, word FROM
        (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
         FROM documents)
        WHERE len(word) > 0),
      m AS (SELECT dw.doc_id, dw.lang,
          len(string_split(trim(f.sym), ' ')) AS n_sub,
          len(list_filter(string_split(trim(f.sym), ' '), t -> len(t) = 1)) AS n_single,
          len(dw.word) AS n_char
        FROM docw dw JOIN $bpeFinalVocabCte f ON f.word = dw.word)
      SELECT lang,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
        CAST(SUM(n_single) AS BIGINT) AS n_single_char_tokens,
        CAST(SUM(n_char) AS BIGINT) AS word_chars,
        CAST(SUM(n_char) * 1000 // SUM(n_sub) AS BIGINT) AS chars_per_subword_e3
      FROM m GROUP BY lang"""

  private def bpeOracle: String = {
    val sel = (for (i <- 1 to BpeRounds; j <- 1 to BpePicksPerRound) yield
      s"SELECT ${(i - 1) * BpePicksPerRound + j} AS step, pair, merged, " +
        s"CAST(c AS BIGINT) AS cnt FROM b${i}_$j")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes()} $sel"
  }

  /** x4l's replay: the x4k training chain's FINAL vocab state already
    * holds every distinct word's greedy tokenization under all 64 merges
    * (the `word` column rides through the rewrites), so apply is a
    * DISTINCT-WORD join — tokenization is a function of the word alone —
    * and subword counts aggregate per document.
    */
  private[graft] def bpeApplyOracle: String =
    s"""WITH ${bpeCtes()},
      docw AS MATERIALIZED (SELECT doc_id, word FROM
        (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) > 0)
      SELECT doc_id,
        CAST(SUM(len(string_split(trim(w.sym), ' '))) AS BIGINT) AS n_subword,
        CAST(count(*) AS BIGINT) AS n_words
      FROM docw JOIN w${BpeRounds}_$BpePicksPerRound w USING (word)
      GROUP BY doc_id"""

  /** The vocab CTEs over the training chain: `alpha` (alphabet with
    * row-number ids), `nalpha`, and `vtab` (alphabet ∪ merge symbols at
    * id = |A| + step - 1, empty pick slots contributing nothing — ids
    * derive from STEP on both engines).
    */
  private def bpeVocabCtes: String = {
    val mSel = (for (i <- 1 to BpeRounds; j <- 1 to BpePicksPerRound) yield
      s"SELECT merged AS token, ${(i - 1) * BpePicksPerRound + j - 1} + " +
        s"(SELECT n FROM nalpha) AS id, 'merge' AS kind FROM b${i}_$j")
      .mkString(" UNION ALL ")
    s"""alpha AS (SELECT c AS token,
          CAST(row_number() OVER (ORDER BY c) - 1 AS BIGINT) AS id,
          'char' AS kind
        FROM (SELECT DISTINCT unnest(list_transform(
            generate_series(1, len(word)), i -> word[i])) AS c FROM w0_0)),
      nalpha AS (SELECT CAST(count(*) AS BIGINT) AS n FROM alpha),
      vtab AS (SELECT token, id, kind FROM alpha UNION ALL $mSel)"""
  }

  private def bpeVocabOracle: String =
    s"""WITH ${bpeCtes()}, $bpeVocabCtes
      SELECT CAST(id AS INTEGER) AS token_id, token, kind FROM vtab"""

  /** x4m's engine body, shared with x6p: documents → one row per subword
    * token `(doc_id, word_pos, sub_pos, token_id)`, via one kernel call
    * per word and a broadcast hash join against the vocab frame (MIN-id
    * pre-folded per token, so the key is unique and the inner join is
    * total — every kernel output symbol is a corpus char or a merge
    * symbol by construction). Per-row map + generator work + one
    * broadcast exchange — zero shuffles; hashed O(1) id resolution where
    * a plan-literal map would linear-scan its keys per subword.
    */
  private[graft] def bpeTokenStream(s: SparkSession, d: String): DataFrame =
    tokenStreamFrom(s, Tables.documents(s, d).select("doc_id", "text"), d)

  /** The same token stream over an arbitrary `(doc_id, text)` frame —
    * x10c tokenizes only the CLEAN survivor set, so the doc-level filter
    * happens before the explode and the token stream itself never joins
    * or shuffles.
    */
  private[graft] def tokenStreamFrom(s: SparkSession, docs: DataFrame,
      d: String): DataFrame = {
    import s.implicits._
    val merges = loadOrTrainMerges(s, d)
    val vocabIds = bpeVocab(s, d).groupBy(_._2)
      .map { case (t, xs) => (t, xs.map(_._1).min) }.toSeq
      .toDF("token", "token_id")
    // fan the doc frame out before the explode + per-word bpe_apply kernel
    // chain (r18, guide §2.5): a one-split fixture scan would run the whole
    // tokenize workload in a single task — see [[graft.Tables.fanOut]]
    graft.Tables.fanOut(docs, col("doc_id"))
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "word_pos", "word")
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), col("word_pos"),
        posexplode(split(trim(graft.functions.Kernels.bpe_apply(col("word"),
          merges, fromChars = true)), " ")))
      .toDF("doc_id", "word_pos", "sub_pos", "token")
      .join(broadcast(vocabIds), Seq("token"))
      .select(col("doc_id"), col("word_pos"), col("sub_pos"),
        col("token_id"))
  }

  /** The token-stream CTE chain shared by the x4m and x6p oracles:
    * tokenize via the distinct-word join against the final vocab state
    * (the x4l device), positions from in-expression generate_series
    * structs (0-based to match posexplode), token → MIN(id) through
    * `vtab`. Ends at `tid(doc_id, word_pos, sub_pos, token_id)`.
    */
  private def bpeTokenCtes: String =
    s"""${bpeCtes()}, $bpeVocabCtes,
      vocab AS (SELECT token, CAST(MIN(id) AS INTEGER) AS token_id
        FROM vtab GROUP BY token),
      docw AS (SELECT doc_id, CAST(z.pos - 1 AS INTEGER) AS word_pos,
          z.tok AS word
        FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
            i -> {'tok': w[i], 'pos': i})) AS z
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        WHERE len(z.tok) > 0),
      toks AS (SELECT doc_id, word_pos, CAST(z2.pos - 1 AS INTEGER) AS sub_pos,
          z2.tok AS token
        FROM (SELECT doc_id, word_pos,
            unnest(list_transform(generate_series(1, len(subs)),
              j -> {'tok': subs[j], 'pos': j})) AS z2
          FROM (SELECT d.doc_id, d.word_pos,
              string_split(trim(f.sym), ' ') AS subs
            FROM docw d JOIN w${BpeRounds}_$BpePicksPerRound f ON f.word = d.word))),
      tid AS (SELECT doc_id, word_pos, sub_pos, token_id
        FROM toks JOIN vocab USING (token))"""

  private def bpeEncodeOracle: String =
    s"""WITH $bpeTokenCtes
      SELECT doc_id, word_pos, sub_pos, token_id FROM tid"""

  /** x4q's replay: decode the token-id stream through the vocab table's
    * id→symbol map (ids are unique rows of `vtab`; ties on duplicated
    * symbols resolve to the min id both ways, so decode∘encode is the
    * identity on symbols), reassemble with ordered string_agg, and
    * compare digests with the whitespace-normalized original.
    */
  private def detokOracle: String =
    s"""WITH $bpeTokenCtes,
      idtok AS (SELECT CAST(MIN(id) AS INTEGER) AS token_id, token
        FROM vtab GROUP BY token),
      dtok AS (SELECT t.doc_id, t.word_pos, t.sub_pos, i.token
        FROM tid t JOIN idtok i USING (token_id)),
      words AS (SELECT doc_id, word_pos,
          string_agg(token, '' ORDER BY sub_pos) AS word
        FROM dtok GROUP BY doc_id, word_pos),
      rebuilt AS (SELECT doc_id,
          md5(string_agg(word, ' ' ORDER BY word_pos)) AS detok_md5
        FROM words GROUP BY doc_id),
      orig AS (SELECT doc_id,
          md5(array_to_string(list_filter(string_split(text, ' '),
            w -> len(w) > 0), ' ')) AS orig_md5
        FROM documents)
      SELECT r.doc_id, r.detok_md5, o.orig_md5,
        r.detok_md5 = o.orig_md5 AS roundtrip_ok
      FROM rebuilt r JOIN orig o USING (doc_id)"""

  /** x6p's replay: ONE global row_number over the token stream's
    * canonical order, sequences of 64, the identical position-weighted
    * checksum.
    */
  /** The funnel → dedup → decontam replay shared by q52x's and x10c's
    * oracles: ends at `clean(doc_id)` — the kept, first-per-digest,
    * decontaminated representative set of the train split. Kept as ONE
    * constant so the streaming flagship and the batch flagship provably
    * replay the identical admission semantics.
    */
  private[graft] val CleanCorpusCtes: String = {
    val sh =
      """CASE WHEN len(w) >= 3
        THEN list_distinct(list_transform(generate_series(1, len(w)-2),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        ELSE [text] END"""
    s"""$FilterFunnelVerdictCte,
      kept AS (SELECT dd.doc_id, dd.text FROM documents dd
        JOIN v ON v.doc_id = dd.doc_id
        WHERE v.drop_rule = 'kept' AND (dd.doc_id * 2654435761) % 100 < 80),
      admt AS (SELECT k.doc_id, k.text FROM kept k
        JOIN (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)) a
          ON a.doc_id = k.doc_id),
      asets AS (SELECT doc_id, $sh AS sh FROM
        (SELECT doc_id, text, string_split(text, ' ') AS w FROM admt)),
      esets AS (SELECT $sh AS sh FROM
        (SELECT text, string_split(text, ' ') AS w FROM documents
         WHERE (doc_id * 2654435761) % 100 >= 90)),
      cont AS (SELECT DISTINCT a.doc_id FROM asets a JOIN esets e2
        ON len(list_intersect(a.sh, e2.sh))::DOUBLE /
           (len(a.sh) + len(e2.sh) - len(list_intersect(a.sh, e2.sh))) >= 0.8),
      clean AS (SELECT doc_id FROM admt
        WHERE doc_id NOT IN (SELECT doc_id FROM cont))"""
  }

  /** x6p's pack body over an arbitrary token stream: within-doc ordinals
    * from a doc-partitioned window (state bounded by one document), doc
    * offsets from the x6b/x6g two-phase distributed prefix sum (range
    * partition by doc_id → P-row offset table → broadcast), sequences of
    * `L` tokens cut across document boundaries. Two passes over the
    * map-only tokenization (counts + the final join) — at 100 TB
    * recomputing a cheap map beats materializing the token stream; the
    * prefix-sum side is doc-count-sized.
    */
  private[graft] def packTokenSeqs(toks: DataFrame, L: Long): DataFrame =
    // the token stream feeds TWO consumers — the per-doc counts for the
    // prefix sum, and the window-indexed stream itself — and each would
    // otherwise re-run the tokenize explode + per-word bpe_apply kernel
    // chain, the composed pipeline's most expensive stage (profiled: two
    // ~0.5–0.9 s / 14–22 s-task-time executions per x10c run). Pin it
    // once; the returned frame is seq-count-sized (tokens/L rows) and
    // eagerly checkpointed so the token-stream pin releases on return.
    Caching.pinned { pins =>
      val tk = pins.checkpoint(toks)
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("word_pos"), col("sub_pos"))
      val wi = tk.withColumn("widx",
        row_number().over(wDoc).cast(LongType) - 1L)
      // deterministic interpolated buckets, not repartitionByRange +
      // spark_partition_id (r14 review finding — see [[RangeBuckets]]):
      // `counts` feeds two consumers, and sampled boundaries could diverge
      // between them if the shuffle ever evaluated twice
      val counts = RangeBuckets.longKey(pins,
        tk.groupBy("doc_id").agg(count(lit(1)).as("n_tok")), "doc_id", 8)
      val wOff = Window.orderBy(col("pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = counts.groupBy("pid").agg(sum(col("n_tok")).as("psum"))
        .withColumn("offset", coalesce(sum(col("psum")).over(wOff), lit(0L)))
        .select("pid", "offset") // ≤ #partitions rows — broadcastable
      val wLocal = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val docOff = counts.join(broadcast(offsets), "pid")
        .withColumn("doc_off",
          coalesce(sum(col("n_tok")).over(wLocal), lit(0L)) + col("offset"))
        .select("doc_id", "doc_off")
      wi.join(docOff, "doc_id")
        .withColumn("gidx", col("doc_off") + col("widx"))
        .withColumn("seq_id", floor(col("gidx") / L))
        .withColumn("pos", col("gidx") % L)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_tok"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          sum(col("token_id").cast(LongType) * (col("pos") + 1L))
            .as("order_checksum"))
        .localCheckpoint()
    }

  private def packTokensOracle: String =
    s"""WITH $bpeTokenCtes,
      g AS (SELECT doc_id, token_id,
          row_number() OVER (ORDER BY doc_id, word_pos, sub_pos) - 1 AS gidx
        FROM tid)
      SELECT CAST(gidx // 64 AS BIGINT) AS seq_id,
        CAST(count(*) AS BIGINT) AS n_tok,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        min(doc_id) AS first_doc,
        CAST(SUM(token_id * (gidx % 64 + 1)) AS BIGINT) AS order_checksum
      FROM g GROUP BY 1"""

  /** x10c's replay: the shared clean-corpus chain (q52x's CTEs verbatim),
    * tokenization restricted to the clean set, then x6p's sequence
    * derivation over one global row_number.
    */
  private def tokenizedBuildOracle: String =
    s"""$CleanCorpusCtes,
      $bpeTokenCtes,
      ctid AS (SELECT t.doc_id, t.word_pos, t.sub_pos, t.token_id
        FROM tid t JOIN clean c USING (doc_id)),
      g AS (SELECT doc_id, token_id,
          row_number() OVER (ORDER BY doc_id, word_pos, sub_pos) - 1 AS gidx
        FROM ctid)
      SELECT CAST(gidx // 64 AS BIGINT) AS seq_id,
        CAST(count(*) AS BIGINT) AS n_tok,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        min(doc_id) AS first_doc,
        CAST(SUM(token_id * (gidx % 64 + 1)) AS BIGINT) AS order_checksum
      FROM g GROUP BY 1"""

  private val bm25Terms = Seq("spark", "merge", "vector", "customer")

  /** One term's BM25 contribution, k1=1.2 b=0.75 — parenthesization is
    * mirrored character-for-character in [[bm25Sql]]; change in lockstep.
    */
  private def bm25Contrib(tf: Column, df: Column, n: Column, dl: Column,
      avgdl: Column): Column =
    (((n - df).cast(DoubleType) + lit(0.5)) / (df.cast(DoubleType) + lit(0.5))) *
      ((tf.cast(DoubleType) * lit(2.2)) /
        (tf.cast(DoubleType) +
          (lit(1.2) * (lit(0.25) + (lit(0.75) * (dl.cast(DoubleType) / avgdl))))))

  private def bm25Fn: (SparkSession, String) => DataFrame = (s, d) => {
    val w = split(col("text"), " ")
    val base = Tables.documents(s, d).select(
      col("doc_id") +: size(w).as("dl") +:
        bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(w, x => x === lit(t))).as(s"tf$i") }: _*)
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sumdl") +:
        bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
      .withColumn("avgdl",
        col("sumdl").cast(DoubleType) / col("n").cast(DoubleType))
    val score = bm25Terms.indices.map(i =>
      bm25Contrib(col(s"tf$i"), col(s"df$i"), col("n"), col("dl"),
        col("avgdl"))).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** One term's BM25 contribution as SQL — the character-for-character
    * mirror of [[bm25Contrib]], shared by the x4f oracle (summed) and the
    * x3p hybrid oracle (per-term).
    */
  private def sqlBm25Contrib(i: Int): String =
    s"(((CAST(n - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5)) * " +
      s"((CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + " +
      s"(1.2 * (0.25 + (0.75 * (CAST(dl AS DOUBLE) / avgdl)))))))"

  /** The shared base/stats CTE text behind x4f and x3p: per-doc term
    * frequencies + the 1-row corpus statistics.
    */
  private def bm25BaseCtes: String = {
    val tfs = bm25Terms.zipWithIndex
      .map { case (t, i) => s"len(list_filter(w, x -> x = '$t')) AS tf$i" }
      .mkString(", ")
    val dfs = bm25Terms.indices
      .map(i => s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    s"""base AS (SELECT doc_id, len(w) AS dl, $tfs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl, $dfs,
        CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM base)"""
  }

  private def bm25Sql: String = {
    val contribs = bm25Terms.indices.map(sqlBm25Contrib).mkString(" + ")
    s"""WITH $bm25BaseCtes
      SELECT doc_id, $contribs AS score
      FROM base CROSS JOIN stats
      ORDER BY score DESC, doc_id LIMIT 10"""
  }

  /** x3p's oracle: lexical top-20 per term (single-term BM25, rank ties
    * by doc_id), vector top-20 per query vector (exact quantized cosine,
    * the ScoredCte device), full-outer RRF fusion at k=60, top-10. Every
    * floating intermediate is the identical expression text on both
    * sides, so ranks and the two-term RRF sum are IEEE-exact.
    */
  private def hybridRrfSql: String = {
    val lexArms = bm25Terms.indices.map(i =>
      s"""SELECT $i AS qid, doc_id, ${sqlBm25Contrib(i)} AS score
          FROM base CROSS JOIN stats WHERE tf$i > 0""").mkString(" UNION ALL ")
    s"""WITH $bm25BaseCtes,
      lex AS (SELECT qid, doc_id, row_number() OVER
          (PARTITION BY qid ORDER BY score DESC, doc_id) AS rl
        FROM ($lexArms)),
      e AS (SELECT vec_id, ${SimilarityQueries.sqlQuant("embedding")} AS qe FROM embeddings),
      q AS (SELECT CAST(vec_id AS INTEGER) AS qid, qe AS qemb FROM e WHERE vec_id < 4),
      vecr AS (SELECT qid, c.vec_id AS doc_id, row_number() OVER
          (PARTITION BY qid ORDER BY ${SimilarityQueries.sqlQcos("q.qemb", "c.qe")} DESC, c.vec_id) AS rv
        FROM q JOIN e c ON c.vec_id <> q.qid),
      lt AS (SELECT qid, doc_id, rl FROM lex WHERE rl <= 20),
      vt AS (SELECT qid, doc_id, rv FROM vecr WHERE rv <= 20),
      f AS (SELECT COALESCE(lt.qid, vt.qid) AS qid,
          COALESCE(lt.doc_id, vt.doc_id) AS doc_id,
          COALESCE(CAST(1 AS DOUBLE) / (60 + rl), CAST(0 AS DOUBLE))
            + COALESCE(CAST(1 AS DOUBLE) / (60 + rv), CAST(0 AS DOUBLE)) AS rrf
        FROM lt FULL OUTER JOIN vt ON lt.qid = vt.qid AND lt.doc_id = vt.doc_id)
      SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id, rrf FROM
        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank FROM f)
      WHERE rank <= 10"""
  }

  /** x3q's oracle: the BM25 lexical CTEs, the x3i PQ/scored chain (with
    * `label`), centroids → probes (queries 0..3) → IVF-pruned ADC →
    * 20-deep shortlist → exact rerank as the vector arm, and x3p's fusion
    * text verbatim — fused ranking ONLY. The brute-overlap audit lives in
    * HybridOverlapSpec, not here (r14: keeping it in the registered
    * output re-ran the O(corpus×queries) cross-join the query exists to
    * replace). Every floating intermediate is the identical expression
    * text the x3i and x3p oracles use, so ranks and RRF doubles are
    * exact.
    */
  private def hybridIvfPqSql: String = {
    val lexArms = bm25Terms.indices.map(i =>
      s"""SELECT $i AS qid, doc_id, ${sqlBm25Contrib(i)} AS score
          FROM base CROSS JOIN stats WHERE tf$i > 0""").mkString(" UNION ALL ")
    s"""WITH $bm25BaseCtes,
      ${SimilarityQueries.pqScoredWithLabelCteBody},
      cent AS (SELECT label AS cl, list(m ORDER BY pos) AS c_emb FROM (
          SELECT label, pos, CAST(round(avg(qe[pos])) AS BIGINT) AS m
          FROM e, generate_series(1, 64) AS g(pos) GROUP BY label, pos)
        GROUP BY label),
      probes AS (SELECT q_id, cl FROM (
          SELECT q.vec_id AS q_id, cent.cl,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${SimilarityQueries.sqlQcos("q.qe", "cent.c_emb")} DESC, cent.cl) AS pr
          FROM e q, cent WHERE q.vec_id < 4) WHERE pr <= 8),
      ivf AS (SELECT s.q_id, s.c_id, s.approx_cos FROM scored s
        JOIN e c ON c.vec_id = s.c_id
        JOIN probes p ON p.q_id = s.q_id AND p.cl = c.label),
      vshort AS (SELECT q_id, c_id FROM (
          SELECT q_id, c_id, row_number() OVER
            (PARTITION BY q_id ORDER BY approx_cos DESC, c_id) AS adc_rank FROM ivf)
        WHERE adc_rank <= 20),
      vrr AS (SELECT s.q_id, s.c_id, ${SimilarityQueries.sqlQcos("eq.qe", "ec.qe")} AS cos
        FROM vshort s JOIN e eq ON eq.vec_id = s.q_id
          JOIN e ec ON ec.vec_id = s.c_id),
      vt AS (SELECT CAST(q_id AS INTEGER) AS qid, c_id AS doc_id,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rv
        FROM vrr),
      lex AS (SELECT qid, doc_id, row_number() OVER
          (PARTITION BY qid ORDER BY score DESC, doc_id) AS rl
        FROM ($lexArms)),
      lt AS (SELECT qid, doc_id, rl FROM lex WHERE rl <= 20),
      f AS (SELECT COALESCE(lt.qid, vt.qid) AS qid,
          COALESCE(lt.doc_id, vt.doc_id) AS doc_id,
          COALESCE(CAST(1 AS DOUBLE) / (60 + rl), CAST(0 AS DOUBLE))
            + COALESCE(CAST(1 AS DOUBLE) / (60 + rv), CAST(0 AS DOUBLE)) AS rrf
        FROM lt FULL OUTER JOIN vt ON lt.qid = vt.qid AND lt.doc_id = vt.doc_id)
      SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id, rrf
      FROM (SELECT *, row_number() OVER
          (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank FROM f) t
      WHERE rank <= 10"""
  }
}
