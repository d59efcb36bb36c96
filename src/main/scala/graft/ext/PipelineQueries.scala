package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** Training-data pipeline mechanics beyond SURVEY §2.3's X-rows: the
  * split / pack / mixture operators every large-scale corpus build needs.
  * All assignments are deterministic arithmetic (a multiplicative-hash
  * bucket, not `rand()`), so runs are reproducible, re-runs of failed
  * partitions produce identical rows, and the DuckDB oracle reproduces
  * every assignment exactly.
  */
object PipelineQueries {

  /** THE deterministic split hash (multiplicative bucket of the stable doc
    * id, 100 buckets) — the single definition x6 splits and x7
    * decontamination both derive from; its DuckDB mirror is
    * `(doc_id * 2654435761) % 100` and must change in lockstep.
    */
  private[ext] def splitBucket = pmod(col("doc_id") * 2654435761L, lit(100L))

  def defs: Seq[Q] = Seq(
    // X6: stratified train/val/test split (80/10/10) via a deterministic
    // bucket hash of the stable doc id; per-(split, lang) counts prove the
    // stratification. At 100 TB this is a pure map — no shuffle at all
    // until the audit aggregation.
    Q("x6_split",
      (s, d) => Tables.documents(s, d)
        .withColumn("bucket", splitBucket)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total")),
      Some("""SELECT split, lang, count(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total FROM (
          SELECT *, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT *, (doc_id * 2654435761) % 100 AS b FROM documents))
        GROUP BY split, lang""".stripMargin)),

    // X6b: token-budget sequence packing — assign docs (in stable doc_id
    // order) to consecutive packs of ≤4096 whitespace tokens via a running
    // total; the streaming-packing formulation (contiguous, single pass)
    // rather than iterative bin-packing.
    //
    // The running total is a DISTRIBUTED prefix sum, not a global
    // Window.orderBy (which would funnel the whole corpus through one
    // task): range-partition by doc_id, per-partition running totals, and
    // a broadcast of the (tiny) per-partition offsets — identical result,
    // every stage parallel.
    Q("x6b_pack",
      (s, d) => Caching.pinned { pins =>
        // deterministic interpolated buckets (r14 review — see
        // [[RangeBuckets]]): this frame feeds the offset table AND the
        // join side; sampled range boundaries could diverge between them
        val toks = RangeBuckets.longKey(pins, Tables.documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok")),
          "doc_id", 8)
        val wOff = Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = toks.groupBy("pid").agg(sum(col("n_tok")).as("psum"))
          .withColumn("offset", coalesce(sum(col("psum")).over(wOff), lit(0L)))
          .select("pid", "offset") // ≤ #partitions rows — broadcastable
        val wLocal = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toks.join(broadcast(offsets), "pid")
          .withColumn("cum", sum(col("n_tok")).over(wLocal) + col("offset"))
          .withColumn("pack_id", floor((col("cum") - col("n_tok")) / 4096L))
          .groupBy("pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"))
          .filter(col("pack_id") < 10)
          .localCheckpoint() // ≤ 10 rows; eager so the pin can go
      },
      Some("""SELECT pack_id, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens FROM (
          SELECT doc_id, n_tok,
            CAST(floor((SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) / 4096.0) AS BIGINT) AS pack_id
          FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok FROM documents))
        WHERE pack_id < 10 GROUP BY pack_id""".stripMargin)),

    // X6c: source-mixture audit — the per-source sampling-rate table a
    // mixture-weighted corpus build starts from: doc share, token share,
    // and the deterministic subsample that a 50% quota on the largest
    // source would keep.
    Q("x6c_mixture",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tok"),
            splitBucket.as("bucket"))
        base.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("bucket") < 50, 1L).otherwise(0L)).as("n_kept_at_50pct"))
      },
      Some("""SELECT source, count(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN (doc_id * 2654435761) % 100 < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_at_50pct
        FROM (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok FROM documents)
        GROUP BY source""".stripMargin)),

    // X6d: deterministic stratified Bernoulli sampling — the reproducible
    // alternative to `rand() < p`: keep a doc iff the hex prefix of
    // md5(doc_id) falls under a per-stratum threshold. Re-running a failed
    // partition (or the whole job) selects the IDENTICAL sample, and the
    // rate is exact-in-expectation per stratum with no coordination.
    // At 100 TB this is a pure map-side filter — no shuffle, no state,
    // and the md5 is codegen'd per row; thresholds '4000'/'2000' out of
    // 0x10000 give 25% / 12.5% strata.
    Q("x6d_hash_sample",
      (s, d) => Tables.documents(s, d)
        .withColumn("h", substring(md5(col("doc_id").cast(StringType)), 1, 4))
        .withColumn("threshold",
          // substring to END of string (length Int.MaxValue), mirroring the
          // oracle's substr(source, 4) exactly — a fixed 10-char cap would
          // diverge on longer suffixes (ADVICE r06)
          when(substring(col("source"), 4, Int.MaxValue).cast(IntegerType) % 2 === 0,
            "4000").otherwise("2000"))
        .filter(col("h") < col("threshold"))
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
      Some("""SELECT doc_id, source, lang, n_chars FROM (
          SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h,
            CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
              THEN '4000' ELSE '2000' END AS threshold
          FROM documents)
        WHERE h < threshold""".stripMargin)),

    // X6f: per-source document cap — "at most k docs per domain", the
    // quota every web-corpus build applies so one giant domain can't
    // dominate the mixture. Selection is deterministic: each doc gets an
    // arithmetic LCG rank of its stable id (reproducible across runs and
    // engines — same reasoning as x6d's hash threshold), and the k
    // lowest-ranked docs per source survive.
    //
    // 100 TB posture: the row_number()-window formulation (the oracle)
    // sorts every group's full row set; here the bounded-heap top-k
    // Aggregator (q32b's kernel) carries AT MOST k (metric, id) pairs per
    // group through the map-side combine — the shuffle is k rows per
    // (source × input partition) instead of one row per document, and no
    // sort ever materializes. Negated rank turns the max-heap into the
    // k-smallest selection; ties (impossible here — the LCG is injective
    // below its modulus, but the contract matters for other metrics) break
    // toward the smaller doc_id on both sides.
    Q("x6f_group_cap",
      (s, d) => {
        val ranked = Tables.documents(s, d).select(col("source"), col("doc_id"),
          pmod(col("doc_id") * 1103515245L + 12345L, lit(2147483647L)).as("rank"))
        ranked.groupBy("source")
          .agg(graft.functions.Aggregators.top_k(5)(
            -col("rank"), col("doc_id")).as("kept"))
          .select(col("source"), explode(col("kept")).as("e"))
          .select(col("source"), col("e.id").as("doc_id"),
            (-col("e.metric")).as("rank"))
      },
      Some("""SELECT source, doc_id, rank FROM (
          SELECT source, doc_id, rank,
            row_number() OVER (PARTITION BY source ORDER BY rank, doc_id) AS rn
          FROM (SELECT source, doc_id,
                  (doc_id * 1103515245 + 12345) % 2147483647 AS rank
                FROM documents))
        WHERE rn <= 5""".stripMargin)),

    // X6e: RAG-style chunking — explode each document into overlapping
    // token windows (32 tokens, stride 24), carrying offsets so a chunk
    // maps back to its span. Pure flatMap (explode), zero shuffle; chunk
    // identity is the md5 of the joined tokens so downstream chunk-level
    // dedup/embedding joins have a stable key.
    Q("x6e_chunk",
      (s, d) => {
        val w = split(col("text"), " ")
        Tables.documents(s, d)
          .select(col("doc_id"), w.as("w"))
          .select(col("doc_id"), col("w"),
            explode(sequence(lit(1), size(col("w")), lit(24))).as("start_tok"))
          .select(
            col("doc_id"),
            ((col("start_tok") - 1) / 24 + 1).cast(LongType).as("chunk_idx"),
            col("start_tok").cast(LongType),
            least(lit(32), size(col("w")) - col("start_tok") + 1)
              .cast(LongType).as("n_tok"),
            md5(concat_ws(" ", slice(col("w"), col("start_tok"), lit(32))))
              .as("chunk_md5"))
      },
      Some("""SELECT doc_id,
          CAST((start_tok - 1) / 24 + 1 AS BIGINT) AS chunk_idx,
          CAST(start_tok AS BIGINT) AS start_tok,
          CAST(least(32, len(w) - start_tok + 1) AS BIGINT) AS n_tok,
          md5(array_to_string(list_slice(w, start_tok, start_tok + 31), ' ')) AS chunk_md5
        FROM (SELECT doc_id, string_split(text, ' ') AS w,
                unnest(generate_series(1, len(string_split(text, ' ')), 24)) AS start_tok
              FROM documents)""".stripMargin)),

    // X6g: byte-budget shard packing — assign docs, in stable doc_id
    // order, to export shards of ~10 KB (a doc starts a new shard when the
    // running total would cross the budget boundary; shard_id = start
    // offset DIV budget). The oracle computes the global running sum with
    // ONE window — a single-task plan at scale; the engine computes the
    // SAME sum as a two-phase distributed prefix sum: per-range-partition
    // local cumsums (parallel windows keyed by partition id), plus a
    // P-row offset table (the only serial step — P rows, not N) broadcast
    // back. Range partitioning preserves global doc_id order, so the
    // result is partition-count-invariant — sampling-dependent range
    // BOUNDARIES cannot change any cum value.
    Q("x6g_shard_pack",
      (s, d) => Caching.pinned { pins =>
        val budget = 10000L
        // deterministic interpolated buckets (r14 review — see
        // [[RangeBuckets]]); order-preserving, so the composition is
        // still partition-count- AND boundary-invariant
        val parts = RangeBuckets.longKey(pins, Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").cast(LongType).as("sz")),
          "doc_id", 8)
        val local = parts.withColumn("local_cum",
          sum(col("sz")).over(
            Window.partitionBy(col("pid")).orderBy(col("doc_id"))))
        val offsets = local.groupBy(col("pid")).agg(sum(col("sz")).as("ptotal"))
          .withColumn("offset",
            coalesce(sum(col("ptotal")).over(Window.orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("pid"), col("offset"))
        local.join(broadcast(offsets), Seq("pid"))
          .withColumn("cum", col("offset") + col("local_cum"))
          .select(col("doc_id"), col("sz"),
            expr(s"(cum - sz) DIV $budget").as("shard_id"))
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("sz")).as("shard_bytes"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .localCheckpoint() // one row per shard; eager so the pin can go
      },
      Some("""SELECT CAST((cum - sz) // 10000 AS BIGINT) AS shard_id, count(*) AS n_docs,
          CAST(SUM(sz) AS BIGINT) AS shard_bytes,
          min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM (SELECT doc_id, CAST(n_chars AS BIGINT) AS sz,
                SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum
              FROM documents)
        GROUP BY 1""".stripMargin)),

    // X6h: corpus snapshot diff — the incremental-build primitive: compare
    // two corpus versions by (doc_id, content digest) and classify every
    // doc added / removed / changed / unchanged. Only 32-byte digests and
    // ids cross the shuffle (bodies never move), a full-outer digest join
    // at corpus scale. Snapshots are derived deterministically from the
    // fixture: "old" lacks the doc_id%10==3 docs and carries a truncated
    // body for doc_id%10==7; "new" is the corpus as-is.
    Q("x6h_corpus_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val newS = docs.select(col("doc_id"), md5(col("text")).as("dg"))
        val oldS = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
          .select(col("doc_id"),
            md5(when(pmod(col("doc_id"), lit(10)) === 7,
              substring(col("text"), 1, 40)).otherwise(col("text"))).as("dg"))
        oldS.select(col("doc_id"), col("dg").as("old_dg"))
          .join(newS.select(col("doc_id"), col("dg").as("new_dg")),
            Seq("doc_id"), "full_outer")
          .select(
            when(col("old_dg").isNull, "added")
              .when(col("new_dg").isNull, "removed")
              .when(col("old_dg") =!= col("new_dg"), "changed")
              .otherwise("unchanged").as("change_type"))
          .groupBy("change_type").agg(count(lit(1)).as("n_docs"))
      },
      Some("""WITH news AS (SELECT doc_id, md5(text) AS new_dg FROM documents),
        olds AS (SELECT doc_id,
            md5(CASE WHEN doc_id % 10 = 7 THEN substr(text, 1, 40) ELSE text END) AS old_dg
          FROM documents WHERE doc_id % 10 <> 3)
        SELECT change_type, count(*) AS n_docs FROM (
          SELECT CASE WHEN old_dg IS NULL THEN 'added'
                      WHEN new_dg IS NULL THEN 'removed'
                      WHEN old_dg <> new_dg THEN 'changed'
                      ELSE 'unchanged' END AS change_type
          FROM olds FULL OUTER JOIN news USING (doc_id))
        GROUP BY 1""".stripMargin)),

    // X6i (r10): temperature-weighted source resampling — the standard
    // multi-source mixing step (multilingual / multi-domain corpora):
    // source s gets sampling weight w_s = floor(sqrt(src_tokens)) (the
    // T=2 temperature that upweights small sources), a token budget of
    // half the corpus is split across sources proportionally to w_s, and
    // each source keeps docs DETERMINISTICALLY via the x6d md5-threshold
    // device (re-runs select the identical sample; pure map-side filter
    // after a tiny broadcast of per-source thresholds).
    //
    // Engine-exactness: the threshold is pure INTEGER arithmetic —
    // floor(sqrt(BIGINT)) (sqrt is correctly rounded in IEEE, so floor is
    // engine-identical) then (65536 * budget * w) DIV (sum_w * src_tok),
    // capped at 65536 — no double summation whose order could flip a
    // boundary. The hex compare pads both sides to 5 chars so the
    // keep-everything cap (0x10000) orders correctly. The 65536*budget*w
    // product fits Long comfortably at fixture scale; a 100 TB corpus
    // (~1e13 tokens) would move this to DecimalType(38,0) — same plan
    // shape, declared.
    Q("x6i_temperature_mix",
      (s, d) => {
        val toks = Tables.documents(s, d).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        val totals = toks.groupBy("source")
          .agg(sum(col("n_tok")).as("src_tok"))
          .withColumn("w",
            floor(sqrt(col("src_tok").cast(DoubleType))).cast(LongType))
        val corpus = totals.agg(sum(col("src_tok")).as("corpus_tok"),
          sum(col("w")).as("sum_w"))
        val th = totals.crossJoin(broadcast(corpus)) // 1-row agg attach
          .withColumn("threshold", least(lit(65536L),
            expr("(65536 * (corpus_tok DIV 2) * w) DIV (sum_w * src_tok)")))
          .select("source", "threshold")
        toks.join(broadcast(th), Seq("source"))
          .where(lpad(substring(md5(col("doc_id").cast(StringType)), 1, 4), 5, "0")
            < lower(lpad(hex(col("threshold")), 5, "0")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("n_tok")).as("n_tok_kept"),
            max(col("threshold")).as("threshold"))
      },
      Some("""WITH toks AS (SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        totals AS (SELECT source, SUM(n_tok) AS src_tok,
            CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w
          FROM toks GROUP BY source),
        agg AS (SELECT SUM(src_tok) AS corpus_tok, SUM(w) AS sum_w FROM totals),
        th AS (SELECT source, CAST(LEAST(65536,
            (65536 * (corpus_tok // 2) * w) // (sum_w * src_tok)) AS BIGINT) AS threshold
          FROM totals, agg),
        kept AS (SELECT t.doc_id, t.source, t.n_tok, th.threshold
          FROM toks t JOIN th USING (source)
          WHERE lpad(substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4), 5, '0')
            < printf('%05x', th.threshold))
        SELECT source, count(*) AS n_docs_kept,
          CAST(SUM(n_tok) AS BIGINT) AS n_tok_kept,
          CAST(max(threshold) AS BIGINT) AS threshold
        FROM kept GROUP BY source""".stripMargin)),

    // X6j: dataset-card summary — the per-(source, lang) composition
    // report every released training corpus ships with (dataset cards /
    // datasheets): docs, token and char volume, quality-gate pass rate
    // (x4b's thresholds), all at FOUR granularities in ONE pass via CUBE
    // — per cell, per source, per lang, corpus-wide — with grouping()
    // flags disambiguating real NULL keys from rollup rows (q24e's
    // idiom). A single hash aggregate, map-side combined; no joins, no
    // second scan for the rollups — the 100 TB card costs one pass.
    Q("x6j_dataset_card",
      (s, d) => {
        val t = split(col("text"), " ")
        Tables.documents(s, d)
          .select(col("source"), col("lang"),
            size(t).cast(LongType).as("n_tok"),
            col("n_chars").cast(LongType).as("nc"),
            (size(t) >= 20 && size(array_distinct(t)) >= 10).as("passq"))
          .cube(col("source"), col("lang"))
          .agg(grouping(col("source")).as("g_source"),
            grouping(col("lang")).as("g_lang"),
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            sum(col("nc")).as("n_chars_total"),
            sum(when(col("passq"), 1L).otherwise(0L)).as("n_quality"),
            (sum(when(col("passq"), 1L).otherwise(0L)).cast(DoubleType) /
              count(lit(1)).cast(DoubleType)).as("quality_rate"))
      },
      Some("""SELECT source, lang,
        CAST(grouping(source) AS TINYINT) AS g_source,
        CAST(grouping(lang) AS TINYINT) AS g_lang,
        count(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 20
          AND len(list_distinct(string_split(text, ' '))) >= 10
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 20
          AND len(list_distinct(string_split(text, ' '))) >= 10
          THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS quality_rate
        FROM documents GROUP BY CUBE (source, lang)""".stripMargin)),

    // X6k (r10): deterministic global corpus shuffle — the training-data
    // ordering op every run needs (examples must arrive in a fixed
    // pseudo-random order, reproducible across re-runs, restarts, and
    // cluster sizes). Order = md5(seed ‖ doc_id): seeded, uniform, and a
    // new seed reshuffles the whole corpus with zero state. The GLOBAL
    // rank is the x6g two-phase device pointed at ordering instead of
    // byte budgets: range-partition by shuffle key (preserves global key
    // order), per-partition row_number (parallel windows), plus a P-row
    // broadcast count-offset table — never a single-task global window.
    // Ranks are provably partition-count-invariant (keys are unique, so
    // range boundaries cannot split a tie — PipelineShuffleSpec
    // machine-checks 8 vs 3 partitions); epoch_shard = (rank-1) DIV 64
    // gives the contiguous reader-shard assignment a data loader consumes.
    Q("x6k_corpus_shuffle",
      (s, d) => corpusShufflePlan(s, d, nPart = 8),
      Some("""SELECT doc_id, shuffle_key,
          CAST(row_number() OVER (ORDER BY shuffle_key) AS BIGINT) AS shuffle_rank,
          CAST((row_number() OVER (ORDER BY shuffle_key) - 1) // 64 AS BIGINT) AS epoch_shard
        FROM (SELECT doc_id,
                md5('graft-shuffle-42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
              FROM documents)""".stripMargin)),

    // X6l (r10): sequence-length bucketing — the padding-efficiency report
    // behind batch-shape planning: docs grouped into power-of-two token-
    // length buckets (the standard bucketed-batching scheme), per bucket
    // the doc count, real token volume, padded volume (docs × bucket cap)
    // and the padding waste a trainer would pay batching at that cap.
    // Buckets are a FIXED threshold CASE chain (not log2 — a float log at
    // an exact power-of-two boundary is not engine-stable), so every
    // number is integer-exact. One hash aggregate, map-side combined.
    Q("x6l_length_buckets",
      (s, d) => {
        val caps = Seq(32L, 64L, 128L, 256L, 512L, 1024L)
        val n = size(split(col("text"), " ")).cast(LongType)
        val cap = caps.reverse.foldLeft(lit(2048L)) { (acc, c) =>
          when(n <= c, lit(c)).otherwise(acc)
        }
        Tables.documents(s, d)
          .select(n.as("n_tok"), cap.as("bucket_cap"))
          .groupBy("bucket_cap")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("sum_tokens"))
          .select(col("bucket_cap"), col("n_docs"), col("sum_tokens"),
            (col("bucket_cap") * col("n_docs")).as("padded_tokens"),
            (col("bucket_cap") * col("n_docs") - col("sum_tokens"))
              .as("waste_tokens"))
      },
      Some("""SELECT bucket_cap, count(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
          CAST(bucket_cap * count(*) AS BIGINT) AS padded_tokens,
          CAST(bucket_cap * count(*) - SUM(n_tok) AS BIGINT) AS waste_tokens
        FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                CAST(CASE WHEN len(string_split(text, ' ')) <= 32 THEN 32
                  WHEN len(string_split(text, ' ')) <= 64 THEN 64
                  WHEN len(string_split(text, ' ')) <= 128 THEN 128
                  WHEN len(string_split(text, ' ')) <= 256 THEN 256
                  WHEN len(string_split(text, ' ')) <= 512 THEN 512
                  WHEN len(string_split(text, ' ')) <= 1024 THEN 1024
                  ELSE 2048 END AS BIGINT) AS bucket_cap
              FROM documents)
        GROUP BY bucket_cap""".stripMargin)),

    // X6m (r11): STRATIFIED train/val/test split manifest — exact 10%/10%
    // quotas per (lang, source) stratum, the eval-set-construction op
    // every training pipeline runs (proportional representation of every
    // language×source cell, not the whole-corpus coin flip of a naive
    // hash split, which starves small strata). Deterministic: docs rank
    // within their stratum by a seeded md5 order, the first ceil(n/10)
    // are val, the next ceil(n/10) test, the rest train — same manifest
    // on every run and both engines. Scale shape: the per-stratum rank is
    // the x6g/x6k two-phase DISTRIBUTED prefix sum — range partition by
    // (lang, source, hash) so a giant stratum SPANS partitions (never one
    // task), local row_number per (partition, stratum), then broadcast
    // P×S offset rows — no global or per-stratum single-task window
    // anywhere. The global rank is invariant to where the range
    // boundaries land (any contiguous split preserves offset+local), so
    // the manifest is partition-count independent. `sum_doc_id` is a
    // membership witness: the oracle match pins the exact ASSIGNMENT,
    // not just the per-split counts.
    Q("x6m_stratified_split",
      (s, d) => Caching.pinned { pins =>
        val seed = "graft-split-7:"
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("source"),
          md5(concat(lit(seed), col("doc_id").cast(StringType))).as("h"))
        val parts = docs.repartitionByRange(16, col("lang"), col("source"), col("h"))
          .withColumn("pid", spark_partition_id())
        // the ranked frame is checkpoint-PINNED: the offset table and the
        // final join must read the SAME range-partitioning instance, and
        // the previous guarantee — ReuseExchange evaluating the
        // repartitionByRange shuffle once across both subplans — is an
        // optimizer behavior, not an API contract (a Spark upgrade or AQE
        // change could silently split it into two reservoir-sampled
        // shuffles with different boundaries = duplicated/skipped ranks).
        // The checkpoint materializes the (pid, lrn) assignment once and
        // TRUNCATES LINEAGE, so a lost partition fails loudly instead of
        // recomputing under fresh sampled boundaries — which is also why
        // plain persist() was rejected: an evicted cached partition
        // silently re-runs the nondeterministic shuffle. 100 TB posture:
        // one corpus-sized materialization on executors, the standard
        // barrier for pinning a nondeterministic partitioning. The scope
        // releases the corpus-sized blocks once the S×3-row manifest below
        // is materialized.
        val local = pins.checkpoint(parts.withColumn("lrn", row_number().over(
          Window.partitionBy(col("pid"), col("lang"), col("source"))
            .orderBy(col("h"), col("doc_id")))))
        // per-(partition, stratum) counts feed BOTH the offset table and
        // the stratum sizes (a separate groupBy over `docs` was a third
        // full corpus scan for numbers this P×S-row frame already holds).
        // Pinned: the offset and size branches otherwise each
        // re-aggregate the checkpointed corpus — two corpus-wide passes
        // for a P×S-row frame; safe to pin because `local` itself is
        // pinned (caching between the offset table and the local ranks is
        // unsafe only over the UNPINNED nondeterministic shuffle).
        val counts = pins.checkpoint(local.groupBy("pid", "lang", "source")
          .agg(count(lit(1)).as("n")))
        val offs = counts
          .withColumn("offset", coalesce(sum(col("n")).over(
            Window.partitionBy(col("lang"), col("source")).orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("pid"), col("lang"), col("source"), col("offset"))
        val sizes = counts.groupBy("lang", "source")
          .agg(sum(col("n")).as("n_stratum"))
        local.join(broadcast(offs), Seq("pid", "lang", "source"))
          .withColumn("rk", col("offset") + col("lrn"))
          .join(broadcast(sizes), Seq("lang", "source"))
          .withColumn("vq", expr("(n_stratum + 9) DIV 10"))
          .withColumn("split", when(col("rk") <= col("vq"), "val")
            .when(col("rk") <= col("vq") * 2, "test")
            .otherwise("train"))
          .groupBy("lang", "source", "split")
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
          .localCheckpoint() // S×3 rows, materialized before release
      },
      Some("""WITH docs AS (SELECT doc_id, lang, source,
          md5('graft-split-7:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        ranked AS (SELECT *, row_number() OVER
            (PARTITION BY lang, source ORDER BY h, doc_id) AS rk,
          count(*) OVER (PARTITION BY lang, source) AS n_stratum FROM docs),
        sp AS (SELECT lang, source, doc_id,
          CASE WHEN rk <= (n_stratum + 9) // 10 THEN 'val'
               WHEN rk <= 2 * ((n_stratum + 9) // 10) THEN 'test'
               ELSE 'train' END AS split FROM ranked)
        SELECT lang, source, split, count(*) AS n_docs,
          CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM sp GROUP BY lang, source, split""".stripMargin)),

    // X6n (r12): TEMPERATURE-WEIGHTED mixture sampling — the data-MIXING
    // step between curation and training (the multilingual/multi-source
    // rebalancing of mBERT/XLM-R/Gopher: sample source s with probability
    // ∝ n_s^α, α = 0.5, so high-resource sources are down-weighted and
    // the tail is up-weighted relative to proportional sampling). A 20%
    // token budget (target = ⌊N/5⌋ docs) is apportioned across sources by
    // the EXACT largest-remainder method over INTEGER weights
    // iw_s = ⌊√(n_s·10⁶)⌋ — sqrt is one correctly-rounded IEEE op on an
    // exactly-representable integer, so the weight (and hence every
    // quota) is bit-identical across engines with no float-summation
    // hazard anywhere; quotas sum to the target EXACTLY, which a
    // per-row Bernoulli sampler cannot do. Sampling is WITH REPETITION:
    // a source whose quota exceeds its size cycles its docs (copies
    // differ by ≤ 1 within a source) — the epochs semantics temperature
    // sampling has in training practice (mT5/XLM-R run small languages
    // > 1 epoch), so the budget is met exactly even under extreme skew.
    // Selection within a source is
    // the deterministic seeded-hash order, ranked by the x6m two-phase
    // DISTRIBUTED prefix sum (range partition by (source, h) so a giant
    // source spans partitions — never a per-source single-task window;
    // ranked frame localCheckpoint-pinned for the same
    // nondeterministic-shuffle reason as x6m). The quota computation
    // itself runs on the |sources|-row frame — its window is a single
    // task over ~dozens of rows by design, a contract bounded at
    // |sources| ≲ 10⁵ (see the window-site comment for what changes
    // past it). `sum_doc_id` is the
    // membership witness: the oracle pins the exact sampled SET, not
    // just per-source counts.
    Q("x6n_temperature_mix",
      (s, d) => Caching.pinned { pins =>
        val seed = "graft-mix-11:"
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
          md5(concat(lit(seed), col("doc_id").cast(StringType))).as("h"))
        val parts = docs.repartitionByRange(16, col("source"), col("h"))
          .withColumn("pid", spark_partition_id())
        // pinned as in x6m: released after the |sources|-row manifest
        // materializes
        val local = pins.checkpoint(parts.withColumn("lrn", row_number().over(
          Window.partitionBy(col("pid"), col("source"))
            .orderBy(col("h"), col("doc_id")))))
        // P×S rows, pinned: offsets, per-source totals, weights, and
        // quotas all derive from this tiny frame — without the pin each
        // branch re-aggregates the checkpointed corpus (four corpus-wide
        // passes)
        val counts = pins.checkpoint(local.groupBy("pid", "source")
          .agg(count(lit(1)).as("n")))
        val offs = counts
          .withColumn("offset", coalesce(sum(col("n")).over(
            Window.partitionBy(col("source")).orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("pid"), col("source"), col("offset"))
        val src = counts.groupBy("source").agg(sum(col("n")).as("n_source"))
        val w = src.withColumn("iw",
          floor(sqrt((col("n_source") * 1000000L).cast(DoubleType))).cast(LongType))
        val tot = w.agg(sum(col("iw")).as("wsum"),
          expr("sum(n_source) DIV 5").as("target"))
        val ap = w.crossJoin(broadcast(tot))
          .withColumn("base", expr("target * iw DIV wsum"))
          .withColumn("rem", expr("target * iw % wsum"))
        val lef = ap.agg((first(col("target")) - sum(col("base"))).as("leftover"))
        // CONTRACT (r13, VERDICT r12 #5): this unpartitioned window (and
        // the Window.partitionBy(source) ranks feeding it) is a SINGLE
        // task over the |sources|-row quota frame — by design while
        // |sources| stays ≲ 10⁵ rows (source/language granularity, the
        // operator's declared domain). Past that — per-DOMAIN mixing with
        // millions of strata — the quota frame itself becomes corpus-like
        // and the largest-remainder rank must route through the same x6g
        // two-phase prefix-sum device the doc ranks above already use.
        val quotas = ap.crossJoin(broadcast(lef))
          .withColumn("rrank", row_number().over(
            Window.orderBy(col("rem").desc, col("source"))))
          .withColumn("quota",
            col("base") + when(col("rrank") <= col("leftover"), 1L).otherwise(0L))
          .select(col("source"), col("n_source"), col("iw").as("weight"),
            col("quota"))
        // WITH REPETITION: an up-weighted source whose quota exceeds its
        // size repeats docs cyclically in seeded-hash order — copies
        // differ by at most 1 across a source (quota DIV n, +1 for the
        // first quota % n ranks). This is the epochs face of temperature
        // sampling (the mT5/XLM-R practice: small languages run > 1
        // epoch), found by TemperatureMixSpec's skew case — a 1-doc
        // source with quota 11 must contribute 11 sampled rows, not 1,
        // or the budget silently under-fills. For quota < n the formula
        // degenerates to the plain rank cutoff (DIV = 0, % = quota).
        val sel = local.join(broadcast(offs), Seq("pid", "source"))
          .withColumn("rk", col("offset") + col("lrn"))
          .join(broadcast(quotas.select(col("source"), col("n_source"),
            col("quota"))), Seq("source"))
          .withColumn("copies", expr("quota DIV n_source") +
            when(col("rk") <= col("quota") % col("n_source"), 1L).otherwise(0L))
        val agg = sel.groupBy("source")
          .agg(sum(col("copies")).as("n_sampled"),
            sum(col("doc_id") * col("copies")).as("sum_doc_id"))
        quotas.join(agg, Seq("source"), "left")
          .select(col("source"), col("n_source"), col("weight"), col("quota"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
            coalesce(col("sum_doc_id"), lit(0L)).as("sum_doc_id"))
          .localCheckpoint() // |sources| rows, materialized before release
      },
      Some("""WITH docs AS (SELECT doc_id, source,
          md5('graft-mix-11:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
          FROM docs GROUP BY source),
        w AS (SELECT source, n_source,
            CAST(floor(sqrt(CAST(n_source * 1000000 AS DOUBLE))) AS BIGINT) AS iw
          FROM src),
        tot AS (SELECT CAST(SUM(iw) AS BIGINT) AS wsum,
            CAST(SUM(n_source) // 5 AS BIGINT) AS target FROM w),
        ap AS (SELECT source, n_source, iw,
            CAST(target * iw // wsum AS BIGINT) AS base,
            CAST(target * iw % wsum AS BIGINT) AS rem, target
          FROM w, tot),
        lef AS (SELECT CAST(MAX(target) - SUM(base) AS BIGINT) AS leftover FROM ap),
        q AS (SELECT source, n_source, iw AS weight,
            CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
              <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
          FROM ap, lef),
        ranked AS (SELECT d.source, d.doc_id, row_number() OVER
            (PARTITION BY d.source ORDER BY d.h, d.doc_id) AS rk FROM docs d),
        sel AS (SELECT r.source, r.doc_id,
            CAST(q.quota // q.n_source
              + CASE WHEN r.rk <= q.quota % q.n_source THEN 1 ELSE 0 END
              AS BIGINT) AS copies
          FROM ranked r JOIN q ON q.source = r.source)
        SELECT q.source, q.n_source, q.weight, q.quota,
          CAST(COALESCE(SUM(sel.copies), 0) AS BIGINT) AS n_sampled,
          CAST(COALESCE(SUM(sel.doc_id * sel.copies), 0) AS BIGINT) AS sum_doc_id
        FROM q LEFT JOIN sel ON sel.source = q.source
        GROUP BY q.source, q.n_source, q.weight, q.quota""".stripMargin)),

    // X10: the END-TO-END training-data pipeline as ONE composed lineage
    // — exact dedup → verbatim-8-gram decontamination → quality filter →
    // token-budget packing → byte-budget sharding — proving the operators
    // COMPOSE: one pass over the corpus, the distributed two-budget prefix
    // sum shared by pack and shard, pin hygiene via Caching.pinned
    // (RegistrySpec's leak audit covers this query like every other), and
    // a DuckDB FULL-REPLAY oracle that re-derives every stage from
    // scratch.
    //
    // Stage semantics (each inherits its standalone query's contract):
    //   1. x1-style exact dedup — one representative (min doc_id) per
    //      distinct text;
    //   2. x7-style decontamination on the SURVIVORS — train docs
    //      (bucket < 80) sharing any 8-gram with the eval split
    //      (bucket >= 90) are dropped; <8-token docs have no grams and
    //      pass through;
    //   3. x4b's quality gate — >= 20 tokens and >= 10 distinct types;
    //   4. x6b token packing (4096/pack) and 5. x6g byte sharding
    //      (10 KB/shard) over the same survivor order, both cumsums from
    //      ONE distributed prefix-sum pass (range partition + P-row
    //      offset broadcast — never a global single-task window).
    Q("x10_pipeline_e2e",
      (s, d) => Caching.pinned(pins => pipelineE2ePlan(pins, s, d).localCheckpoint()),
      Some(x10OracleSql)),

    // X10b (r10 session 2): INCREMENTAL corpus rebuild — the composition a
    // production pipeline actually re-runs nightly: x6h's snapshot diff
    // classifies every doc against the previous build ("old" = the same
    // deterministic derivation as x6h: %10==3 docs absent, %10==7 bodies
    // truncated), the added/changed docs become the increment BATCH, the
    // unchanged docs are the standing INDEX, and the batch flows through
    // the SAME x2h increment plan (digest join for exact, MinHash+LSH over
    // distinct texts for near, first-arrival-wins inside the batch). The
    // 100 TB posture is x2h's: only the batch pays signature work — the
    // index artifacts are yesterday's build output. Per-doc output keeps
    // the diff class AND the dedup verdict; the oracle re-derives diff +
    // brute-force jaccard from scratch, so both stages AND their
    // composition are hash-gated.
    Q("x10b_incremental_rebuild",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
        val newS = docs.select(col("doc_id"), col("text"),
          md5(col("text")).as("dig"))
        val oldS = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
          .select(col("doc_id"),
            md5(when(pmod(col("doc_id"), lit(10)) === 7,
              substring(col("text"), 1, 40)).otherwise(col("text"))).as("old_dg"))
        // not pinned: the diff join is cheap to recompute, and a pin
        // serialized the downstream consumers behind one materialization
        val classified = newS.join(oldS, Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"), col("dig"),
            when(col("old_dg").isNull, "added")
              .when(col("old_dg") =!= col("dig"), "changed")
              .otherwise("unchanged").as("change_type"))
        val batch = classified.filter(col("change_type") =!= "unchanged")
          .select("doc_id", "text", "dig")
        val (indexDigs, iBuckets, shIdx) =
          DedupQueries.indexArtifacts(
            classified.filter(col("change_type") === "unchanged")
              .select("doc_id", "text", "dig"))
        DedupQueries.incrementVerdictPlan(batch, indexDigs, iBuckets, shIdx)
          .join(classified.select("doc_id", "change_type"), "doc_id")
          .select(col("doc_id"), col("change_type"),
            col("dup_of_index"), col("dup_in_batch"), col("verdict"))
      },
      Some("""WITH t AS (SELECT doc_id, text, md5(text) AS dig,
            string_split(text, ' ') AS w FROM documents),
        olds AS (SELECT doc_id,
            md5(CASE WHEN doc_id % 10 = 7 THEN substr(text, 1, 40) ELSE text END) AS old_dg
          FROM documents WHERE doc_id % 10 <> 3),
        cls AS (SELECT t.doc_id, t.text, t.dig, t.w,
            CASE WHEN o.old_dg IS NULL THEN 'added'
                 WHEN o.old_dg <> t.dig THEN 'changed'
                 ELSE 'unchanged' END AS change_type
          FROM t LEFT JOIN olds o USING (doc_id)),
        sets AS (SELECT doc_id, dig, change_type, CASE WHEN len(w) >= 3
            THEN list_distinct(list_transform(generate_series(1, len(w)-2),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
            ELSE [text] END sh FROM cls),
        bat AS (SELECT doc_id, dig, change_type, sh FROM sets
          WHERE change_type <> 'unchanged'),
        idx AS (SELECT doc_id, dig, sh FROM sets WHERE change_type = 'unchanged'),
        xdup AS (SELECT DISTINCT b.doc_id FROM bat b JOIN idx i
          ON len(list_intersect(b.sh, i.sh))::DOUBLE /
             (len(b.sh) + len(i.sh) - len(list_intersect(b.sh, i.sh))) >= 0.8),
        bdup AS (SELECT DISTINCT x.doc_id FROM bat x JOIN bat y
          ON y.doc_id < x.doc_id
          AND len(list_intersect(x.sh, y.sh))::DOUBLE /
              (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8)
        SELECT b.doc_id, b.change_type,
          (xd.doc_id IS NOT NULL) AS dup_of_index,
          (bd.doc_id IS NOT NULL) AS dup_in_batch,
          CASE WHEN xd.doc_id IS NOT NULL THEN 'dup_index'
               WHEN bd.doc_id IS NOT NULL THEN 'dup_batch'
               ELSE 'new' END AS verdict
        FROM bat b LEFT JOIN xdup xd ON b.doc_id = xd.doc_id
          LEFT JOIN bdup bd ON b.doc_id = bd.doc_id""".stripMargin))
  )

  /** The x6k shuffle-rank plan, parameterized on the range-partition count
    * so PipelineShuffleSpec can machine-check that ranks are
    * partition-count-invariant (the registered query uses nPart = 8).
    */
  private[graft] def corpusShufflePlan(s: org.apache.spark.sql.SparkSession,
      d: String, nPart: Int): org.apache.spark.sql.DataFrame = {
    val seed = "graft-shuffle-42:"
    val keyed = Tables.documents(s, d).select(col("doc_id"),
      md5(concat(lit(seed), col("doc_id").cast(StringType))).as("shuffle_key"))
    // deterministic hex-interpolated buckets (r14 review — see
    // [[RangeBuckets]]): pid is a pure function of the md5 key, so the
    // offset table and the join side cannot disagree on boundaries
    val parts = RangeBuckets.hexKey(keyed, "shuffle_key", nPart)
    val local = parts.withColumn("local_rn",
      row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("shuffle_key"))))
    val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), Seq("pid"))
      .select(col("doc_id"), col("shuffle_key"),
        (col("offset") + col("local_rn")).cast(LongType).as("shuffle_rank"))
      .withColumn("epoch_shard", expr("(shuffle_rank - 1) DIV 64"))
  }

  /** The x10 LAZY plan over frames pinned in the caller's `pins`,
    * package-private so PlanSpec can audit the real join shapes (the
    * registered query returns an eager localCheckpoint whose physical plan
    * is just the checkpoint scan) — same convention as `minhashPairsPlan`
    * / `embedLshPairsPlan`.
    */
  private[graft] def pipelineE2ePlan(pins: Caching.Pins,
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
        val docs = Tables.documents(s, d)
        val reps = docs
          .groupBy(md5(col("text")).as("dig"))
          .agg(min(struct(col("doc_id"), col("text"), col("n_chars"))).as("r"))
          .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
            col("r.n_chars").as("n_chars"))
        // read by grams AND the clean-side anti-join
        val surv = pins.checkpoint(reps
          .withColumn("bucket", splitBucket)
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), col("bucket"), col("w"),
            col("n_chars").cast(LongType).as("sz")))
        // gram identity = window_md5 digest, the x7 design (distinct
        // strings => distinct digests; only membership leaves the stage)
        // (read by the eval side AND the train probe)
        val grams = pins.checkpoint(surv.where(size(col("w")) >= 8)
          .select(col("doc_id"), col("bucket"),
            explode(graft.functions.Kernels.window_md5(col("w"), 8)).as("gram")))
        val evalG = grams.where(col("bucket") >= 90).select("gram").distinct()
        val contaminated = grams.where(col("bucket") < 80)
          .join(broadcast(evalG), Seq("gram"))
          .select("doc_id").distinct()
        val quality = surv.where(col("bucket") < 80)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .withColumn("n_tok", size(col("w")).cast(LongType))
          .where(col("n_tok") >= 20 && size(array_distinct(col("w"))) >= 10)
          .select(col("doc_id"), col("n_tok"), col("sz"))
        // deterministic interpolated buckets (r14 review — see
        // [[RangeBuckets]]): this frame feeds the offset table AND the
        // join side; sampled boundaries could diverge between them
        val parts = RangeBuckets.longKey(pins, quality, "doc_id", 8)
        val wLocal = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
        val local = parts
          .withColumn("ltok", sum(col("n_tok")).over(wLocal))
          .withColumn("lsz", sum(col("sz")).over(wLocal))
        val wOff = Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = local.groupBy("pid")
          .agg(sum(col("n_tok")).as("ptok"), sum(col("sz")).as("psz"))
          .withColumn("otok", coalesce(sum(col("ptok")).over(wOff), lit(0L)))
          .withColumn("osz", coalesce(sum(col("psz")).over(wOff), lit(0L)))
          .select("pid", "otok", "osz") // <= #partitions rows
        local.join(broadcast(offsets), Seq("pid"))
          .withColumn("cumtok", col("ltok") + col("otok"))
          .withColumn("cumsz", col("lsz") + col("osz"))
          .withColumn("pack_id",
            floor((col("cumtok") - col("n_tok")) / lit(4096L)))
          .withColumn("shard_id", expr("(cumsz - sz) DIV 10000"))
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("pack_id")).as("n_packs"),
            sum(col("n_tok")).as("shard_tokens"),
            sum(col("sz")).as("shard_bytes"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
  }

  private def x10OracleSql: String =
    """WITH reps AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        surv AS (SELECT d.doc_id, (d.doc_id * 2654435761) % 100 AS bucket,
            string_split(d.text, ' ') AS w, CAST(d.n_chars AS BIGINT) AS sz
          FROM documents d JOIN reps USING (doc_id)),
        g AS (SELECT doc_id, bucket, array_to_string(w[i:i+7], ' ') AS gram
          FROM surv, unnest(range(1, len(w) - 6)) AS t(i) WHERE len(w) >= 8),
        ev AS (SELECT DISTINCT gram FROM g WHERE bucket >= 90),
        dirty AS (SELECT DISTINCT doc_id FROM g
          WHERE bucket < 80 AND gram IN (SELECT gram FROM ev)),
        quality AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok, sz FROM surv
          WHERE bucket < 80 AND doc_id NOT IN (SELECT doc_id FROM dirty)
            AND len(w) >= 20 AND len(list_distinct(w)) >= 10),
        cum AS (SELECT doc_id, n_tok, sz,
            SUM(n_tok) OVER (ORDER BY doc_id) AS cumtok,
            SUM(sz) OVER (ORDER BY doc_id) AS cumsz FROM quality),
        packed AS (SELECT doc_id, n_tok, sz,
            CAST(floor((cumtok - n_tok) / 4096.0) AS BIGINT) AS pack_id,
            CAST((cumsz - sz) // 10000 AS BIGINT) AS shard_id FROM cum)
        SELECT shard_id, count(*) AS n_docs,
          count(DISTINCT pack_id) AS n_packs,
          CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
          CAST(SUM(sz) AS BIGINT) AS shard_bytes,
          min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM packed GROUP BY shard_id""".stripMargin
}
