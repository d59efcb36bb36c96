package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** SURVEY §2.3 X1/X2: exact + near deduplication over `documents` — the
  * training-data-pipeline operators (exact hash dedup, MinHash+LSH, SimHash,
  * n-gram Jaccard), each designed shuffle-parallel for 100 TB:
  *
  *   - exact dedup groups by a text digest, never shuffling document bodies;
  *   - MinHash signatures are computed via explode + map-side partial min
  *     aggregation (no per-row O(k·|shingles|) recomputation), candidates
  *     come from LSH band buckets (an equi-join, never an all-pairs
  *     product), and only candidates are verified exactly;
  *   - SimHash pairs come from a 4-chunk pigeonhole band join (exact for
  *     Hamming ≤ 3 by construction);
  *   - the corpus vocabulary is ~31 tokens (FIXTURES.md), so unigram sets
  *     are non-discriminative; all near-dup ops shingle at the 3-token /
  *     char-12-gram level, where planted near-dups sit at Jaccard ≥ 0.97
  *     against a ≤ 0.3 background.
  */
object DedupQueries {

  /** 3-token shingles, distinct, as a set column (shared with
    * [[DecontamQueries]]'s fuzzy-contamination scrub so the two can never
    * disagree on what a shingle is).
    */
  private[ext] def shingleSet(w: Column): Column =
    when(size(w) >= 3,
      array_distinct(transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
      .otherwise(array_distinct(array(concat_ws(" ", w))))

  /** Fixture tables arrive as one parquet file ⇒ one input partition; the
    * shingling/hashing map side would run single-threaded without an
    * explicit fan-out (at real scale the source already has thousands of
    * splits and this repartition is a no-op to remove).
    */
  private[ext] def docShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      // tokens are ALIASED in their own projection so the shingle lambda
      // references an attribute: passing the raw `split(...)` expression
      // into shingleSet embeds it at every reference site INCLUDING the
      // lambda body, and every shingle then re-tokenizes the whole
      // document (the window_md5 scaladoc pathology — here shingles must
      // stay raw strings for the MinHash kernel, so the fix is the alias).
      // CollapseProject keeps the split projection: the alias is non-cheap
      // and referenced more than once (pinned in PlanSpec).
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), shingleSet(col("w")).as("sh"))

  /** Eager lineage truncation for iterative plans: a RELIABLE checkpoint
    * when the session has a checkpoint dir configured (survives executor
    * loss / dynamic allocation on a real cluster — the 100 TB path), else
    * an executor-local pin of `pins` (right for local bench;
    * non-recoverable by design).
    */
  private def truncate(pins: Caching.Pins, df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else pins.checkpoint(df)

  /** Exact set Jaccard from two distinct-element array columns. */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast(DoubleType) / (size(a) + size(b) - inter).cast(DoubleType)
  }

  private val MinhashK = 64 // permutations
  // 16 bands × 4 rows: at the background shingle-Jaccard (≤0.3) a pair
  // collides in some band with P ≈ 1-(1-j^4)^16 ≈ 12% (2-row bands would
  // collide at ~95%, degenerating candidate generation to brute force);
  // at the planted-dup level (j ≥ 0.97) P[miss] ≈ 1e-17.
  private val Bands = 16
  private val Rows = 4

  /** MinHash signature per doc — the codegen-native per-row kernel
    * ([[graft.functions.MinHashSig]]): each shingle string is hashed once,
    * the k permutations derive by re-hashing the fixed-width long with the
    * permutation index, and the elementwise min accumulates in a tight
    * loop. (The classic affine `a_i·h + b_i mod 2^64` family needs
    * wrapping multiply, which ANSI mode rejects.) Signatures never touch a
    * shuffle: the LSH band join downstream is the first exchange — one
    * stage less than [[minhashSigsAgg]], whose bit-identical output
    * KernelSpec pins.
    */
  private def minhashSigs(sh: DataFrame): DataFrame = sigsOf(sh)

  /** The pure-DataFrame formulation the kernel replaced (and the parity
    * baseline KernelSpec checks it against): explode shingles, hash each
    * string once, derive the k permutations per exploded row, combine with
    * one elementwise-min partial agg — map-side combine, only k longs per
    * doc cross the shuffle. Still the right shape where a custom
    * Expression is off the table.
    */
  private[graft] def minhashSigsAgg(sh: DataFrame): DataFrame = {
    val hashed = sh
      // hash each shingle string exactly once (explode of the hashed array;
      // an attribute below the generator cannot be inlined into the
      // per-permutation lambda)
      .select(col("doc_id"), explode(transform(col("sh"), x => xxhash64(x))).as("h"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(MinhashK - 1)),
          i => xxhash64(col("h"), i)).as("hs"))
    hashed.groupBy("doc_id")
      .agg(graft.functions.Aggregators.elementwise_min(MinhashK)(col("hs")).as("sig"))
  }

  /** [[docShingles]] exposed for KernelSpec's kernel-vs-agg parity check. */
  private[graft] def shinglesFor(s: SparkSession, d: String): DataFrame =
    docShingles(s, d)

  /** (doc_id, band, key) LSH band buckets of a (doc_id, sig) frame —
    * shared by the self-join candidates here and the train×eval cross
    * candidates in [[DecontamQueries]].
    */
  private[ext] def lshBuckets(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * Rows + 1, Rows), lit(b)).as("key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** [[minhashSigs]] with every non-`sh` column passed through (the kernel
    * is a per-row expression, so this stays a pure select) — lets ext
    * collaborators carry labels like the split bucket alongside the
    * signature without a re-join.
    */
  private[ext] def sigsOf(sh: DataFrame): DataFrame =
    sh.select(sh.columns.filterNot(_ == "sh").map(col) :+
      graft.functions.Kernels.minhash_sig(col("sh"), MinhashK).as("sig"): _*)

  /** Candidate pairs (a < b) colliding in ≥ 2 of the 16 bands: at the
    * background similarity (j ≤ 0.3) that cuts candidates ~18× vs ≥ 1 band
    * (P: 0.7% vs 12%), while at the planted-dup level (j ≥ 0.97, per-band
    * p = j⁴ ≈ 0.89) P[< 2 collisions] ≈ 1e-15 — exact verification cost
    * collapses with no recall loss in the data's similarity gap.
    */
  private def lshCandidates(sigs: DataFrame): DataFrame = {
    val buckets = lshBuckets(sigs)
    buckets.as("x").join(buckets.as("y"), Seq("band", "key"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      .select("a", "b")
  }

  /** Brute-force verified pairs at threshold τ over a pair source. */
  private[ext] def verifyPairs(cand: DataFrame, sets: DataFrame, tau: Double): DataFrame = {
    val la = sets.select(col("doc_id").as("a"), col("sh").as("sha"))
    val lb = sets.select(col("doc_id").as("b"), col("sh").as("shb"))
    cand.join(la, "a").join(lb, "b")
      .select(col("a"), col("b"), jaccard(col("sha"), col("shb")).as("j"))
      .filter(col("j") >= tau)
  }

  /** 64-bit SimHash (per bit, sign of Σ±1 votes) — the codegen-native
    * per-row kernel ([[graft.functions.SimHashSig]]); like [[minhashSigs]],
    * signatures never cross a shuffle. KernelSpec pins bit-equality with
    * [[simhashAgg]].
    */
  private def simhash(s: SparkSession, d: String): DataFrame =
    docShingles(s, d).select(col("doc_id"),
      graft.functions.Kernels.simhash_sig(col("sh")).as("sim"))

  /** The pure-DataFrame SimHash the kernel replaced (KernelSpec's parity
    * baseline): explode shingle hashes, 64 vote-sum columns with map-side
    * combine, pack sign bits.
    */
  private[graft] def simhashAgg(sh: DataFrame): DataFrame = {
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    // vote_i = +1 if bit i of h set else -1; aggregate votes, then pack sign bits
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$i"))
    val agged = exploded.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val packed = (0 until 64).map(i =>
      when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    agged.select(col("doc_id"), packed.as("sim"))
  }

  private def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The LAZY MinHash+LSH verified-pair plan over frames pinned in the
    * caller's scope. Exposed package-private so PlanSpec can audit the
    * un-checkpointed plan shape (no cartesian product) — the registered
    * query materializes it eagerly and frees the pins before returning.
    *
    * EXACT-DUP COLLAPSE runs in front (the mega-cluster defense):
    * identical texts — the dominant duplicate shape in crawl corpora,
    * where ONE cluster can hold most of the corpus — all land in the same
    * LSH band bucket, and the candidate self-join then reads O(cluster²)
    * rows in a single shuffle task. Collapsing to one representative per
    * distinct text first bounds every band bucket by the DISTINCT-text
    * count; member pairs are reconstituted afterwards (intra-group pairs
    * at j = 1.0 exactly — identical shingle sets; cross-group pairs
    * inherit their representatives' j — every member shingles identically
    * to its representative), so the result is bit-identical to running
    * LSH over the raw corpus while no task ever reads a quadratic input.
    * SkewDedupSpec drives this with an 80%-duplicate corpus and asserts
    * the per-task shuffle-read bound.
    */
  /** Shared exact-dup-collapsed LSH state: per-doc (dig, doc_id)
    * membership, per-digest representative (dig, rep), the pinned
    * representative shingles, and the rep-level verified near-dup pairs.
    */
  private final case class CollapsedLsh(membership: DataFrame,
      repOf: DataFrame, shReps: DataFrame, repPairs: DataFrame)

  private def collapsedLsh(pins: Caching.Pins, s: SparkSession, d: String): CollapsedLsh = {
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      // 128-bit md5 as the group identity, NOT xxhash64 (ADVICE r08): at
      // billions of docs a 64-bit digest has expected birthday collisions
      // (n²/2^65), and a collision here silently merges two DIFFERENT
      // texts into one "identical" group — false j=1.0 pairs, merged
      // components. 128 bits puts that below 10^-18 at 10^10 docs. Same
      // digest family as x1's exact dedup.
      .select(col("doc_id"), md5(col("text")).as("dig"), col("text"))
    // one representative per distinct text: min (doc_id, text) struct —
    // the text rides the agg, so no re-join against the corpus
    val reps = docs.groupBy("dig")
      .agg(min(struct(col("doc_id"), col("text"))).as("r"))
      .select(col("dig"), col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    val shReps = pins.checkpoint(reps
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), shingleSet(col("w")).as("sh")))
    val repPairs = verifyPairs(lshCandidates(minhashSigs(shReps)), shReps, 0.8)
    // membership ((digest, doc_id) per doc) sits on every reconstruction
    // path — clique pairs, cross expansion, star edges — and is re-joined
    // up to four times per query; pinned so the corpus scan + md5 run
    // once. repOf reads it instead of re-scanning the corpus: the
    // representative IS the group's min doc_id (reps take the
    // min-(doc_id, text) struct), so a membership-side min-agg is
    // provably the same frame.
    val membership = pins.checkpoint(docs.select(col("dig"), col("doc_id")))
    val repOf = membership.groupBy("dig").agg(min(col("doc_id")).as("rep"))
    CollapsedLsh(membership, repOf, shReps, repPairs)
  }

  private[graft] def minhashPairsPlan(pins: Caching.Pins, s: SparkSession,
      d: String): DataFrame = {
    val c = collapsedLsh(pins, s, d)
    val membership = c.membership
    // clique pairs inside each identical-text group: j is exactly 1.0
    // (identical shingle sets), matching what the brute-force oracle
    // computes for them. Enumerating the clique is the declared OUTPUT —
    // quadratic rows are written, but only O(group) rows are read per task.
    val internal = membership.as("x").join(membership.as("y"), "dig")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        lit(1.0).as("j"))
    // near-dup pairs between DIFFERENT texts, expanded to all members of
    // both groups (equi-joins on digest — never a product)
    val cross = c.repPairs
      .select(col("a").as("ra"), col("b").as("rb"), col("j"))
      .join(membership.select(col("doc_id").as("ra"), col("dig").as("diga")), "ra")
      .join(membership.select(col("doc_id").as("rb"), col("dig").as("digb")), "rb")
      .join(membership.select(col("dig").as("diga"), col("doc_id").as("ma")), "diga")
      .join(membership.select(col("dig").as("digb"), col("doc_id").as("mb")), "digb")
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"), col("j"))
    internal.unionByName(cross)
  }

  /** Connectivity-equivalent near-dup edge list (u, v) — LINEAR in corpus
    * size where the full pair list is quadratic in cluster size: inside an
    * identical-text group a STAR to the group representative carries
    * exactly the group's connectivity (the clique adds no reachability),
    * and similarity between different texts is a representative-level
    * property, so rep pairs need no member expansion. Connected components
    * over these edges equal components over the full pair set — x2d/x2f
    * consume this; x2, whose declared OUTPUT is the pair list itself,
    * enumerates the cliques via [[minhashPairsPlan]].
    */
  private[graft] def minhashComponentEdges(pins: Caching.Pins, s: SparkSession,
      d: String): DataFrame = {
    val c = collapsedLsh(pins, s, d)
    val star = c.membership.join(c.repOf, "dig")
      .where(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("u"), col("rep").as("v"))
    val cross = c.repPairs.select(col("a").as("u"), col("b").as("v"))
    star.unionByName(cross)
  }

  /** The x2h corpus split: docs with their 128-bit digest and the x6/x7
    * split-hash index membership.
    */
  private def x2hDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"),
        (PipelineQueries.splitBucket < 80).as("in_index"),
        md5(col("text")).as("dig"))

  /** The x2h batch side: (doc_id, text, dig) for the non-index docs. */
  private[graft] def x2hBatch(s: SparkSession, d: String): DataFrame =
    x2hDocs(s, d).filter(!col("in_index"))
      .select(col("doc_id"), col("text"), col("dig"))

  /** The x2h index side: (doc_id, text, dig) for the index docs. The
    * registered query derives its artifacts inline; ScaleBench
    * materializes them to parquet ONCE and then times increments that
    * only load them (the production shape: the index is an on-disk
    * asset).
    */
  private[graft] def x2hIndex(s: SparkSession, d: String): DataFrame =
    x2hDocs(s, d).filter(col("in_index"))
      .select(col("doc_id"), col("text"), col("dig"))

  /** x2k's positional window frame over a `(doc_id, tok)` frame: ALL
    * 8-token windows with start positions (`dedup = false` keeps document
    * order, so posexplode's pos IS the 0-based window start), then ONE
    * hash-partitioning by the window hash so both downstream consumers
    * (hot counts + coverage join) are exchange-free — without it the
    * window frame, the corpus's biggest, crosses the wire twice.
    */
  private[graft] def scrubWindows(docs: DataFrame, parallelism: Int): DataFrame =
    docs
      .repartition(parallelism) // explode width
      .select(col("doc_id"), posexplode(
        graft.functions.Kernels.window_md5(col("tok"), 8, dedup = false)))
      .toDF("doc_id", "p", "h")
      .repartition(col("h"))

  /** The hot set: distinct window hashes seen in ≥ 2 documents —
    * vocabulary-sized, not corpus-sized, but NOT assumed broadcastable (a
    * crawl's boilerplate set is every nav bar × every site); it joins
    * back by shuffle on the key the count aggregation just partitioned
    * by, and AQE demotes to broadcast when a corpus's hot set is small.
    */
  private[graft] def hotWindows(wins: DataFrame): DataFrame =
    wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("docs_with"))
      .filter(col("docs_with") > 1).select("h")

  /** The rebuild: hot-window START positions fold sorted per doc (no 8×
    * position explode), then the one-pass `scrub_tokens` merge-scan
    * kernel drops covered tokens — O(tokens + windows) per doc where the
    * HOF filter+array_contains form is O(tokens × covered positions),
    * quadratic on a long mostly-boilerplate crawl doc. Shared by x2k
    * (hot set from the same corpus) and q52v (hot set frozen from the
    * standing corpus, arriving docs scrubbed against it).
    */
  private[graft] def scrubAgainst(docs: DataFrame, wins: DataFrame,
      hot: DataFrame): DataFrame = {
    val bad = wins.join(hot, Seq("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("starts"))
    docs.join(bad, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("tok")).cast(LongType).as("n_tokens"),
        graft.functions.Kernels.scrub_tokens(col("tok"),
          coalesce(col("starts"), typedLit(Seq.empty[Int])), 8)
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("scrubbed_md5"))
  }

  /** The scrub replay — window → hot → coverage → rebuild derived
    * independently (an indexed list rewrite, not the kernel's merge
    * scan), so every scrubbed document's md5 is hash-gated. Shared
    * verbatim by q52v: the streamed corpus IS the standing corpus, so
    * scrub-at-ingest against the frozen hot index must emit the same
    * rows as the batch scrub.
    */
  private[graft] val ScrubOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
          FROM documents),
        wins AS (SELECT doc_id, unnest(list_transform(
              generate_series(1, len(w) - 7),
              i -> {'p': i - 1,
                    'h': md5(array_to_string(list_slice(w, i, i + 7), ' '))}),
            recursive := true)
          FROM t WHERE len(w) >= 8),
        hot AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS dw
            FROM wins GROUP BY h) WHERE dw > 1),
        bad AS (SELECT doc_id,
            list_distinct(flatten(list(list_transform(
              generate_series(0, 7), k -> p + k)))) AS bp
          FROM wins JOIN hot USING (h) GROUP BY doc_id),
        scrub AS (SELECT t.doc_id, t.w,
            list_filter(list_transform(generate_series(1, len(t.w)),
              i -> CASE WHEN b.bp IS NULL OR NOT list_contains(b.bp, i - 1)
                THEN t.w[i] END), x -> x IS NOT NULL) AS kept
          FROM t LEFT JOIN bad b USING (doc_id))
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
          CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
          md5(coalesce(array_to_string(kept, ' '), '')) AS scrubbed_md5
        FROM scrub""".stripMargin

  /** The index artifacts `(indexDigs(dig), iBuckets(band, key, idig),
    * shIdx(b, shb))` of ANY index frame `(doc_id, text, dig)`: x2h's
    * split-hash index, x10b's unchanged snapshot docs, the eval split of
    * x10c. For a plan that reads them in one action: nothing is pinned.
    */
  private[graft] def indexArtifacts(index: DataFrame): (DataFrame, DataFrame, DataFrame) =
    indexArtifactsOver(index, indexShingles(index))

  /** [[indexArtifacts]] over index shingles pinned in `pins`, for callers
    * that read the artifacts in many actions: a stream's every batch,
    * ScaleBench's three parquet writes.
    */
  private[graft] def indexArtifactsFrom(pins: Caching.Pins, index: DataFrame)
      : (DataFrame, DataFrame, DataFrame) =
    indexArtifactsOver(index, pins.checkpoint(indexShingles(index)))

  /** One shingle set per distinct index text, keyed by its digest. */
  private def indexShingles(index: DataFrame): DataFrame =
    index.groupBy("dig")
      .agg(min(struct(col("doc_id"), col("text"))).as("r"))
      .select(col("dig").as("doc_id"), split(col("r.text"), " ").as("w"))
      .select(col("doc_id"), shingleSet(col("w")).as("sh"))

  private def indexArtifactsOver(index: DataFrame, shI: DataFrame)
      : (DataFrame, DataFrame, DataFrame) =
    (index.select("dig").distinct(),
      lshBuckets(sigsOf(shI)).withColumnRenamed("doc_id", "idig"),
      shI.select(col("doc_id").as("b"), col("sh").as("shb")))

  /** Per-micro-batch decontamination verdict against a STATIC eval index
    * (the q52e streaming face of x7): batch docs `(doc_id, text, dig)` →
    * per-doc `contaminated` = exists an eval doc with shingle-Jaccard
    * ≥ 0.8. STATELESS — contamination is a property of (doc, index)
    * alone, so unlike dedup-at-ingest (q52d) no state store is needed:
    * per-batch cost is O(batch + collisions) regardless of stream
    * history. Identical texts collapse to one signature computation per
    * distinct batch text (the x2h pattern); exact eval copies need no
    * separate digest join — identical shingle sets collide in every band
    * and verify at Jaccard 1.0. The eval side arrives as the precomputed
    * `(iBuckets, shIdx)` artifacts of [[indexArtifactsFrom]]. One action
    * reads the plan per batch, so it pins nothing in the caller's `pins`.
    */
  private[graft] def streamDecontamPlan(pins: Caching.Pins, batch: DataFrame,
      iBuckets: DataFrame, shIdx: DataFrame): DataFrame = {
    val bGroups = batch.groupBy("dig")
      .agg(min(struct(col("doc_id"), col("text"))).as("r"))
      .select(col("dig"), col("r.text").as("text"))
    val shB = bGroups
      .select(col("dig").as("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), shingleSet(col("w")).as("sh"))
    val bB = lshBuckets(sigsOf(shB))
    val crossCand = bB.as("x").join(iBuckets.as("y"), Seq("band", "key"))
      .groupBy(col("x.doc_id").as("a"), col("idig").as("b"))
      .agg(count(lit(1)).as("n_bands")).filter(col("n_bands") >= 2)
      .select("a", "b")
    val contaminatedDigs = crossCand
      .join(shB.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(shIdx, "b")
      .filter(jaccard(col("sha"), col("shb")) >= 0.8)
      .select(col("a").as("dig")).distinct()
    batch.select(col("doc_id"), col("dig"))
      .join(contaminatedDigs.withColumn("contaminated", lit(true)), Seq("dig"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** The x2h INCREMENT stage, parameterized on the index artifacts —
    * `batch(doc_id, text, dig)`, `indexDigs(dig)`, `iBuckets(band, key,
    * idig)`, `shIdx(b, shb)` (index shingle sets keyed by text digest) —
    * so the registered query (which derives the artifacts from the same
    * table) and ScaleBench's real-increment measurement (which loads them
    * PRECOMPUTED from parquet, the production deployment: yesterday's
    * index is an asset on disk, only the batch pays signature work per
    * increment) run the IDENTICAL verdict plan. Returns the lazy verdict
    * frame.
    *
    * Verdict semantics (see the x2h registration scaladoc): exact dups on
    * the 128-bit digest join; near (j ≥ 0.8) via MinHash+LSH over distinct
    * texts, batch buckets probing index buckets at the ≥ 2-band cutoff;
    * dup_index ≻ dup_batch ≻ new with first-arrival-wins in the batch.
    */
  private[graft] def incrementVerdictPlan(batch: DataFrame,
      indexDigs: DataFrame, iBuckets: DataFrame, shIdx: DataFrame): DataFrame = {
    // one row per distinct batch text: group min doc_id (the
    // first-arrival representative) + the text for shingling
    val bGroups = batch.groupBy("dig")
      .agg(min(col("doc_id")).as("gmin"),
        min(struct(col("doc_id"), col("text"))).as("r"))
      .select(col("dig"), col("gmin"), col("r.text").as("text"))
    // near-dup stage: LSH over distinct texts (dig as the key; the
    // sig/bucket helpers key on a "doc_id" column, so alias)
    val shB = bGroups
      .select(col("dig").as("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), shingleSet(col("w")).as("sh"))
    val bB = lshBuckets(sigsOf(shB))
    // batch×index candidates colliding in ≥ 2 bands (x2's cutoff),
    // verified by exact Jaccard — never an all-pairs product
    val crossCand = bB.as("x").join(iBuckets.as("y"), Seq("band", "key"))
      .groupBy(col("x.doc_id").as("a"), col("idig").as("b"))
      .agg(count(lit(1)).as("n_bands")).filter(col("n_bands") >= 2)
      .select("a", "b")
    val crossVer = crossCand
      .join(shB.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(shIdx, "b")
      .filter(jaccard(col("sha"), col("shb")) >= 0.8)
      .select(col("a").as("dig")).distinct()
    // batch×batch candidates (a < b on the digest — just pair dedup;
    // arrival order is resolved per-MEMBER below via group minima)
    val batchCand = bB.as("x").join(bB.as("y"), Seq("band", "key"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_bands")).filter(col("n_bands") >= 2)
      .select("a", "b")
    val batchVer = batchCand
      .join(shB.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(shB.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .filter(jaccard(col("sha"), col("shb")) >= 0.8)
      .select("a", "b")
    // per batch GROUP: the smallest first-arrival id among near-dup
    // PARTNER groups — "exists earlier near-dup member" becomes one
    // min comparison per doc (groups are near-dup-symmetric: every
    // member shingles identically to its representative)
    val gm = bGroups.select(col("dig"), col("gmin"))
    val partnerMin = batchVer
      .join(gm.select(col("dig").as("b"), col("gmin").as("pm")), "b")
      .select(col("a").as("dig"), col("pm"))
      .unionByName(batchVer
        .join(gm.select(col("dig").as("a"), col("gmin").as("pm")), "a")
        .select(col("b").as("dig"), col("pm")))
      .groupBy("dig").agg(min(col("pm")).as("min_partner"))
    // verdict assembly: left joins of per-GROUP flags onto the
    // batch members (flag frames are near-dup-group-sized — tiny
    // relative to the corpus — and every join is an equi-join)
    batch.select(col("doc_id"), col("dig"))
      .join(indexDigs.withColumn("exact_idx", lit(true)), Seq("dig"), "left")
      .join(crossVer.withColumn("near_idx", lit(true)), Seq("dig"), "left")
      .join(gm, "dig")
      .join(partnerMin, Seq("dig"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_idx"), col("near_idx"), lit(false)).as("dup_of_index"),
        (col("doc_id") > col("gmin") ||
          coalesce(col("min_partner") < col("doc_id"), lit(false)))
          .as("dup_in_batch"))
      .withColumn("verdict",
        when(col("dup_of_index"), "dup_index")
          .when(col("dup_in_batch"), "dup_batch")
          .otherwise("new"))
  }

  /** SimHash pigeonhole LSH pairs at Hamming ≤ 3 over a (doc_id, sim)
    * frame: any two signatures within Hamming 3 agree EXACTLY on ≥ 1 of
    * the 4 16-bit chunks (4 chunks, ≤ 3 differing bits — pigeonhole), so
    * the chunk equi-join is a lossless candidate generator, verified by
    * the cheap per-pair bit_count. Shared by the registered x2b query and
    * LshAuditSpec's brute-force equality proof.
    */
  private[ext] def simhashLshPairs(sh: DataFrame): DataFrame = {
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("chunk"), shiftright(col("sim"), c * 16).bitwiseAND(0xffffL).as("key")))
    val buckets = sh.select(col("doc_id"), col("sim"), explode(array(chunks: _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.chunk").as("chunk"), col("bk.key").as("key"))
    // force a SHUFFLE join for the self-join: both sides then plan the
    // IDENTICAL (chunk, key) exchange and ReuseExchange computes the
    // simhash kernel ONCE (AQE's broadcast pick evaluated the kernel twice
    // — and broadcasting a corpus-sized bucket table is wrong at scale
    // anyway; the tuples crossing the shuffle are 4×28 bytes per doc,
    // bodies never move)
    buckets.as("x").join(buckets.as("y").hint("shuffle_hash"), Seq("chunk", "key"))
      .where(col("x.doc_id") < col("y.doc_id") &&
        hamming(col("x.sim"), col("y.sim")) <= 3)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
  }

  /** [[simhash]] exposed for LshAuditSpec. */
  private[ext] def simhashFor(s: SparkSession, d: String): DataFrame = simhash(s, d)

  /** Lazy SimHash LSH≡brute-force equality plan over a simhash frame
    * pinned in `pins` — the pigeonhole-exactness proof, driven by
    * LshAuditSpec (the registered x2b carries only the LSH half; benching
    * the all-pairs side would measure the oracle, not the engine).
    */
  private[graft] def simhashEqualityPlan(pins: Caching.Pins, s: SparkSession,
      d: String): DataFrame = {
    val sh = pins.checkpoint(simhash(s, d))
    val lsh = simhashLshPairs(sh)
    val bf = sh.as("p").join(sh.as("q"), col("p.doc_id") < col("q.doc_id"))
      .where(hamming(col("p.sim"), col("q.sim")) <= 3)
      .select(col("p.doc_id").as("a"), col("q.doc_id").as("b"))
    val only = lsh.exceptAll(bf).unionAll(bf.exceptAll(lsh))
    only.agg((count(lit(1)) === 0).as("lsh_equals_bruteforce"),
      lit(3).as("hamming_threshold"))
      // non-vacuity: the equality must hold over a NON-empty pair set
      // (profiled: 12 pairs ≤ Hamming 3 at sf0.01)
      .crossJoin(bf.agg((count(lit(1)) > 0).as("found_pairs")))
  }

  /** Min-label propagation over the connectivity-equivalent near-dup
    * edges to a DETECTED fixed point → per-doc (doc_id, label) with label
    * = the component's minimum doc_id. Shared by x2d (keep/drop verdict)
    * and x2i (quality-aware representative selection) so the two can
    * never disagree on what a cluster is.
    *
    * The edge set is computed ONCE and materialized — without this the
    * final plan re-embeds the whole MinHash/LSH/verify subplan per
    * propagation round and lineage doubles per iteration (r01's worst
    * bench entry). Edges come from the connectivity-equivalent builder
    * (r08): a star per identical-text group + rep-level near-dup pairs —
    * LINEAR in corpus size even when one duplicate cluster holds 80% of
    * the docs (SkewDedupSpec), with identical components to the full
    * quadratic pair set. Iterates to a DETECTED fixed point (cap = 8 ⇒
    * diameter 8; the oracle's transitive closure fails the gate if the
    * cap ever binds short of convergence — and x2f's star contraction is
    * the O(log n)-round answer for genuinely deep graphs). Convergence
    * certificate: labels only ever DECREASE (min over a superset
    * including self) and the doc count is fixed, so equal label sums
    * between rounds ⇔ identical labelings — one cheap agg over the
    * materialized labels instead of an exceptAll shuffle.
    */
  /** Fixed-point rounds of the LAST [[minLabelComponents]] run — bench
    * diagnostics (VERDICT r10 #4): x2d's wall time is dominated by the
    * propagation fixed point, so round-over-round regressions need this
    * counter to tell "the corpus shape added a round" from box noise.
    * Emitted by Bench as `x2d_fixed_point_rounds`.
    */
  private[graft] val lastPropagationRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private def minLabelComponents(pins: Caching.Pins, s: SparkSession,
      d: String): DataFrame = {
    val base = Caching.pinned(ep => truncate(pins, minhashComponentEdges(ep, s, d)))
    val edges = base.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(base.select(col("v").as("src"), col("u").as("dst")))
    var lab = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("label"))
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("label"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0) // sum over zero rows is NULL
    }
    var prevSum = labelSum(lab)
    var converged = false
    var round = 0
    while (!converged && round < 8) {
      val viaNeighbor = edges
        .join(lab.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("label"))
      val next = truncate(pins, lab.unionByName(viaNeighbor)
        .groupBy("doc_id").agg(min(col("label")).as("label")))
        // truncate lineage each round: keeps every round's plan a
        // constant-size join over materialized labels instead of a
        // tree that doubles per iteration (reliable checkpoint when a
        // dir is configured — see truncate())
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      pins.release(lab) // next is materialized; round 0's lab is no pin
      lab = next
      round += 1
    }
    lastPropagationRounds.set(round)
    lab
  }

  /** The shared transitive-closure ground truth CTE prefix (x2d / x2f /
    * x2i oracles): brute-force j ≥ 0.8 pairs → recursive reachability →
    * per-doc component = min reachable doc_id.
    */
  private val ComponentsCte: String =
    """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') w, text FROM documents),
      sets AS (SELECT doc_id, CASE WHEN len(w) >= 3
        THEN list_distinct(list_transform(generate_series(1, len(w)-2),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        ELSE [text] END sh FROM t),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM sets x JOIN sets y ON x.doc_id < y.doc_id
        WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
          (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8),
      edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
      reach AS (
        SELECT doc_id AS v, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS v, reach.r FROM reach JOIN edges e ON e.src = reach.v),
      comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v)"""

  /** X2l core over an arbitrary (doc_id, text) frame so ContainmentSpec
    * can plant the pairs the fixture only has by accident. A row
    * (a, b, c) asserts c = |W(a) ∩ W(b)| / |W(a)| ≥ 0.9 over the docs'
    * distinct 8-token window sets — ASYMMETRIC subset detection (a quote
    * or wire story carried inside a longer article), the direction
    * Jaccard near-dup (x2c) structurally misses: a 20-token doc fully
    * contained in a 200-token doc has Jaccard ≈ 0.1 and containment 1.0.
    *
    * Scale shape — PPJoin-family PREFIX FILTERING (Chaudhuri et al. 2006;
    * Xiao et al. 2008), not bands: c ≥ τ ⇔ misses ≤ na − ceil(τ·na), so
    * if the (na − ceil(τ·na) + 1) SMALLEST windows of A (any canonical
    * total order — the sorted digest order here) all miss B, containment
    * is impossible. Candidates therefore come from an EQUI-JOIN of A's
    * prefix windows against the full inverted index — per doc the probe
    * side carries ~(1−τ)·|W| ≈ 10% of its windows, and a window's
    * candidate fan-out is its document frequency, never all-pairs. Exact
    * merge-scan verify on candidates only; exact-dup collapse in front
    * (identical texts share every window — the x2/x2b defense), so
    * emitted pairs are REPRESENTATIVE-level. Integer arithmetic end to
    * end in the bound (ceil(9·na/10) = (9·na+9) div 10) — no float
    * prefix-length edge.
    */
  private[ext] def containmentPairs(docs: DataFrame): DataFrame = {
    val sets = containmentSets(docs)
    containmentVerified(sets, containmentCandidates(sets))
  }

  /** The x2l stages, exposed so the 30× gate can COUNT the prefix-filter
    * economics instead of asserting them and pin what its counts share:
    * `containmentSets` = one row per representative with its sorted
    * window-digest array `g` and its size `na`; `containmentPrefix` = the
    * probe side, the (na − ceil(0.9·na) + 1) smallest windows per doc
    * (the ~10% claim under measure); `containmentCandidates` = the
    * distinct pairs out of the inverted-index equi-join;
    * `containmentVerified` = the c ≥ 0.9 pairs among them.
    */
  private[graft] def containmentSets(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("dig"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
      .select(col("doc_id"),
        array_sort(graft.functions.Kernels
          .window_md5(split(col("text"), " "), 8)).as("g"))
      .where(size(col("g")) >= 1)
      .withColumn("na", size(col("g")))

  private[graft] def containmentPrefix(sets: DataFrame): DataFrame =
    sets.select(col("doc_id").as("a"), col("na"),
      explode(slice(col("g"), lit(1),
        col("na") - expr("(na * 9 + 9) div 10") + lit(1))).as("h"))

  private[graft] def containmentCandidates(sets: DataFrame): DataFrame = {
    val idx = sets.select(col("doc_id").as("b"), col("na").as("nb"),
      explode(col("g")).as("h"))
    containmentPrefix(sets).join(idx, Seq("h"))
      // nb ≥ ceil(0.9·na) ⇔ 10·nb ≥ 9·na (integers): B too small to hold
      // A's windows can't contain — pruned before the verify join
      .where(col("a") =!= col("b") && col("nb") * 10 >= col("na") * 9)
      .select("a", "b").distinct()
  }

  private[graft] def containmentVerified(sets: DataFrame, cand: DataFrame): DataFrame = {
    val ga = sets.select(col("doc_id").as("a"), col("g").as("ga"), col("na"))
    val gb = sets.select(col("doc_id").as("b"), col("g").as("gb"))
    cand.join(ga, Seq("a")).join(gb, Seq("b"))
      .withColumn("inter", graft.functions.Kernels
        .sorted_intersect_size(col("ga"), col("gb")))
      .select(col("a"), col("b"),
        (col("inter").cast(DoubleType) / col("na").cast(DoubleType)).as("c"))
      .filter(col("c") >= 0.9)
  }

  def defs: Seq[Q] = Seq(
    // X1: exact dedup — group by text digest (documents bodies never
    // shuffle at scale; only the 32-byte digest + doc_id do). The fixture
    // has no exact duplicates, so every group has n_copies = 1 — asserted
    // by the oracle, not assumed.
    Q("x1_dedup_exact",
      (s, d) => Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_copies"))
        .groupBy("n_copies").agg(count(lit(1)).as("n_groups"),
          min(col("rep_doc")).as("min_rep")),
      Some("""SELECT n_copies, count(*) AS n_groups, min(rep_doc) AS min_rep FROM
        (SELECT md5(text) AS text_md5, min(doc_id) AS rep_doc, count(*) AS n_copies
         FROM documents GROUP BY md5(text)) GROUP BY n_copies""".stripMargin)),

    // X1b: subset-dedup with deterministic representative — keep the
    // earliest doc per (lang, source) slot (dropDuplicates semantics made
    // order-stable via window row_number).
    Q("x1b_dedup_subset",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("lang", "source", "doc_id", "n_chars")
      },
      Some("""SELECT lang, source, doc_id, n_chars FROM
        (SELECT lang, source, doc_id, n_chars,
           row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
         FROM documents) WHERE rn = 1""".stripMargin)),

    // X2: MinHash+LSH near-dedup — banded candidates, exact verification at
    // τ=0.8. The oracle brute-forces all pairs in DuckDB, so this checks
    // LSH *recall* end-to-end, not just the verifier.
    Q("x2_dedup_minhash",
      (s, d) => {
        // One shingling pass feeds BOTH the signature and the verify side
        // (recomputing it doubled the dominant map cost). The pair result
        // is tiny (near-dup pairs only), so it is materialized eagerly
        // (localCheckpoint) and the big pinned shingle frame is released
        // before returning — pinned blocks must not outlive the query in
        // a long-lived session (leaked storage degraded later unrelated
        // queries).
        Caching.pinned(pins => minhashPairsPlan(pins, s, d).localCheckpoint())
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') w, text FROM documents),
        sets AS (SELECT doc_id, CASE WHEN len(w) >= 3
          THEN list_distinct(list_transform(generate_series(1, len(w)-2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
          ELSE [text] END sh FROM t)
        SELECT x.doc_id AS a, y.doc_id AS b,
          len(list_intersect(x.sh, y.sh))::DOUBLE /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS j
        FROM sets x JOIN sets y ON x.doc_id < y.doc_id
        WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8""".stripMargin)),

    // X2d: dedup completion — near-dup PAIRS (from the MinHash path) →
    // connected COMPONENTS → per-doc keep/drop verdict. Min-label
    // propagation over the pair edges, 4 rounds of join + min-agg (the
    // fixture's duplicate clusters are cliques, diameter 1; 4 rounds
    // covers diameter 4 — at real scale swap in large-star/small-star for
    // logarithmic convergence). The oracle computes the full transitive
    // closure with a recursive CTE, so the propagation must actually have
    // converged for the hash to match.
    Q("x2d_dedup_components",
      (s, d) => Caching.pinned { pins =>
        minLabelComponents(pins, s, d)
          .select(col("doc_id"), col("label").as("component"),
            (col("doc_id") === col("label")).as("keep"))
          .localCheckpoint() // one row per doc; eager so the pins can go
      },
      Some(s"""$ComponentsCte
        SELECT doc_id, component, doc_id = component AS keep FROM comp""".stripMargin)),

    // X2f: connected components by ALTERNATING LARGE-STAR/SMALL-STAR
    // contraction (Kiveris et al., "Connected Components in MapReduce and
    // Beyond") — the production-scale CC x2d's comment points at: where
    // min-label propagation needs O(diameter) rounds, star contraction
    // converges in O(log n) rounds on any graph, each round two
    // groupBy-min joins over the (tiny) edge list. Same near-dup edges and
    // same recursive-CTE transitive-closure oracle as x2d, so BOTH
    // iteration schemes are proven against the same ground truth.
    //
    //   large-star: per node u, m = min(N(u) ∪ {u}); edges (v, m) for
    //     every neighbor v > u — strictly-larger neighbors re-hang off the
    //     local minimum;
    //   small-star: orient edges large→small; per node u,
    //     m = min(N⁻(u) ∪ {u}); edges (v, m) for v ∈ N⁻(u) ∪ {u} — the
    //     star flattens onto its minimum.
    //
    // Fixed point = disjoint stars centered at component minima; labels
    // read off as min(self, neighbors). Convergence is DETECTED (edge-set
    // equality), not assumed — the loop exits early the round nothing
    // changes; localCheckpoint truncates lineage per round as in x2d.
    Q("x2f_cc_star",
      (s, d) => Caching.pinned { pins =>
        // same connectivity-equivalent edges as x2d (the mega-cluster
        // defense): star per identical-text group + rep-level pairs
        val pairs =
          Caching.pinned(ep => truncate(pins, minhashComponentEdges(ep, s, d)))

        def largeStar(e: DataFrame): DataFrame = {
          val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
          val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
            .select(col("u"), least(col("mv"), col("u")).as("m"))
          sym.join(m, "u").where(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .where(col("u") =!= col("v")).distinct()
        }
        def smallStar(e: DataFrame): DataFrame = {
          val oriented = e.select(greatest(col("u"), col("v")).as("u"),
            least(col("u"), col("v")).as("v"))
          val m = oriented.groupBy("u").agg(min(col("v")).as("m"))
          val rehung = oriented.join(m, "u")
            .select(col("v").as("u"), col("m").as("v"))
          val center = m.select(col("u"), col("m").as("v"))
          rehung.unionByName(center)
            .where(col("u") =!= col("v")).distinct()
        }

        // convergence certificate: (edge count, XOR of per-edge xxhash64) —
        // one agg per round instead of two exceptAll shuffles (bit_xor is
        // order-independent and cannot overflow under ANSI). Star edge
        // sets are not monotone, so this is a fingerprint, not a proof: a
        // false "converged" needs the hashes of the symmetric difference
        // of two consecutive equal-size edge sets to XOR to zero (~2^-64,
        // and deterministic for given data — it cannot flake, only be
        // wrong once per dataset, which the transitive-closure oracle
        // would catch at the gate)
        def sig(e: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        var edges = pairs
        var prevSig = sig(edges)
        var converged = false
        var round = 0
        while (!converged && round < 6) {
          val next = truncate(pins, smallStar(largeStar(edges)))
          val nextSig = sig(next)
          converged = nextSig == prevSig
          prevSig = nextSig
          pins.release(edges) // next is materialized
          edges = next
          round += 1
        }

        val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
        val neighborMin = sym.groupBy("u").agg(min(col("v")).as("nmin"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(neighborMin.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("doc_id"), coalesce(col("nmin"), col("doc_id"))).as("component"))
          .withColumn("keep", col("doc_id") === col("component"))
          .localCheckpoint() // one row per doc; eager so the pins can go
      },
      // identical ground truth to x2d: full transitive closure
      Some(s"""$ComponentsCte
        SELECT doc_id, component, doc_id = component AS keep FROM comp""".stripMargin)),

    // X2b: SimHash near-dedup — pigeonhole band join (4×16-bit chunks ⇒
    // exact for Hamming ≤ 3). The registered plan is LSH-ONLY (no
    // all-pairs join anywhere — pinned in PlanSpec's cartesian audit);
    // the LSH ≡ brute-force equality that used to ride inside this query
    // is proven in LshAuditSpec via [[simhashEqualityPlan]]. Signatures
    // are xxhash64-derived, which DuckDB cannot replay, so the oracle
    // checks an invariant that is a THEOREM on any fixture, not a profile
    // (ADVICE r07 — the old `found_pairs` was true only on fixtures that
    // happen to contain Hamming≤3 pairs): identical text ⇒ identical
    // SimHash ⇒ Hamming 0 ≤ 3 ⇒ the pigeonhole bands MUST emit the pair.
    // So `lsh_covers_exact_dupes` ≡ (no exact-duplicate texts ∨ LSH
    // emitted a known-duplicate pair) is vacuously true on dupe-free
    // corpora and catches a real LSH regression on any corpus with
    // duplicates (SkewDedupSpec drives the 80 %-duplicate case).
    Q("x2b_dedup_simhash",
      (s, d) => Caching.pinned { pins =>
        // exact-dup collapse in front (r08, same defense as x2): SimHash
        // runs over DISTINCT texts only — identical texts share every
        // 16-bit chunk, so a mega-duplicate cluster would otherwise put
        // its whole clique into one bucket task AND pay the signature
        // kernel per copy. The covers theorem is checked THROUGH the band
        // join itself (ADVICE r08: a membership-only witness was a
        // tautology — both sides derived from the same frame): the SECOND
        // member of one duplicate group is injected into the signature
        // frame carrying its representative's signature (identical text ⇒
        // identical SimHash), and the check demands the chunk-bucket join
        // emit exactly that (wa, wb) pair — Hamming 0, so any live band
        // must produce it; a dropped band-key column, a broken chunk
        // extraction, or a lost collapse all fail the witness.
        val c = collapsedLsh(pins, s, d)
        // simReps pinned: the witness-injection branch otherwise re-runs
        // the simhash kernel over every representative just to carry ONE
        // row's signature (a second full kernel pass per run)
        val simReps = pins.checkpoint(c.shReps.select(col("doc_id"),
          graft.functions.Kernels.simhash_sig(col("sh")).as("sim")))
        // deterministic witness group: smallest digest among duplicate
        // groups; (min, max) doc_ids form a real pair and min IS the
        // group representative (reps take the min-doc_id struct)
        val dupGroup = c.membership.groupBy("dig")
          .agg(min(col("doc_id")).as("wa"), max(col("doc_id")).as("wb"),
            count(lit(1)).as("n"))
          .where(col("n") > 1)
          .orderBy(col("dig")).limit(1)
        val injected = dupGroup
          .join(simReps, col("doc_id") === col("wa"))
          .select(col("wb").as("doc_id"), col("sim"))
        // pinned: consumed TWICE below (the witness semi-join and the
        // full pair-count anchor)
        val lshPairs = pins.checkpoint(simhashLshPairs(simReps.unionByName(injected)))
        val witnessed = lshPairs
          .join(dupGroup.select(col("wa").as("a"), col("wb").as("b")),
            Seq("a", "b"), "left_semi")
          .limit(1)
          .agg((count(lit(1)) > 0).as("dup_pair_witnessed"))
        lshPairs
          // full pair count anchors the real LSH workload in the bench
          // (the witness semi-join alone could short-circuit via limit)
          .agg((count(lit(1)) > 0).as("fp_reps"), lit(3).as("hamming_threshold"))
          .crossJoin(c.membership.groupBy("dig").agg(count(lit(1)).as("n"))
            .agg(sum(col("n")).as("n_docs_signed"), (max(col("n")) > 1).as("hd")))
          .crossJoin(witnessed)
          .select(
            (!col("hd") || col("dup_pair_witnessed"))
              .as("lsh_covers_exact_dupes"),
            col("hamming_threshold"), col("n_docs_signed"))
          .localCheckpoint()
      },
      Some("SELECT true AS lsh_covers_exact_dupes, 3 AS hamming_threshold, (SELECT count(*) FROM documents) AS n_docs_signed")),

    // X2c: character-12-gram Jaccard near-dedup, brute force with a length-
    // ratio blocking predicate (j ≥ τ ⇒ |A|/|B| ∈ [τ, 1/τ] — a provable
    // superset, so blocking cannot lose a true pair).
    Q("x2c_dedup_ngram",
      (s, d) => {
        val n = 12
        // Grams are SORTED once per doc so the per-pair intersection is the
        // merge-scan kernel (one O(|A|+|B|) pass) instead of array_intersect
        // (two hash-set builds per pair). The stream side is repartitioned to
        // every core: the fixture arrives as ONE file split, and a broadcast
        // nested-loop join inherits the stream side's partitioning — without
        // the fan-out the whole quadratic verification runs in a single task.
        val docs = Tables.documents(s, d).select(col("doc_id"),
          array_sort(array_distinct(transform(
            sequence(lit(1), greatest(length(col("text")) - (n - 1), lit(1))),
            i => col("text").substr(i, lit(n))))).as("g"))
        val la = docs.select(col("doc_id").as("a"), col("g").as("ga"), size(col("g")).as("na"))
          .repartition(s.sparkContext.defaultParallelism)
        val lb0 = docs.select(col("doc_id").as("b"), col("g").as("gb"), size(col("g")).as("nb"))
        // broadcast only while the gram table is provably small (optimizer
        // size estimate ≤ 256 MB): this query is the quadratic ORACLE
        // baseline, but pinning an unbounded corpus as a build-side
        // broadcast would OOM the driver long before the all-pairs cost
        // bites — at scale it degrades to a plain (still quadratic,
        // still length-blocked) join instead (ADVICE r06)
        val lb = if (lb0.queryExecution.optimizedPlan.stats.sizeInBytes
            <= BigInt(256L << 20)) broadcast(lb0) else lb0
        la.join(lb, col("a") < col("b") &&
            col("na") * 10 >= col("nb") * 8 && col("nb") * 10 >= col("na") * 8)
          .withColumn("inter",
            graft.functions.Kernels.sorted_intersect_size(col("ga"), col("gb")))
          .select(col("a"), col("b"), (col("inter").cast(DoubleType) /
            (col("na") + col("nb") - col("inter")).cast(DoubleType)).as("j"))
          .filter(col("j") >= 0.8)
      },
      Some("""WITH g AS (SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(length(text) - 11, 1)), i -> substr(text, i, 12))) g
        FROM documents)
        SELECT x.doc_id AS a, y.doc_id AS b,
          len(list_intersect(x.g, y.g))::DOUBLE /
            (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS j
        FROM g x JOIN g y ON x.doc_id < y.doc_id
          AND len(x.g) * 10 >= len(y.g) * 8 AND len(y.g) * 10 >= len(x.g) * 8
        WHERE len(list_intersect(x.g, y.g))::DOUBLE /
            (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) >= 0.8""".stripMargin)),

    // X2l (r15): CONTAINMENT dedup — see [[containmentPairs]]. The oracle
    // is the brute-force containment truth set over representative docs
    // (window STRINGS instead of their md5s — equal set sizes absent
    // digest collisions, the x2g device), which passing PROVES the prefix
    // filter lossless on this corpus: a candidate the prefix probe missed
    // would be a missing output row.
    Q("x2l_containment",
      (s, d) => containmentPairs(Tables.documents(s, d)),
      Some("""WITH reps AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        w AS (SELECT doc_id, string_split(text, ' ') AS w FROM reps),
        g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 7),
              i -> array_to_string(w[i:i+7], ' '))) AS g FROM w WHERE len(w) >= 8)
        SELECT x.doc_id AS a, y.doc_id AS b,
          CAST(len(list_intersect(x.g, y.g)) AS DOUBLE) / CAST(len(x.g) AS DOUBLE) AS c
        FROM g x JOIN g y ON x.doc_id <> y.doc_id
        WHERE CAST(len(list_intersect(x.g, y.g)) AS DOUBLE) / CAST(len(x.g) AS DOUBLE) >= 0.9""".stripMargin)),

    // X2g: repeated-span detection — the exact-substring-dedup shape
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): hash every 8-token sliding window, find windows occurring
    // in MORE THAN ONE document, report per-doc how much of it is
    // cross-corpus duplicated text. The full suffix-array construction is
    // replaced by the distributed-native formulation: window-hash explode →
    // groupBy(hash) — one shuffle keyed on content hashes (uniform by
    // construction, no skew), partial-agg combines map-side, and the
    // per-doc rollup joins back on the same key. Docs shorter than the
    // window survive via the left join (0 windows, not dropped).
    Q("x2g_span_dedup",
      (s, d) => {
        // Window hashing is the per-row `window_md5` kernel (one native
        // pass; the HOF formulation re-tokenized the doc per window — see
        // the kernel scaladoc) over a fanned-out scan. The exploded
        // (doc_id, h) frame is pinned because it feeds two consumers
        // (global counts + the per-doc rollup join) and would otherwise be
        // recomputed per consumer. The groupBy(h) keeps map-side partial
        // aggregation, which is the skew-robust shape when a boilerplate
        // window explodes to millions of copies at corpus scale (a
        // window-function count over h would funnel every copy of a hot
        // hash through one task).
        Caching.pinned { pins =>
          val docHash = pins.checkpoint(Tables.documents(s, d)
            .repartition(s.sparkContext.defaultParallelism)
            .select(col("doc_id"),
              explode_outer(
                graft.functions.Kernels.window_md5(split(col("text"), " "), 8))
                .as("h")))
          val byHash = docHash.filter(col("h").isNotNull)
            .groupBy("h").agg(count(lit(1)).as("docs_with"))
          // explode_OUTER keeps sub-window docs as a null-h row, so one
          // left join + count(h) covers them (0 windows) with no second
          // scan branch or per-doc re-join
          docHash.join(byHash, Seq("h"), "left_outer")
            .groupBy("doc_id")
            .agg(count(col("h")).as("n_windows"),
              sum(when(col("docs_with") > 1, 1L).otherwise(0L)).as("n_shared"))
            .select(col("doc_id"), col("n_windows"),
              coalesce(col("n_shared"), lit(0L)).as("n_shared"),
              (coalesce(col("n_shared"), lit(0L)) > 0).as("has_dup_span"))
            .localCheckpoint() // one row per doc; eager so the pin can go
        }
      },
      Some("""WITH docs AS (SELECT doc_id,
          CASE WHEN len(string_split(text, ' ')) >= 8
            THEN list_distinct(list_transform(
              generate_series(1, len(string_split(text, ' ')) - 7),
              i -> md5(array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' '))))
            ELSE [] END AS hs FROM documents),
        dh AS (SELECT doc_id, unnest(hs) AS h FROM docs),
        byhash AS (SELECT h, count(*) AS docs_with FROM dh GROUP BY h),
        perdoc AS (SELECT doc_id, count(*) AS n_windows,
            SUM(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END) AS n_shared
          FROM dh JOIN byhash USING (h) GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
          CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
          coalesce(p.n_shared, 0) > 0 AS has_dup_span
        FROM docs d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin)),

    // X2k (r14): boilerplate SCRUB — the REMOVAL counterpart of x2g's
    // detection, the step the exact-substring-dedup pipelines actually
    // ship (Lee et al. 2107.06499 drop duplicated spans; RefinedWeb's
    // line/repetition scrub): a token is contaminated when ANY 8-token
    // window covering it occurs in MORE THAN ONE document (cross-corpus
    // boilerplate; intra-doc repetition is x4i/x7b's axis), and the
    // scrubbed corpus keeps every other token in original order. Scale
    // shape: the only corpus-sized shuffle is the window-hash groupBy
    // (uniform keys, map-side partial — skew-robust when one boilerplate
    // window has millions of copies); the HOT set (distinct hashes seen
    // in ≥ 2 docs — vocabulary-sized, not corpus-sized) broadcasts back
    // onto the window frame, hot window STARTS fold per doc_id, and the
    // rebuild is one scrub_tokens merge-scan kernel pass. The hot set joins
    // back by SHUFFLE on the same hash key the count aggregation just
    // partitioned by — in a real crawl the boilerplate-window set is
    // huge (every nav bar × every site), so it is NOT assumed
    // broadcastable; AQE still demotes the exchange to broadcast when a
    // corpus's hot set happens to be small. The oracle replays window →
    // hot → coverage → rebuild independently, so the md5 of every
    // scrubbed document is hash-gated — a single token kept or dropped
    // wrongly anywhere in the corpus flips its digest.
    Q("x2k_boilerplate_scrub",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("tok"))
        // wins feeds two consumers (hot counts + coverage join) that
        // share its closing exchange on h, so its windows hash once
        val wins = scrubWindows(docs, s.sparkContext.defaultParallelism)
        scrubAgainst(docs, wins, hotWindows(wins))
      },
      Some(ScrubOracle)),

    // X2h: INCREMENTAL dedup — the shape a production corpus actually
    // runs: an already-deduplicated INDEX (x6's train-side buckets,
    // standing in for yesterday's corpus) receives a new BATCH (the
    // remaining buckets), and each batch doc gets a verdict without ever
    // re-deduplicating the index against itself:
    //   dup_of_index — some index doc is an exact or near (j ≥ 0.8) dup;
    //   dup_in_batch — some EARLIER batch doc (smaller doc_id:
    //     first-arrival-wins) is an exact/near dup;
    //   verdict      — index dup ≻ batch dup ≻ new.
    // Staging mirrors x2's defenses: (1) exact dups resolve on a 128-bit
    // md5 digest join — identical texts never reach the band join, which
    // is also the mega-duplicate skew bound (one bucket per distinct
    // text, SkewDedupSpec's argument); (2) near-dups run MinHash+LSH over
    // DISTINCT texts only, batch buckets joined against index buckets —
    // at scale the index side's signatures/buckets are precomputed once
    // and only the (small) batch pays per-increment work, making the
    // per-batch cost O(|batch| + collisions), independent of |index|.
    // The oracle brute-forces every batch×index and batch×batch pair, so
    // LSH recall across the split is gate-checked end to end (same
    // argument as x2: at the planted-dup level j ≥ 0.97 a ≥ 2-band miss
    // has P ≈ 1e-15; background j ≤ 0.3 keeps candidates sparse).
    Q("x2h_incremental_dedup",
      (s, d) => {
        // index artifacts derived inline here; ScaleBench times the same
        // verdict plan against PRECOMPUTED artifacts (see [[x2hIndex]] /
        // [[incrementVerdictPlan]]) and asserts row-set equality between
        // the two paths
        val (indexDigs, iBuckets, shIdx) = indexArtifacts(x2hIndex(s, d))
        incrementVerdictPlan(x2hBatch(s, d), indexDigs, iBuckets, shIdx)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') w, text,
          (doc_id * 2654435761) % 100 AS bkt FROM documents),
        sets AS (SELECT doc_id, bkt, CASE WHEN len(w) >= 3
          THEN list_distinct(list_transform(generate_series(1, len(w)-2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
          ELSE [text] END sh FROM t),
        bat AS (SELECT doc_id, sh FROM sets WHERE bkt >= 80),
        idx AS (SELECT doc_id, sh FROM sets WHERE bkt < 80),
        xdup AS (SELECT DISTINCT b.doc_id FROM bat b JOIN idx i
          ON len(list_intersect(b.sh, i.sh))::DOUBLE /
             (len(b.sh) + len(i.sh) - len(list_intersect(b.sh, i.sh))) >= 0.8),
        bdup AS (SELECT DISTINCT x.doc_id FROM bat x JOIN bat y
          ON y.doc_id < x.doc_id
          AND len(list_intersect(x.sh, y.sh))::DOUBLE /
              (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8)
        SELECT b.doc_id,
          (xd.doc_id IS NOT NULL) AS dup_of_index,
          (bd.doc_id IS NOT NULL) AS dup_in_batch,
          CASE WHEN xd.doc_id IS NOT NULL THEN 'dup_index'
               WHEN bd.doc_id IS NOT NULL THEN 'dup_batch'
               ELSE 'new' END AS verdict
        FROM bat b LEFT JOIN xdup xd ON b.doc_id = xd.doc_id
          LEFT JOIN bdup bd ON b.doc_id = bd.doc_id""".stripMargin)),

    // X2i: quality-aware cluster representative — dedup completion the
    // way a real training pipeline keeps documents: instead of x2d's
    // min-doc_id representative, each near-dup cluster keeps its
    // HIGHEST-QUALITY member (here: most distinct tokens, the x4b
    // vocabulary-richness axis; doc_id breaks ties deterministically).
    // Components come from the shared min-label propagation, quality is a
    // pure per-row map, and the per-cluster argmax is one
    // map-side-combinable min(struct(-quality, doc_id)) agg — nothing new
    // shuffles beyond x2d. The oracle recomputes the full transitive
    // closure AND the argmax, so both the clustering and the selection
    // rule are gate-checked.
    Q("x2i_cluster_best",
      (s, d) => Caching.pinned { pins =>
        val comp = minLabelComponents(pins, s, d)
          .select(col("doc_id"), col("label").as("component"))
        val quality = Tables.documents(s, d).select(col("doc_id"),
          size(array_distinct(split(col("text"), " "))).as("n_types"))
        val scored = comp.join(quality, "doc_id")
        val best = scored.groupBy("component")
          .agg(min(struct((-col("n_types")).as("neg_q"), col("doc_id"))).as("r"))
          .select(col("component"), col("r.doc_id").as("best_doc"))
        scored.join(best, "component")
          .select(col("doc_id"), col("component"), col("n_types"),
            col("best_doc"), (col("doc_id") === col("best_doc")).as("keep"))
          .localCheckpoint() // one row per doc; eager so the pins can go
      },
      Some(s"""$ComponentsCte,
        q AS (SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types
          FROM documents),
        scored AS (SELECT c.doc_id, c.component, q.n_types
          FROM comp c JOIN q ON q.doc_id = c.doc_id),
        best AS (SELECT component, doc_id AS best_doc FROM
          (SELECT *, row_number() OVER (PARTITION BY component
             ORDER BY n_types DESC, doc_id) AS rn FROM scored)
          WHERE rn = 1)
        SELECT s.doc_id, s.component, s.n_types, b.best_doc,
          s.doc_id = b.best_doc AS keep
        FROM scored s JOIN best b ON s.component = b.component""".stripMargin))
  )
}
