package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** X11 (r15): time-series similarity search over per-user event series —
  * the classic OLAP/monitoring workload (retrieved papers: "Time Series
  * Similarity Search for Streaming Data in Distributed Systems" EDBT 2019;
  * REPOSE ICDE 2021) re-expressed in the engine's shortlist-then-rerank
  * idiom: z-normalized Euclidean top-k with a PAA (piecewise aggregate
  * approximation, Keogh et al. 2001) LOWER-BOUND shortlist.
  *
  * Why this shape at 100 TB: the full series table is wide (here 32
  * points; production telemetry is thousands), but the PAA sketch is 8
  * doubles per series — the compact index the shortlist stage scans, with
  * full series touched only for shortlisted candidates (the x3h/x3s
  * device on the time axis). PAA's segment-mean distance times the
  * segment width PROVABLY lower-bounds the true distance, so a
  * sufficiently deep shortlist plus exact rerank loses nothing it didn't
  * declare (recall is annotated per row, same contract as the ANN
  * family).
  *
  * Float discipline (Registry rules): series values enter as exact
  * integer cents; mean/variance derive from integer power sums (the q27
  * device), z-scores and distances are then the IDENTICAL expression
  * text in both engines with strictly sequential folds (Spark
  * `aggregate` ≡ DuckDB `list_reduce` — both left-to-right, so the
  * doubles are bit-equal, not just close); emitted distances are rounded
  * to e4 per the float rules.
  */
object SeriesQueries {

  private[graft] val N = 32   // series length (first N events per user)
  private val Segs = 8        // PAA segments (width N/Segs = 4)
  private val Shortlist = 12  // PAA shortlist depth
  private val K = 3           // exact top-k
  private val NQ = 4          // query series = the NQ smallest user_ids

  /** Per-user z-normalized length-N series + PAA sketch from an events
    * frame (user_id, ts, event_id, value). private[graft]: SeriesKnnSpec
    * plants series the fixture lacks, and PlanSpec asserts the first-N
    * prune on THIS frame's plan (the kNN stage's own row_number windows
    * would make the same assert on the full plan vacuous — r15 review).
    */
  private[graft] def seriesFrame(events: DataFrame): DataFrame = {
    // first-N prune BEFORE the array build: row_number caps every user's
    // contribution at N rows, so no unbounded per-user list is ever
    // materialized (a collect-then-slice would carry the user's whole
    // history through the shuffle — the classic telemetry skew trap)
    val firstN = events.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .where(col("rn") <= N)
    val ordered = firstN
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("rn"), col("value")))).as("pts"))
      .where(size(col("pts")) === N)
      .select(col("user_id"),
        transform(col("pts"), p => p.getField("value")).as("vals"))
    zPaaFrame(ordered)
  }

  /** The z-normalize + PAA stage over an already-assembled
    * (user_id, vals: ARRAY<DOUBLE> in series order) frame — split out so
    * the streaming assembler (q52r) and the batch first-N build share
    * ONE definition of the cents conversion, power sums, z and PAA
    * expressions (they provably cannot drift).
    */
  private[graft] def zPaaFrame(assembled: DataFrame): DataFrame = {
    // supported value-magnitude bound (ADVICE r15): the cents conversion
    // holds |vc| exactly for |value| < ~9e16 (Long), and the POWER SUMS
    // hold exactly for |vc| ≤ ~5e8 per point (s2 ≤ N·vc² ≤ 9.2e18).
    // The zero-variance GUARD below is the tightest spot — s2·N − s1²
    // wraps silently in Long where DuckDB raises — so it is computed in
    // Decimal(38,0): checked-exact far past any Long-held vc, making the
    // Spark verdict correct (not wrapped) wherever the sums themselves
    // fit, and the divergence-in-failure-mode with the oracle moot.
    val ordered = assembled.select(col("user_id"),
      transform(col("vals"), v => round(v * 100).cast(LongType)).as("vc"))
    // integer power sums -> exact mean/std inputs; zero-variance series
    // excluded on the INTEGER check (no float boundary)
    val dec = DecimalType(38, 0)
    val sums = ordered
      .withColumn("s1", aggregate(col("vc"), lit(0L), (a, x) => a + x))
      .withColumn("s2", aggregate(col("vc"), lit(0L), (a, x) => a + x * x))
      .where(col("s2").cast(dec) * N -
        col("s1").cast(dec) * col("s1").cast(dec) > 0)
    val nD = lit(N.toDouble)
    val std = sqrt((col("s2").cast(DoubleType) -
      col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / nD) / nD)
    val withZ = sums.withColumn("z",
      transform(col("vc"), x =>
        (x.cast(DoubleType) - col("s1").cast(DoubleType) / nD) / std))
    val w = N / Segs
    withZ.select(col("user_id"), col("z"),
      transform(sequence(lit(0), lit(Segs - 1)), j =>
        (0 until w).map(o => element_at(col("z"), j * w + o + 1))
          .reduce(_ + _) / lit(w.toDouble)).as("paa"))
  }

  /** The NQ query series = the NQ smallest user_ids (ADVICE r15: the old
    * global `row_number().over(Window.orderBy(user_id))` funneled the
    * ENTIRE series frame through one partition just to pick NQ rows —
    * a scale smell even though only NQ rows survive). This selects the
    * ids with a TakeOrdered on the 8-byte key column alone (no z/paa
    * hauled through the global sort) and broadcast-semi-joins them back;
    * the selected SET is identical because user_id is unique.
    */
  private def querySide(sf: DataFrame): DataFrame = {
    // eager TakeOrdered on the key column alone — NQ longs, a bounded
    // certificate (the sketch-collect device); the main plan then gets a
    // LITERAL IN predicate that pushes down, rather than a second scan
    // in a self-semi-join (which also trips Spark's self-join
    // deduplication when sf is a memory-sink view — q52r/q52p)
    val ids = sf.select(col("user_id")).orderBy(col("user_id")).limit(NQ)
      .collect().map(_.getLong(0)).toSeq
    if (ids.isEmpty) sf.limit(0) else sf.where(col("user_id").isin(ids: _*))
  }

  /** Strictly sequential Σ(a[i]−b[i])² — Spark side of the shared fold. */
  private def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** The full shortlist + rerank + recall-annotation plan over a series
    * frame; shared by the registration and the spec.
    */
  private[graft] def seriesKnn(sf0: DataFrame): DataFrame =
    // pin the series frame ONCE: this plan consumes it six times
    // (query-id collect, PAA shortlist, z join-back, exact truth set),
    // and each consumer otherwise re-executes the whole upstream
    // pipeline — for q52p/q52r that is the drained memory sink + the
    // latest-emission window per consumer (profiled: ~1.2 s of the q52p
    // post-drain tail was exactly these re-executions). The result is
    // K-row and eagerly pinned, so the |users|-row series blocks release
    // on return instead of accumulating until RDD GC.
    Caching.pinned(pins => seriesKnnOver(pins.checkpoint(sf0)).localCheckpoint())

  /** The lazy kNN plan over an already-pinned series frame — exposed so
    * PlanSpec can audit the join/broadcast shape (the registered query's
    * own plan is the eager checkpoint's RDD scan).
    */
  private[graft] def seriesKnnOver(sf: DataFrame): DataFrame = {
    val q = querySide(sf)
      .select(col("user_id").as("q_user"), col("z").as("q_z"), col("paa").as("q_paa"))
    val c = sf.select(col("user_id").as("c_user"), col("z").as("c_z"),
      col("paa").as("c_paa"))
    // PAA lower bound: width · Σ(seg means diff)² ≤ true d² (Keogh 2001).
    // The shortlist stage carries ONLY (ids, dpaa) — the full z vectors
    // join back for shortlisted rows alone (the x3s/x3h device; hauling
    // z through the all-pairs frame and its shortlist shuffle would move
    // ~N/Segs× more bytes than the sketch scan this stage exists to be)
    val scored = c.drop("c_z").join(
        broadcast(q.select(col("q_user"), col("q_paa"))),
        col("q_user") =!= col("c_user"))
      .select(col("q_user"), col("c_user"),
        (d2(col("q_paa"), col("c_paa")) * lit((N / Segs).toDouble)).as("dpaa"))
    val wS = Window.partitionBy(col("q_user"))
      .orderBy(col("dpaa").asc, col("c_user"))
    val short = scored.withColumn("paa_rank", row_number().over(wS))
      .where(col("paa_rank") <= Shortlist)
      .select(col("q_user"), col("c_user"), col("paa_rank"))
      .join(broadcast(q.select(col("q_user"), col("q_z"))), Seq("q_user"))
      .join(sf.select(col("user_id").as("c_user"), col("z").as("c_z")),
        Seq("c_user"))
      .select(col("q_user"), col("c_user"), col("paa_rank"),
        d2(col("q_z"), col("c_z")).as("dist2"))
    val wR = Window.partitionBy(col("q_user"))
      .orderBy(col("dist2").asc, col("c_user"))
    val top = short.withColumn("rank", row_number().over(wR))
      .where(col("rank") <= K)
    // exact top-K over ALL candidates (the recall annotation's truth set)
    val exact = c.select(col("c_user"), col("c_z"))
      .join(broadcast(q.select(col("q_user"), col("q_z"))),
        col("q_user") =!= col("c_user"))
      .select(col("q_user"), col("c_user"), d2(col("q_z"), col("c_z")).as("ed2"))
      .withColumn("erank", row_number().over(
        Window.partitionBy(col("q_user")).orderBy(col("ed2").asc, col("c_user"))))
      .where(col("erank") <= K)
      .select(col("q_user"), col("c_user"), lit(true).as("hit"))
    top.join(broadcast(exact), Seq("q_user", "c_user"), "left")
      .select(col("q_user"), col("rank"), col("c_user"),
        round(col("dist2") * 10000).cast(LongType).as("dist2_e4"),
        col("paa_rank"),
        coalesce(col("hit"), lit(false)).as("in_exact_top3"))
  }

  /** DuckDB CTE producing the identical series frame: list(... ORDER BY)
    * for the deterministic window, integer power sums, the same z/PAA
    * expression text, `list_reduce` for the sequential folds. The body
    * (sans WITH) is shared with x11b's oracle, which needs the
    * WITH RECURSIVE form for its DP replay.
    */
  private def seriesCte(slice: String): String = s"""WITH pts AS (
      SELECT user_id, (list(CAST(round(value*100) AS BIGINT) ORDER BY ts, event_id))$slice AS vc
      FROM events GROUP BY user_id HAVING count(*) >= $N),
    sums AS (SELECT user_id, vc,
        list_reduce(vc, (a, x) -> a + x) AS s1,
        list_reduce(list_transform(vc, x -> x * x), (a, x) -> a + x) AS s2
      FROM pts),
    zf AS (SELECT user_id,
        list_transform(vc, x -> (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / $N.0) /
          sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / $N.0) / $N.0)) AS z
      FROM sums WHERE s2 * $N - s1 * s1 > 0),
    sf AS (SELECT user_id, z,
        list_transform(generate_series(0, ${Segs - 1}), j ->
          (${(0 until N / Segs).map(o => s"z[${N / Segs}*j + ${o + 1}]").mkString(" + ")}) / ${N / Segs}.0) AS paa
      FROM zf)"""

  private def sqlD2(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (acc, x) -> acc + x)"

  private val SeriesCte: String = seriesCte(s"[1:$N]")

  private[graft] val KnnOracle: String = knnOracleFrom(SeriesCte)

  /** q52p's batch truth: identical kNN SQL over the LAST-N window —
    * the list slice is the only difference (DuckDB negative slicing
    * keeps ascending order, exactly the recent assembler's contract).
    */
  private[graft] val KnnOracleRecent: String =
    knnOracleFrom(seriesCte(s"[-$N:]"))

  private def knnOracleFrom(cte: String): String = s"""$cte,
    q AS (SELECT user_id AS q_user, z AS q_z, paa AS q_paa FROM
      (SELECT *, row_number() OVER (ORDER BY user_id) AS qrank FROM sf) WHERE qrank <= $NQ),
    scored AS (SELECT q_user, c.user_id AS c_user, q_z, c.z AS c_z,
        ${sqlD2("q_paa", "c.paa")} * ${N / Segs}.0 AS dpaa
      FROM q JOIN sf c ON c.user_id <> q.q_user),
    short AS (SELECT q_user, c_user, paa_rank, ${sqlD2("q_z", "c_z")} AS dist2 FROM
      (SELECT *, row_number() OVER (PARTITION BY q_user ORDER BY dpaa ASC, c_user) AS paa_rank
       FROM scored) WHERE paa_rank <= $Shortlist),
    top AS (SELECT * FROM
      (SELECT *, row_number() OVER (PARTITION BY q_user ORDER BY dist2 ASC, c_user) AS rank
       FROM short) WHERE rank <= $K),
    ex AS (SELECT q_user, c_user, true AS hit FROM
      (SELECT q_user, c.user_id AS c_user,
         row_number() OVER (PARTITION BY q_user ORDER BY ${sqlD2("q_z", "c.z")} ASC, c.user_id) AS erank
       FROM q JOIN sf c ON c.user_id <> q.q_user) WHERE erank <= $K)
    SELECT top.q_user, CAST(top.rank AS INTEGER) AS rank, top.c_user,
      CAST(round(top.dist2 * 10000) AS BIGINT) AS dist2_e4,
      CAST(top.paa_rank AS INTEGER) AS paa_rank,
      coalesce(ex.hit, false) AS in_exact_top3
    FROM top LEFT JOIN ex ON top.q_user = ex.q_user AND top.c_user = ex.c_user"""

  // ---- x11b: LB_Keogh shortlist + banded-DTW rerank (the UCR-suite
  // serving shape: Keogh & Ratanamahatana 2005) ----

  private val DtwR = 4          // Sakoe–Chiba band (± points)
  private val DtwShortlist = 12 // LB_Keogh shortlist depth

  /** Query-side warping envelope over z: U_i / L_i = max / min of
    * z[i−r .. i+r] — exact (max/min of doubles round nothing).
    */
  private def envelope(z: Column, agg: Column => Column): Column =
    transform(sequence(lit(1), lit(N)), i => {
      val lo = greatest(lit(1), i - DtwR)
      val hi = least(lit(N), i + DtwR)
      agg(slice(z, lo, hi - lo + lit(1)))
    })

  /** LB_Keogh(Q, C) = Σ_i dist(c_i, [L_i, U_i]) under the |·| cost —
    * provably ≤ banded DTW with the same band, so the shortlist loses
    * nothing it doesn't declare (recall annotated like the ANN family).
    */
  private def lbKeogh(cz: Column, uEnv: Column, lEnv: Column): Column = {
    val env = zip_with(uEnv, lEnv, (u, l) => struct(u.as("u"), l.as("l")))
    val pen = zip_with(cz, env, (c, e) =>
      when(c > e.getField("u"), c - e.getField("u"))
        .when(c < e.getField("l"), e.getField("l") - c)
        .otherwise(lit(0.0)))
    aggregate(pen, lit(0.0), (acc, x) => acc + x)
  }

  /** The elastic-distance serving plan: LB_Keogh shortlist (ids only
    * cross the shortlist shuffle), one [[graft.functions.DtwBand]]
    * kernel call per shortlisted pair, exact top-K, recall annotated
    * against the all-candidate DTW truth set.
    */
  private[ext] def dtwKnn(sf0: DataFrame): DataFrame =
    // same six-consumer pin as seriesKnn: release the series blocks
    // once the K-row result is pinned
    Caching.pinned(pins => dtwKnnOver(pins.checkpoint(sf0)).localCheckpoint())

  private def dtwKnnOver(sf: DataFrame): DataFrame = {
    val q = querySide(sf)
      .select(col("user_id").as("q_user"), col("z").as("q_z"),
        envelope(col("z"), array_max).as("u_env"),
        envelope(col("z"), array_min).as("l_env"))
    val c = sf.select(col("user_id").as("c_user"), col("z").as("c_z"))
    val scored = c.join(broadcast(q.select(col("q_user"), col("u_env"), col("l_env"))),
        col("q_user") =!= col("c_user"))
      .select(col("q_user"), col("c_user"),
        lbKeogh(col("c_z"), col("u_env"), col("l_env")).as("lb"))
    val wS = Window.partitionBy(col("q_user")).orderBy(col("lb").asc, col("c_user"))
    val short = scored.withColumn("lb_rank", row_number().over(wS))
      .where(col("lb_rank") <= DtwShortlist)
      .select(col("q_user"), col("c_user"), col("lb_rank"))
      .join(broadcast(q.select(col("q_user"), col("q_z"))), Seq("q_user"))
      .join(c, Seq("c_user"))
      .select(col("q_user"), col("c_user"), col("lb_rank"),
        graft.functions.Kernels.dtw_band(col("q_z"), col("c_z"), DtwR).as("dtw"))
    val wR = Window.partitionBy(col("q_user")).orderBy(col("dtw").asc, col("c_user"))
    val top = short.withColumn("rank", row_number().over(wR)).where(col("rank") <= K)
    val exact = c.join(broadcast(q.select(col("q_user"), col("q_z"))),
        col("q_user") =!= col("c_user"))
      .select(col("q_user"), col("c_user"),
        graft.functions.Kernels.dtw_band(col("q_z"), col("c_z"), DtwR).as("ed"))
      .withColumn("erank", row_number().over(
        Window.partitionBy(col("q_user")).orderBy(col("ed").asc, col("c_user"))))
      .where(col("erank") <= K)
      .select(col("q_user"), col("c_user"), lit(true).as("hit"))
    top.join(broadcast(exact), Seq("q_user", "c_user"), "left")
      .select(col("q_user"), col("rank"), col("c_user"),
        round(col("dtw") * 10000).cast(LongType).as("dtw_e4"),
        col("lb_rank"),
        coalesce(col("hit"), lit(false)).as("in_exact_top3"))
  }

  /** x11b oracle: the DP replayed CELL BY CELL in a recursive CTE (one
    * iteration per DP cell, state = previous + growing current row as
    * list columns) — DuckDB 1.0's `list_reduce` has no init form and no
    * nested-lambda capture, so the recursion is the only sequential-fold
    * surface that can express the left-to-right cell dependency. The
    * arithmetic per cell is the kernel's, literally: |a_i−b_j| +
    * least(d[i−1][j], d[i][j−1], d[i−1][j−1]), 1e30 band sentinel, one
    * rounding per cell — bit-identical doubles.
    *
    * Oracle cost bound (ADVICE r15): the recursion runs N² = 1024
    * iterations per (query, candidate) pair over ALL pairs — the recall
    * annotation's truth set needs every pair's DTW, so the gate's oracle
    * is O(pairs · N² · N) list copies by construction. At sf0.01 that is
    * NQ=4 × ~470 candidates ≈ 1.9k pairs (~2 min of DuckDB); it scales
    * with the events fixture's user count, not its history length (the
    * series window is fixed at N), so the driver-gate cost grows only
    * linearly in users — acceptable, but this is the slowest oracle in
    * the suite and intentionally so: it is the only sequential-fold
    * surface DuckDB offers that can express the DP's cell dependency.
    */
  private def dtwOracle: String = {
    val nn = N * N
    s"""WITH RECURSIVE ${SeriesCte.stripPrefix("WITH ")},
    q AS (SELECT user_id AS q_user, z AS q_z,
        list_transform(generate_series(1, $N), i -> list_max(q0.z[greatest(1, i - $DtwR):least($N, i + $DtwR)])) AS u_env,
        list_transform(generate_series(1, $N), i -> list_min(q0.z[greatest(1, i - $DtwR):least($N, i + $DtwR)])) AS l_env
      FROM (SELECT *, row_number() OVER (ORDER BY user_id) AS qrank FROM sf) q0
      WHERE qrank <= $NQ),
    allp AS (SELECT q_user, c.user_id AS c_user, q_z AS a, c.z AS b,
        list_reduce(list_transform(generate_series(1, $N), i ->
          CASE WHEN c.z[i] > u_env[i] THEN c.z[i] - u_env[i]
               WHEN c.z[i] < l_env[i] THEN l_env[i] - c.z[i]
               ELSE 0.0 END), (acc, x) -> acc + x) AS lb
      FROM q JOIN sf c ON c.user_id <> q.q_user),
    dp AS (
      SELECT q_user, c_user, a, b, 0 AS k,
        list_prepend(0.0, list_transform(generate_series(1, $N), x -> 1e30)) AS prev,
        [1e30]::DOUBLE[] AS cur
      FROM allp
      UNION ALL
      SELECT q_user, c_user, a, b, k + 1,
        CASE WHEN j = $N THEN list_append(cur, cell) ELSE prev END,
        CASE WHEN j = $N THEN [1e30]::DOUBLE[] ELSE list_append(cur, cell) END
      FROM (
        SELECT q_user, c_user, a, b, k, prev, cur, (k % $N) + 1 AS j,
          CASE WHEN abs((k // $N + 1) - ((k % $N) + 1)) > $DtwR THEN 1e30
               ELSE abs(a[k // $N + 1] - b[(k % $N) + 1]) +
                    least(prev[(k % $N) + 2], cur[(k % $N) + 1], prev[(k % $N) + 1]) END AS cell
        FROM dp WHERE k < $nn)),
    d AS (SELECT q_user, c_user, prev[$N + 1] AS dtw FROM dp WHERE k = $nn),
    short AS (SELECT q_user, c_user, lb_rank FROM
      (SELECT q_user, c_user, row_number() OVER (PARTITION BY q_user ORDER BY lb ASC, c_user) AS lb_rank FROM allp)
      WHERE lb_rank <= $DtwShortlist),
    top AS (SELECT * FROM
      (SELECT s.q_user, s.c_user, s.lb_rank, d.dtw,
         row_number() OVER (PARTITION BY s.q_user ORDER BY d.dtw ASC, s.c_user) AS rank
       FROM short s JOIN d ON d.q_user = s.q_user AND d.c_user = s.c_user)
      WHERE rank <= $K),
    ex AS (SELECT q_user, c_user, true AS hit FROM
      (SELECT q_user, c_user, row_number() OVER (PARTITION BY q_user ORDER BY dtw ASC, c_user) AS erank FROM d)
      WHERE erank <= $K)
    SELECT top.q_user, CAST(top.rank AS INTEGER) AS rank, top.c_user,
      CAST(round(top.dtw * 10000) AS BIGINT) AS dtw_e4,
      CAST(top.lb_rank AS INTEGER) AS lb_rank,
      coalesce(ex.hit, false) AS in_exact_top3
    FROM top LEFT JOIN ex ON top.q_user = ex.q_user AND top.c_user = ex.c_user"""
  }

  def defs: Seq[Q] = Seq(
    Q("x11_series_knn",
      (s, d) => seriesKnn(seriesFrame(Tables.events(s, d))),
      Some(KnnOracle)),

    // X11b (r15): ELASTIC top-k — banded DTW with the LB_Keogh
    // lower-bound shortlist, the UCR-suite serving shape (Keogh &
    // Ratanamahatana 2005): the envelope lower bound is computed from
    // the broadcast query side only, candidates cross the shortlist
    // shuffle as (ids, lb), and the O(n·band) DP kernel
    // ([[graft.functions.DtwBand]] — the custom-Expression tier: an
    // imperative recurrence no declarative operator expresses) runs
    // once per SHORTLISTED pair plus the annotated truth arm. At 100 TB
    // the lower bound is the whole economics: LB_Keogh is one
    // sequential pass per pair vs the DP's n·band, and it prunes before
    // any full-series shuffle.
    Q("x11b_dtw_knn",
      (s, d) => dtwKnn(seriesFrame(Tables.events(s, d))),
      Some(dtwOracle))
  )
}
