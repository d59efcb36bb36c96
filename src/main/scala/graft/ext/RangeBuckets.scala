package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic, order-preserving bucket ids for the two-phase
  * distributed prefix sums (x6b pack, x6g shard-pack, x6k corpus shuffle,
  * x6p/x10c token packing — the running totals that must never funnel the
  * corpus through one `Window.orderBy` task).
  *
  * Why not `repartitionByRange(n) + spark_partition_id()` (r14 review
  * finding): the bucketed frame feeds TWO consumers — the P-row offset
  * table and the join side — and range boundaries come from a reservoir
  * SAMPLE taken when the shuffle executes. Evaluating the subtree once is
  * ReuseExchange's doing, an optimizer behavior rather than an API
  * contract (the x6m r11 finding, closed there by localCheckpoint
  * pinning): if a Spark upgrade or AQE change ever splits it into two
  * physical shuffles, the two instances can sample DIFFERENT boundaries,
  * a boundary-straddling row lands in pid p on one side and p−1 on the
  * other, and every prefix sum downstream silently shifts. An
  * INTERPOLATED bucket is a pure function of the row (plus one broadcast
  * 1-row min/max), so two evaluations cannot disagree — no sample, no
  * pin, no executor storage to release.
  *
  * Bucket ids preserve key order (v₁ ≤ v₂ ⇒ b₁ ≤ b₂) — the only property
  * the prefix-sum composition needs; balance depends on key uniformity
  * (dense ids / md5 hashes here), and imbalance costs parallelism, never
  * correctness. Empty buckets simply have no offset row.
  */
object RangeBuckets {

  /** `pid` from a LONG key: (v − lo)·n DIV (hi − lo + 1) ∈ [0, n). The
    * min/max resolve to DRIVER literals (a 2-value certificate, the
    * bpeVocab/merge-table device) rather than a broadcast 1-row
    * crossJoin: the join form plans as BroadcastNestedLoopJoin, which the
    * cartesian audit rightly bans from the composed pipelines, and with
    * literals the pid is a pure projection — no join in the plan at all.
    * Cost shape is unchanged versus repartitionByRange, whose reservoir
    * sampler also ran one extra pass over the child.
    */
  def longKey(pins: Caching.Pins, df: DataFrame, key: String, n: Int): DataFrame = {
    // Pin ONCE, in the caller's scope: this helper's min/max action
    // evaluates the caller's child, and every caller consumes the
    // bucketed frame at least twice more (offset table + join side) — in
    // x10 that child is the whole dedup→decontam→quality chain, re-run
    // per consumer. The frames bucketed here are key-count-sized
    // prefix-sum inputs (doc counts, not the corpus). The pin also makes
    // the two-consumers-can't-disagree property STRUCTURAL rather than
    // relying on the interpolation being a pure function.
    val pinned = pins.checkpoint(df)
    val r = pinned.agg(min(col(key)), max(col(key))).head()
    if (r.isNullAt(0)) return pinned.withColumn("pid", lit(0))
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    // `(v − lo) · n` runs under Spark's default (non-ANSI) arithmetic, so
    // an overflow would WRAP silently — non-monotone pids, silently
    // shifted prefix sums: the exact failure class this utility exists to
    // eliminate. lo/hi are driver values, so fail loudly here instead:
    // the span must fit a Long and (span+1)·n must not overflow.
    val span = hi - lo
    require(span >= 0 && span < Long.MaxValue / n,
      s"RangeBuckets.longKey($key): span [$lo, $hi] * n=$n would overflow " +
        "Long under non-ANSI arithmetic; bucket by a narrower key")
    pinned.withColumn("pid",
      expr(s"CAST((($key - ${lo}L) * $n) DIV (${hi}L - ${lo}L + 1L) AS INT)"))
  }

  /** `pid` from a lowercase-hex string key (md5): interpolate on the
    * first 4 hex chars — order-preserving because lowercase hex digits
    * sort like their values, and uniform because the key is a hash; no
    * min/max pass needed (the domain is [0x0000, 0xffff] by
    * construction).
    */
  def hexKey(df: DataFrame, key: String, n: Int): DataFrame =
    // conv() returns STRING — cast it to BIGINT explicitly so the chain is
    // integer-typed end to end. The implicit string·int coercion went
    // through DOUBLE (exact at these magnitudes, but ANSI mode or a Spark
    // upgrade could fail analysis or change the narrowing), and boundary
    // determinism is the whole point of this helper.
    df.withColumn("pid",
      expr(s"CAST(CAST(conv(substring($key, 1, 4), 16, 10) AS BIGINT)" +
        s" * $n DIV 65536 AS INT)"))
}
