package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed k-means over quantized (BIGINT) embedding vectors — the
  * coarse-quantizer training step an IVF index needs (SURVEY §2.3 X3e).
  *
  * Scale posture (100 TB):
  *   - assignment is a broadcast-argmin pass: k centroids broadcast, the
  *     corpus streams once, squared distances in exact integer arithmetic
  *     ([[graft.functions.LongVecDist2]] codegen kernel);
  *   - the centroid update is an elementwise vector-sum/count `Aggregator`
  *     ([[graft.functions.Aggregators.ElementwiseSumCountAgg]]) keyed by
  *     cluster: ONE array per row crosses the map-side combine, and only k
  *     (dim+1)-long buffers per map task cross the shuffle. The posexplode
  *     formulation this replaced shipped dim (cluster, pos, v) rows per
  *     vector through the shuffle — a 64× row amplification at dim=64, the
  *     difference between a map-side-combined agg and a full re-shuffle of
  *     the corpus at scale;
  *   - per-iteration lineage is truncated by `localCheckpoint` on the k-row
  *     centroid frame, so `train` is O(1) plan depth per round instead of
  *     accumulating the whole iteration history into one mega-plan;
  *   - convergence is detected from a 1-row aggregate (`head()` on k rows
  *     of centroid deltas — the O(1) driver-side certificate pattern, not a
  *     data collect).
  *
  * Numeric parity: the new centroid element is `round(sum/count)` computed
  * from exact integer sums with one double division — bit-identical to the
  * `round(avg(v))` of the posexplode formulation (sums here stay far below
  * 2^53, so the double accumulation of `avg` was already exact), which is
  * what the DuckDB oracle for x3e recomputes.
  */
object KMeans {

  private def dist2(a: Column, b: Column): Column =
    graft.functions.Kernels.long_vec_dist2(a, b)

  /** Argmin assignment: each row of `e` (vec_id, qe) gets the nearest
    * centroid of `cent` (cid, c), ties broken by lowest cid. Broadcast
    * join + min(struct) — the corpus never shuffles on cluster. The
    * vector is STRIPPED before the argmin aggregate and rejoined after
    * (r13): min(struct) plans as SortAggregate, and letting the 512-byte
    * qe ride through it as first(qe) sorts |e|·k wide rows — the exact
    * 6.5 GB spill x2j hit at its 30× gate (60k reps × k=236); with
    * 24-byte (d, cid) structs the same sort is ~300 MB and the rejoin is
    * one narrow |e|-row hash join on vec_id.
    */
  def assign(e: DataFrame, cent: DataFrame): DataFrame = {
    val nearest = e.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        struct(dist2(col("qe"), col("c")).as("d"), col("cid")).as("dc"))
      .groupBy("vec_id")
      .agg(min(col("dc")).as("dc"))
    e.join(nearest, Seq("vec_id"))
      .select(col("vec_id"), col("qe"),
        col("dc.cid").as("cluster"), col("dc.d").as("d2"))
  }

  /** Centroid update from an assignment frame (cluster, qe): elementwise
    * integer sums + count per cluster via one algebraic Aggregator column,
    * then `round(sum/count)` per element. Empty clusters vanish (no
    * members ⇒ no group), matching the unrolled-SQL oracle.
    */
  def update(a: DataFrame, dim: Int): DataFrame = {
    val sc = graft.functions.Aggregators.elementwise_sum_count(dim)
    a.groupBy(col("cluster"))
      .agg(sc(col("qe")).as("sc"))
      .select(col("cluster").cast(IntegerType).as("cid"),
        transform(slice(col("sc"), 1, dim),
          x => round(x.cast(DoubleType) /
            element_at(col("sc"), dim + 1).cast(DoubleType)).cast(LongType)).as("c"))
  }

  /** Iterate assign/update from `init` until centroids stop moving or
    * `maxIters` rounds, whichever first. Returns (final centroids,
    * rounds run, converged?); the centroids are a pin of `pins`. Each
    * round's centroid frame is k rows — checkpointing truncates lineage so
    * round N's plan does not contain rounds 1..N-1, and the previous
    * round is released once the next is compared.
    */
  def train(pins: Caching.Pins, e: DataFrame, init: DataFrame, dim: Int,
      maxIters: Int): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1)
    var cent = pins.checkpoint(init)
    var iters = 0
    var converged = false
    while (iters < maxIters && !converged) {
      val next = pins.checkpoint(update(assign(e, cent), dim))
      // O(1) certificate: k rows joined full-outer on cid; any missing or
      // moved centroid means another round is needed
      val moved = cent.select(col("cid"), col("c").as("c_old"))
        .join(next.select(col("cid"), col("c").as("c_new")), Seq("cid"), "full_outer")
        .where(col("c_old").isNull || col("c_new").isNull || col("c_old") =!= col("c_new"))
        .agg(count(lit(1)).as("n"))
        .head().getLong(0)
      pins.release(cent)
      cent = next
      iters += 1
      converged = moved == 0L
    }
    (cent, iters, converged)
  }
}
