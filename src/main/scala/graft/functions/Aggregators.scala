package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed UDAF surface (SURVEY Q55) via `Aggregator` + `udaf(...)`.
  * Both aggregators are algebraic (commutative + associative merge), so
  * Spark plans them with map-side partial aggregation — at 100 TB only the
  * per-group buffers shuffle, never rows.
  */
object Aggregators {

  /** Bitwise-OR accumulator — the reference's `tcp_flags` column is the OR
    * of all TCP flags seen over a flow's packets (`main.go:71`); this
    * re-aggregates the OR across flows per group.
    */
  object BitOrAgg extends Aggregator[Long, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: Long): Long = b | a
    override def merge(b1: Long, b2: Long): Long = b1 | b2
    override def finish(r: Long): Long = r
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  final case class WeightedIn(value: Long, weight: Long)
  final case class WeightedBuf(num: Long, den: Long)

  /** Weighted average over integer inputs: exact integer sums, one double
    * division at finish — deterministic under any partial-aggregation order.
    */
  object WeightedAvgAgg extends Aggregator[WeightedIn, WeightedBuf, Double] {
    override def zero: WeightedBuf = WeightedBuf(0L, 0L)
    override def reduce(b: WeightedBuf, a: WeightedIn): WeightedBuf =
      WeightedBuf(b.num + a.value * a.weight, b.den + a.weight)
    override def merge(a: WeightedBuf, b: WeightedBuf): WeightedBuf =
      WeightedBuf(a.num + b.num, a.den + b.den)
    override def finish(r: WeightedBuf): Double =
      if (r.den == 0L) Double.NaN else r.num.toDouble / r.den.toDouble
    override def bufferEncoder: Encoder[WeightedBuf] = Encoders.product[WeightedBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Elementwise minimum over fixed-length long arrays — the MinHash
    * signature combiner. One narrow agg column instead of k wide min()
    * columns: the k-wide formulation makes whole-stage codegen emit a
    * k-column aggregate whose Janino compilation dominates cold-start.
    */
  final class ElementwiseMinAgg(k: Int)
      extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
    override def reduce(b: Array[Long], a: Array[Long]): Array[Long] = {
      var i = 0
      while (i < k) { if (a(i) < b(i)) b(i) = a(i); i += 1 }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = reduce(x, y)
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Elementwise sum + count over fixed-length long arrays — the k-means
    * centroid-update combiner. Buffer = dim sums followed by one count
    * slot. One array per row crosses the map-side combine instead of the
    * posexplode formulation's dim (cluster, pos, v) rows — a dim× cut in
    * shuffle rows for the same exact integer sums.
    */
  final class ElementwiseSumCountAgg(dim: Int)
      extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](dim + 1)
    override def reduce(b: Array[Long], a: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { b(i) += a(i); i += 1 }
      b(dim) += 1L
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i <= dim) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  final case class TopEntry(metric: Long, id: Long)

  /** Bounded top-k-per-group accumulator — the SCALE path for top-N per
    * group. The window formulation (q32) shuffles and sorts EVERY row of
    * each group before discarding all but k; this aggregator's buffers cap
    * at k entries, so with map-side partial aggregation only ≤ k rows per
    * group per map task ever cross the shuffle — the per-group analogue of
    * what TakeOrderedAndProject does for a global LIMIT+ORDER BY. The
    * buffer keeps a strict total order (metric DESC, id ASC), so results
    * are exact and deterministic under any partial-merge order, ties
    * included.
    *
    * Buffer layout: packed (metric, id) pairs in a Long array — a flat
    * primitive encoder, no per-entry object headers in the shuffle.
    */
  final class TopKAgg(k: Int)
      extends Aggregator[TopEntry, Array[Long], Array[TopEntry]] {
    require(k > 0)
    override def zero: Array[Long] = Array.emptyLongArray
    private def better(m1: Long, i1: Long, m2: Long, i2: Long): Boolean =
      m1 > m2 || (m1 == m2 && i1 < i2)
    private def insert(b: Array[Long], m: Long, id: Long): Array[Long] = {
      val n = b.length / 2
      if (n == k && !better(m, id, b(2 * (n - 1)), b(2 * n - 1))) return b
      var pos = 0
      while (pos < n && better(b(2 * pos), b(2 * pos + 1), m, id)) pos += 1
      val outN = math.min(k, n + 1)
      val out = new Array[Long](outN * 2)
      System.arraycopy(b, 0, out, 0, pos * 2)
      out(2 * pos) = m
      out(2 * pos + 1) = id
      val tail = math.min(n - pos, outN - pos - 1)
      if (tail > 0) System.arraycopy(b, pos * 2, out, (pos + 1) * 2, tail * 2)
      out
    }
    override def reduce(b: Array[Long], a: TopEntry): Array[Long] =
      insert(b, a.metric, a.id)
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var r = x
      var i = 0
      while (i < y.length / 2) { r = insert(r, y(2 * i), y(2 * i + 1)); i += 1 }
      r
    }
    override def finish(r: Array[Long]): Array[TopEntry] =
      Array.tabulate(r.length / 2)(i => TopEntry(r(2 * i), r(2 * i + 1)))
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[TopEntry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[TopEntry]]()
  }

  /** Misra–Gries heavy-hitter sketch (Misra & Gries 1982; merge rule from
    * Agarwal et al. 2012, "Mergeable Summaries"): a bounded `capacity`-entry
    * counter map whose candidate set provably contains EVERY item with true
    * frequency > n/(capacity+1). The scale story: an exact heavy-hitter
    * groupBy shuffles one row per DISTINCT key per map task — at 100 TB of
    * web text the n-gram key space is billions wide and the shuffle is the
    * job. This sketch caps every partial-aggregation buffer at `capacity`
    * entries, so the shuffle is O(capacity · partitions) regardless of key
    * cardinality; a second exact-recount pass over the candidate set (a
    * broadcast semi-join — the candidate set is tiny by construction) turns
    * the sketch's under-estimates back into EXACT counts, which is why
    * x4s's result hash-matches a full exact oracle.
    *
    * Buffer = counter map. `reduce` is classic MG: hit → increment; room →
    * insert at 1; full → decrement ALL by 1, dropping zeros (each such
    * event retires capacity+1 weight, so events ≤ n/(capacity+1) — O(n)
    * total work). `merge` sums the maps, then if over capacity subtracts
    * the (capacity+1)-th largest count from every entry and keeps the
    * positives — the mergeable-summaries rule that preserves the error
    * bound under ANY partial-merge tree, which is what makes the map-side
    * combine sound. `finish` returns the counter map itself — consumers
    * take `map_keys` for the candidate set (x4s), or persist the map as
    * the cross-batch sketch state and fold further batches in with
    * `merge` (q52t: the mergeable-summaries property is exactly what lets
    * a stream carry ONE capacity-bounded artifact instead of a
    * distinct-key-sized state store). The candidate set is deterministic
    * only as a SUPERSET contract; the exact recount downstream makes the
    * final answer order-independent.
    */
  final class MisraGriesAgg(capacity: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(capacity > 0)
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], a: String): Map[String, Long] =
      b.get(a) match {
        case Some(c) => b.updated(a, c + 1L)
        case None if b.size < capacity => b.updated(a, 1L)
        case None =>
          b.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
      }
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val sum = y.foldLeft(x) { case (m, (k, v)) =>
        m.updated(k, m.getOrElse(k, 0L) + v)
      }
      if (sum.size <= capacity) sum
      else {
        // subtract the (capacity+1)-th largest count from all, keep > 0
        val cut = sum.valuesIterator.toArray.sortBy(-_).apply(capacity)
        sum.view.mapValues(_ - cut).filter(_._2 > 0L).toMap
      }
    }
    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** WEIGHTED Misra–Gries (q52u, VERDICT r14 #3): heavy hitters by
    * arbitrary positive weight — bytes per `src_addr`, not occurrence
    * count. The decrement algebra changes: instead of "subtract 1 from
    * all on overflow", BOTH reduce and merge apply the one trim rule —
    * when the map exceeds `capacity`, subtract the (capacity+1)-th
    * largest value from every entry and keep the positives. Each trim
    * retires at least (capacity+1)·cut total weight while charging any
    * single key at most cut, so a key's under-estimate is bounded by
    * W/(capacity+1) for total weight W — every key with true weight
    * > W/(capacity+1) survives, under ANY partial-merge tree (the
    * Agarwal et al. 2012 argument verbatim; weights just replace unit
    * increments). All-1 weights degenerate EXACTLY to the unweighted
    * sketch: after inserting a new key at 1 the (capacity+1)-th largest
    * is 1, so the trim is the classic decrement-all — WeightedMisraGries-
    * Spec pins the equivalence. Non-positive weights are ignored (a
    * zero-byte flow carries no evidence; negatives would break the
    * potential argument).
    */
  final case class WeightedKeyIn(key: String, w: Long)
  final class WeightedMisraGriesAgg(capacity: Int)
      extends Aggregator[WeightedKeyIn, Map[String, Long], Map[String, Long]] {
    require(capacity > 0)
    private def trim(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= capacity) m
      else {
        // the (capacity+1)-th largest value: a reduce step overflows by
        // one key, and then that is the minimum — no sort per new key
        val cut =
          if (m.size == capacity + 1) m.valuesIterator.min
          else m.valuesIterator.toArray.sortBy(-_).apply(capacity)
        m.view.mapValues(_ - cut).filter(_._2 > 0L).toMap
      }
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], a: WeightedKeyIn): Map[String, Long] =
      if (a.w <= 0L) b
      else trim(b.updated(a.key, b.getOrElse(a.key, 0L) + a.w))
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      trim(y.foldLeft(x) { case (m, (k, v)) =>
        m.updated(k, m.getOrElse(k, 0L) + v)
      })
    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  val bit_or_agg = udaf(BitOrAgg)
  val weighted_avg = udaf(WeightedAvgAgg)
  def elementwise_min(k: Int) = udaf(new ElementwiseMinAgg(k))
  def elementwise_sum_count(dim: Int) = udaf(new ElementwiseSumCountAgg(dim))
  def top_k(k: Int) = udaf(new TopKAgg(k))
  def misra_gries(capacity: Int) = udaf(new MisraGriesAgg(capacity))
  def weighted_misra_gries(capacity: Int) = udaf(new WeightedMisraGriesAgg(capacity))
}
