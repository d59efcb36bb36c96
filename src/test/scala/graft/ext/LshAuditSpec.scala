package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** The quadratic truth audits that used to ride INSIDE the registered
  * x2b/x2e queries (r6) live here now: the registered plans carry only the
  * LSH scale path (pinned cartesian-free in PlanSpec), and this spec pays
  * the all-pairs cost once, against the fixture, where benching never
  * sees it.
  */
class LshAuditSpec extends SparkSpec {

  test("x2b pigeonhole LSH equals brute force at Hamming <= 3, non-vacuously") {
    val row = Caching.pinned(pins =>
      DedupQueries.simhashEqualityPlan(pins, spark, sf).head())
    assert(row.getBoolean(0), "LSH pair set != brute-force pair set")
    assert(row.getInt(1) == 3)
    assert(row.getBoolean(2), "no pairs at Hamming <= 3 — equality is vacuous")
  }

  test("x2e LSH pairs are a subset of the brute-force truth set with non-trivial recall") {
    val quant = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x.cast(DoubleType) * 1048576d).cast(LongType))
    def qdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.Kernels.long_vec_dot(a, b)
    def qcos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      qdot(a, b).cast(DoubleType) /
        (sqrt(qdot(a, a).cast(DoubleType)) * sqrt(qdot(b, b).cast(DoubleType)))
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), quant(col("embedding")).as("qe"))
    val ea = e.select(col("vec_id").as("a"), col("qe").as("ea"))
    val eb = e.select(col("vec_id").as("b"), col("qe").as("eb"))
    val truth = ea.join(eb, col("a") < col("b"))
      .where(qcos(col("ea"), col("eb")) >= 0.4)
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = graft.Registry.queries("x2e_dedup_embed")(spark, sf)
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification makes every emitted pair TRUE — soundness is exact
    assert(found.subsetOf(truth), s"LSH emitted non-pairs: ${found.diff(truth).take(5)}")
    // boundary recall is REPORTED, not floored (r14): the 8×12 geometry
    // deliberately trades pairs at the cos 0.4–0.5 verify boundary for a
    // 7× verify-candidate cut at 30× (see the LshNumBands scaladoc); the
    // near-dup OPERATING POINT is what the planted audit below and the
    // ScaleBench 30× gate floor. The fixture's truth set at τ=0.4 is
    // entirely boundary pairs (max cos ≈ 0.51), so a floor here would
    // gate exactly the regime the geometry declares out of scope.
    info(s"x2e boundary (τ=0.4) recall at fixture scale: " +
      s"${found.size}/${truth.size}")
  }

  test("x2e geometry finds planted near-dups at fixture scale") {
    // the operating-point audit (r14): plant 20 known near-dups — each a
    // base vector scaled elementwise by (1 ± 0.1) alternating, the
    // ScaleBench construction, cos ≈ 0.995 regardless of the source —
    // and require the band join to surface EVERY pair. At p ≈ 0.968
    // plane agreement the 8×12 miss probability is (1−p¹²)⁸ ≈ 2e-4 per
    // pair; a miss here is a geometry regression, not noise.
    val quant = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x.cast(DoubleType) * 1048576d).cast(LongType))
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val planted = base.orderBy("vec_id").limit(20)
      .select((col("vec_id") + 800000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x * (CASE WHEN i % 2 = 0 " +
          "THEN 1.1 ELSE 0.9 END) AS FLOAT))").as("embedding"))
    val e = base.unionByName(planted)
      .select(col("vec_id"), quant(col("embedding")).as("qe"))
    val bands = e.select(col("vec_id"),
        explode(SimilarityQueries.lshBandStructsKernel(col("qe"))).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = base.orderBy("vec_id").limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 800000000L)).toSet
    val missed = want.diff(cand)
    assert(missed.isEmpty, s"band join missed planted near-dups: $missed")
  }

  test("x2e band-bucket occupancy stays near n/2^bits — the O(n) candidate bound") {
    // the r08 verdict's scale finding: 4-bit keys capped at 16 buckets per
    // band, so occupancy grew as n/16 and the band self-join went
    // quadratic. With 2^LshBandBits buckets the expected occupancy is
    // n / 2^bits (n/4096 at the r14 12-bit keys); assert
    // the LARGEST bucket stays within a small multiple of that, so the
    // per-band candidate count is provably O(n · maxOcc) = O(n)
    val quant = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x.cast(DoubleType) * 1048576d).cast(LongType))
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), quant(col("embedding")).as("qe"))
    val buckets = e.select(col("vec_id"),
        explode(array(SimilarityQueries.lshBandStructs(col("qe")): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"))
    val n = e.count()
    val maxOcc = buckets.groupBy("band", "key").count()
      .agg(max(col("count"))).head().getLong(0)
    val expected = math.max(1.0, n.toDouble / (1 << SimilarityQueries.LshBandBits))
    // random signatures concentrate near uniform; 8× covers Poisson tails
    // at fixture scale without masking a bucket-collapse regression
    assert(maxOcc <= 8 * expected + 8,
      s"max bucket occupancy $maxOcc vs expected ~$expected (n=$n)")
  }

  test("rademacher_sig kernel equals the 64-dot Column formulation on fixture embeddings") {
    val quant = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x.cast(DoubleType) * 1048576d).cast(LongType))
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), quant(col("embedding")).as("qe"))
    // full-signature struct vs struct(lshBandKeys) — the x2e shape
    val keyCols = SimilarityQueries.lshBandKeys(col("qe")).zipWithIndex
      .map { case (k, i) => k.as(s"k$i") }
    val sigDiff = e.select(
      (SimilarityQueries.lshSigStruct(col("qe")) <=> struct(keyCols: _*)).as("eq"))
      .filter(!col("eq"))
    assert(sigDiff.count() == 0)
    // band-struct array vs array(lshBandStructs) — the x7e explode shape
    val bandDiff = e.select(
      (SimilarityQueries.lshBandStructsKernel(col("qe")) <=>
        array(SimilarityQueries.lshBandStructs(col("qe")): _*)).as("eq"))
      .filter(!col("eq"))
    assert(bandDiff.count() == 0)
    // non-vacuity + key-space coverage: real signatures spread over bands
    val n = e.count()
    assert(n > 100)
    val distinctSigs = e.select(SimilarityQueries.lshSigStruct(col("qe")).as("s"))
      .distinct().count()
    assert(distinctSigs > n / 2, s"suspiciously few distinct signatures: $distinctSigs")
  }

  test("rademacher_sig dimension mismatch yields all-zero keys like the when/otherwise form") {
    import spark.implicits._
    // a 3-long vector cannot dot the 64-long planes: every qdot is null,
    // every when(...).otherwise(0) term is 0 — the kernel must agree
    val df = Seq(Seq(1L, 2L, 3L)).toDF("qe")
    val viaKernel = df.select(SimilarityQueries.lshSigStruct(col("qe")).as("s"))
      .head.getStruct(0)
    assert((0 until 8).forall(viaKernel.getInt(_) == 0))
    val keyCols = SimilarityQueries.lshBandKeys(col("qe")).zipWithIndex
      .map { case (k, i) => k.as(s"k$i") }
    val viaColumns = df.select(struct(keyCols: _*).as("s")).head.getStruct(0)
    assert((0 until 8).forall(viaColumns.getInt(_) == 0))
  }

  test("x2e signature planes are the frozen seed-42 Rademacher set") {
    // the oracle SQL embeds these as literals — a drifting generator would
    // desync Spark and DuckDB silently at the gate, so freeze a prefix
    val p = SimilarityQueries.LshPlanes
    assert(p.length == SimilarityQueries.LshNumBands * SimilarityQueries.LshBandBits
      && p.length == 96 && p.forall(_.length == 64))
    assert(p.forall(_.forall(v => v == 1L || v == -1L)))
    // determinism across invocations of the generator (java.util.Random's
    // LCG is part of its spec, so this also pins cross-JVM stability)
    val rnd = new java.util.Random(42)
    val regen = IndexedSeq.fill(96)(Seq.fill(64)(if (rnd.nextBoolean()) 1L else -1L))
    assert(regen == p)
    // the sequential draw makes a smaller geometry's pool a strict prefix
    // (what ScaleBench's 8×8-vs-8×12 A/B relies on)
    assert(SimilarityQueries.lshPlanesFor(64) == p.take(64))
    // not degenerate: roughly balanced signs per plane
    assert(p.forall(pl => math.abs(pl.sum) < 40))
  }
}
