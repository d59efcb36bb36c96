package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** Obligations on the iterate-to-convergence k-means path (`KMeans.train`):
  * the Aggregator centroid update must be bit-identical to the posexplode
  * formulation it replaced, training must actually converge on the fixture,
  * and inertia must be non-increasing round over round (the Lloyd
  * invariant — each assign and each update individually cannot raise it).
  */
class KMeansSpec extends SparkSpec {

  private val dim = 64

  private def quant(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(c, x => round(x.cast(DoubleType) * 1048576d).cast(LongType))

  private def fixture = Tables.embeddings(spark, sf)
    .select(col("vec_id"), quant(col("embedding")).as("qe"))

  private def init(e: org.apache.spark.sql.DataFrame, k: Int) =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").cast(IntegerType).as("cid"), col("qe").as("c"))

  test("Aggregator centroid update is bit-identical to the posexplode formulation") {
    val e = fixture
    val a1 = KMeans.assign(e, init(e, 8))
    val viaAgg = KMeans.update(a1, dim)
    val viaExplode = a1.select(col("cluster"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos").agg(round(avg(col("v"))).cast(LongType).as("m"))
      .groupBy("cluster").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cluster").cast(IntegerType).as("cid"),
        transform(col("pm"), p => p.getField("m")).as("c"))
    val mismatches = viaAgg.as("a")
      .join(viaExplode.as("b"), col("a.cid") === col("b.cid"), "full_outer")
      .where(col("a.c").isNull || col("b.c").isNull || col("a.c") =!= col("b.c"))
      .count()
    assert(mismatches == 0)
    assert(viaAgg.count() == 8) // non-vacuity: all 8 seeds kept members
  }

  test("train converges on the fixture and reports the round count") {
    val e = fixture.localCheckpoint()
    Caching.pinned { pins =>
      val (cent, iters, converged) = KMeans.train(pins, e, init(e, 8), dim, maxIters = 30)
      assert(converged, s"did not converge in 30 rounds (ran $iters)")
      assert(iters >= 1 && iters <= 30)
      // converged means one more update is a fixed point
      val again = KMeans.update(KMeans.assign(e, cent), dim)
      val moved = cent.select(col("cid"), col("c").as("c_old"))
        .join(again.select(col("cid"), col("c").as("c_new")), Seq("cid"), "full_outer")
        .where(col("c_old").isNull || col("c_new").isNull || col("c_old") =!= col("c_new"))
        .count()
      assert(moved == 0)
    }
  }

  test("inertia is non-increasing across training rounds") {
    // exact Lloyd monotonicity holds for real-valued centroids; ours round
    // to integers (parity with the SQL oracle), which can perturb a
    // near-converged round by O(dim·n·scale) — allow that slack only
    val e = fixture.localCheckpoint()
    var cent = init(e, 8).localCheckpoint()
    var last = Long.MaxValue
    (1 to 5).foreach { _ =>
      val a = KMeans.assign(e, cent)
      val inertia = a.agg(sum(col("d2"))).head().getLong(0)
      val slack = if (last == Long.MaxValue) 0L else last / 10000
      assert(inertia <= last + slack, s"inertia rose: $last -> $inertia")
      last = inertia
      cent = KMeans.update(a, dim).localCheckpoint()
    }
  }

  test("maxIters caps the loop when convergence is not reached") {
    val e = fixture.localCheckpoint()
    val (_, iters, _) =
      Caching.pinned(pins => KMeans.train(pins, e, init(e, 8), dim, maxIters = 1))
    assert(iters == 1)
  }
}
