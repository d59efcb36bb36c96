package graft.ext

import org.apache.spark.sql.Row

import graft.{Registry, SparkSpec}

/** The PQ serve path over one index in its three storage shapes: in
  * memory (x3h), persisted and loaded (x3k) and fragmented then compacted
  * (x3n) serve the same rows; the changed-index serves (x3l append, x3m
  * delete, x3r update) keep the refine tail's shape. The DuckDB oracle
  * checks each against a rebuild; this pins the properties in Tier-1.
  */
class AnnServeSpec extends SparkSpec {

  private def served(name: String): Seq[Row] =
    Registry.queries(name)(spark, sf).collect().toSeq

  test("one index, three serves: x3h, x3k and x3n return identical rows") {
    val inMemory = served("x3h_pq_rerank")
    assert(inMemory.size == 40)
    val rowSet = inMemory.map(_.toString).sorted
    assert(served("x3k_pq_index_serve").map(_.toString).sorted == rowSet)
    assert(served("x3n_pq_index_compact").map(_.toString).sorted == rowSet)
  }

  test("append, delete and update serves return 5 reranked rows per query") {
    for (name <- Seq("x3l_pq_index_append", "x3m_pq_index_delete",
        "x3r_pq_index_update")) {
      val rows = Registry.queries(name)(spark, sf)
        .select("q_id", "rank", "cos").collect()
      assert(rows.length == 40, s"$name: ${rows.length} rows")
      val byQ = rows.groupBy(_.getAs[Number](0).longValue)
      assert(byQ.keySet == (0L until 8L).toSet, s"$name queries: ${byQ.keySet}")
      byQ.foreach { case (q, rs) =>
        val ranked = rs.sortBy(_.getInt(1))
        assert(ranked.map(_.getInt(1)).toSeq == (1 to 5), s"$name q$q ranks")
        assert(ranked.map(_.getDouble(2)).sliding(2).forall {
          case Array(a, b) => a >= b; case _ => true
        }, s"$name q$q cos not non-increasing: ${ranked.map(_.getDouble(2)).toSeq}")
      }
    }
  }
}
