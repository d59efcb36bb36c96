package graft.ext

import java.nio.file.Paths

import org.apache.commons.io.FileUtils

import graft.{Registry, SparkSpec}

/** x2h / x2i on duplicate-BEARING corpora. The driver fixture contains no
  * exact-duplicate texts, so at the oracle gate every md5 group is a
  * singleton and the group-aware paths — x2h's first-arrival group minimum
  * and partner-group minimum, x2i's per-cluster argmax over >1 member —
  * reduce to the pairwise case. These corpora exercise the general logic:
  * exact-dup groups spanning the index/batch split, exact-dup groups
  * wholly inside the batch, near-dup (j ≈ 0.9) pairs across and inside
  * the batch, and quality ties inside a near-dup cluster.
  */
class IncrementalDedupSpec extends SparkSpec {

  /** Spark's pmod(doc_id * 2654435761, 100) — the x6/x7/x2h split. */
  private def bucket(id: Long): Long = math.floorMod(id * 2654435761L, 100L)

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): String = {
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    import spark.implicits._
    rows.map { case (id, text) => (id, text, "en", "spec", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** 60 distinct tokens; replacing the last token changes 3 of 58 shingles
    * ⇒ j = 55/61 ≈ 0.90 ≥ 0.8 between any two variants.
    */
  private def baseTokens: IndexedSeq[String] = (1 to 60).map(i => s"tok$i")
  private def variant(last: String): String = (baseTokens.init :+ last).mkString(" ")

  test("x2h: group-aware verdicts on a corpus with exact and near dups") {
    // ids by split side, deterministic from the bucket formula
    val idx = (0L until 400L).filter(bucket(_) < 80)
    val bat = (0L until 400L).filter(bucket(_) >= 80)
    val Seq(i0, i1, i2) = idx.take(3)
    val Seq(b0, b1, b2, b3, b4, b5, b6, b7) = bat.take(8)

    // each case gets a DISJOINT 60-token vocabulary: two variants of one
    // vocabulary are near (j ≈ 0.9), texts of different vocabularies share
    // nothing — so every near relation in the corpus is the intended one
    def text(vocab: String, last: String): String =
      ((1 to 59).map(i => s"$vocab$i") :+ last).mkString(" ")
    val mega = text("mega", "mega60") // exact group spanning both sides
    val batchOnly2 = text("bonly", "bonly60") // exact group inside the batch
    val nearIdxA = text("nidx", "endA") // near pair across the split
    val nearIdxB = text("nidx", "endB")
    val nearBatA2 = text("nbat", "endA") // near pair inside the batch
    val nearBatB2 = text("nbat", "endB")

    val uniq = (0 until 3).map(k =>
      (200 to 240).map(i => s"uniq${k}w${i * (k + 7)}").mkString(" "))

    val corpus = writeDocs(s"${graft.Tmp.root}/incdedup-corpus",
      Seq(
        i0 -> mega, i1 -> mega, // index copies of the spanning group
        i2 -> nearIdxA, // index side of the cross-split near pair
        b0 -> mega, b1 -> mega, // batch copies ⇒ dup_index (exact)
        b2 -> batchOnly2, b3 -> batchOnly2, // batch-only exact group
        b4 -> nearIdxB, // near the index text ⇒ dup_index (near)
        b5 -> nearBatA2, b6 -> nearBatB2, // near pair inside the batch
        b7 -> uniq(0)) // genuinely new
        ++ idx.slice(3, 5).zip(uniq.tail).map { case (id, t) => id -> t })

    val got = Registry.queries("x2h_incremental_dedup")(spark, corpus)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getString(3))))
      .toMap

    // ordering inside groups: Seq(...) preserved bat order so b0<b1, b2<b3, b5<b6
    assert(got(b0) == ((true, false, "dup_index")), s"b0=$b0 -> ${got(b0)}")
    // b1 is ALSO a within-batch dup of b0 (same text, b0 earlier) but the
    // index verdict wins; the boolean still reports the batch fact
    assert(got(b1) == ((true, true, "dup_index")), s"b1=$b1 -> ${got(b1)}")
    assert(got(b2) == ((false, false, "new")), s"b2=$b2 -> ${got(b2)}")
    assert(got(b3) == ((false, true, "dup_batch")), s"b3=$b3 -> ${got(b3)}")
    assert(got(b4) == ((true, false, "dup_index")), s"b4=$b4 -> ${got(b4)}")
    assert(got(b5) == ((false, false, "new")), s"b5=$b5 -> ${got(b5)}")
    assert(got(b6) == ((false, true, "dup_batch")), s"b6=$b6 -> ${got(b6)}")
    assert(got(b7) == ((false, false, "new")), s"b7=$b7 -> ${got(b7)}")
    // index docs never appear in the output
    assert(!got.contains(i0) && !got.contains(i2))
  }

  test("x2i: cluster keeps the highest-n_types member; ties break to min id") {
    // cluster {1,2,3}: near-dup variants where doc 2 alone has 60 distinct
    // types (1 and 3 end in a REPEATED token ⇒ 59 types) — best must be 2
    // even though 1 is the component label; cluster {4,5}: identical
    // texts, equal types ⇒ tie breaks to 4; {6}: singleton keeps itself.
    val t = baseTokens
    val doc1 = (t.init :+ "tok1").mkString(" ") // 59 types
    val doc2 = (t.init :+ "tok60fresh").mkString(" ") // 60 types
    val doc3 = (t.init :+ "tok2").mkString(" ") // 59 types
    val same = (301 to 360).map(i => s"same$i").mkString(" ")
    val lone = (401 to 460).map(i => s"lone$i").mkString(" ")
    val corpus = writeDocs(s"${graft.Tmp.root}/clusterbest-corpus",
      Seq(1L -> doc1, 2L -> doc2, 3L -> doc3, 4L -> same, 5L -> same, 6L -> lone))

    val got = Registry.queries("x2i_cluster_best")(spark, corpus)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getBoolean(4))))
      .toMap

    assert(got(1L) == ((1L, 59, 2L, false)), got(1L))
    assert(got(2L) == ((1L, 60, 2L, true)), got(2L))
    assert(got(3L) == ((1L, 59, 2L, false)), got(3L))
    assert(got(4L) == ((4L, 60, 4L, true)), got(4L))
    assert(got(5L) == ((4L, 60, 4L, false)), got(5L))
    assert(got(6L) == ((6L, 60, 6L, true)), got(6L))
  }
}
