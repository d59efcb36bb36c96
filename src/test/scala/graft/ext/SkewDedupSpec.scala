package graft.ext

import java.nio.file.Paths

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.{Registry, ShuffleReads, SparkSpec}

/** Skew-adversarial dedup (VERDICT r07 #3): the real shape of crawl dedup
  * is ONE mega-duplicate cluster holding most of the corpus — here 80%
  * (480 of 600 docs share one text). The dedup family must stay correct
  * AND must not funnel a quadratic read through a single task: identical
  * texts share every LSH band bucket, so without the exact-dup collapse
  * ([[DedupQueries.minhashPairsPlan]], r08) the band self-join reads
  * O(cluster²) rows in one shuffle task. The spec asserts the ground
  * truth (computable by hand for this corpus) and the per-task
  * shuffle-read bound via task metrics.
  */
class SkewDedupSpec extends SparkSpec {

  private val dir = s"${graft.Tmp.root}/skew-corpus"
  private val nDocs = 600
  private val clusterSize = 480 // 80%
  private val expectedPairs = clusterSize.toLong * (clusterSize - 1) / 2 // 114,960

  /** 480 identical docs (ids 0..479) + 120 mutually-dissimilar docs —
    * written once per run, same file-split shape as the driver fixtures.
    */
  private lazy val corpus: String = {
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    import spark.implicits._
    val mega = "the quick brown fox jumps over the lazy dog again and " +
      "again without end across the wide river"
    val rows = (0 until nDocs).map { i =>
      val text =
        if (i < clusterSize) mega
        else s"unique document number $i carries words token$i " +
          s"marker${i * 7} tail${i * 13} closing phrase $i"
      (i.toLong, text, "en", "skew", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("x1 exact dedup: the 80% cluster collapses to one group") {
    val got = Registry.queries("x1_dedup_exact")(spark, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 120 singleton groups (min rep = first unique id, 480) and one
    // 480-copy group represented by doc 0
    assert(got == Set((1L, 120L, 480L), (480L, 1L, 0L)), got)
  }

  test("x2 minhash: full clique found, no task reads a quadratic input") {
    val (rows, reads) = ShuffleReads.during(spark) {
      Registry.queries("x2_dedup_minhash")(spark, corpus).collect()
    }
    assert(rows.length == expectedPairs,
      s"expected $expectedPairs clique pairs, got ${rows.length}")
    assert(rows.forall { r =>
      r.getLong(0) < clusterSize && r.getLong(1) < clusterSize &&
        r.getLong(0) < r.getLong(1) && r.getDouble(2) == 1.0
    }, "pairs outside the duplicate cluster, or j != 1.0")
    // the quadratic pair set is OUTPUT (written by the clique join), but
    // no single task may READ anything near cluster² ≈ 115k rows — with
    // the exact-dup collapse the band join sees 121 representatives and
    // every shuffle read stays O(corpus)
    val maxRead = if (reads.isEmpty) 0L else reads.max
    assert(maxRead < 20000L,
      s"hot task read $maxRead shuffle records (quadratic funnel?): " +
        s"top reads ${reads.sorted.reverse.take(5)}")
  }

  test("x2b simhash: covers the duplicate cluster, signatures priced per distinct text") {
    val (rows, reads) = ShuffleReads.during(spark) {
      Registry.queries("x2b_dedup_simhash")(spark, corpus).collect()
    }
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getBoolean(0), "LSH lost the exact-duplicate cluster")
    assert(r.getInt(1) == 3 && r.getLong(2) == nDocs, r)
    // collapse bounds the chunk-bucket join by distinct texts (121), so no
    // task reads anything near cluster-squared
    val maxRead = if (reads.isEmpty) 0L else reads.max
    assert(maxRead < 20000L,
      s"hot task read $maxRead shuffle records: top ${reads.sorted.reverse.take(5)}")
  }

  for (name <- Seq("x2d_dedup_components", "x2f_cc_star")) {
    test(s"$name: one 480-doc component plus 120 singletons, no hot read") {
      val (rows, reads) = ShuffleReads.during(spark) {
        Registry.queries(name)(spark, corpus).collect()
      }
      assert(rows.length == nDocs)
      val byComponent = rows.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
      assert(byComponent(0L) == clusterSize,
        s"cluster component wrong: ${byComponent(0L)}")
      assert(byComponent.size == 1 + (nDocs - clusterSize),
        s"component count ${byComponent.size}")
      val keepers = rows.count(_.getBoolean(2))
      assert(keepers == 1 + (nDocs - clusterSize), s"keepers $keepers")
      val maxRead = if (reads.isEmpty) 0L else reads.max
      // components run on the connectivity-equivalent edge list (star per
      // identical-text group + rep pairs) — LINEAR in the corpus, so even
      // with every edge coalesced into one task by AQE the read stays
      // O(corpus), never O(cluster²)
      assert(maxRead < 20000L,
        s"hot task read $maxRead shuffle records (quadratic edges?): " +
          s"top reads ${reads.sorted.reverse.take(5)}")
    }
  }

  // ---- x2e: the same mega-duplicate shape over EMBEDDINGS (r09) ----

  private val embDir = s"${graft.Tmp.root}/skew-emb"
  private val nVecs = 540
  private val embCluster = 480
  private val embScaled = 10 // 1.5× copies: SAME signature, DIFFERENT vector
  private val nearSet = embCluster + embScaled
  private val expectedEmbPairs = nearSet.toLong * (nearSet - 1) / 2 // 119,805

  /** 480 identical vectors (ids 0..479, the near-dup crawl cluster —
    * identical ⇒ identical LSH signature ⇒ same vkey group) + 10 scaled
    * copies (ids 480..489, ×1.5: positive scaling preserves every
    * hyperplane sign, so the signature is IDENTICAL while the quantized
    * vector — and therefore the vkey — differs; cos is exactly 1.0, so
    * the r10 cross-vkey/same-sig verify + expansion path is exercised
    * deterministically, not just the same-vkey clique) + 50 one-hot
    * vectors on distinct dimensions (cos 0.125 vs the cluster — all
    * safely under the 0.4 threshold).
    */
  private lazy val embCorpus: String = {
    FileUtils.deleteQuietly(Paths.get(embDir).toFile)
    import spark.implicits._
    val mega: Seq[Float] = Seq.fill(64)(0.125f)
    val scaled: Seq[Float] = Seq.fill(64)(0.1875f)
    val rows = (0 until nVecs).map { i =>
      val v: Seq[Float] =
        if (i < embCluster) mega
        else if (i < nearSet) scaled
        else Seq.tabulate(64)(d => if (d == i - nearSet) 1.0f else 0.0f)
      (i.toLong, v, s"l${i % 8}")
    }
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$embDir/embeddings.parquet")
    embDir
  }

  test("x2e embedding LSH: full cluster clique, no task reads a quadratic input") {
    val (rows, reads) = ShuffleReads.during(spark) {
      Registry.queries("x2e_dedup_embed")(spark, embCorpus).collect()
    }
    assert(rows.length == expectedEmbPairs,
      s"expected $expectedEmbPairs cluster pairs, got ${rows.length}")
    assert(rows.forall { r =>
      r.getLong(0) < nearSet && r.getLong(1) < nearSet &&
        r.getLong(0) < r.getLong(1) && math.abs(r.getDouble(2) - 1.0) < 1e-9
    }, "pairs outside the duplicate cluster, or cos != 1")
    // the scaled copies must pair ACROSS vkey groups (identical-signature
    // different-vector expansion), not just within the identical clique
    assert(rows.count(r => r.getLong(0) < embCluster && r.getLong(1) >= embCluster)
      == embCluster.toLong * embScaled,
      "missing cross-group (same-sig, different-vkey) pairs")
    // the clique is OUTPUT; the signature collapse means the band join
    // and the expansion joins are keyed by (distinct) signatures, so no
    // task READS anything near cluster² ≈ 115k — the raw-vector
    // formulation funneled the bucket join + pair distinct + corpus
    // rejoin through ~1M-record shuffle reads here
    val maxRead = if (reads.isEmpty) 0L else reads.max
    assert(maxRead < 20000L,
      s"hot task read $maxRead shuffle records (quadratic funnel?): " +
        s"top reads ${reads.sorted.reverse.take(5)}")
  }
}
