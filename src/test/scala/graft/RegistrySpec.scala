package graft

/** t1 smoke (SURVEY §5.2): every registered capability runs end-to-end on
  * sf0.001 and produces a sane result; registry invariants hold.
  */
class RegistrySpec extends SparkSpec {

  test("registry names are unique and well-formed") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[a-z0-9_]+")))
  }

  test("every oracle has a matching query") {
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
  }

  test("SURVEY §8's oracle-green headline matches the registry") {
    // the r14 round shipped with a stale headline (VERDICT r14 #7) —
    // keep the doc in lockstep with the registry mechanically
    val header = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      .getLines().find(_.startsWith("## 8. Coverage map")).get
    val cited = "(\\d+) oracle-green queries".r
      .findFirstMatchIn(header).get.group(1).toInt
    assert(cited == Registry.oracleSql.size,
      s"SURVEY §8 cites $cited oracle-green queries; registry has " +
        s"${Registry.oracleSql.size} — update the headline")
  }

  test("every SURVEY §2.2 operator row Q1–Q56 is covered") {
    val covered = Registry.all.map(_.name)
      .flatMap(n => "^q(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .toSet
    val missing = (1 to 56).filterNot(covered)
    assert(missing.isEmpty, s"uncovered SURVEY rows: $missing")
  }

  test("every extension family X1–X8 is covered") {
    val covered = Registry.all.map(_.name)
      .flatMap(n => "^x(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .toSet
    val missing = (1 to 8).filterNot(covered)
    assert(missing.isEmpty, s"uncovered extension families: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Queries whose result can legitimately be empty at a given SF (threshold
  // queries over small fixtures).
  private val mayBeEmpty = Set("q15b_join_anti", "qf2_traffic_matrix",
    "qf3_port_scan", "x2c_dedup_ngram", "x3b_cosine_pairs",
    "q46_stream_tumbling", "q47_stream_sliding", "x7c_decontam_fuzzy",
    "x7e_decontam_semantic",
    // r14's 8×12 banding declares the cos 0.4–0.5 boundary pairs — the
    // fixture's ONLY τ-passing pairs — out of the candidate generator's
    // operating point; the positive near-dup contract is pinned in
    // LshAuditSpec on planted pairs
    "x2e_dedup_embed",
    // no sub-threshold aHash pair exists in the dup-free fixtures (min
    // pairwise Hamming 8 at sf0.01) — the positive pair contract is
    // pinned in MultimodalSpec on synthetic payloads
    "x5g_phash_dedup")

  for (q <- Registry.all) {
    test(s"smoke: ${q.name} runs at sf0.001") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val df = q.fn(spark, sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      // pin-lifecycle invariant (graft.ext.Caching.pinned): a registered
      // query must free every intermediate it pinned before returning —
      // in a long-lived session a leaked block set degrades all later
      // queries. Only checkpoint blocks the returned frame itself reads
      // (its own final localCheckpoint, reclaimed by the ContextCleaner
      // when the DataFrame is collected) may remain.
      val read = org.apache.spark.sql.graftshim.Shim.backingRdds(df)
        .map(_.id).toSet
      val live = sc.getPersistentRDDs.values.toSeq
      val leaked = live.filterNot(_.isCheckpointed)
      assert(leaked.isEmpty,
        s"${q.name} leaked cached RDDs: ${leaked.map(r => (r.id, r.name))}")
      val leakedPins = live.filter(r =>
        r.isCheckpointed && !before(r.id) && !read(r.id))
      assert(leakedPins.isEmpty,
        s"${q.name} leaked checkpoint pins its result does not read: " +
          s"${leakedPins.map(r => (r.id, r.count()))}")
    }
  }
}
