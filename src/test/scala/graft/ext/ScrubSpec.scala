package graft.ext

import java.nio.file.Paths

import org.apache.commons.io.FileUtils

import graft.{Registry, SparkSpec}

/** x2k boilerplate scrub on a hand-computable corpus: every removal
  * decision below is derivable on paper, so the spec pins the exact
  * semantics the oracle hash then holds at corpus scale — cross-document
  * hot windows only (intra-doc repeats are NOT scrubbed), union coverage
  * of overlapping hot windows, sub-window docs untouched, and the
  * all-boilerplate doc scrubbing to the empty string.
  */
class ScrubSpec extends SparkSpec {

  private val dir = s"${graft.Tmp.root}/scrub-corpus"

  private val B = (1 to 8).map(i => s"b$i").mkString(" ") // shared 8-run
  private val C9 = (1 to 9).map(i => s"c$i").mkString(" ") // shared 9-run
  private val R8 = (1 to 8).map(i => s"r$i").mkString(" ") // intra-doc only

  private lazy val corpus: String = {
    FileUtils.deleteQuietly(Paths.get(dir).toFile)
    import spark.implicits._
    val rows = Seq(
      (1L, s"u11 u12 $B u13 u14"), // B at positions 2..9
      (2L, s"u21 $B u22 u23 u24"), // B at positions 1..8
      (3L, "s1 s2 s3"),            // shorter than the window
      (4L, s"$R8 $R8"),            // repeated run, but only in this doc
      (5L, B),                     // nothing but boilerplate
      (6L, s"x61 $C9 x62"),        // two overlapping hot windows
      (7L, s"x71 $C9 x72"))
      .map { case (id, text) => (id, text, "en", "scrub", text.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("x2k: cross-doc coverage union, intra-doc immunity, empty-doc scrub") {
    val got = Registry.queries("x2k_boilerplate_scrub")(spark, corpus)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val want = Map(
      1L -> ((12L, 8L, md5hex("u11 u12 u13 u14"))),
      2L -> ((12L, 8L, md5hex("u21 u22 u23 u24"))),
      3L -> ((3L, 0L, md5hex("s1 s2 s3"))),
      4L -> ((16L, 0L, md5hex(s"$R8 $R8"))),
      5L -> ((8L, 8L, md5hex(""))),
      6L -> ((11L, 9L, md5hex("x61 x62"))),
      7L -> ((11L, 9L, md5hex("x71 x72"))))
    assert(got == want, got)
  }

  test("scrub_tokens kernel: coverage algebra on constructed cases") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def run(tok: Seq[String], starts: Seq[Int], span: Int = 8): Seq[String] =
      Seq((tok, starts)).toDF("tok", "st")
        .select(graft.functions.Kernels.scrub_tokens(col("tok"), col("st"), span))
        .collect()(0).getSeq[String](0)
    val t = (0 until 12).map(i => s"t$i")
    assert(run(t, Nil) == t, "empty starts keeps everything")
    assert(run(t, Seq(0)) == t.drop(8), "one window drops [0,8)")
    assert(run(t, Seq(0, 4)) == t.drop(12) && run(t, Seq(0, 4)).isEmpty,
      "overlap unions to [0,12)")
    assert(run(t, Seq(2, 2)) == t.take(2) ++ t.drop(10),
      "duplicate starts are idempotent")
    assert(run(t, Seq(10)) == t.take(10), "tail window clamps at doc end")
    assert(run(t, Seq(0, 1, 2, 3, 4)).isEmpty, "full coverage scrubs all")
    assert(run(t, Seq(1), span = 3) == (t.take(1) ++ t.drop(4)),
      "span parameter honored")
  }

  test("scrub_tokens kernel == exploded-positions HOF formulation (random)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    val rows = (1 to 200).map { id =>
      val n = 1 + rnd.nextInt(40)
      val tok = (0 until n).map(i => s"w${rnd.nextInt(6)}_$i")
      val ns = rnd.nextInt(6)
      val starts = Seq.fill(ns)(rnd.nextInt(n)).sorted
      (id.toLong, tok, starts)
    }
    val df = rows.toDF("id", "tok", "st")
    val kernel = df.select(col("id"),
      graft.functions.Kernels.scrub_tokens(col("tok"), col("st"), 8).as("kept"))
    val hof = df.select(col("id"),
      filter(col("tok"), (_, i) => !exists(col("st"),
        s => s <= i && i < s + 8)).as("kept"))
    assert(kernel.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      == hof.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap)
  }
}
