package graft.ops

import org.apache.commons.io.FileUtils

import graft.SparkSpec

/** The driver-side artifact writer's layout and its arity guard: a row
  * whose value count differs from the column list must fail before
  * anything lands, never be truncated into a `_SUCCESS`-marked dir.
  */
class DriverParquetSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val dir = s"${graft.Tmp.root}/driver-parquet-$tag"
    FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  test("writes (key, longs…) rows plus a _SUCCESS marker") {
    val dir = fresh("ok")
    DriverParquet.overwrite(spark, dir, "k", Seq("a", "b"),
      Seq(("x", Seq(1L, 2L)), ("y", Seq(3L, 4L))))
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("x", 1L, 2L), ("y", 3L, 4L)))
  }

  test("a row with the wrong arity throws and leaves no _SUCCESS") {
    for ((tag, bad) <- Seq("short" -> Seq(5L), "long" -> Seq(5L, 6L, 7L))) {
      val dir = fresh(tag)
      intercept[IllegalArgumentException] {
        DriverParquet.overwrite(spark, dir, "k", Seq("a", "b"),
          Seq(("x", Seq(1L, 2L)), ("y", bad)))
      }
      assert(!new java.io.File(dir, "_SUCCESS").exists(), s"$tag row")
    }
  }
}
