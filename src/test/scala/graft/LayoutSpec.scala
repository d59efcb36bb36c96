package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** End-to-end proof of the X9 layout claim on REAL files: write lineitem
  * through the production layout path (`repartitionByRange` on the layout
  * key + `sortWithinPartitions` + parquet), recover each written file's
  * min/max statistics — what its parquet footer carries and what a scan
  * prunes on — and count the files a selective predicate would actually
  * have to read under each layout.
  */
class LayoutSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  // 16 files so the file-boundary range (top-4 z bits) carries TWO bits of
  // EACH interleaved dimension — at 8 files the top-3 bits hold only one
  // partkey bit (partkey sits on the even bit positions), making ~half the
  // files the theoretical pruning floor on that dimension
  private val files = 16

  /** Per-written-file [min,max] of `c`, recovered from the files themselves. */
  private def fileRanges(dir: String, c: String): Array[(Long, Long)] =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))

  test("z-ordered files prune on BOTH dimensions; single-sort files on one") {
    val li = Tables.lineitem(spark, sfDir).select(col("l_partkey"), col("l_suppkey"))
    val st = li.agg((max(col("l_partkey")) + 1L).as("mp"),
      (max(col("l_suppkey")) + 1L).as("ms"))
    val z = li.crossJoin(broadcast(st))
      .withColumn("px", expr("(l_partkey * 256) DIV mp"))
      .withColumn("sx", expr("(l_suppkey * 256) DIV ms"))
      .withColumn("zv", Kernels.interleave_bits(col("px"), col("sx")))
      .select(col("l_partkey"), col("l_suppkey"), col("zv"))
    val zdir = s"${graft.Tmp.root}/layout-z"
    val ldir = s"${graft.Tmp.root}/layout-linear"
    z.repartitionByRange(files, col("zv")).sortWithinPartitions("zv")
      .drop("zv").write.mode("overwrite").parquet(zdir)
    li.repartitionByRange(files, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(ldir)

    def touched(dir: String, c: String, lo: Long, hi: Long): Int =
      fileRanges(dir, c).count { case (fLo, fHi) => fHi >= lo && fLo <= hi }

    // a narrow suppkey predicate: the linear (partkey-sorted) layout leaves
    // suppkey unclustered, so EVERY file overlaps; z-order must skip most
    val zTouched = touched(zdir, "l_suppkey", 0L, 11L)
    val lTouched = touched(ldir, "l_suppkey", 0L, 11L)
    assert(lTouched == files, s"expected all $files linear files touched, got $lTouched")
    assert(zTouched * 2 <= files,
      s"z-order should skip >= half the files on suppkey, touched $zTouched/$files")

    // the price: partkey pruning coarsens but must not disappear — a narrow
    // partkey predicate still skips at least half the z-ordered files
    val zPart = touched(zdir, "l_partkey", 0L, 99L)
    assert(zPart * 2 <= files,
      s"z-order should still skip >= half the files on partkey, touched $zPart/$files")
    // quantile file boundaries are approximate — allow one boundary file
    assert(touched(ldir, "l_partkey", 0L, 99L) <= 2)
  }
}
