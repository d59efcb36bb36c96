package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-local parquet writer for the cadence writer's tiny artifacts:
  * the per-batch sketch generation, the cum generation and the hh
  * artifact are CAPACITY-BOUNDED maps (≤ 64–8192 rows) that already live
  * on the driver when they are written — the previous
  * `toDF.coalesce(1).write.parquet(dir)` paid a full Spark job
  * (scheduling + one task + the Hadoop commit protocol's temp-dir,
  * rename and marker churn) per micro-batch for a couple of KB. This
  * writes the identical on-disk layout — `dir/part-00000-*.parquet` +
  * `_SUCCESS` — straight from the driver through parquet-hadoop's
  * example API: same reader surface (`spark.read.parquet`, `_SUCCESS`
  * gating in [[StreamQueries.latestSketchGen]]), no job, no task, no
  * committer.
  *
  * Crash contract unchanged: overwrite deletes the generation dir first
  * (removing its `_SUCCESS`), the part file is fully written before the
  * `_SUCCESS` marker is created, and readers ignore markerless dirs — a
  * crash anywhere in between leaves a torn dir that replay overwrites,
  * exactly as with Spark's writer. This is for driver-resident,
  * capacity-bounded rows ONLY — anything corpus-sized stays on the
  * executor write path.
  */
private[graft] object DriverParquet {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.schema.MessageTypeParser

  /** Overwrite `dir` with one parquet file of rows (strCol: String,
    * longCols…: Long) + `_SUCCESS` — the exact schema shape all four
    * cadence artifacts share (fields `optional`, matching what the
    * replaced Spark write produced for these frames' read-back surface).
    * Every row must carry exactly one value per `longCols` entry; a
    * mismatch fails before the dir is touched.
    */
  def overwrite(s: SparkSession, dir: String, strCol: String,
      longCols: Seq[String], rows: Iterable[(String, Seq[Long])]): Unit = {
    rows.foreach { case (k, vs) =>
      require(vs.size == longCols.size, s"$dir: row $k has ${vs.size} " +
        s"values for ${longCols.size} columns (${longCols.mkString(",")})")
    }
    val conf = s.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    fs.mkdirs(p)
    val schema = MessageTypeParser.parseMessageType(
      s"""message spark_schema {
         |  optional binary $strCol (UTF8);
         |  ${longCols.map(c => s"optional int64 $c;").mkString("\n  ")}
         |}""".stripMargin)
    val file = new Path(p,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = ExampleParquetWriter.builder(file)
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new SimpleGroupFactory(schema)
      rows.foreach { case (k, vs) =>
        val g = factory.newGroup()
        if (k != null) g.append(strCol, k)
        vs.zip(longCols).foreach { case (v, c) => g.append(c, v) }
        writer.write(g)
      }
    } finally writer.close()
    // marker LAST: readers gate on it, so a crash before this line leaves
    // an invisible torn dir (replay overwrites it) — Spark's contract
    fs.create(new Path(p, "_SUCCESS"), true).close()
  }

  /** (String, Long) two-column form — the sketch/cum generation shape. */
  def overwriteKV(s: SparkSession, dir: String, strCol: String,
      longCol: String, rows: Iterable[(String, Long)]): Unit =
    overwrite(s, dir, strCol, Seq(longCol),
      rows.map { case (k, v) => (k, Seq(v)) })
}
