package graft.sources

import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** R5 parity: the batched columnar INSERT sink (`main.go:157-169`,
  * `PrepareBatch`/`AppendStruct`/`Send` against ClickHouse), as Spark JDBC.
  *
  * In production the URL is a ClickHouse JDBC endpoint
  * (`jdbc:clickhouse://host:8123/db`, table `flows`,
  * `create_tables.sql:1-35`); no ClickHouse server exists in this
  * environment, so tests and the Q4 registry entry run the identical code
  * path against embedded Derby (in the Spark distribution) — same writer,
  * different URL.
  *
  * Delivery semantics: the reference drops a batch on error and continues
  * (at-most-once, `main.go:158-172`); Spark's foreachBatch retries (at-
  * least-once). Effective parity downstream comes from the natural
  * idempotency key (sequence_num, sampler_address, time_received) — dedup
  * on it in a materialized view, or `dropDuplicatesWithinWatermark` before
  * the sink.
  */
object JdbcSink {

  def derbyUrl(path: String): String = s"jdbc:derby:$path;create=true"

  def props(driver: String = "org.apache.derby.jdbc.EmbeddedDriver"): Properties = {
    val p = new Properties()
    p.put("driver", driver)
    // batched inserts amortize round trips — the reference's 10 000-row
    // batch (`main.go:36`) is the same idea; per-partition writers run in
    // parallel (the reference is single-writer, `main.go:258-262`)
    p.put("batchsize", "10000")
    p
  }

  /** One micro-batch (or one batch DataFrame) → one set of batched INSERTs.
    * String columns are created as VARCHAR(255), not the dialect's default
    * LOB type — Derby maps StringType to CLOB, which cannot be compared or
    * filtered on the remote side (breaks the idempotent-append key probe);
    * flow strings are rendered IPs, far under 255. Overflow would error,
    * not truncate.
    */
  def writeBatch(df: DataFrame, url: String, table: String,
      connProps: Properties = props()): Unit = {
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(255)")
    val w = df.write.mode("append")
    (if (stringCols.isEmpty) w
     else w.option("createTableColumnTypes", stringCols.mkString(", ")))
      .jdbc(url, table, connProps)
  }

  /** At-least-once → effectively-once: before appending, insert exactly the
    * MULTISET DIFFERENCE batch − existing — each side gets an occurrence
    * index (`row_number` partitioned by every column) and the batch
    * anti-joins existing on (all columns, occurrence). A replayed
    * micro-batch (foreachBatch retry after a sink failure) finds every row
    * present and inserts nothing; a retry after a PARTIAL write (some JDBC
    * partition transactions committed, others not) inserts only the
    * never-written rows. The datagram key (sequence_num, sampler_address,
    * time_received) alone is NOT enough for that second case: all records
    * of one v5/v9 packet share it, so a key-level anti-join would discard
    * a half-written packet's missing siblings (data loss).
    *
    * Scale posture: the existing-rows probe is NOT a full-table scan — the
    * batch's [min, max] time_received range is pushed into the JDBC read
    * (`PushedFilters` → WHERE on the remote, which any real target indexes
    * or partitions by time), so the probe touches only the replay window.
    * Correct under Spark's serial-foreachBatch execution (no concurrent
    * writer of the same key range). The occurrence window shuffles only
    * batch-sized data, hashed on full rows (no skew: identical full rows
    * are what the index disambiguates).
    */
  def idempotentAppend(batch: DataFrame, url: String, table: String,
      connProps: Properties = props()): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, max, min, row_number}
    val spark = batch.sparkSession
    val existsAlready =
      try { spark.read.jdbc(url, table, connProps).schema; true }
      catch { case _: Exception => false } // first batch creates the table
    if (!existsAlready) return writeBatch(batch, url, table, connProps)
    val bounds = batch.agg(count(lit(1)).as("n"),
      min(col("time_received")).as("lo"), max(col("time_received")).as("hi")).head()
    if (bounds.getLong(0) == 0L) return // empty batch
    val allCols = batch.columns.toSeq
    def withOccurrence(df: DataFrame): DataFrame =
      df.withColumn("__occurrence", row_number().over(
        Window.partitionBy(allCols.map(col): _*).orderBy(lit(1))))
    // null time_received rows (generic API; flows never produce them) must
    // still be probed, or their existing copies would be invisible
    val timeWindow =
      if (bounds.isNullAt(1)) col("time_received").isNull
      else col("time_received").between(bounds.getLong(1), bounds.getLong(2)) ||
        col("time_received").isNull
    val existing = spark.read.jdbc(url, table, connProps)
      .filter(timeWindow)
      .select(allCols.map(col): _*)
    // null-SAFE equality on every column: a plain column join compiles to
    // EqualTo, under which NULL never matches NULL — a null-bearing row
    // would be re-inserted on every replay
    val b = withOccurrence(batch).alias("b")
    val e = withOccurrence(existing).alias("e")
    val cond = (allCols :+ "__occurrence")
      .map(c => col(s"b.$c") <=> col(s"e.$c")).reduce(_ && _)
    val fresh = b.join(e, cond, "left_anti").drop("__occurrence")
    writeBatch(fresh, url, table, connProps)
  }

  /** R4+R5: streaming flows → JDBC, ProcessingTime trigger ≈ the
    * reference's 10 s batch-max-time.
    */
  def stream(normalized: DataFrame, url: String, table: String,
      checkpoint: String, batchMaxTime: String = "10 seconds",
      availableNow: Boolean = false): StreamingQuery = {
    val trigger =
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(batchMaxTime)
    graft.streaming.Streams.start(normalized, checkpoint)(_.trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeBatch(batch, url, table)
      })
  }
}
