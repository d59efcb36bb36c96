package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.Shim

/** The one pin lifecycle for query intermediates. Registered queries pin
  * frames (shingle sets, memberships, centroid tables, iteration rounds)
  * for the duration of ONE query and must free them before returning: in
  * a long-lived session a leaked block set degrades every later query.
  *
  * Contract of [[Caching.pinned]]:
  *   - one pin kind: `pins.checkpoint(df)` computes `df` once, NOW, into
  *     executor storage and returns the truncated-lineage frame, which
  *     the consumers read. A frame that one action reads is not pinned;
  *   - every pin is recorded the moment it is made, so a body or plan
  *     builder that throws halfway leaks nothing;
  *   - `pins.rows(df)` is the pin's row count, read off its
  *     materializing job;
  *   - `pins.release(df)` frees one pin early — loops that carry a pin
  *     from round to round (PageRank ranks, KMeans centroids, BPE
  *     rounds) release the previous round once the next is materialized;
  *   - on exit, by any path, every pin still held has its backing blocks
  *     removed (Spark has no public unpersist for localCheckpoint
  *     storage; the blocks would otherwise sit until RDD GC);
  *   - the body's result must no longer read its pins: a collected value
  *     or the query's own final `localCheckpoint()`.
  *
  * Release is `blocking = false`: nothing re-reads the blocks, so their
  * removal is async cleanup. RegistrySpec asserts the invariant: after
  * each registered query no cached RDD is live, and no checkpoint made
  * during the query survives unless the returned frame reads it.
  */
object Caching {

  private final class Pin(val df: DataFrame, val free: () => Unit) { var rows = -1L }

  final class Pins private[Caching] () {
    private val held = ArrayBuffer.empty[Pin]

    /** Materialize `df` into executor storage and return the
      * checkpointed frame. The pin is recorded before the materializing
      * job runs, so a failing job frees what it had stored.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(eager = false)
      val rdds = Shim.backingRdds(cp)
      val pin = new Pin(cp, () => rdds.foreach(_.unpersist(blocking = false)))
      held += pin
      pin.rows = rdds.map(_.count()).sum
      cp
    }

    /** The row count of the pin `df`, read off its materializing job. */
    def rows(df: DataFrame): Long = held.find(_.df eq df)
      .getOrElse(throw new IllegalArgumentException("not a pin of this scope")).rows

    /** Free the pin `df` (a frame returned by [[checkpoint]]) before the
      * scope ends; any other frame — a loop's unpinned seed, a reliable
      * checkpoint — is left alone.
      */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_.df eq df)
      if (i >= 0) held.remove(i).free()
    }

    private[Caching] def releaseAll(): Unit =
      while (held.nonEmpty) held.remove(held.size - 1).free()
  }

  /** Run `body` with a fresh [[Pins]] scope; free every pin still held
    * when it exits, normally or by an exception.
    */
  def pinned[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.releaseAll()
  }
}
