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
  *   - `pins.persist(df)` marks `df` cached (lazy, filled by its first
  *     action); `pins.checkpoint(df)` materializes `df` into executor
  *     storage NOW and returns the truncated-lineage frame.
  *   - every pin is recorded the moment it is made, so a body or plan
  *     builder that throws halfway leaks nothing;
  *   - `pins.release(df)` frees one pin early — loops that carry a pin
  *     from round to round (PageRank ranks, KMeans centroids, BPE
  *     rounds) release the previous round once the next is materialized;
  *   - on exit, by any path, every pin still held is freed: cached frames
  *     are unpersisted, checkpointed frames get their backing blocks
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

  final class Pins private[Caching] () {
    private val held = ArrayBuffer.empty[(DataFrame, () => Unit)]

    private def hold(df: DataFrame)(free: => Unit): Unit =
      held += ((df, () => free))

    /** Mark `df` cached for the rest of the scope. */
    def persist(df: DataFrame): DataFrame = {
      hold(df)(df.unpersist())
      df.persist()
    }

    /** Materialize `df` into executor storage and return the
      * checkpointed frame. The pin is recorded before the materializing
      * job runs, so a failing job frees what it had stored.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(eager = false)
      val rdds = Shim.backingRdds(cp)
      hold(cp)(rdds.foreach(_.unpersist(blocking = false)))
      rdds.foreach(_.count())
      cp
    }

    /** Free the pin `df` (a frame returned by [[persist]] or
      * [[checkpoint]]) before the scope ends; any other frame — a loop's
      * unpinned seed, a reliable checkpoint — is left alone.
      */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_._1 eq df)
      if (i >= 0) held.remove(i)._2()
    }

    private[Caching] def releaseAll(): Unit =
      while (held.nonEmpty) held.remove(held.size - 1)._2()
  }

  /** Run `body` with a fresh [[Pins]] scope; free every pin still held
    * when it exits, normally or by an exception.
    */
  def pinned[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.releaseAll()
  }
}
