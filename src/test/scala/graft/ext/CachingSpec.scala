package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Caching.pinned]] frees every pin on every exit path: a body that
  * throws after pinning, a plan builder that throws halfway, a
  * checkpoint whose own materializing job fails, and a loop that
  * releases each round's predecessor early. A pin computes its frame
  * once, however many actions read it.
  *
  * The check is on `SparkContext.getPersistentRDDs`: nothing created
  * inside the scope may still be registered after it. (The map holds
  * its RDDs weakly, so an id that was there before may be gone after —
  * a GC'd leftover of an earlier suite — but no new id may appear.)
  */
class CachingSpec extends SparkSpec {

  private def ids: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leftAfter(body: => Unit): Set[Int] = {
    val before = ids
    body
    ids -- before
  }

  private def frame(n: Int): DataFrame =
    spark.range(n).select((col("id") * 7).as("v"))

  private val boom = udf((v: Long) => {
    if (v == 21L) throw new IllegalStateException("boom")
    v
  })

  test("a body that throws after pinning frees its checkpoint pins") {
    val left = leftAfter {
      val e = intercept[IllegalStateException] {
        Caching.pinned { pins =>
          pins.checkpoint(frame(100)).count()
          pins.checkpoint(frame(50))
          assert(ids.size >= 2)
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
    }
    assert(left.isEmpty, s"leaked RDDs $left")
  }

  test("a builder that throws after its first pin leaks nothing") {
    def builder(pins: Caching.Pins): DataFrame = {
      val a = pins.checkpoint(frame(40))
      pins.checkpoint(a.select((col("v") + 1).as("v"))).count()
      throw new IllegalStateException("builder failed")
    }
    val left = leftAfter {
      intercept[IllegalStateException] {
        Caching.pinned(pins => builder(pins).count())
      }
    }
    assert(left.isEmpty, s"leaked RDDs $left")
  }

  test("a checkpoint pin computes its frame once however many actions read it") {
    val computed = spark.sparkContext.longAccumulator("computed")
    val seen = udf((v: Long) => { computed.add(1L); v })
    val n = 64
    Caching.pinned { pins =>
      val p = pins.checkpoint(frame(n).select(seen(col("v")).as("v")))
      assert(pins.rows(p) == n)
      assert(p.count() == n)
      assert(p.agg(sum(col("v"))).head().getLong(0) == (0 until n).map(_ * 7L).sum)
      assert(p.where(col("v") % 2 === 0).collect().length == n / 2)
      assert(computed.value == n)
    }
  }

  test("a checkpoint whose job fails frees it and the pins before it") {
    val left = leftAfter {
      intercept[Exception] {
        Caching.pinned { pins =>
          pins.checkpoint(frame(30))
          pins.checkpoint(frame(30).select(boom(col("v")).as("v")))
        }
      }
    }
    assert(left.isEmpty, s"leaked RDDs $left")
  }

  test("release frees a loop's previous round before the scope ends") {
    val left = leftAfter {
      val total = Caching.pinned { pins =>
        var cur = pins.checkpoint(frame(20))
        (1 to 4).foreach { _ =>
          val before = ids
          val next = pins.checkpoint(cur.select((col("v") + 1).as("v")))
          pins.release(cur)
          // next replaced cur: one id added, cur's id gone right away
          assert((ids -- before).size == 1)
          assert((before -- ids).nonEmpty)
          cur = next
        }
        cur.agg(sum(col("v"))).head().getLong(0)
      }
      assert(total == (0 until 20).map(_ * 7L + 4L).sum)
    }
    assert(left.isEmpty, s"leaked RDDs $left")
  }

  test("release ignores frames that are not pins of the scope") {
    Caching.pinned { pins =>
      val p = pins.checkpoint(frame(10))
      pins.release(frame(10))
      pins.release(p.select(col("v")))
      // p is still pinned and readable
      assert(p.count() == 10)
    }
  }
}
