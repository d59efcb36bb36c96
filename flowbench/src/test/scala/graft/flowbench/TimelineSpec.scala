package graft.flowbench

import org.scalatest.funsuite.AnyFunSuite

class TimelineSpec extends AnyFunSuite {

  // (end offset, commit ms) of four batches of one listener; the third is empty
  private val ends = IndexedSeq((10L, 1400L), (25L, 1900L), (25L, 2150L), (40L, 2600L))

  test("a datagram commits with the first batch whose end offset passes it") {
    assert(Timeline.commitOf(ends, 0) === 1400)
    assert(Timeline.commitOf(ends, 9) === 1400)
    assert(Timeline.commitOf(ends, 10) === 1900)
    assert(Timeline.commitOf(ends, 24) === 1900) // not the empty batch after it
    assert(Timeline.commitOf(ends, 39) === 2600)
  }

  test("a datagram past every committed end offset has no commit yet") {
    assert(Timeline.commitOf(ends, 40) === -1)
    assert(Timeline.commitOf(IndexedSeq.empty, 0) === -1)
  }

  test("latency runs from due time to commit; a lost datagram is infinite") {
    val lat = Timeline.latenciesMs(Array(900.5, 1300.0, 1800.0), Array(1400L, -1L, 1900L))
    assert(lat.toSeq === Seq(499.5, Double.PositiveInfinity, 100.0))
    // the lost datagram lands in the tail, never below the limit
    assert(Stats.percentile(lat.toSeq, 99.0).isPosInfinity)
  }

  test("the schedule is by rows, so datagram sizes do not change the rate") {
    assert(Timeline.dueNanos(0, 50000) === 0L)
    assert(Timeline.dueNanos(50000, 50000) === 1000000000L)
    assert(Timeline.dueNanos(30, 300000) === 100000L)
  }

  test("open-loop lateness counts only sends behind their due time") {
    val l = new Timeline.Lateness
    l.record(dueNs = 0, sentNs = 0)
    l.record(dueNs = 1000000, sentNs = 1000500) // 0.5 ms late
    l.record(dueNs = 2000000, sentNs = 7000000) // 5 ms late
    l.record(dueNs = 9000000, sentNs = 8000000) // impossible early send: 0
    assert(l.count === 4)
    assert(l.maxMs === 5.0)
    assert(l.lateFrac === 0.25)
  }

  test("ladder rungs are spaced by the ratio and stop at the maximum") {
    val r = Timeline.rungs(100, 1.25, 200)
    assert(r.size === 4)
    assert(r.zip(r.tail).forall { case (a, b) => math.abs(b / a - 1.25) < 1e-9 })
    assert(r.last <= 200)
  }

  test("a rung whose backlog levels off after the idle start is sustained") {
    val lat = IndexedSeq.tabulate(300)(i => 400.0 + (i % 5) * 50)
    // first batch from idle, then batches settle at about 3000 packets
    val level = IndexedSeq(900L, 2800L, 3100L, 2950L, 3050L, 3000L)
    assert(Timeline.sustains(lat, 0.0, level, 500, 2000))
    // still converging at the end, by less than one trigger's worth
    val converging = IndexedSeq(500L, 8900L, 14000L, 17900L, 21800L, 24400L, 24800L)
    assert(Timeline.sustains(lat, 0.0, converging, 6500, 2000))
  }

  test("a rung with a growing backlog, loss, a slow tail or too few batches is not sustained") {
    val lat = IndexedSeq.tabulate(300)(i => 400.0 + (i % 5) * 50)
    val level = IndexedSeq(900L, 2800L, 3100L, 2950L, 3050L, 3000L)
    // each batch 1.3x the last: past capacity the backlog keeps climbing
    val growing = IndexedSeq.iterate(900L, 6)(b => (b * 1.3).toLong)
    assert(!Timeline.sustains(lat, 0.0, growing, 500, 2000))
    assert(!Timeline.sustains(lat, 0.002, level, 500, 2000))
    // five of 300 over the limit put p99 (rank 297) over it
    val slowTail = Seq(10, 20, 30, 40, 50).foldLeft(lat)((xs, i) => xs.updated(i, 5000.0))
    assert(!Timeline.sustains(slowTail, 0.0, level, 500, 2000))
    assert(!Timeline.sustains(lat, 0.0, level.take(Timeline.MinRungBatches - 1), 500, 2000))
  }
}
