package graft.flowbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) === 50.0)
    assert(Stats.percentile(xs, 99) === 99.0)
    assert(Stats.percentile(xs, 100) === 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.percentile(Seq.empty, 50).isNaN)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(10000) === Some(99.9)) // 10 beyond p99.9
    assert(Stats.tailPercentile(9999) === Some(99.0))
    assert(Stats.tailPercentile(1000) === Some(99.0))
    assert(Stats.tailPercentile(200) === Some(95.0))
    assert(Stats.tailPercentile(40) === Some(75.0)) // the op workloads' floor
    assert(Stats.tailPercentile(39) === Some(50.0))
    assert(Stats.tailPercentile(19) === None)
  }

  test("samples beyond a percentile follow the nearest rank") {
    assert(Stats.beyond(40, 75) === 10)
    assert(Stats.beyond(41, 75) === 10)
    assert(Stats.beyond(1000, 99) === 10)
    assert(Stats.beyond(1, 50) === 0)
  }

  test("machine-read numbers ignore the default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Stats.num(1234.5) === "1234.5")
      assert(Stats.fixed(0.25, 3) === "0.250")
      assert(Stats.num(Double.PositiveInfinity) === "null")
    } finally java.util.Locale.setDefault(saved)
  }
}
