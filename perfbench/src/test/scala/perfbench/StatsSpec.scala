package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between closest ranks") {
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0, 2.0, 4.0), 50) == 3.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 25) == 1.75)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 100) == 4.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(199).contains(75.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(10000).contains(95.0))
    (1 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach(p => assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p"))
    }
  }

  test("labels and geometric mean") {
    assert(Stats.label(95.0) == "p95")
    assert(Stats.label(75.0) == "p75")
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(0.0, 1.0)))
  }
}
