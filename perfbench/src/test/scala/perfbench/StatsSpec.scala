package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail rule: the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(0).isEmpty)
  }

  test("p90 is refused below 100 samples") {
    assert(Stats.p90(Seq.fill(99)(1.0)).isEmpty)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.p90(xs).contains(Stats.quantile(xs, 0.9)))
    assert(math.abs(Stats.quantile(xs, 0.9) - 90.1) < 1e-9)
  }

  test("self time is the span minus the union of its children") {
    // children overlap each other and one sticks out of the parent
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 150L))) == 100 - 30 - 10)
    assert(Stats.selfTime((0L, 100L), Nil) == 100)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (50L, 60L))) == 0)
  }

  test("driver gap counts overlapping bucket jobs once") {
    // eight concurrent bucket jobs in two waves with a gap between them
    val wave1 = (0 until 8).map(i => (10L + i, 50L + i))
    val wave2 = (0 until 8).map(i => (70L + i, 90L))
    assert(Stats.driverGap((0L, 100L), wave1 ++ wave2) == 100 - (57 - 10) - (90 - 70))
    assert(Stats.maxInFlight(wave1 ++ wave2) == 8)
    // jobs outside the window do not count
    assert(Stats.driverGap((0L, 100L), Seq((-50L, -10L), (100L, 120L))) == 100)
  }

  test("in-flight count: an end and a start at the same instant do not overlap") {
    assert(Stats.maxInFlight(Seq((0L, 10L), (10L, 20L))) == 1)
    assert(Stats.maxInFlight(Seq((0L, 10L), (5L, 20L), (6L, 7L))) == 3)
  }

  test("union length merges touching and nested intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (2L, 3L), (30L, 35L))) == 25)
    assert(Stats.unionLength(Nil) == 0)
  }
}
