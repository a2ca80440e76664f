package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(Stats.median(xs) === 2.5)
    assert(Stats.percentile(xs, 25) === 1.75)
    assert(Stats.percentile(Seq(7.0), 90) === 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }

  test("percentile rejects an empty sample and an out-of-range p") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("tail percentile needs ten samples beyond it") {
    assert(Stats.tailPercentile(99).isEmpty)
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("covered time merges overlapping intervals and clips to the window") {
    assert(Stats.coveredMs(Nil, 0, 100) === 0)
    assert(Stats.coveredMs(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) === 30)
    assert(Stats.coveredMs(Seq((-10L, 20L), (90L, 130L)), 0, 100) === 30)
    assert(Stats.coveredMs(Seq((10L, 20L), (20L, 30L)), 0, 100) === 20)
  }

  test("self time subtracts the children's covered time") {
    val spans = Seq(
      Span(0, "w", 0, "query.Forward", "forward", 0, 1000, -1),
      Span(1, "w", 0, "spark", "job", 100, 400, 0),
      Span(2, "w", 0, "spark", "job", 300, 600, 0),
      Span(3, "w", 0, "catalyst", "plan", 700, 800, 0))
    val self = Span.selfTimeByLayer(spans)
    assert(self("query.Forward") === 0.4)
    assert(self("spark") === 0.6)
    assert(self("catalyst") === 0.1)
  }
}
