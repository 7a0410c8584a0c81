package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.bench.{Graph500, Main => G500Main}

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) === 90.0)
    assert(Stats.percentile(xs, 100) === 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.0)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    // 146 samples: 14 lie beyond p90, only 7 beyond p95
    assert(Stats.tailPercentile(146) === 90.0)
    assert(Stats.tailPercentile(100) === 90.0)
    assert(Stats.tailPercentile(99) === 75.0)
    assert(Stats.tailPercentile(40) === 75.0)
    assert(Stats.tailPercentile(200) === 95.0)
    assert(Stats.tailPercentile(1000) === 99.0)
    assert(Stats.tailPercentile(10000) === 99.9)
    // too few samples for any tail: the median stands in
    assert(Stats.tailPercentile(39) === 50.0)
    assert(Stats.tailPercentile(3) === 50.0)
    val xs = (1 to 146).map(_.toDouble)
    assert(Stats.tail(xs) === 132.0)
    assert(xs.count(_ > Stats.tail(xs)) === 14)
  }

  test("hm_teps equals the reference result block's harmonic_mean_TEPS") {
    val runs = Seq((0.21, 16776976.0), (0.19, 16776976.0), (0.35, 16776000.0),
      (0.05, 12.0), (1.5, 16776976.0))
    val summary = Graph500.Summary(20, runs.size, 1.0, 2.0,
      runs.zipWithIndex.map { case ((t, e), i) =>
        Graph500.RunStat(i.toLong, i.toLong, t, 0.4, e, 0L)
      }, 0.0, nedgeGoldenOk = true)
    val line = G500Main.resultBlock(summary).linesIterator
      .find(_.startsWith("harmonic_mean_TEPS:")).get
    val reference = line.split(":", 2)(1).trim.toDouble
    assert(math.abs(Stats.hmTeps(runs) - reference) <= 1e-9 * reference)
    assert(Stats.hmTeps(Nil) === 0.0)
  }

  test("failed_ratio is failed ops over attempted ops") {
    assert(Stats.failedRatio(0, 0) === 0.0)
    assert(Stats.failedRatio(64, 0) === 0.0)
    assert(Stats.failedRatio(40, 10) === 0.25)
    assert(Stats.failedRatio(3, 3) === 1.0)
  }
}
