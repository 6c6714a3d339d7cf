package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is supported only with ten samples beyond it") {
    assert(Stats.supports(1000, 99.0))
    assert(!Stats.supports(999, 99.0))
    assert(Stats.supports(100, 90.0))
    assert(!Stats.supports(99, 90.0))
    assert(Stats.supports(20, 50.0))
    assert(!Stats.supports(19, 50.0))
  }

  test("summary picks the highest supported percentile of the ladder") {
    val xs = (1L to 100L).toArray
    val s = Stats.summary(xs)
    assert(s.n == 100 && s.p50 == 50L)
    assert(s.topP == 90.0 && s.top == 90L)
    assert(s.at(xs, 99.0).isEmpty)
    assert(s.at(xs, 90.0).contains(90L))
    val big = (1L to 100000L).toArray
    assert(Stats.summary(big).topP == 99.99)
    assert(Stats.summary((1L to 10L).toArray).topP == 0.0)
  }

  test("nearest-rank percentiles") {
    val xs = Array(10L, 20L, 30L, 40L)
    assert(Stats.percentile(xs, 50.0) == 20L)
    assert(Stats.percentile(xs, 75.0) == 30L)
    assert(Stats.percentile(xs, 100.0) == 40L)
    assert(Stats.percentile(xs, 0.0) == 10L)
  }

  test("missing answers rank above every answered one") {
    val s = new LoopStats
    (1 to 95).foreach(i => s.latency.add(i.toLong))
    s.absent = 3; s.failed = 2
    val all = s.latencyWithMissing
    assert(all.length == 100)
    assert(Stats.percentile(all, 95.0) == 95L)
    assert(Stats.percentile(all, 96.0) == Long.MaxValue)
  }

  test("Result reports the median always and a named tail only when supported") {
    val r = new Result
    r.timing("x", "ms", (1L to 50L).map(_ * 1000000L).toArray, Seq(90.0))
    assert(r.metrics("x_p50_ms") == ((25.0, "ms")))
    assert(!r.metrics.contains("x_p90_ms"))
    assert(r.notes.exists(_.contains("x_p90_ms: unsupported, n=50")))
  }

  test("median of doubles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
