package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  /** A clock that only moves when a request is sent (by `cost`) or when
    * the loop waits for a due time in the future. */
  final class FakeClock extends OpenLoop.Clock {
    var t = 0L
    def now(): Long = t
    def waitUntil(due: Long): Unit = if (due > t) t = due
  }

  final class Fixed(clock: FakeClock, cost: Long, answers: Iterator[Boolean])
      extends Request {
    var prepared = 0
    def prepare(): Unit = prepared += 1
    def send(): Boolean = {
      clock.t += cost
      if (answers.hasNext) answers.next() else true
    }
  }

  private def fixedGaps(g: Long) = Iterator.continually(g)

  test("a system faster than the schedule is never late") {
    val clock = new FakeClock
    val s = new LoopStats
    OpenLoop.run(fixedGaps(10), 0L, () => 100L, new Fixed(clock, 4, Iterator.empty), s, clock)
    assert(s.attempted == 10)
    assert(s.lateness.sorted.forall(_ == 0L))
    assert(s.latency.sorted.forall(_ == 4L))
  }

  test("a slow system makes later requests late; latency counts from the due time") {
    val clock = new FakeClock
    val s = new LoopStats
    // due every 10, each send takes 25: sends at 0, 25, 50, 75 for dues 0, 10, 20, 30
    OpenLoop.run(fixedGaps(10), 0L, () => 40L, new Fixed(clock, 25, Iterator.empty), s, clock,
      graceNs = 1000L)
    assert(s.attempted == 4)
    assert(s.lateness.sorted.toSeq == Seq(0L, 15L, 30L, 45L))
    assert(s.latency.sorted.toSeq == Seq(25L, 40L, 55L, 70L))
  }

  test("absent answers and failures are attempted but have no latency") {
    val clock = new FakeClock
    val s = new LoopStats
    val req = new Request {
      var i = 0
      def prepare(): Unit = ()
      def send(): Boolean = {
        i += 1
        clock.t += 1
        if (i == 2) throw new RuntimeException("boom")
        i != 3
      }
    }
    OpenLoop.run(fixedGaps(10), 0L, () => 50L, req, s, clock)
    assert(s.attempted == 5 && s.failed == 1 && s.absent == 1)
    assert(s.latency.size == 3 && s.missing == 2)
  }

  test("past the grace period the requests still due are dropped, not sent") {
    val clock = new FakeClock
    val s = new LoopStats
    OpenLoop.run(fixedGaps(10), 0L, () => 100L, new Fixed(clock, 60, Iterator.empty), s, clock,
      graceNs = 50L)
    // sends at 0, 60, 120 (dues 0, 10, 20); at 180 the clock is past 100 + 50
    assert(s.attempted == 3)
    assert(s.dropped == 7)
    assert(s.attempted + s.dropped == 10)
  }

  test("inputs are prepared before the wait, one per request") {
    val clock = new FakeClock
    val s = new LoopStats
    val req = new Fixed(clock, 1, Iterator.empty)
    OpenLoop.run(fixedGaps(5), 100L, () => 150L, req, s, clock)
    assert(req.prepared == 10 && s.attempted == 10)
    assert(s.lateness.sorted.forall(_ == 0L))
  }

  test("poisson gaps are seeded and average 1/rate") {
    val a = OpenLoop.poissonGaps(1000.0, 7L).take(20000).toSeq
    val b = OpenLoop.poissonGaps(1000.0, 7L).take(20000).toSeq
    assert(a == b)
    val mean = a.sum.toDouble / a.size
    assert(math.abs(mean - 1e6) < 0.05 * 1e6)
  }
}
