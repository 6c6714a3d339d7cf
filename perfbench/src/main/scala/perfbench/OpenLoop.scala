package perfbench

import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.util.control.NonFatal

/** One kind of request an open loop sends. `prepare` builds the next
  * request's input before its due time, so input generation is not billed
  * as latency; `send` issues it and returns false when the answer is absent. */
trait Request {
  def prepare(): Unit
  def send(): Boolean
}

/** What one open-loop phase saw. `latency` holds answered requests, timed
  * from their due time; `lateness` holds how late the generator itself
  * issued each request. Absent answers and failures have no latency: they
  * count as missing every latency limit. */
final class LoopStats {
  val latency = new Samples
  val lateness = new Samples
  var attempted = 0L
  var failed = 0L
  var absent = 0L
  /** Requests still due at the cut-off, never sent. */
  var dropped = 0L
  def missing: Long = failed + absent + dropped

  /** Latencies with every missing request as +inf, sorted, so percentiles
    * count a missing answer as slower than any answered one. */
  def latencyWithMissing: Array[Long] = {
    val s = latency.sorted
    val out = java.util.Arrays.copyOf(s, s.length + missing.toInt)
    java.util.Arrays.fill(out, s.length, out.length, Long.MaxValue)
    out
  }
}

/** Open-loop generator: requests are due on a seeded Poisson schedule that
  * does not slow when the system does, so a stall shows as latency of every
  * request queued behind it, not as a lower send rate. */
object OpenLoop {

  trait Clock {
    def now(): Long
    def waitUntil(t: Long): Unit
  }

  /** Wall clock: parks while the due time is far, spins the last 200 µs. */
  object SystemClock extends Clock {
    def now(): Long = System.nanoTime()
    def waitUntil(t: Long): Unit = {
      var d = t - System.nanoTime()
      while (d > 0) {
        if (d > 200000L) LockSupport.parkNanos(d - 100000L)
        else Thread.onSpinWait()
        d = t - System.nanoTime()
      }
    }
  }

  /** Exponential inter-arrival gaps (ns) at `ratePerSec`, from `seed`. */
  def poissonGaps(ratePerSec: Double, seed: Long): Iterator[Long] = {
    val rnd = new SplittableRandom(seed)
    Iterator.continually(
      math.max(1L, (-math.log(1.0 - rnd.nextDouble()) * 1e9 / ratePerSec).toLong))
  }

  /** Send every request due in [start, end), where `end` may move (a
    * reader beside other work stops when that work does). Once the clock
    * passes `end + graceNs` the loop stops and counts the requests still
    * due before `end` as dropped. */
  def run(gaps: Iterator[Long], start: Long, end: () => Long, req: Request,
          stats: LoopStats, clock: Clock = SystemClock,
          graceNs: Long = 2000000000L): Unit = {
    var due = start
    while (due < end()) {
      if (clock.now() - end() > graceNs) {
        val e = end()
        while (due < e) { stats.dropped += 1; due += gaps.next() }
      } else {
        req.prepare()
        clock.waitUntil(due)
        val sent = clock.now()
        stats.lateness.add(sent - due)
        stats.attempted += 1
        try {
          if (req.send()) stats.latency.add(clock.now() - due)
          else stats.absent += 1
        } catch { case NonFatal(_) => stats.failed += 1 }
        due += gaps.next()
      }
    }
  }
}
