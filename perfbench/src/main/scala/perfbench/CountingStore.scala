package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.streaming.ServingStore

/** Counting decorator over a factor store, used only in traced runs: every
  * read and write goes through it, so the store layer's work and busy time
  * are measured where they happen, from outside the program. */
final class CountingStore(val inner: ServingStore.FactorStore)
    extends ServingStore[String, Array[Double]] {
  val gets = new LongAdder
  val hits = new LongAdder
  val getNs = new LongAdder
  val puts = new LongAdder
  val putNs = new LongAdder

  override def get(key: String): Option[Array[Double]] = {
    val t0 = System.nanoTime()
    val r = inner.get(key)
    getNs.add(System.nanoTime() - t0)
    gets.increment()
    if (r.isDefined) hits.increment()
    r
  }

  override def put(key: String, value: Array[Double]): Unit = {
    val t0 = System.nanoTime()
    inner.put(key, value)
    putNs.add(System.nanoTime() - t0)
    puts.increment()
  }

  override def size: Int = inner.size
  override def snapshot: Map[String, Array[Double]] = inner.snapshot

  def hitRatio: Double = {
    val g = gets.sum()
    if (g == 0) 0.0 else hits.sum().toDouble / g
  }
}
