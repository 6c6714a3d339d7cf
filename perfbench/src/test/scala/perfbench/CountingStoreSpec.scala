package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ServingStore

class CountingStoreSpec extends AnyFunSuite {

  test("counts reads, hits and writes, and delegates every call") {
    val inner = ServingStore.factorStore()
    val c = new CountingStore(inner)
    c.put("1-U", Array(1.0, 2.0))
    c.put("2-U", Array(3.0))
    c.put("1-U", Array(5.0, 6.0))
    assert(c.get("1-U").map(_.toSeq).contains(Seq(5.0, 6.0)))
    assert(c.get("9-U").isEmpty)
    assert(c.get("2-U").isDefined)
    assert(c.puts.sum() == 3 && c.gets.sum() == 3 && c.hits.sum() == 2)
    assert(math.abs(c.hitRatio - 2.0 / 3) < 1e-12)
    assert(c.getNs.sum() >= 0 && c.putNs.sum() > 0)
    assert(c.size == 2 && inner.size == 2)
    assert(c.snapshot.keySet == Set("1-U", "2-U"))
    assert(inner.get("1-U").map(_.toSeq).contains(Seq(5.0, 6.0)))
  }

  test("an unused store reads a zero hit ratio") {
    assert(new CountingStore(ServingStore.factorStore()).hitRatio == 0.0)
  }

  test("reads of the inner store are not counted") {
    val inner = ServingStore.factorStore()
    val c = new CountingStore(inner)
    c.put("k", Array(1.0))
    inner.get("k")
    assert(c.gets.sum() == 0)
  }
}

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the part of a span its children cover") {
    val t = new Trace(enabled = true)
    t.span("outer", "o") {
      Thread.sleep(30)
      t.span("inner", "i") { Thread.sleep(30) }
    }
    val self = t.selfMs
    val spans = t.allSpans
    val outer = spans.find(_.layer == "outer").get
    val inner = spans.find(_.layer == "inner").get
    assert(inner.parent == outer.id && outer.parent == -1)
    val outerMs = (outer.endNs - outer.startNs) / 1e6
    val innerMs = (inner.endNs - inner.startNs) / 1e6
    assert(math.abs(self("outer") - (outerMs - innerMs)) < 1e-6)
    assert(self("inner") == innerMs)
  }

  test("interval union merges overlaps") {
    assert(Trace.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Trace.union(Nil) == 0L)
  }

  test("a disabled trace records nothing") {
    val t = new Trace(enabled = false)
    assert(t.span("x", "y")(42) == 42)
    assert(t.allSpans.isEmpty)
  }
}
