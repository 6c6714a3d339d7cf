package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Exec, Result}

/** The bench's result contract, pinned on its pure parts: the retry rule,
  * the totals and the one stdout line that bench consumers parse. */
class BenchSummarySpec extends AnyFunSuite {

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  private val ok = Result("q_ok", Exec(2.0), None, 1.0)

  test("a still-failed query makes value -1, a rescued one counts its retry") {
    val stillFailed = Result("q_bad", Exec(-2.0), Some(Exec(-1.0)), -1.0)
    val failed = parse(Bench.summaryLine(Seq(ok, stillFailed), "sf"))
    assert(failed.get("value").asDouble == -1.0)
    assert(failed.get("n_failed").asInt == 1)
    val rescued = Result("q_bad", Exec(-2.0), Some(Exec(3.0)), 0.5)
    val line = parse(Bench.summaryLine(Seq(ok, rescued), "sf"))
    assert(line.get("value").asDouble == 5.0)
    assert(line.get("warm_value").asDouble == 1.5)
    assert(line.get("n_failed").asInt == 0)
  }

  test("first_value and first_failed come from the first pass") {
    val rescued = Result("q_bad", Exec(-1.0), Some(Exec(3.0)), 0.5)
    val line = parse(Bench.summaryLine(Seq(ok, rescued), "sf"))
    assert(line.get("first_value").asDouble == 2.0)
    assert(line.get("first_failed").size == 1)
    assert(line.get("first_failed").get(0).asText == "q_bad")
    // with no failure, first_value equals value
    val clean = parse(Bench.summaryLine(Seq(ok), "sf"))
    assert(clean.get("first_value").asDouble == clean.get("value").asDouble)
    assert(clean.get("first_failed").size == 0)
  }

  test("n_retried counts only failed-cold retries; a rescued retry gets its warm") {
    val firstPass = Seq(
      "q_fast" -> (Exec(0.5), 0.4),
      "q_slow" -> (Exec(100.0), 90.0), // slow but ok: never re-run
      "q_fail" -> (Exec(-1.0), -1.0),
      "q_late" -> (Exec(-2.0), -1.0))
    var rerun = Seq.empty[String]
    val rs = Bench.withRetries(firstPass, { name =>
      rerun :+= name
      (Exec(1.0), 0.7)
    })
    assert(rerun == Seq("q_fail", "q_late"))
    assert(rs.map(_.cold.secs) == Seq(0.5, 100.0, 1.0, 1.0))
    assert(rs.map(_.warm) == Seq(0.4, 90.0, 0.7, 0.7))
    val line = parse(Bench.summaryLine(rs, "sf"))
    assert(line.get("n_retried").asInt == 2)
    assert(line.get("n_failed").asInt == 0)
  }

  test("242 queries: one parseable line of at most 1,900 chars; detail has every map") {
    val rs = (1 to 242).map { i =>
      val name = f"q$i%03d_synthetic_query_name_of_some_length"
      if (i % 40 == 0) Result(name, Exec(-2.0), Some(Exec(120.5)), 60.25)
      else Result(name, Exec(1000.0 / i, 1.5, 3L, 400L), None, 500.0 / i)
    }
    val sf = "testdata/sf0.1"
    val line = Bench.summaryLine(rs, sf)
    assert(!line.contains("\n"))
    assert(line.length <= 1900, s"${line.length} chars")
    val json = parse(line)
    val keys = Seq("metric", "value", "warm_value", "unit", "n_queries",
      "n_failed", "n_retried", "first_value", "first_failed", "steal_pct",
      "queries", "sf", "detail")
    keys.foreach(k => assert(json.has(k), k))
    assert(json.size == keys.size)
    assert(json.get("n_queries").asInt == 242)
    assert(json.get("n_retried").asInt == 6)
    assert(json.get("steal_pct").asDouble == 0.75)
    // the capped query map keeps the slowest queries first
    val kept = json.get("queries")
    assert(kept.size > 0 && kept.size < 242)
    assert(kept.has(rs.maxBy(_.cold.secs).name))
    val detail = parse(Bench.detail(rs, sf))
    Seq("queries", "first", "warm", "steal").foreach { k =>
      assert(detail.get(k).size == 242, k)
    }
    assert(detail.get("retry").size == 6)
    assert(detail.get("sf").asText == sf)
  }

  test("cpuSteal sums only the first 8 /proc/stat fields (no guest double-count)") {
    val (steal, total) = Bench.cpuSteal()
    if (total >= 0) { // Linux
      assert(steal >= 0 && steal <= total)
      // re-read: monotone non-decreasing counters
      val (steal2, total2) = Bench.cpuSteal()
      assert(steal2 >= steal && total2 >= total)
      // the 8-field sum must be strictly smaller than a full-line sum
      // whenever guest jiffies are nonzero, and equal otherwise; either
      // way it can never exceed it
      val f = {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      }
      assert(f.take(8).sum <= f.sum)
    }
  }
}
