package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The closing lines of `graft.Bench` (Bench.reportLines): consumers keep
  * a bounded tail of stdout and parse its last line, so that line must be
  * the short contract record on its own, and the per-query map must sit
  * on the line above it. Pure formatting, no Spark session. */
class BenchReportSpec extends AnyFunSuite {

  private val json = new ObjectMapper()
  // every registered query at a worst-case five-digit time
  private val perQuery = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 99999.999)
  private val lines = Bench.reportLines(perQuery, 1234567.891,
    "data/sf0.1")

  test("last line is the contract record: parses, short, empty queries map") {
    val last = lines.last
    // the contract's limit: readers keep only a bounded tail of stdout
    assert(last.length < 200, s"${last.length} chars")
    val rec = json.readTree(last)
    assert(rec.get("metric").asText == "total")
    assert(rec.get("value").asDouble == 1234567.891)
    assert(rec.get("unit").asText == "sec")
    assert(rec.get("queries").isObject && rec.get("queries").size == 0)
    assert(rec.get("sf").asText == "data/sf0.1")
    assert(rec.size == 5, s"unexpected fields in $last")
  }

  test("line above the contract carries every query under a unique key") {
    assert(lines.size == 2)
    val map = json.readTree(lines.head).get("queries")
    assert(perQuery.size > 250)
    assert(map.size == perQuery.size)
  }

  test("short keys fall back to full names when prefixes collide") {
    val collide = Bench.reportLines(Seq("q1_a" -> 1.0, "q1_b" -> 2.0), 3.0, "sf")
    val map = json.readTree(collide.head).get("queries")
    assert(map.get("q1_a").asDouble == 1.0 && map.get("q1_b").asDouble == 2.0)
  }
}
