package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Bench` and `BenchExtra` print one JSON line each: the keys and their
  * order are the contract, and any `sf` path must survive the trip. */
class BenchJsonSpec extends AnyFunSuite {

  private val sf = """/data/a "quoted" dir\sub\"""

  private def keys(n: com.fasterxml.jackson.databind.JsonNode) =
    n.fieldNames().asScala.toSeq

  test("Bench's line parses with the contract keys; a path with quote and backslash round-trips") {
    val line = Bench.jsonLine(Seq("q01_a" -> 1.25, "q02_b" -> 0.0004), sf,
      nTurns = 2000L, tM1 = 0.5, tH1 = 0.25, tD1 = 0.125, tBlocks = 2.0, cpus = "8")
    val n = Json.mapper.readTree(line)
    assert(keys(n) == Seq("metric", "value", "unit", "queries", "sf", "bench_turns",
      "rollup_1m_sec", "cascade_1h_sec", "cascade_1d_sec", "blocks_1h_sec",
      "rollup_throughput_turns_per_sec", "cpus"))
    assert(n.get("sf").asText == sf)
    assert(keys(n.get("queries")) == Seq("q01_a", "q02_b"))
    assert(line.contains(s""""value":${1.25 + 0.0004},"""))
    assert(n.get("bench_turns").asLong == 2000L && n.get("cpus").asInt == 8)
    // numbers keep Bench.num's text: three decimals, none for turns/sec
    assert(line.contains(""""q01_a":1.250,"q02_b":0.000"""))
    assert(line.contains(""""rollup_1m_sec":0.500,"""))
    assert(line.contains(""""rollup_throughput_turns_per_sec":4000,"""))
  }

  test("BenchExtra's line parses with the contract keys; a path with quote and backslash round-trips") {
    val line = BenchExtra.jsonLine(3, Seq("q09_x" -> (1.0, 1.5)), sf, "4")
    val n = Json.mapper.readTree(line)
    assert(keys(n) == Seq("metric", "reps", "queries", "sf", "cpus"))
    assert(n.get("sf").asText == sf)
    assert(keys(n.get("queries").get("q09_x")) == Seq("min", "med"))
    assert(line.contains(""""q09_x":{"min":1.000,"med":1.500}"""))
    assert(n.get("reps").asInt == 3 && n.get("cpus").asInt == 4)
  }
}
