package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's JSON text: its stdout line is machine-parsed, and the
  * artifact overwrite guard matches the sf field of an existing file. */
class BenchSpec extends AnyFunSuite {

  test("Bench JSON: ordinary names keep their bytes, any SF path parses") {
    // ordinary names and paths: byte-identical to the unescaped format
    // every committed BENCH_*.json line carries
    assert(Bench.sfJson("/data/tpch/sf0.1") == "\"sf\":\"/data/tpch/sf0.1\"")
    assert(Bench.secondsJson(Seq("q1_agg" -> 1.5, "_other" -> 0.0)) ==
      "{\"q1_agg\":1.500,\"_other\":0.000}")
    assert(Json.strs(Seq("q_volcano", "q1_agg")) == "[\"q_volcano\",\"q1_agg\"]")
    // quote, backslash and a control char must round-trip through a parser
    val sf = "C:\\data\\\"sf\"\t0.1"
    val line = "{" + Bench.sfJson(sf) + ",\"queries\":" + Bench.secondsJson(Seq(sf -> 2.0)) +
      ",\"failed\":" + Json.strs(Seq(sf)) + "}"
    val node = new ObjectMapper().readTree(line)
    assert(node.get("sf").asText == sf)
    assert(node.get("queries").get(sf).asDouble == 2.0)
    assert(node.get("failed").get(0).asText == sf)
  }
}
