package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver↔bench stdout contract: ONE compact JSON line with
  * metric/value/unit/queries/sf. The fat self-describing artifact
  * overflowed the driver's stdout tail buffer (BENCH_r11..r14 all carry
  * rc:0 with parsed:null), so the printed line is now bounded — this
  * spec pins that it stays machine-parseable and small.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("compact bench line is one parseable JSON object with the contract keys") {
    val results = Seq("q_a" -> 1.23456789, "q_b" -> 0.0001234, "q_c" -> -1.0)
    val line = Bench.compactLine(results, total = 1.2347023, normDivisor = 1.1,
      loadFactor = 1.1, contended = false, sfDir = "/root/testdata/sf0.1",
      escalated = Seq("q_a"), failed = Seq("q_c"), partial = false,
      artifact = "BENCH_LOCAL.json")
    assert(!line.contains("\n"), "must be a single line")
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    assert(math.abs(node.get("value").asDouble() - 1.2347) < 1e-9)
    val qs = node.get("queries")
    assert(qs.size() == 3)
    assert(math.abs(qs.get("q_a").asDouble() - 1.2346) < 1e-9)
    // sub-0.1ms values round to a parseable (possibly zero) number, never
    // scientific notation that a naive parser could choke on
    assert(!line.toLowerCase.contains("e-"))
    assert(qs.get("q_c").asDouble() == -1.0, "failed rows stay -1")
    assert(node.get("failed").get(0).asText() == "q_c")
    assert(!node.get("contended").asBoolean())
  }

  test("compact line stays bounded at full-surface scale") {
    val results = (1 to 250).map(i => s"q_synthetic_name_of_typical_length_$i" -> i / 7.0)
    val line = Bench.compactLine(results, results.map(_._2).sum, 1.0, 1.0,
      contended = false, "/data/testdata/sf0.1", Nil, Nil, partial = false,
      "BENCH_LOCAL.json")
    assert(line.length < 16384, s"compact line must stay tail-buffer-sized, was ${line.length}")
    assert(mapper.readTree(line).get("queries").size() == 250)
  }

  test("non-finite seconds serialize as -1, keeping the line valid JSON") {
    val results = Seq("q_nan" -> Double.NaN, "q_inf" -> Double.PositiveInfinity)
    val line = Bench.compactLine(results, 0.0, 1.0, 1.0, contended = true,
      "/x", Nil, Nil, partial = true, "out.json")
    val node = mapper.readTree(line)
    assert(node.get("queries").get("q_nan").asDouble() == -1.0)
    assert(node.get("queries").get("q_inf").asDouble() == -1.0)
  }

  test("compact line keeps its key order and number format byte for byte") {
    val line = Bench.compactLine(Seq("q_a" -> 1.23456789, "q_b" -> 0.0001234, "q_c" -> -1.0),
      total = 1.2347023, normDivisor = 1.1, loadFactor = 1.1, contended = false, sfDir = "/x",
      escalated = Seq("q_a"), failed = Seq("q_c"), partial = false, artifact = "B.json")
    assert(line == """{"metric":"total","value":1.2347,"unit":"sec",""" +
      """"queries":{"q_a":1.2346,"q_b":0.0001,"q_c":-1},"sf":"/x","total_norm":1.1225,""" +
      """"load_factor":1.1,"contended":false,"escalated":["q_a"],"failed":["q_c"],""" +
      """"partial":false,"artifact":"B.json"}""")
  }

  test("paths and names with quotes and backslashes are escaped, not spliced") {
    val sf = "C:\\data\\\"sf0.1\""
    val line = Bench.compactLine(Seq("q_\"odd\\" -> 1.0), 1.0, 1.0, 1.0,
      contended = false, sf, Seq("q_\"odd\\"), Nil, partial = false, "out \"1\".json")
    assert(!line.contains("\n"), "must be a single line")
    val node = mapper.readTree(line)
    assert(node.get("sf").asText() == sf)
    assert(node.get("queries").get("q_\"odd\\").asDouble() == 1.0)
    assert(node.get("escalated").get(0).asText() == "q_\"odd\\")
    assert(node.get("artifact").asText() == "out \"1\".json")
  }
}
