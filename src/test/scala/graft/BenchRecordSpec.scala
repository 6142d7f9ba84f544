package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's last-stdout-line record must stay strict JSON whatever
  * the figures and error texts hold: the driver parses it as a whole. */
class BenchRecordSpec extends AnyFunSuite {
  test("a record with an infinite query time parses as strict JSON (advice d)") {
    val line = Bench.summaryLine(total = Double.PositiveInfinity, reps = 3,
      queries = Seq("q01_a" -> 0.123456, "q02_b" -> Double.PositiveInfinity,
        "q03_c" -> Double.NaN),
      errors = Map("q03_c" -> "boom \u001b[31m \"quoted\"\n"),
      sfDir = "/data/sf", outPath = "out.json")
    // Jackson's default parser rejects bare NaN/Infinity tokens
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("value").asText == "Infinity")
    val qs = node.get("queries")
    assert(qs.get("q01_a").asDouble == 0.1235, "figures round to 4 decimals")
    assert(qs.get("q02_b").asText == "Infinity")
    assert(qs.get("q03_c").asText == "NaN")
    assert(node.get("n_queries").asInt == 3)
    assert(node.get("errors").get("q03_c").asText.startsWith("boom"))
  }
}
