package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record line is JSON whatever the JVM's default locale. */
class BenchSpec extends AnyFunSuite {
  test("record line parses as JSON under a comma-decimal default locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val line = Bench.recordLine(
        timings = Seq("q1_a" -> 1.25, "q2_b" -> 0.5),
        warmups = Seq("q1_a" -> 3.14159, "q2_b" -> 2.0),
        errors = Seq("q3_c" -> "bad \"quote\"\nline"),
        sfDir = "/data/sf0.1")
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(json.get("value").asDouble() == 1.75)
      assert(json.get("queries").get("q2_b").asDouble() == 0.5)
      assert(json.get("warmup").get("q1_a").asText() == "3.142")
      assert(json.get("errors").get("q3_c").asText() == "bad  quote  line")
    } finally java.util.Locale.setDefault(prev)
  }
}
