package graft

import java.util.Locale
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("summary line is valid JSON under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line =
      try Bench.summaryLine(
        Map("q\"1\n" -> 1234.5678, "q2" -> 0.25), nErrors = 1, nRegressions = 0, sfDir = "/data/sf0.1")
      finally Locale.setDefault(saved)
    val node = new ObjectMapper().readTree(line)
    assert(node.get("queries").get("q2").asDouble() == 0.25)
    assert(node.get("queries").get("q\"1\n").asDouble() == 1234.568)
    assert(node.get("value").asDouble() == 1234.5678 + 0.25)
    assert(node.get("n_queries").asInt() == 2)
    assert(node.get("incomplete").asBoolean())
    assert(node.get("sf").asText() == "/data/sf0.1")
  }
}
