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
        Map("q\"1\n" -> 1234.5678, "q2" -> 0.25), nErrors = 1, nRegressions = Some(0), sfDir = "/data/sf0.1")
      finally Locale.setDefault(saved)
    val node = new ObjectMapper().readTree(line)
    assert(node.get("queries").get("q2").asDouble() == 0.25)
    assert(node.get("queries").get("q\"1\n").asDouble() == 1234.568)
    assert(node.get("value").asDouble() == 1234.5678 + 0.25)
    assert(node.get("n_queries").asInt() == 2)
    assert(node.get("incomplete").asBoolean())
    assert(node.get("sf").asText() == "/data/sf0.1")
  }

  test("a malformed baseline skips the regression check loudly instead of reporting none") {
    val dir = java.nio.file.Files.createTempDirectory("bench-spec")
    try {
      val results = Map("slow" -> 2.0, "fast" -> 0.1)
      val bad = dir.resolve("BENCH_BASE-sf0.1.json")
      java.nio.file.Files.writeString(bad, """{"metric":"total","queries":{"slow":1.""")
      val skipped = Bench.regressions(results, bad)
      assert(skipped.swap.exists(_.contains(bad.toString)), skipped)
      val noQueries = dir.resolve("no-queries.json")
      java.nio.file.Files.writeString(noQueries, """{"metric":"total"}""")
      assert(Bench.regressions(results, noQueries).isLeft)
      assert(Bench.regressions(results, dir.resolve("missing.json")).isLeft)
      val line = new ObjectMapper().readTree(
        Bench.summaryLine(results, nErrors = 0, nRegressions = skipped.toOption.map(_.size), sfDir = "sf0.1"))
      assert(line.get("n_regressions").isNull)

      val good = dir.resolve("BENCH_LOCAL-sf0.1.json")
      java.nio.file.Files.writeString(good, """{"queries":{"slow":1.0,"fast":0.01}}""")
      assert(Bench.regressions(results, good) == Right(Seq(("slow", 1.0, 2.0))))
    } finally {
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }
  }
}
