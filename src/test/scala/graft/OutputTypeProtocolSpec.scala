package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry.{NoOracle, Oracle, Query}

/** Engine-side half of the output-type protocol (COVERAGE.md header;
  * oracle-side half is tools/local_check.py's column-type gate): every
  * ORACLED query's output schema may carry only the engine-portable
  * types — BIGINT, DOUBLE, STRING, BOOLEAN (+ µs-protocol TIMESTAMP and
  * DATE where a calendar value is the natural output). In particular no
  * IntegerType (r11: rarity_top_terms shipped int32 `rk` — the driver's
  * hash happened to widen, the typed local gate does not), no
  * DecimalType (r8 incident), no Float/Array/Map/Struct. Schema
  * derivation is analysis-only for declarative plans, so this sweeps
  * every oracled query in one spec without executing the heavy ones.
  */
class OutputTypeProtocolSpec extends AnyFunSuite with SparkTestBase {
  private val allowed: Set[DataType] =
    Set(LongType, DoubleType, StringType, BooleanType, TimestampType, DateType)

  test("every oracled query's output schema carries protocol types only") {
    val oracled = SparkEntry.queries.collect { case (k, q @ Query(_, Oracle(_))) => k -> q }
    val failures = oracled.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        q.build(spark, sf0001).schema.fields.collect {
          case f if !allowed.contains(f.dataType) =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      } catch {
        case e: Throwable => Seq(s"$name: threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every declared key has an oracle or a recorded reason for none, never both") {
    // One check per key holds by type; what is left to pin is the registry's
    // own failure modes and the declared counts.
    val build = SparkEntry.queries("scan_project_filter").build
    val dup = intercept[IllegalArgumentException](SparkEntry.registry(
      "k1" -> Query(build, Oracle("SELECT 1")), "k2" -> Query(build, NoOracle("none")),
      "k1" -> Query(build, NoOracle("again"))))
    assert(dup.getMessage.contains("k1") && !dup.getMessage.contains("k2"), dup.getMessage)
    val unknown = intercept[IllegalArgumentException](SparkEntry.select(Set("no_such_key", "q3_top_orders")))
    assert(unknown.getMessage.contains("no_such_key") && !unknown.getMessage.contains("q3_top_orders"),
      unknown.getMessage)
    val checks = SparkEntry.queries.values.map(_.check).toSeq
    val oracles = checks.collect { case Oracle(sql) => sql }
    val reasons = checks.collect { case NoOracle(reason) => reason }
    assert(SparkEntry.queries.size == 316)
    assert((oracles.size, reasons.size) == ((292, 24)))
    assert((oracles ++ reasons).forall(_.trim.nonEmpty))
  }
}
