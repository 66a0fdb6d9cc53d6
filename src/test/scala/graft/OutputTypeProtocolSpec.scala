package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-side half of the output-type protocol (COVERAGE.md header;
  * oracle-side half is tools/local_check.py's column-type gate): every
  * ORACLED query's output schema may carry only the engine-portable
  * types — BIGINT, DOUBLE, STRING, BOOLEAN (+ µs-protocol TIMESTAMP and
  * DATE where a calendar value is the natural output). In particular no
  * IntegerType (r11: rarity_top_terms shipped int32 `rk` — the driver's
  * hash happened to widen, the typed local gate does not), no
  * DecimalType (r8 incident), no Float/Array/Map/Struct. Schema
  * derivation is analysis-only for declarative plans, so this sweeps
  * all 231 oracled queries in one spec without executing the heavy ones.
  */
class OutputTypeProtocolSpec extends AnyFunSuite with SparkTestBase {
  private val allowed: Set[DataType] =
    Set(LongType, DoubleType, StringType, BooleanType, TimestampType, DateType)

  test("every oracled query's output schema carries protocol types only") {
    val failures = SparkEntry.oracleSql.keys.toSeq.sorted.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, sf0001).schema.fields.collect {
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
    val keys = SparkEntry.queries.keySet
    val (oracled, unchecked) = (SparkEntry.oracleSql.keySet, SparkEntry.noOracle.keySet)
    assert((keys -- oracled -- unchecked).isEmpty, s"keys with neither: ${keys -- oracled -- unchecked}")
    assert((oracled & unchecked).isEmpty, s"keys with both: ${oracled & unchecked}")
    assert((oracled -- keys).isEmpty, s"oracleSql keys not in queries: ${oracled -- keys}")
    assert((unchecked -- keys).isEmpty, s"noOracle keys not in queries: ${unchecked -- keys}")
  }
}
