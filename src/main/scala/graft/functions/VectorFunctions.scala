package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for vector math over `array<float>` embedding columns.
  *
  * All accumulate in DOUBLE: float-precision folds drift at the 6-dp
  * rounding boundary used by the hash-match protocol (SURVEY.md §7.4), and
  * the DuckDB oracle computes `list_dot_product` over `DOUBLE[]`.
  *
  * These are Catalyst higher-order functions (`ZipWith` / `ArrayAggregate`)
  * — they evaluate inside whole-stage codegen with no UDF boundary. If
  * profiling ever shows them hot, the upgrade path is a custom codegen
  * `Expression` with a fused multiply-add loop (SURVEY.md §4.3).
  */
object VectorFunctions {

  /** Dot product of two float-array columns, accumulated in double. */
  def dotD(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (s, p) -> s + p)")

  /** Squared L2 norm in double. */
  def normSqD(a: String): Column =
    expr(s"aggregate($a, 0D, (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
}
