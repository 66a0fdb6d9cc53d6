package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.VectorFunctions
import graft.sources.Tables

class DotProductRewriteSpec extends AnyFunSuite with SparkTestBase {

  // NB: QueryExecution memoizes the optimized plan — the query must be
  // rebuilt after the rule is excluded or restored, never reused across phases.
  private def dotQuery() = Tables.embeddings(spark, sf0001).limit(100)
    .select(col("vec_id"), VectorFunctions.dotD("embedding", "embedding").as("d"))

  test("HOF dot-product pattern is rewritten to the native expression") {
    val before = withoutRule(DotProductRewrite)(dotQuery().queryExecution.optimizedPlan.toString)
    assert(before.contains("aggregate") && !before.contains("dot_f32"), before)
    val after = dotQuery().queryExecution.optimizedPlan.toString
    assert(after.contains("dot_f32"), after)
  }

  test("rewrite preserves results exactly") {
    val plain = withoutRule(DotProductRewrite)(
      dotQuery().collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val rewritten = dotQuery().collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(plain == rewritten)
  }

  test("length mismatch yields NULL in both forms (semantics-preserving)") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (2L, Array(1.0f, 2.0f), Array(3.0f))
    ).toDF("id", "a", "b")
    val rows = withoutRule(DotProductRewrite)(df.select(
      col("id"),
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (s, p) -> s + p)").as("hof"),
      expr("dot_f32(a, b)").as("native")).orderBy("id").collect())
    assert(rows(0).getDouble(1) == 11.0 && rows(0).getDouble(2) == 11.0)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }

  test("non-dot patterns are untouched (sum of squares over one array)") {
    val emb = Tables.embeddings(spark, sf0001).limit(10)
    val q = emb.select(VectorFunctions.normSqD("embedding").as("n2"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("dot_f32"), plan)
    assert(q.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-4))
  }
}
