package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{BandJoinRewrite, CoresetStrategy, DotProductRewrite}

/** The shared test session is the production session: graft's extension
  * is its only install path, so every native function and rule is present
  * exactly once without any registration call, and the pinned confs hold.
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  test("native functions resolve and graft's rules and strategy are installed once, by the extension") {
    val registry = spark.sessionState.functionRegistry
    Seq("dot_f32", "bloom_might_contain", "hilbert_d", "rplsh_sigs", "rplsh_dots").foreach { f =>
      assert(registry.functionExists(FunctionIdentifier(f)), s"$f does not resolve")
    }
    assert(spark.sql("SELECT dot_f32(array(1.0F, 2.0F), array(3.0F, 4.0F))").head().getDouble(0) == 11.0)

    // `injectOptimizerRule` places a rule once in each operator-optimization
    // batch (before and after filter inference); a second install path would
    // add another copy, e.g. in "User Provided Optimizers".
    val batches = spark.sessionState.optimizer.batches
    Seq(DotProductRewrite, BandJoinRewrite).foreach { rule =>
      val hits = batches.map(b => b.name -> b.rules.count(_ == rule)).filter(_._2 > 0)
      assert(hits == Seq(
        "Operator Optimization before Inferring Filters" -> 1,
        "Operator Optimization after Inferring Filters" -> 1), s"${rule.ruleName} installed in $hits")
    }
    assert(spark.sessionState.planner.strategies.count(_ == CoresetStrategy) == 1)
  }

  test("the pinned session confs are set") {
    Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.unionOutputPartitioning" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.sql.files.minPartitionNum" -> "1",
      "spark.sql.codegen.cache.maxEntries" -> "4096"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
