package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs: the production session
  * ([[GraftSession]]) on local[4].
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with the optimizer rule `rule` excluded: the rule-off side
    * of a with/without comparison on a session whose extension injects the
    * rule. A QueryExecution memoizes its optimized plan, so build the
    * query inside `body`.
    */
  def withoutRule[A](rule: Rule[_])(body: => A): A = {
    spark.conf.set(SQLConf.OPTIMIZER_EXCLUDED_RULES.key, rule.ruleName)
    try body
    finally spark.conf.unset(SQLConf.OPTIMIZER_EXCLUDED_RULES.key)
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    graft.ScratchDirs.preferTmpfs(force = true) // untimed: keep tests fast
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
