package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.operators.EventOps

/** BandJoinRewrite: the naive non-equi band join must get the binned equi
  * plan (no nested loop), compute EXACTLY the unrewritten result on every
  * supported band shape, and leave non-band joins untouched.
  */
class BandJoinRewriteSpec extends AnyFunSuite with SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def ab = {
    import spark.implicits._
    val a = Seq.tabulate(400)(i => (i.toLong, (i * 13L) % 997)).toDF("a_id", "a_v")
    val b = Seq.tabulate(300)(i => (i.toLong, (i * 29L) % 997)).toDF("b_id", "b_v")
    (a, b)
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  private def checkShape(naive: (DataFrame, DataFrame) => DataFrame): Unit = {
    val (a, b) = ab
    val (without, pOff) = withoutRule(BandJoinRewrite) {
      val df = naive(a, b)
      (sortedRows(df), plan(df))
    }
    assert(!pOff.contains("Generate"), pOff)
    val df = naive(a, b)
    val (withRes, p) = (sortedRows(df), plan(df))
    assert(withRes == without, "rewrite changed the result")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p)
  }

  test("abs form: abs(a - b) <= d rewrites to binned equi join, same rows") {
    checkShape((a, b) => a.join(b, abs(col("a_v") - col("b_v")) <= lit(7L)))
  }

  test("between form: two inequality conjuncts rewrite, same rows") {
    checkShape((a, b) =>
      a.join(b, col("a_v") >= col("b_v") - lit(5L) && col("a_v") <= col("b_v") + lit(9L)))
  }

  test("asymmetric shifted band [60, 90]: rewrites, same rows") {
    checkShape((a, b) =>
      a.join(b, col("a_v") >= col("b_v") + lit(60L) && col("a_v") <= col("b_v") + lit(90L)))
  }

  test("strict comparisons: rewrites, same rows") {
    checkShape((a, b) =>
      a.join(b, col("a_v") > col("b_v") - lit(4L) && col("a_v") < col("b_v") + lit(4L)))
  }

  test("guard: a join that already has an equi key is left alone") {
    val (a, b) = ab
    val df = a.join(b,
      col("a_id") === col("b_id") && abs(col("a_v") - col("b_v")) <= lit(50L))
    assert(!plan(df).contains("Generate"), plan(df))
  }

  test("guard: non-inner and fractional-typed bands are left alone") {
    val (a, b) = ab
    val left = a.join(b, abs(col("a_v") - col("b_v")) <= lit(7L), "left")
    assert(!plan(left).contains("Generate"), plan(left))
    val frac = a.withColumn("a_d", col("a_v").cast("double"))
      .join(b.withColumn("b_d", col("b_v").cast("double")),
        abs(col("a_d") - col("b_d")) <= lit(7L))
    assert(!plan(frac).contains("Generate"), plan(frac))
  }

  test("randomized bands: rewritten result == naive result for 12 seeded (lo, hi, data) draws") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 12).foreach { _ =>
      val a = Seq.fill(120)((rnd.nextInt(2000) - 1000).toLong).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("a_id", "a_v")
      val b = Seq.fill(90)((rnd.nextInt(2000) - 1000).toLong).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("b_id", "b_v")
      val x = rnd.nextInt(201) - 100
      val y = rnd.nextInt(201) - 100
      val (lo, hi) = (math.min(x, y).toLong, math.max(x, y).toLong)
      def q = a.join(b,
        col("a_v") >= col("b_v") + lit(lo) && col("a_v") <= col("b_v") + lit(hi))
      val naive = withoutRule(BandJoinRewrite)(sortedRows(q))
      val (rewritten, p) = (sortedRows(q), plan(q))
      assert(rewritten == naive, s"band [$lo, $hi] diverged")
      assert(p.contains("Generate") && !p.contains("BroadcastNestedLoopJoin"),
        s"band [$lo, $hi] not rewritten:\n$p")
    }
  }

  test("band_join_auto: declared query gets the rewritten plan and matches the manual binned result at sf0.001") {
    // inner two-sided ±60 s band recomputed from the manual one-sided
    // binned shape is a different query; instead cross-check the declared
    // query against a driver-side naive recomputation
    val df = EventOps.bandJoinAuto(spark, sf0001)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p)
    val declared = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // naive reference: collect events once, count in memory
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("event_id"), col("ts_us"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val purchases = ev.filter(_._1 == "purchase")
    val errs = ev.filter(_._1 == "error").map(_._3)
    val perPurchase = purchases
      .map { case (_, _, ts) => errs.count(e => math.abs(e - ts) <= 60000000L) }
      .filter(_ > 0)
    val expected = perPurchase.groupBy(identity).map { case (k, v) => (k.toLong, v.length.toLong) }
      .toSeq.sortBy(_._1)
    assert(declared == expected)
  }
}
