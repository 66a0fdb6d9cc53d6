package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Specs for the bloom runtime-filter primitive and the bloom-pruned
  * incremental dedup built on it.
  */
class BloomPruneSpec extends AnyFunSuite with SparkTestBase {

  private def serialized(bloom: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }

  test("bloom_might_contain: no false negatives, fp rate near the configured bound") {
    import spark.implicits._
    val inserted = spark.range(0, 2000).toDF("k")
    val bloom = inserted.stat.bloomFilter("k", 2000, 0.01)
    val probe = call_function("bloom_might_contain", lit(serialized(bloom)), col("k"))

    // Every inserted key MUST probe true (bloom guarantees no false negatives
    // — the property that makes pruning result-transparent).
    assert(inserted.filter(!probe).count() == 0L)

    // Keys never inserted probe true only at ~fpp: allow 5x slack over the
    // 1% build setting on a 20k draw (binomial p=.01 n=20000 → P(>5x) ≈ 0).
    val fp = spark.range(1000000, 1020000).toDF("k").filter(probe).count()
    assert(fp < 1000, s"false-positive count $fp out of 20000 probes")
  }

  test("bloom_might_contain: interpreted eval agrees with codegen") {
    import spark.implicits._
    val bloom = spark.range(0, 500).toDF("k").stat.bloomFilter("k", 500, 0.03)
    val e = graft.functions.BloomMightContainLong(
      org.apache.spark.sql.catalyst.expressions.Literal(serialized(bloom)),
      org.apache.spark.sql.catalyst.expressions.Literal(123L))
    // Interpreted path (eval) — 123 was inserted, must be true.
    assert(e.eval(null) == true)
    val miss = graft.functions.BloomMightContainLong(
      org.apache.spark.sql.catalyst.expressions.Literal(serialized(bloom)),
      org.apache.spark.sql.catalyst.expressions.Literal(java.lang.Long.MIN_VALUE + 7))
    // A wild miss usually probes false; either way eval must not throw and
    // must return a boolean (codegen agreement is covered by the DataFrame
    // test above, which runs through whole-stage codegen).
    assert(miss.eval(null).isInstanceOf[Boolean])
  }

  test("dedup_bloom_prune == dedup_incremental (the runtime filter is result-transparent)") {
    val pruned = TextOps.dedupBloomPrune(spark, sf0001).collect().toSeq
    val exact = TextOps.dedupIncremental(spark, sf0001).collect().toSeq
    assert(pruned.nonEmpty && pruned == exact)
  }

  test("observe(): dedup pipeline metrics match the result, computed in-pass") {
    val df = TextOps.dedupBloomPrune(spark, sf0001)
    val rows = df.collect()
    val m = df.queryExecution.observedMetrics("dedup_metrics")
    assert(m.getAs[Long]("survivors") == rows.length.toLong)
    assert(m.getAs[Long]("min_surviving_doc") == rows.map(_.getLong(0)).min)
  }
}
