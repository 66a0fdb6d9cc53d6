package graft.operators

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** NearDupBucketCap firing semantics (r14 advice closure): the driver
  * fixtures never overflow an LSH bucket (~2^6 occupancy by design), so
  * the degenerate-bucket fence in [[VectorOps.nearDupScoredPairs]] was
  * green-but-unexercised — and until r15 the DuckDB oracle didn't mirror
  * it, so a mass-identical cluster would have diverged engine-vs-oracle.
  * This spec builds a synthetic embeddings fixture where the cap FIRES
  * (a 4,500-member identical cluster > NearDupBucketCap = 4,096) and pins
  * the contract on both declared keys; the oracle side of the same
  * fixture is checked once per round via tools/local_check.py (COVERAGE.md
  * "near-dup bucket cap").
  */
class NearDupCapSpec extends AnyFunSuite with SparkTestBase {

  private val ClusterN = 4500 // > NearDupBucketCap, < 2× so one bucket

  /** Synthetic fixture: one mass-identical cluster (ids 0..4499, all-plus
    * signs — the degenerate input the cap exists for), one planted
    * near-dup pair (ids 10000/10001, alternating signs so its buckets are
    * disjoint from the cluster's), and 600 seeded random-sign fillers
    * (ids 20000+). n ≈ 5102 → nearDupBits = 6.
    */
  private lazy val fixDir: String = {
    val root = new File("target/graft-test-capfix").getAbsoluteFile
    def wipe(x: File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(wipe); x.delete(): Unit
    }
    wipe(root); root.mkdirs()
    val spark2 = spark
    import spark2.implicits._
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val cluster = unit(Array.fill(64)(1f))
    val signs = Array.tabulate(64)(j => if (j % 2 == 0) 1f else -1f)
    val a = unit(Array.tabulate(64)(j => signs(j) * (if (j == 0) 1.3f else 1f)))
    val b = unit(Array.tabulate(64)(j => signs(j) * (if (j == 1) 1.3f else 1f)))
    val rng = new scala.util.Random(42)
    val fillers = (0 until 600).map { i =>
      (20000L + i, unit(Array.fill(64)((rng.nextInt(2) * 2 - 1) * (0.5f + rng.nextFloat()))), 0)
    }
    val rows = (0 until ClusterN).map(i => (i.toLong, cluster, 0)) ++
      Seq((10000L, a, 0), (10001L, b, 0)) ++ fillers
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$root/embeddings.parquet")
    root.getPath
  }

  test("a bucket over the cap emits NO pairs; normal buckets are unaffected") {
    val pairs = VectorOps.embeddingNearDup(spark, fixDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every cluster-internal pair has sim 1.0 but ALL are fenced: the
    // cluster's bucket (identical vectors collide in all 4 bands) is the
    // degenerate case — without the cap this emits ~10.1 M pairs and
    // buffers 4,500 vectors in one aggregation row
    assert(!pairs.exists(p => p._1 < ClusterN && p._2 < ClusterN),
      "capped bucket leaked pairs")
    // the planted pair lives in healthy buckets and must survive with its
    // exact rescore
    val planted = pairs.filter(p => p._1 == 10000L && p._2 == 10001L)
    assert(planted.length == 1 && planted.head._3 >= 0.9,
      s"planted near-dup pair lost: ${planted.toSeq}")
    // cluster↔outside pairs are also fenced (they'd share the cluster's
    // bucket) — the fence is per-bucket, not per-pair
    assert(pairs.forall(p => p._1 >= ClusterN),
      "pair anchored in the capped cluster leaked")
  }

  test("semdedup over a capped bucket keeps the whole cluster; planted dup still drops") {
    val dec = VectorOps.semdedupDecisions(spark, fixDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dec.size == ClusterN + 2 + 600)
    // no pairs from the capped bucket ⇒ no dominators inside the cluster:
    // every member is kept (exact dedup upstream owns mass-identical
    // inputs — that contract is dedup_docs_exact's, not semdedup's)
    (0 until ClusterN).foreach(i => assert(dec(i.toLong), s"cluster member $i dropped"))
    assert(dec(10000L), "planted pair survivor dropped")
    assert(!dec(10001L), "planted dup not dropped")
  }
}
