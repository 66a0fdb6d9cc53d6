package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftPlanBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.diversity.{Pt, Reference, WeightedPt}
import graft.operators.DiversityOps

/** Exact mod partitioner: partition index IS `id % p`. */
private class ModPartitioner(p: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = p
  override def getPartition(key: Any): Int = (key.asInstanceOf[Long] % p).toInt
}

/** Specs for the custom LogicalPlan/Strategy/SparkPlan coreset path. */
class CoresetPlanSpec extends AnyFunSuite with SparkTestBase {

  /** The coreset as an RDD replica of the path the plan node replaced:
    * `partitionBy` an exact mod partitioner, then the separate GMM
    * selection and weighting passes of [[Reference]], sorted by id.
    */
  private def replica(sfDir: String, p: Int): Seq[WeightedPt] = {
    val k = DiversityOps.KPrime
    graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .rdd
      .map(r => (r.getLong(0), Pt(r.getLong(0), r.getSeq[Float](1).toArray)))
      .partitionBy(new ModPartitioner(p))
      .values
      .mapPartitions { it =>
        val pts = it.toVector
        if (pts.isEmpty) Iterator.empty
        else Reference.weighted(pts, Reference.select(pts, k)).iterator
      }
      .collect()
      .sortBy(_.id)
      .toSeq
  }

  private def kernels(child: DataFrame, p: Int): DataFrame =
    GraftPlanBridge.ofRows(spark, CoresetPlan(child.queryExecution.analyzed, DiversityOps.KPrime, p))

  /** The messages along a failure's cause chain: a task's exception reaches
    * the driver wrapped in a SparkException.
    */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("CoresetExec plans through the custom strategy and prints in explain") {
    val df = DiversityOps.coresetExecK64(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("CoresetExec"), p)
    assert(p.contains("Exchange") && p.contains("shufflepartitionidpassthrough"), p)
    // A range exchange would sample the kernels in a job of its own and so
    // run every local GMM(k') twice; the rows are sorted on one partition.
    assert(!p.contains("rangepartitioning") && p.contains("SinglePartition"), p)
  }

  test("plan-node coreset ≡ mapPartitions coreset (same kernel, same partitioning)") {
    val viaPlan = DiversityOps.coresetExecK64(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaReplica = replica(sf0001, DiversityOps.coresetParallelism(spark)).map { wp =>
      val norm = math.sqrt(wp.vec.map(x => x.toDouble * x.toDouble).sum)
      (wp.id, wp.weight, math.rint(norm * 1e6) / 1e6)
    }
    assert(viaPlan.nonEmpty && viaPlan == viaReplica)
  }

  test("coresetAt equals the mod-partitioner replica for every p, AQE setting and shuffle-partition count") {
    val sf01 = s"${new java.io.File(sf0001).getParent}/sf0.1"
    def view(ws: Seq[WeightedPt]) = ws.map(w => (w.id, w.weight, w.vec.toSeq))
    for (p <- Seq(1, 8, 32)) {
      val expected = view(replica(sf01, p))
      for (aqe <- Seq("true", "false"); shufflePartitions <- Seq("1", "200")) {
        val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
          .map(k => k -> spark.conf.get(k))
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
        try {
          assert(view(DiversityOps.coresetAt(spark, sf01, p)) == expected,
            s"p=$p aqe=$aqe shuffle.partitions=$shufflePartitions")
        } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
      }
    }
  }

  test("weight mass conservation: kernel weights sum to the input row count") {
    val total = graft.sources.Tables.embeddings(spark, sf0001).count()
    val mass = DiversityOps.coresetExecK64(spark, sf0001)
      .agg(sum(col("weight"))).collect()(0).getLong(0)
    assert(mass == total)
  }

  test("CoresetExec fails loudly on a null or ragged embedding, naming the vec_id") {
    import spark.implicits._
    def run(rows: Seq[(Long, Array[Float])]) = {
      val child = rows.toDF("id", "embedding")
        .repartitionById(2, pmod(col("id"), lit(2L)).cast("int"))
      messages(intercept[Exception](kernels(child, 2).collect()))
    }
    val ok = Seq((1L, Array(0f, 1f)), (3L, Array(1f, 0f)))
    val nul = run(ok :+ ((5L, null)))
    assert(nul.contains("vec_id 5 has a null embedding"), nul)
    val ragged = run(ok :+ ((5L, Array(1f, 1f, 1f))))
    assert(ragged.contains("vec_id 5 has an embedding of length 3, but vec_id 1 has length 2"), ragged)
  }

  test("CoresetExec fails when a partition holds more than its id % p class") {
    import spark.implicits._
    val child = (0L until 40L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "embedding")
      .repartition(4) // round-robin: residue classes mixed across partitions
    val msg = messages(intercept[Exception](kernels(child, 4).collect()))
    assert(msg.contains("not in its id % 4 class"), msg)
  }
}
