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

  /** The kernel rows of `points (id, embedding)`: packed into residue
    * blocks, moved by `exchange`, then folded.
    */
  private def kernels(points: DataFrame, p: Int)(exchange: DataFrame => DataFrame): DataFrame = {
    val blocks = exchange(GraftPlanBridge.ofRows(spark, CoresetPack(points.queryExecution.analyzed, p)))
    GraftPlanBridge.ofRows(spark, CoresetPlan(blocks.queryExecution.analyzed, DiversityOps.KPrime, p))
  }

  private val sf01 = s"${new java.io.File(sf0001).getParent}/sf0.1"
  private def view(ws: Seq[WeightedPt]) = ws.map(w => (w.id, w.weight, w.vec.toSeq))
  /** The replica's coreset of sf0.1 at p = 1, 8 and 32. */
  private lazy val expectedSf01: Map[Int, Seq[(Long, Long, Seq[Float])]] =
    Seq(1, 8, 32).map(p => p -> view(replica(sf01, p))).toMap

  /** Runs `body` with the SQL settings `kvs`, restoring the old values after. */
  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

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
    // In the final plan the pack reads the scan's column batches directly,
    // and only its blocks turn into rows for the residue exchange.
    df.collect()
    val lines = df.queryExecution.executedPlan.toString.linesIterator
      .map(_.replaceAll("^[\\s:+-]*(\\*\\(\\d+\\) )?", "")).toSeq
    val pack = lines.indexWhere(_.startsWith("CoresetPack"))
    assert(pack > 1 && lines(pack + 1).startsWith("FileScan parquet") &&
      lines(pack - 1).startsWith("ColumnarToRow") &&
      lines(pack - 2).startsWith("Exchange shufflepartitionidpassthrough"), lines.mkString("\n"))
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
    for (p <- Seq(1, 8, 32); aqe <- Seq("true", "false"); shufflePartitions <- Seq("1", "200")) {
      withConf("spark.sql.adaptive.enabled" -> aqe, "spark.sql.shuffle.partitions" -> shufflePartitions) {
        assert(view(DiversityOps.coresetAt(spark, sf01, p)) == expectedSf01(p),
          s"p=$p aqe=$aqe shuffle.partitions=$shufflePartitions")
      }
    }
  }

  test("residue classes that straddle many reader batches fold to the replica's coreset") {
    withConf("spark.sql.parquet.columnarReaderBatchSize" -> "37") {
      for (p <- Seq(1, 8, 32))
        assert(view(DiversityOps.coresetAt(spark, sf01, p)) == expectedSf01(p), s"p=$p")
    }
  }

  test("blocks of one class from several map tasks fold to the replica's coreset") {
    val dir = java.nio.file.Files.createTempDirectory("graft-multifile").toString
    try {
      spark.read.parquet(s"$sf01/embeddings.parquet").repartition(6)
        .write.parquet(s"$dir/embeddings.parquet")
      // Small splits, so each file is read by a map task of its own.
      withConf("spark.sql.files.maxPartitionBytes" -> "128k") {
        assert(graft.sources.Tables.embeddings(spark, dir).rdd.getNumPartitions > 1)
        for (p <- Seq(1, 8, 32))
          assert(view(DiversityOps.coresetAt(spark, dir, p)) == expectedSf01(p), s"p=$p")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("with whole-stage codegen off, a row scan reaches the pack through RowToColumnar") {
    withConf("spark.sql.codegen.wholeStage" -> "false") {
      for (p <- Seq(1, 8, 32))
        assert(view(DiversityOps.coresetAt(spark, sf01, p)) == expectedSf01(p), s"p=$p")
      val df = DiversityOps.coresetExecK64(spark, sf01)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RowToColumnar") && plan.contains("CoresetPack"), plan)
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
      val points = rows.toDF("id", "embedding")
      messages(intercept[Exception](kernels(points, 2)(_.repartitionById(2, col("r"))).collect()))
    }
    val ok = Seq((1L, Array(0f, 1f)), (3L, Array(1f, 0f)))
    val nul = run(ok :+ ((5L, null)))
    assert(nul.contains("vec_id 5 has a null embedding"), nul)
    val ragged = run(ok :+ ((5L, Array(1f, 1f, 1f))))
    assert(ragged.contains("vec_id 5 has an embedding of length 3, but vec_id 1 has length 2"), ragged)
  }

  test("a null coordinate folds as 0, as it read from a row") {
    def centers(coordinate: String) = kernels(spark.sql(
      s"SELECT id, array($coordinate, CAST(id AS FLOAT)) AS embedding FROM range(6)"), 2)(
      _.repartitionById(2, col("r"))).collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(centers("CAST(NULL AS FLOAT)") == centers("0F"))
  }

  test("CoresetExec fails when a partition holds more than its id % p class") {
    import spark.implicits._
    val points = (0L until 40L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "embedding")
    // round-robin: residue classes mixed across partitions
    val msg = messages(intercept[Exception](kernels(points, 4)(_.repartition(4)).collect()))
    assert(msg.contains("not in its id % 4 class"), msg)
  }
}
