package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** How the similarity searches order equal scores. The fixtures may hold
  * no exact ties, so this builds a tiny embeddings table whose duplicated
  * target vectors score equal against the two query vectors (ids 0 and 1):
  *
  *  - q0 = (.5, .5, .5, .5): 70 scores 1.0; 51, 52, 53, 55, 57, 60 (one
  *    vector) 0.8; 50 scores 0.2; 80, 82, 84 (one vector) −0.6; 1 −1.0.
  *  - q1 = −q0: 80, 82, 84 score 0.6; 50 −0.2; 51 … 60 −0.8; 0 and 70 −1.0.
  *
  * The first four dims carry all the sign bits IVF buckets on, so q0's
  * probe reaches every positive vector and q1's every negative one.
  */
class VectorTieOrderSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dir = Files.createTempDirectory("graft-ties").toString

  private lazy val sfDir: String = {
    import spark.implicits._
    def v(x: Float) = Array(x, x, x, x)
    Seq(
      (0L, v(0.5f), 1), (1L, v(-0.5f), 1), (70L, v(0.5f), 2), (50L, v(0.1f), 6),
      (51L, v(0.4f), 2), (52L, v(0.4f), 2), (53L, v(0.4f), 6), (55L, v(0.4f), 6),
      (57L, v(0.4f), 6), (60L, v(0.4f), 2),
      (80L, v(-0.3f), 9), (82L, v(-0.3f), 9), (84L, v(-0.3f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    super.afterAll()
  }

  /** q_id → its t_ids in rank order, checking that ranks run 1, 2, … */
  private def ranked(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("q_id"), col("rank"), col("t_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rows) =>
        val byRank = rows.sortBy(_._2)
        assert(byRank.map(_._2).toSeq == (1L to byRank.length.toLong), s"ranks of q$q")
        q -> byRank.map(_._3).toSeq
      }

  test("top-k: equal similarities rank by ascending t_id (cosTopk, topkForQueries, cosTopkIvf)") {
    val exact = Map(0L -> Seq(70L, 51L, 52L, 53L, 55L), 1L -> Seq(80L, 82L, 84L, 50L, 51L))
    assert(ranked(VectorOps.cosTopk(spark, sfDir)) == exact)
    val sims = VectorOps.cosTopk(spark, sfDir).filter(col("q_id") === 0)
      .orderBy(col("rank")).select(col("sim")).collect().map(_.getDouble(0)).toSeq
    assert(sims == Seq(1.0, 0.8, 0.8, 0.8, 0.8), sims)

    val batch = graft.sources.Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
    assert(ranked(VectorOps.topkForQueries(spark, sfDir, batch)) == Map(0L -> exact(0L)))

    // q1's probe reaches only the three negative targets
    assert(ranked(VectorOps.cosTopkIvf(spark, sfDir)) ==
      Map(0L -> exact(0L), 1L -> Seq(80L, 82L, 84L)))
  }

  test("knn vote: the 10-NN cut takes the lowest t_ids of a tie and a vote tie goes to the smallest label") {
    // q0's 10-NN are 70, 51 … 60, 50, 80, 82 (not 84, label 2): labels 2 and
    // 6 get 4 votes each, 9 gets 2. q1's are 80, 82, 84, 50, 51 … 60: the
    // same 4/4/2 split.
    val got = VectorOps.knnLabelVote(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L, 4L), (1L, 2L, 4L)))
  }
}
