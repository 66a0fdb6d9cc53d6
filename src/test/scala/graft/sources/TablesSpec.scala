package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The declared embeddings schema and its check against the files. */
class TablesSpec extends AnyFunSuite with SparkTestBase {

  test("embeddings reads with the schema and the rows inference gives") {
    val declared = Tables.embeddings(spark, sf0001)
    val inferred = spark.read.parquet(s"$sf0001/embeddings.parquet")
    assert(declared.schema == inferred.schema)
    assert(declared.exceptAll(inferred).isEmpty && inferred.exceptAll(declared).isEmpty)
  }

  test("a drifted embeddings file fails the read, naming the file and the column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drift").toString
    try {
      def failure(sub: String, df: org.apache.spark.sql.DataFrame): String = {
        df.write.parquet(s"$dir/$sub/embeddings.parquet")
        intercept[IllegalArgumentException](Tables.embeddings(spark, s"$dir/$sub")).getMessage
      }
      val widened = failure("widened", Seq((1L, Array(1.0, 2.0), 1)).toDF("vec_id", "embedding", "label"))
      assert(widened.contains(s"$dir/widened/embeddings.parquet") &&
        widened.contains("column embedding is array<double>"), widened)
      val missing = failure("missing", Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding"))
      assert(missing.contains(s"$dir/missing/embeddings.parquet") &&
        missing.contains("column label is missing"), missing)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
