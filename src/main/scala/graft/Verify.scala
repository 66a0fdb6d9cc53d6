package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    ScratchDirs.preferTmpfs(force = true) // untimed: tmpfs checkpoints/spill
    // args: <sfDir> <outDir> [queryName ...] — names filter to a subset
    // for fast local iteration; the driver passes exactly two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = GraftSession.builder(GraftSession.envCpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Root cause too: analysis wrappers (EXPRESSION_DECODING_FAILED
        // et al.) bury the actionable exception 1-2 causes down.
        val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}").take(3).mkString(" <- ")
        System.err.println(s"[verify] $name failed: $causes")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
