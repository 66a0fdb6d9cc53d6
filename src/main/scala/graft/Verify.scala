package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    ScratchDirs.preferTmpfs(force = true) // untimed: tmpfs checkpoints/spill
    // args: <sfDir> <outDir> [queryName ...] — names filter to a subset
    // for fast local iteration (an unknown name fails before the session
    // starts); with two args every key is written.
    val (sfDir, outDir) = (args(0), args(1))
    val selected = SparkEntry.select(args.drop(2).toSet)
    val spark = GraftSession.builder(GraftSession.envCpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, q) =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable => System.err.println(s"[verify] $name failed: ${Json.causes(e, 3)}") }
    }
    // Collected into a Map first: its iteration order, and so the file's
    // bytes, depend only on the set of oracled keys.
    val json = SparkEntry.queries
      .collect { case (k, SparkEntry.Query(_, SparkEntry.Oracle(sql))) => k -> sql }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
