package graft

/** Scale-band driver: run a named subset of SparkEntry.queries against an
  * arbitrary fixture and force full execution with count() instead of
  * Verify's coalesce(1) parquet write — at probe scales (r13: the 1000×
  * doc/vector-axis sf100 fixture) some outputs are tens of GB
  * (jaccard_join_exact's pair table), and funneling that through one
  * write task measures the harness, not the plan. count() executes every
  * exchange/join/aggregate of the plan; the row count and wall seconds
  * per key are the completion evidence EXPERIMENTS.md tables record.
  *
  * Usage: runMain graft.BandRun <sfDir> <key> [key ...]
  */
object BandRun {
  def main(args: Array[String]): Unit = {
    // NO tmpfs scratch here (unlike Verify): probe-scale spills are tens
    // of GB and belong on disk — the first sf100 drive OOM-killed the JVM
    // with /dev/shm spill stacked on top of the heap
    val sfDir = args(0)
    val keys = args.drop(1).toSeq
    val byKey = SparkEntry.select(keys.toSet).toMap
    val spark = GraftSession.builder(GraftSession.envCpus("32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    keys.foreach { k =>
      val t0 = System.nanoTime()
      val line = try {
        val n = byKey(k).build(spark, sfDir).count()
        s"""{"query":${Json.str(k)},"rows":$n,"sec":${Json.fixed((System.nanoTime() - t0) / 1e9, 1)}}"""
      } catch {
        case e: Throwable => s"""{"query":${Json.str(k)},"err":${Json.str(Json.causes(e, 2).take(300))}}"""
      }
      println(s"[band] $line")
    }
    spark.stop()
  }
}
