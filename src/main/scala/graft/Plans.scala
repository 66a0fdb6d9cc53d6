package graft

/** Plan-audit main: dumps the formatted physical plan of each query (or a
  * named subset) so shuffle counts, pushed filters, read schemas and join
  * strategies can be reviewed. Usage: runMain graft.Plans [sfDir] [query...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n===================== $name =====================")
        try {
          val df = fn(spark, sfDir)
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => println(s"[plans] failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
