package graft

/** Plan-audit main: dumps the formatted physical plan of each query (or a
  * named subset) so shuffle counts, pushed filters, read schemas and join
  * strategies can be reviewed. Usage: runMain graft.Plans [sfDir] [query...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected = SparkEntry.select(args.drop(1).toSet)
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    selected.sortBy(_._1).foreach { case (name, q) =>
      println(s"\n===================== $name =====================")
      try {
        val df = q.build(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"[plans] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
