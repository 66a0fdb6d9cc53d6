package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Started by perfbench/run.py, which generates
  * the input and turns the results file into the benchmark's metrics.
  *
  * Usage: perfbench.Main --workload W --data DIR --n N --nproc P
  *          --seconds S --trace 0|1 --local-dir DIR --out FILE --spans FILE
  *
  * Set-up (session start, warm-up) is timed apart from the operations.
  * Operations then run in whole passes until `--seconds` have elapsed. With `--trace 1`, passes alternate between untraced and traced,
  * so one run yields both the layer metrics and the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val n = a("n").toLong
    val nproc = a("nproc").toInt
    val traceMode = a("trace") == "1"
    val seconds = a("seconds").toDouble

    val t0 = System.nanoTime()
    val spark = session(nproc, a("local-dir"))
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark)
    val w = Workload(a("workload"), spark, a("data"), n, tracer)
    val t2 = System.nanoTime()
    val setupChecks = w.setUp()
    val warmupS = (System.nanoTime() - t2) / 1e9
    val setupEndMs = System.currentTimeMillis()

    val ops = Vector.newBuilder[Map[String, Any]]
    val spans = Vector.newBuilder[Span]
    val start = System.nanoTime()
    val minPasses = if (traceMode) 2 else 1
    var passNo = 0
    var opId = 0
    while (passNo < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = traceMode && passNo % 2 == 1
      w.pass.foreach { kind =>
        val (r, wall, tr) = tracer.op(opId, kind, traced)(w.run(kind))
        val problem = r match {
          case scala.util.Success(check) => scala.util.Try(check()).fold(e => Some(e.toString), identity)
          case scala.util.Failure(e) => Some(e.toString)
        }
        problem.foreach(p => System.err.println(s"[perfbench] op $opId $kind failed: $p"))
        val layers = tr.map { x =>
          Workload.specificMetrics.map(_ -> 0.0).toMap ++ Tracer.layerMetrics(x, nproc) ++ w.layerMetrics(kind, x)
        }
        tr.foreach(spans ++= _.spans)
        ops += Map("id" -> opId, "kind" -> kind, "pass" -> passNo, "traced" -> traced, "wall_s" -> wall,
          "ok" -> problem.isEmpty, "error" -> problem, "layers" -> layers)
        opId += 1
      }
      passNo += 1
    }
    val quality = w.quality()

    write(a("out"), Map(
      "workload" -> a("workload"), "n" -> n, "nproc" -> nproc,
      "coreset_p" -> graft.operators.DiversityOps.coresetParallelism(spark),
      "spark_version" -> spark.version,
      "pass" -> w.pass,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS,
        "end_epoch_ms" -> setupEndMs),
      "checks" -> setupChecks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "ops" -> ops.result(),
      "quality" -> quality))
    write(a("spans"), spans.result().map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    spark.stop()
  }

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (Json.write(v) + "\n").getBytes(StandardCharsets.UTF_8))

  /** The session graft.Bench runs its timed suite in, on `local[nproc]`. */
  private def session(nproc: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
