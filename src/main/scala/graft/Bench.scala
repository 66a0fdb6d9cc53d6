package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{Relational, TextOps}

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line (driver contract).
  *
  * Queries are executed through the `noop` sink, not `count()`: count lets
  * Catalyst prune the entire projection (a scan-project query would measure
  * an empty aggregate), while noop evaluates every output column — the same
  * work DuckDB's fetchall-based BASELINE numbers include.
  *
  * Each query is timed on three round-robin passes over the whole set and
  * the best time reported — BASELINE.md's DuckDB numbers are best-of-3.
  * Passes (rather than back-to-back repeats) de-correlate the repeats from
  * transient host noise, and pass 1 absorbs every plan's Janino/JIT
  * compilation (±1 s on 25-row queries).
  *
  * File-staging policy: some queries stage intermediates to parquet via
  * [[graft.sources.Materialize]] (the MinHash signature table shared by
  * three dedup queries; the bucketed join's table writes). Staged FILES
  * survive `clearCache`, so every pass starts with `Materialize.reset` —
  * a stage computed in one pass can never subsidize the next. Within a
  * pass, the shared MinHash stage, the co-bucketed table writes and the
  * BPE tokenizer artifacts (merge table + encoded vocabulary) are
  * forced and timed as their own "stage_minhash" / "stage_bucketed" /
  * "stage_bpe" lines
  * (counted once in the total, like production signature-write and
  * bucketed-layout jobs — so bucketed_join_orders reports the steady-state
  * shuffle-free join, not the writes); self-contained stages (ngram
  * shingles, curate survivors) are paid inside their owning query's time.
  * The executor cache is additionally cleared before every query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    ScratchDirs.preferTmpfs() // no-op unless GRAFT_SCRATCH=tmpfs (timed run)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // args: [queryName ...] — optional subset filter for fast local
    // iteration on one query's timing; no args runs the full suite (stages
    // always run: staged queries need their files).
    val only = args.toSet
    val ordered = SparkEntry.select(only)
    val spark = GraftSession.builder(GraftSession.envCpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: exercise codegen, the parquet reader and the whole query
    // machinery once, so the first timed query (Map order is arbitrary)
    // doesn't absorb session-startup JIT — BASELINE.md's DuckDB numbers are
    // best-of-3 and carry no such cost.
    spark.range(1 << 20).selectExpr("sum(id) AS s").collect()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println("[bench] warm-up failed; timing continues without it:")
      e.printStackTrace()
    }
    // Failure honesty: a query that throws must never appear as a (fast)
    // green line. `once` returns Left(error) on exception; a pass records a
    // time only on success, and a query that failed EVERY pass is omitted
    // from `queries`/total and reported under a top-level "errors" object.
    def once(body: => Any): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { body; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    val stages: Seq[(String, (SparkSession, String) => Any)] = Seq(
      "stage_minhash" -> TextOps.stageDedupInputs _,
      "stage_bucketed" -> Relational.stageBucketedTables _,
      "stage_stats" -> Relational.stageStatsTable _,
      "stage_bpe" -> TextOps.stageBpeArtifacts _)
    val best = collection.mutable.Map.empty[String, Double]
    val errs = collection.mutable.Map.empty[String, String]
    def record(name: String, r: Either[String, Double]): Unit = r match {
      case Right(t) => if (t < best.getOrElse(name, Double.MaxValue)) best(name) = t
      case Left(e)  => errs(name) = e
    }
    for (_ <- 1 to 3) {
      graft.sources.Materialize.reset(spark)
      for ((name, stage) <- stages) record(name, once(stage(spark, sfDir)))
      for ((name, q) <- ordered) {
        spark.catalog.clearCache()
        record(name, once(q.build(spark, sfDir).write.format("noop").mode("overwrite").save()))
      }
    }
    val results = (ordered.map(_._1) ++ stages.map(_._1))
      .flatMap(name => best.get(name).map(name -> _)).toMap
    // ASCENDING (slowest LAST): the driver's bounded capture keeps the END
    // of the line (a tail), so the slowest queries — the ones a reader
    // actually needs — must sit at the line's end. (r11 shipped this
    // descending, which put the slowest at the truncated FRONT; the
    // committed BENCH_LOCAL files carried the full record.)
    val qs = results.toSeq.sortBy { case (k, v) => (v, k) }
      .map { case (k, v) => Json.str(k) + ":" + v }
      .mkString("{", ",", "}")
    val failed = errs.keySet.diff(best.keySet)
    val errJson = failed.toSeq.sorted.map(k => Json.str(k) + ":" + Json.str(errs(k)))
      .mkString("{", ",", "}")
    val total = results.values.sum
    // Regression visibility: diff this run against the PINNED per-SF
    // baseline BENCH_BASE-<sf>.json when present (refreshed deliberately
    // at round end, so every mid-round run diffs against the ROUND-START
    // state — r13's only real mover hid because the diff base was a
    // mid-round refresh of BENCH_LOCAL), else against the committed
    // BENCH_LOCAL artifact (read BEFORE it is overwritten below). Keys
    // >1.5x their baseline time surface in the metric line itself, so
    // ambient-vs-real is inspectable every run without cross-round
    // archaeology.
    val sfName = new java.io.File(sfDir).getName
    val baseFile = java.nio.file.Paths.get(s"BENCH_BASE-$sfName.json")
    val prevFile =
      if (java.nio.file.Files.exists(baseFile)) baseFile
      else java.nio.file.Paths.get(s"BENCH_LOCAL-$sfName.json")
    val regressionCheck = regressions(results, prevFile)
    val regField = regressionCheck match {
      case Left(why) =>
        System.err.println(s"[bench] regression check skipped: $why")
        s""""regressions":null,"regressions_skipped":${Json.str(why)}"""
      case Right(regs) => "\"regressions\":" + regs.map { case (k, prev, now) =>
        Json.str(k) + ":" + s"""{"prev":${Json.fixed(prev, 3)},"now":${Json.fixed(now, 3)},""" +
          s""""ratio":${Json.fixed(now / prev, 2)}}"""
      }.mkString("{", ",", "}")
    }
    // n_queries makes a silently-omitted erroring query visible in the
    // metric line itself: a total over fewer queries than last round can't
    // masquerade as a speedup (driver ADVICE r6).
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
        s""""incomplete":${failed.nonEmpty},"scratch":${Json.str(ScratchDirs.scratchRoot)},""" +
        s"""$regField,"errors":$errJson,"sf":${Json.str(sfDir)},"queries":$qs}"""
    println(line)
    println(summaryLine(results, failed.size, regressionCheck.toOption.map(_.size), sfDir))
    // The driver captures stdout with a bounded tail that has truncated
    // ~17 per-query timings per round; the full line committed as a repo
    // artifact keeps every timing comparable across rounds. The per-SF
    // file survives a later run at another SF (plain BENCH_LOCAL.json is
    // always the LATEST run and would otherwise silently replace it).
    // A filtered run is an iteration aid — never let it replace the
    // full-suite artifacts the rounds compare against.
    // Write the per-SF BENCH_LOCAL artifact, NEVER the pinned BENCH_BASE
    // (prevFile may point there — it is the round-start diff baseline and
    // only round-end bookkeeping refreshes it).
    if (only.isEmpty) try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_LOCAL-$sfName.json"), line + "\n"): Unit
    } catch { case e: Throwable => System.err.println(s"[bench] BENCH_LOCAL write failed: $e") }
    spark.stop()
  }

  /** The keys that took more than 1.5× their time in the `baseline` Bench
    * line, as (key, baseline s, now s), largest ratio first; Left with the
    * reason when there is no check to make: no baseline file, or one that
    * does not parse to a line with a `queries` object. Keys under 0.5 s
    * are not compared: at that scale the fixed per-action scheduler cost
    * dominates and 1.5× is jitter.
    */
  private[graft] def regressions(
      results: Map[String, Double],
      baseline: java.nio.file.Path): Either[String, Seq[(String, Double, Double)]] = {
    val queries =
      if (!java.nio.file.Files.exists(baseline)) Left(s"no baseline file $baseline")
      else
        try {
          Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(baseline.toFile).get("queries"))
            .filter(_.isObject)
            .toRight(s"baseline $baseline has no queries object")
        } catch { case e: Exception => Left(s"baseline $baseline is unreadable: $e") }
    queries.map { node =>
      results.toSeq.flatMap { case (k, now) =>
        Option(node.get(k)).map(_.asDouble()) match {
          case Some(prev) if now > 0.5 && prev > 0 && now / prev > 1.5 => Some((k, prev, now))
          case _ => None
        }
      }.sortBy { case (_, prev, now) => -(now / prev) }
    }
  }

  /** Driver-parseable SUMMARY (r16): the driver captures a bounded stdout
    * TAIL, and the full line (~12 KB with the 320-entry per-query map
    * inline) starts mid-JSON inside that tail — BENCH_r14/BENCH_r15 both
    * carry parsed:null for exactly this reason. This second, compact,
    * FINAL line repeats the headline numbers and as many of the SLOWEST
    * per-query timings (ms precision) as fit a ~1.4 KB budget, so a
    * bounded tail always ends with one complete parseable JSON line. The
    * full-precision record of every key stays in the full line and in the
    * committed BENCH_LOCAL artifacts; nothing is measured differently.
    * `n_regressions` is null when the regression check was skipped.
    */
  private[graft] def summaryLine(
      results: Map[String, Double], nErrors: Int, nRegressions: Option[Int], sfDir: String): String = {
    val summaryBudget = 1400
    val total = results.values.sum
    val slowDesc = results.toSeq.sortBy { case (k, v) => (-v, k) }
    def line(nKeys: Int): String = {
      val kept = slowDesc.take(nKeys).sortBy { case (k, v) => (v, k) }
        .map { case (k, v) => Json.str(k) + ":" + Json.fixed(v, 3) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
        s""""incomplete":${nErrors > 0},"n_errors":$nErrors,""" +
        s""""n_regressions":${nRegressions.fold("null")(_.toString)},"sf":${Json.str(sfDir)},"queries":$kept}"""
    }
    (results.size to 0 by -1).iterator.map(line)
      .find(_.length <= summaryBudget).getOrElse(line(0))
  }
}
