package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every session the library
  * builds (Verify, Bench, Plans, BandRun, GenData and the
  * test harness) starts from [[builder]], so all of them plan and execute
  * with the same settings; callers add only their app name, scratch dirs
  * and log level.
  *
  * `spark.sql.extensions=graft.GraftExtensions` is the only way graft's
  * native functions, optimizer rules and planner strategy enter a session.
  * A session built without it fails loudly: `dot_f32` does not resolve and
  * `CoresetPlan` has no physical plan.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else `default`: the local core count of a main. */
  def envCpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Spark 4.1 UnionExec can CLAIM its children's shared output
      // partitioning while still executing as the plain concatenation
      // (left-semi-join-shaped union children; see EXPERIMENTS.md r14
      // "union output partitioning") — downstream operators then skip
      // their exchanges and zip-crash (or worse, mis-aggregate). Pinned
      // off in every session this library builds until fixed upstream.
      .config("spark.sql.unionOutputPartitioning", "false")
      // Sorted bucketed scans (r15): bucket sort-order propagation is
      // legacy-flagged since Spark 3.0; with Materialize.bucketedTable
      // guaranteeing ONE file per bucket it is safe (Spark keeps the
      // Sort for multi-file buckets even under the flag - verified) and
      // it elides the per-task re-sort under every co-bucketed SMJ.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Local-mode default inflates minPartitionNum to defaultParallelism,
      // splitting each ~5 MB fixture file 32 ways — pure task overhead.
      // 1 replicates cluster behavior (splits come from maxPartitionBytes,
      // so a 100 TB table still fans out); measured 33 s → 27 s total.
      .config("spark.sql.files.minPartitionNum", "1")
      // The Janino compiled-class cache defaults to 100 entries; a session
      // executing 320 queries × several codegen units × 3 passes thrashes
      // it and passes 2-3 RE-COMPILE every plan — Bench's best-of-3
      // protocol intends pass 1 to absorb compilation. Sized to hold the
      // whole suite's generated classes. This caches BYTECODE keyed on
      // generated source, never data or results; a production session
      // running a repeated query mix wants the same headroom (driver-side
      // memory, a few KB per entry).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // 150 actions in one session accumulate status-store state whose
      // bookkeeping slows late job submission (measured 61 s → 37 s total);
      // cap retention — this is a metrics buffer, not execution state.
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
}
