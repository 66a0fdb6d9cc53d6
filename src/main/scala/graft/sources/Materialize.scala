package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ScratchDirs

/** Materialized intermediates: write a derived table to parquet ONCE per
  * (session, key, input-content) and hand every consumer a plain scan of
  * the files.
  *
  * This is the production "write the signature table, then join against it"
  * pattern, applied locally. Three declared queries (`dedup_docs_minhash`,
  * `ngram_jaccard`, `dedup_clusters`) consume the same MinHash signature
  * stage; without materialization each re-executes the shingle→md5→min
  * pipeline from cold — at 100 TB that is three reads of the corpus instead
  * of one. A `persist()` is not enough here for two reasons:
  *
  *  - self-joins of a derived subplan do not get ReuseExchange in Spark
  *    4.1 (both sides compute concurrently before either populates a lazy
  *    cache), and
  *  - the executor cache does not survive `spark.catalog.clearCache()`
  *    between harness runs, while files do — exactly like a cluster job
  *    whose stage output outlives the session that wrote it.
  *
  * Staleness: the memo key folds in a CONTENT TOKEN of the input directory
  * (name+mtime+size of every file under it), so rewriting a fixture dir
  * within one JVM invalidates the staged result instead of silently serving
  * the old one. Concurrency: compute+write runs under
  * `ConcurrentHashMap.computeIfAbsent`, so racing callers on one key block
  * on a single evaluation rather than both writing the same path. Files
  * land under target/graft-stage (driver-local scratch), tagged with a
  * per-session id so concurrent test sessions never clobber each other;
  * the session's scratch is deleted on application end (best-effort) and
  * on [[reset]].
  */
object Materialize {

  private val staged = new ConcurrentHashMap[String, DataFrame]()
  private val tables = new ConcurrentHashMap[String, String]()
  private val paths = new ConcurrentHashMap[String, String]()
  // Per-key locks (NOT computeIfAbsent thunks: stages nest — candidates
  // stage the signature stage inside their own thunk, and a nested
  // computeIfAbsent on one ConcurrentHashMap is a recursive-update error).
  // Dependencies form a DAG, so distinct per-key monitors cannot deadlock.
  private val locks = new ConcurrentHashMap[String, Object]()

  private def memoized[V](map: ConcurrentHashMap[String, V], k: String)(compute: => V): V = {
    val hit = map.get(k)
    if (hit != null) hit
    else locks.computeIfAbsent("lk:" + k, _ => new Object).synchronized {
      val again = map.get(k)
      if (again != null) again
      else { val v = compute; map.put(k, v); v }
    }
  }
  private val sessionTags = new java.util.WeakHashMap[SparkSession, String]()
  private val tagCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val cleanupRegistered = ConcurrentHashMap.newKeySet[String]()

  private def slug(s: String): String =
    s.map(c => if (c.isLetterOrDigit) c else '_').take(80) +
      "-" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(s))

  /** Monotonic per-session tag (never reused, unlike identityHashCode —
    * a GC'd session's hash could otherwise alias a live one's memo).
    * PID-qualified: `target/graft-stage` is shared by every JVM running
    * from this working directory, and each session's exit hook deletes
    * its own `-<tag>` dirs — with a bare counter, two CONCURRENT JVMs
    * both tag `-s1` and the first to exit deletes the other's staged
    * files mid-read (observed: an experiment main exiting while sbt test
    * ran killed one spec with FAILED_READ_FILE).
    */
  private def sessionTag(spark: SparkSession): String =
    sessionTags.synchronized {
      val t = sessionTags.get(spark)
      if (t != null) t
      else {
        val fresh =
          "p" + ProcessHandle.current().pid() + "s" + tagCounter.incrementAndGet()
        sessionTags.put(spark, fresh)
        registerCleanup(spark, fresh)
        fresh
      }
    }

  private def baseDir: java.io.File =
    new java.io.File("target/graft-stage").getAbsoluteFile

  private def registerCleanup(spark: SparkSession, tag: String): Unit =
    if (cleanupRegistered.add(tag)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          try deleteTagged(tag) catch { case _: Throwable => () }
      })
    }

  private def deleteTagged(tag: String): Unit = {
    val files = Option(baseDir.listFiles()).getOrElse(Array.empty)
    files.filter(_.getName.contains(s"-$tag")).foreach(ScratchDirs.wipe)
  }

  /** Content token of an input directory: changes whenever any file under
    * it is added, removed, renamed, resized, or touched. Driver-side
    * listing only — O(#files), no data read.
    */
  def contentToken(dir: String): String = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).flatMap(walk).toSeq
      else Seq(s"${f.getPath}:${f.lastModified}:${f.length}")
    Integer.toHexString(scala.util.hashing.MurmurHash3.orderedHash(walk(new java.io.File(dir))))
  }

  private def stageDir(spark: SparkSession, key: String): String =
    s"${baseDir.getPath}/${slug(key)}-${sessionTag(spark)}"

  /** Compute `df` once per (session, key, content-of-inputDir), write it to
    * parquet, and return a scan of the written files; subsequent calls with
    * the same key and unchanged input return the memoized scan without
    * recomputing. Racing callers block on one evaluation.
    */
  def stage(spark: SparkSession, key: String, inputDir: String)(df: => DataFrame): DataFrame = {
    val tokenKey = s"$key@${contentToken(inputDir)}"
    memoized(staged, s"${sessionTag(spark)}:$tokenKey") {
      val path = stageDir(spark, tokenKey)
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
  }

  /** One-shot write+read-back (NOT memoized): truncates the lineage of an
    * iteratively-built plan (e.g. the label-propagation loop) so the caller
    * can unpersist every intermediate without risking a recompute of the
    * whole iteration chain.
    */
  def checkpoint(spark: SparkSession, key: String, df: DataFrame): DataFrame = {
    val path = stageDir(spark, key) + "-" + java.util.UUID.randomUUID().toString.take(8)
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Write `df` as a bucketed (+ per-file sorted) parquet table once per
    * (session, key, content-of-inputDir) and return the catalog table name.
    * Both sides of a fact-fact join bucketed on the join key with the same
    * bucket count sort-merge-join with NO exchange — the layout move that
    * removes the fact-fact shuffle at 100 TB (SCALING.md; plan asserted in
    * PlanAuditSpec via `bucketed_join_orders`). Bucket count is a layout
    * property of the written table: at scale it is sized to the table
    * (e.g. thousands), independent of session parallelism.
    */
  def bucketedTable(spark: SparkSession, key: String, buckets: Int, bucketCol: String,
      inputDir: String)(df: => DataFrame): String = {
    val tokenKey = s"tbl:$key@${contentToken(inputDir)}"
    memoized(tables, s"${sessionTag(spark)}:$tokenKey") {
      val name = s"graft_${slug(key).replace('-', '_')}_${sessionTag(spark)}"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // Repartition on the bucket column (same Murmur3 hash as the bucket
      // assignment) so each write task holds exactly ONE bucket → one
      // file per bucket. Without this, every scan task writes into every
      // bucket (tasks × buckets files — the r15 probe found 20
      // files/bucket at sf1), and Spark only trusts per-bucket SORT
      // order for single-file buckets: multi-file buckets silently
      // re-add a per-task Sort under every downstream SMJ, wasting the
      // sortBy. At 1000 executors × 1000 buckets the same mistake is
      // also a million-file table. One extra exchange at WRITE time buys
      // sort-free, exchange-free joins forever after (plan-pinned in
      // PlanAuditSpec).
      df.repartition(buckets, org.apache.spark.sql.functions.col(bucketCol))
        .write.mode("overwrite")
        .format("parquet")
        .option("path", stageDir(spark, tokenKey))
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .saveAsTable(name)
      name
    }
  }

  /** Write `df` as a plain (non-bucketed) parquet CATALOG table once per
    * (session, key, content-of-inputDir) and return the table name. The
    * catalog registration is the point: ANALYZE TABLE (the statistics
    * surface CBO planning reads) only applies to catalog tables, not to
    * path-based scans.
    */
  def plainTable(spark: SparkSession, key: String, inputDir: String)(df: => DataFrame)(
      afterCreate: String => Unit = _ => ()): String = {
    val tokenKey = s"ptbl:$key@${contentToken(inputDir)}"
    memoized(tables, s"${sessionTag(spark)}:$tokenKey") {
      val name = s"graft_${slug(key).replace('-', '_')}_${sessionTag(spark)}"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      df.write.mode("overwrite")
        .format("parquet")
        .option("path", stageDir(spark, tokenKey))
        .saveAsTable(name)
      // Inside the memo block: post-create steps (ANALYZE, grants, ...)
      // re-run exactly when the table is re-created — e.g. after a
      // [[reset]], which would otherwise strand the new table without its
      // statistics while a name-keyed caller memo still said "done".
      afterCreate(name)
      name
    }
  }

  /** Write `df` once per (session, key, content-of-inputDir) as parquet
    * partitioned by `partitionCol` (Hive directory layout:
    * `partitionCol=value/part-*.parquet`) and return the written path. A
    * reader filtering on the partition column then prunes whole directories
    * at file-listing time — the standard date/type-partitioned lake layout
    * that makes a selective filter skip data proportionally at 100 TB
    * (PartitionFilters, not data filters; asserted in PlanAuditSpec).
    */
  def partitionedPath(spark: SparkSession, key: String, partitionCol: String,
      inputDir: String)(df: => DataFrame): String = {
    val tokenKey = s"part:$key@${contentToken(inputDir)}"
    memoized(paths, s"${sessionTag(spark)}:$tokenKey") {
      val path = stageDir(spark, tokenKey)
      df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
      path
    }
  }

  /** Write `df` once per (session, key, content-of-inputDir) in the given
    * file `format` ("json" = JSON-lines, "csv" with header, ...) and return
    * the written path. Used by the source/sink round-trip queries: readers
    * MUST supply an explicit schema (schema inference is a full extra pass
    * over the data — never acceptable at 100 TB).
    */
  def formatPath(spark: SparkSession, key: String, format: String,
      inputDir: String)(df: => DataFrame): String = {
    val tokenKey = s"fmt:$format:$key@${contentToken(inputDir)}"
    memoized(paths, s"${sessionTag(spark)}:$tokenKey") {
      val path = stageDir(spark, tokenKey)
      val w0 = df.write.mode("overwrite")
      val w = format match {
        case "csv" => w0.option("header", "true")
        case "xml" => w0.option("rowTag", "event")
        case _     => w0
      }
      w.format(format).save(path)
      path
    }
  }

  /** Drop every memoized stage and bucketed table of `spark`'s session and
    * delete its scratch files. Bench calls this once per timing pass so a
    * staged intermediate computed in pass 1 cannot subsidize pass 2's
    * numbers; tests may call it to force restaging.
    */
  def reset(spark: SparkSession): Unit = {
    val tag = sessionTag(spark)
    val prefix = s"$tag:"
    staged.keySet.removeIf(_.startsWith(prefix))
    paths.keySet.removeIf(_.startsWith(prefix))
    val it = tables.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) {
        try spark.sql(s"DROP TABLE IF EXISTS ${e.getValue}")
        catch { case _: Throwable => () }
        it.remove()
      }
    }
    deleteTagged(tag)
  }
}
