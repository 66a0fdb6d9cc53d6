package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode, ValueState}
import graft.ScratchDirs
import graft.sources.Tables

/** Row shape fed through the driver-visible streaming entry. */
case class StreamEvent(
    event_id: Long, ts_us: Long, user_id: Long, event_type: String, value: Double)

/** Arriving-document row for the streaming near-dup ingest entry. */
case class DocEvent(doc_id: Long, text: String)

/** Arriving-document row (with source) for the streaming quality gate. */
case class DocSrcEvent(doc_id: Long, text: String, source: String)

/** Arriving-query-vector row for the streaming ANN ingest entry. */
case class VecQuery(vec_id: Long, embedding: Array[Float])

/** The DECLARED streaming entry (SURVEY.md §2.2-S): runs the watermarked
  * tumbling-window pipeline of [[StreamingQueries]] as a real Structured
  * Streaming query — MemoryStream source, three micro-batches, memory sink —
  * inside a `SparkEntry.queries` fn, so the S-surface is exercised by the
  * driver itself, not only by tests.
  *
  * MemoryStream is the harness, not the operator: it requires driver-side
  * rows, so the input is a BOUNDED, deterministic slice (first 5000 events
  * by event_id) — the collect is capped at any SF. In production the same
  * `tumblingStream` transform runs unchanged over `readStream` on
  * Kafka/files with unbounded input; state stays O(open windows) via the
  * watermark (complete output mode here only because the sink must hold the
  * full answer for the oracle compare).
  *
  * Event-time correctness is what the oracle checks: the result equals the
  * batch tumbling aggregation over the same slice regardless of micro-batch
  * boundaries — the three-chunk split proves state carries across batches.
  */
object StreamingEntry {

  /** The bounded, deterministic harness slice: first 5000 events by
    * event_id. MemoryStream needs driver-side rows; TakeOrdered caps the
    * collect at any SF (harness cost, not operator cost). Memoized per
    * (sfDir, input content): seven declared entries × three bench passes
    * re-read the identical 5000 rows, and the slice is immutable
    * driver-side data, not a staged computation — so the memo is exempt
    * from the per-pass `Materialize.reset` that guards staged FILES.
    */
  private val sliceMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[StreamEvent]]()

  private def eventSlice(spark: SparkSession, sfDir: String): Seq[StreamEvent] = {
    import spark.implicits._
    val key = s"$sfDir@${graft.sources.Materialize.contentToken(sfDir)}"
    sliceMemo.computeIfAbsent(key, _ =>
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id")).limit(5000)
        .as[StreamEvent].collect().toSeq)
  }

  private def withTs(df: DataFrame): DataFrame =
    df.withColumn("ts_utc", timestamp_micros(col("ts_us")))

  /** The shared harness feed: three event-ordered chunks, one micro-batch
    * each (state must carry across batches — the thing a single batch
    * can't prove).
    */
  private def feedChunks[A](stream: MemoryStream[A], q: StreamingQuery, xs: Seq[A]): Unit =
    xs.grouped(math.max(1, (xs.size + 2) / 3)).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }

  /** The `b<batchId>` directories a foreachBatch body wrote under `dir`,
    * read as one DataFrame. Naming them instead of reading a `b*` glob
    * keeps Spark's file-stream-sink metadata probe, which stats the one
    * path it is given, from logging a warning and a stack trace for a
    * glob that is not a file.
    */
  private def readBatches(spark: SparkSession, dir: java.io.File): DataFrame = {
    val batches = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .sortBy(_.getName.drop(1).toLong)
      .map(_.getPath)
    require(batches.nonEmpty, s"no b<batchId> output under $dir")
    spark.read.parquet(batches.toIndexedSeq: _*)
  }

  /** Set session confs around `body` and restore each afterwards (unset
    * when it had no value). A streaming query reads them when it STARTS.
    */
  private def withConf[A](spark: SparkSession, pins: (String, String)*)(body: => A): A = {
    val prev = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Pin a small streaming-state partition count for the harness entries.
    *
    * Every stateful operator materializes one state store per shuffle
    * partition per micro-batch — a stream-stream join materializes FOUR
    * (left/right × keyToNumValues/keyWithIndexToValue) — each with
    * HDFS-backed checkpoint file I/O. At the bench session's 32 shuffle
    * partitions that is 128 store snapshots per micro-batch for a
    * 5,000-row slice: pure harness overhead, not operator cost. Streaming
    * state partitioning is captured from the session conf when the query
    * STARTS and then pinned in the checkpoint for the query's lifetime,
    * so setting it around `start()` and restoring afterwards is safe —
    * and scale-neutral: a production job over real volume starts under
    * the cluster-sized default and gets wide state automatically.
    *
    * No-data micro-batches only advance the watermark for state GC /
    * watermark-only emission; every declared entry emits from DATA
    * batches (append joins/dedup emit on arrival, complete/update modes
    * rewrite per batch, and the append-finalization entries force their
    * emission pass with an explicit replay batch) — so skipping them is
    * output-equivalent and removes 1-2 full state-store commit rounds per
    * entry (measured 2.9 s → 2.1 s on the stream-stream join). Production
    * jobs run under the default (true): a live stream WANTS windows to
    * finalize during input lulls; a bounded harness feed has no lull to
    * cover.
    *
    * Every offset, commit and metadata file, HDFS-backed state delta and
    * RocksDB snapshot file that a query writes through its checkpoint
    * manager goes through [[LocalCheckpointFileManager]]. On a JVM without
    * `libhadoop`, Spark's default manager starts a `chmod` process per file
    * or directory created and a `readlink` process per rename: ~340 process
    * starts for one three-micro-batch stateful entry, and tens of ms of
    * each micro-batch's offset-log write. The pinned manager writes the
    * same checksummed files with none; checkpoints on any other scheme
    * (HDFS, S3) get Spark's default manager unchanged.
    */
  private def withStatePartitions[A](spark: SparkSession)(body: => A): A =
    withConf(spark, StatePins: _*)(body)

  private val StatePins = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    LocalCheckpointFileManager.ClassKey -> classOf[LocalCheckpointFileManager].getName)

  /** The RocksDB state store, which `transformWithState` requires. */
  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The memory-sink harness: inside [[withStatePartitions]] (and on the
    * RocksDB state store with `rocksDb`), start `query` into the memory
    * sink `name` in output mode `mode`, run `feed`, always stop the query,
    * and return the sink's table. `query` is by-name, so it is built inside
    * the pin.
    */
  private def memorySink(spark: SparkSession, name: String, mode: String, rocksDb: Boolean = false)(
      query: => Dataset[_])(feed: StreamingQuery => Unit): DataFrame = {
    withConf(spark, StatePins ++ (if (rocksDb) Seq(RocksDbProvider) else Nil): _*) {
      val q = query.writeStream.format("memory").queryName(name).outputMode(mode).start()
      try feed(q) finally q.stop()
    }
    spark.table(name)
  }

  /** The rows of each `key`'s final emission in an update-mode sink: those
    * with the key's max `counter`, a count that grows with every emission.
    * A window, not a self-join: the memory-sink view cannot be self-joined
    * without conflicting attribute references.
    */
  private def latestPerKey(key: String, counter: String)(df: DataFrame): DataFrame =
    df.withColumn("max_c", max(col(counter)).over(Window.partitionBy(col(key))))
      .filter(col(counter) === col("max_c"))

  def streamTumblingEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_entry", "complete")(
      StreamingQueries.tumblingStream(withTs(stream.toDF())))(feedChunks(stream, _, slice))
      .select(col("ws_us"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** DECLARED UPDATE-mode entry — the third output mode, completing the
    * triad ([[streamTumblingEvents]] runs COMPLETE,
    * [[streamAppendFinalized]] APPEND): update mode re-emits ONLY the
    * groups a micro-batch changed, so sink I/O per trigger is
    * O(windows touched), not O(all state) (complete) and not delayed to
    * watermark passage (append) — the mode for live dashboards over
    * keyed sinks that can upsert. The memory sink accumulates every
    * emission, so a window updated by 2 of the 3 batches appears 2×
    * (asserted by the spec below count) — the declared surface takes the
    * per-key MAX count, which equals the final accumulation because
    * counts only grow; the oracle is the batch tumbling count over the
    * slice. The update-vs-upsert contract at scale: the SINK must key on
    * the group (Cassandra/JDBC upsert, [[streamUpsertForeachBatch]]'s
    * versioned merge) — an append-only sink under update mode
    * double-counts, which is exactly what the max-vs-sum distinction
    * here makes visible.
    */
  def streamUpdateCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_update", "update")(
      StreamingQueries.tumblingStream(withTs(stream.toDF()))
        .select(col("ws_us"), col("event_type"), col("n")))(feedChunks(stream, _, slice))
      .groupBy(col("ws_us"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** DECLARED sliding-window entry: same three-micro-batch harness as
    * [[streamTumblingEvents]], but each event lands in 4 overlapping
    * 1-hour/15-minute windows — the state store carries ~4× the open
    * windows of the tumbling case and late chunks must update windows
    * opened by earlier batches. Oracled against the batch sliding
    * aggregation over the same slice.
    */
  def streamSlidingEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_sliding", "complete")(
      StreamingQueries.slidingStream(withTs(stream.toDF())))(feedChunks(stream, _, slice))
      .select(col("ws_us"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** DECLARED session-window entry: the S-op with real state-store
    * mechanics — `session_window` MERGES adjacent windows as new events
    * arrive, so feeding the slice in three micro-batches exercises
    * cross-batch session-merge state, the part a batch run can't. Oracled
    * against the lag+cumsum sessionization of the same slice (complete
    * output mode because the memory sink must hold the full answer; in
    * production the same [[StreamingQueries.sessionStream]] transform runs
    * append-mode over `readStream` with state = O(open sessions)).
    */
  def streamSessionEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_session", "complete")(
      StreamingQueries.sessionStream(withTs(stream.toDF())))(feedChunks(stream, _, slice))
      .select(col("user_id"), col("session_start_us"), col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** DECLARED streaming-dedup entry: the event firehose is replayed with
    * duplicates ACROSS micro-batch boundaries and
    * `dropDuplicatesWithinWatermark` must emit every event exactly once.
    * Each batch re-sends two kinds of duplicate from the previous chunk,
    * exercising BOTH drop mechanisms: rows within the 1-hour watermark
    * delay of that chunk's maximum event time are still in the KEYED STATE
    * STORE and are dropped as in-state duplicates (proving state carries
    * across batches); the chunk's oldest rows sit far behind the watermark
    * and are dropped by the late-data filter instead. Genuine events are
    * never late because the slice is time-ordered by event_id. Output
    * equals the distinct slice (the oracle). State is O(keys per watermark
    * hour), GC'd as the watermark advances.
    */
  def streamDedupEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_dedup", "append")(
      StreamingQueries.dedupStream(withTs(stream.toDF()))) { q =>
      val hourUs = 3600L * 1000000L
      val chunks = slice.grouped(math.max(1, (slice.size + 2) / 3)).toSeq
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val replay = if (i == 0) Seq.empty
        else {
          val prev = chunks(i - 1)
          val front = prev.map(_.ts_us).max - hourUs
          prev.filter(_.ts_us >= front).take(500) ++ prev.take(50)
        }
        stream.addData(replay ++ chunk)
        q.processAllAvailable()
      }
    }
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** DECLARED DSv2 STREAMING-SOURCE entry: a live micro-batch read
    * through the `graft-vectors` source's MICRO_BATCH_READ capability
    * ([[graft.sources.VectorSource]]) — no MemoryStream, no driver-side
    * rows at all: the SOURCE paces itself, admitting 6,000 ids per
    * trigger until the 20,000-row id space is drained (4 micro-batches,
    * asserted in VectorSourceSpec), with a complete-mode label aggregate
    * accumulating across batches. The oracle recomputes the splitmix64
    * label kernel closed-form over the same id range, so offset
    * bookkeeping errors (a skipped or re-emitted id span) hash-mismatch
    * in n_vecs/id_sum. This is the production shape for "embedding
    * firehose → live aggregate": at scale the same query runs unbounded
    * (latestOffset never saturates) with the sink swapped for an
    * append/update store.
    */
  def streamVectorSource(spark: SparkSession, sfDir: String): DataFrame =
    memorySink(spark, "graft_stream_vecsource", "complete")(
      spark.readStream.format("graft-vectors")
        .option("n", 20000).option("dim", 8).option("seed", 42)
        .option("partitions", 4).option("rowsPerBatch", 6000)
        .load()
        .select(col("vec_id"), col("label"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum")))(_.processAllAvailable())
      .select(col("label").cast("long").as("label"), col("n_vecs"), col("id_sum"))
      .orderBy(col("label"))

  /** DECLARED append-mode watermark-finalization entry: the PRODUCTION
    * emission semantics for windowed aggregates — each tumbling window is
    * emitted EXACTLY ONCE, only when the watermark passes its end, instead
    * of the complete-mode re-emission of every open window per batch. The
    * three-chunk feed advances the watermark hours at a time, so windows
    * finalize mid-stream (asserted in StreamingParitySpec); the sink holds
    * each finalized window once, and windows still open at the end (those
    * ending within 1 h of the slice's max event time) are NEVER emitted —
    * the oracle is the batch tumbling aggregate restricted to exactly that
    * finalized set. At 100 TB this is the mode that makes a downstream
    * consumer incremental: O(closed windows) appended rows, not O(open
    * state) rewritten per trigger (SCALING.md "append vs complete").
    */
  def streamAppendFinalized(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_append", "append")(
      StreamingQueries.tumblingStream(withTs(stream.toDF()))) { q =>
      feedChunks(stream, q, slice)
      // One more DATA batch re-sending the already-seen max-ts event: it
      // runs under the watermark computed after chunk 3, deterministically
      // forcing the final emission pass (processAllAvailable alone can
      // return before the watermark-advance no-data batch commits). The
      // replayed row only increments the slice's LAST window — which ends
      // after the final watermark and is never emitted — so the appended
      // result is unaffected, and the watermark cannot move (the max is
      // unchanged).
      stream.addData(Seq(slice.last))
      q.processAllAvailable()
    }
      .select(col("ws_us"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** DECLARED FILE-SOURCE entry: `readStream` over a parquet DIRECTORY —
    * the production "stream the lake" pattern: the FileStreamSource
    * discovers files, admits `maxFilesPerTrigger=1` per micro-batch (the
    * file-source backpressure knob), tracks processed files in its source
    * log, and the tumbling aggregate accumulates across the resulting
    * batches. The slice is staged ONCE per fixture content as three
    * time-contiguous parquet files (input staging, like a fixture — not
    * per-run query work); complete mode without a watermark makes the
    * result independent of file discovery order (the watermarked forms
    * are the other S entries' story). Oracle = the batch tumbling
    * aggregate over the slice, same as `stream_tumbling_events`.
    */
  def streamFileSourceEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File("target/graft-stream-src").getAbsoluteFile
    val dir = new java.io.File(base, graft.sources.Materialize.contentToken(sfDir)).getPath
    // Own sentinel, written only after ALL three chunk writes: Spark puts
    // _SUCCESS after EACH job, so guarding on it would let a crash between
    // chunk writes leave a permanently-reused partial fixture.
    val staged = new java.io.File(dir, "_GRAFT_STAGED")
    if (!staged.exists()) {
      val slice = eventSlice(spark, sfDir)
      // three sequential single-file writes → three discoverable files
      // (chunk 0 overwrites, so a half-staged dir restages from scratch)
      slice.grouped(math.max(1, (slice.size + 2) / 3)).zipWithIndex.foreach { case (chunk, i) =>
        spark.createDataset(chunk).coalesce(1).write
          .mode(if (i == 0) "overwrite" else "append").parquet(dir)
      }
      staged.createNewFile(): Unit
    }
    val schema = org.apache.spark.sql.Encoders.product[StreamEvent].schema
    memorySink(spark, "graft_stream_filesrc", "complete")(
      StreamingQueries.tumblingAgg(withTs(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir))))(
      _.processAllAvailable())
      .select(col("ws_us"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** DECLARED transactional FILE-SINK entry: the same append-mode
    * finalization pipeline as [[streamAppendFinalized]], but written to
    * Spark's exactly-once parquet file sink and read back through its
    * `_spark_metadata` commit log — the most common production sink. The
    * metadata log is what makes the output transactional: a reader lists
    * COMMITTED files from the log, never the directory, so a crashed
    * micro-batch's orphan files are invisible and every finalized window
    * appears in exactly one committed file. Fresh output+checkpoint dirs
    * per invocation (a file-sink checkpoint pins source offsets, and the
    * harness MemoryStream restarts from zero each run); the previous
    * invocation's scratch is wiped at entry, so bench passes don't
    * accumulate files. Oracle = the batch tumbling aggregate restricted
    * to finalized windows, identical to `stream_append_finalized` — if
    * the sink double-committed or dropped a batch, the hash diverges.
    */
  def streamFileSinkEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File("target/graft-stream-sink").getAbsoluteFile
    ScratchDirs.wipe(base)
    base.mkdirs()
    val outDir = new java.io.File(base, "out").getPath
    val ckDir = new java.io.File(base, "ck").getPath
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    withStatePartitions(spark) {
      val q = StreamingQueries.tumblingStream(withTs(stream.toDF()))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append").start()
      try {
        feedChunks(stream, q, slice)
        stream.addData(Seq(slice.last)) // deterministic finalization pass
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.read.parquet(outDir) // lists files via the _spark_metadata log
      .select(col("ws_us"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** DECLARED foreachBatch UPSERT sink — the production custom-sink API
    * the format sinks can't express: each micro-batch MERGEs its per-user
    * delta (event count + latest event by the exact (ts_us, event_id)
    * struct order) into a standing keyed table. The merge is the
    * [[graft.operators.Relational.mergeUpsertParts]] plan — full-outer on
    * the key, state ADDITION for counts, struct-`greatest` for
    * last-event — executed against the previous table VERSION and written
    * as `v<batchId>` (copy-on-write, exactly the shape table-format MERGE
    * executes): a retried batch rewrites ITS OWN version from the same
    * unchanged predecessor, which is the batchId-idempotence contract
    * that makes foreachBatch exactly-once. Scale posture: per batch the
    * standing side is keyed on user_id and the delta is |batch keys|
    * rows — bucketed co-location removes the standing side's exchange;
    * the full rewrite is the format-less trade documented on
    * `merge_upsert_parts`. The declared output is the FINAL table,
    * oracled against a per-user window over the whole slice.
    */
  def streamUpsertForeachBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File("target/graft-stream-upsert").getAbsoluteFile
    ScratchDirs.wipe(base)
    base.mkdirs()
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    @volatile var current: Option[String] = None
    withStatePartitions(spark) {
      val q = stream.toDF()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val delta = batch
            .select(col("user_id"),
              struct(col("ts_us"), col("event_id"),
                expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents")).as("ev"))
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_events"), max(col("ev")).as("last"))
          val merged = current match {
            case None => delta
            case Some(prev) =>
              batch.sparkSession.read.parquet(prev).as("c")
                .join(delta.as("d"), Seq("user_id"), "full_outer")
                .select(
                  col("user_id"),
                  (coalesce(col("c.n_events"), lit(0L)) +
                    coalesce(col("d.n_events"), lit(0L))).as("n_events"),
                  greatest(col("c.last"), col("d.last")).as("last"))
          }
          val out = new java.io.File(base, s"v$batchId").getPath
          merged.write.mode("overwrite").parquet(out)
          current = Some(out)
        }
        .start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    spark.read.parquet(current.get)
      .select(col("user_id"), col("n_events"),
        col("last.ts_us").as("last_ts_us"),
        col("last.event_id").as("last_event_id"),
        col("last.cents").as("last_value_cents"))
      .orderBy(col("user_id"))
  }

  /** DECLARED streaming NEAR-DUP INGEST — the LLM-pipeline admission loop
    * as a live query: arriving documents stream in over three
    * micro-batches, and each batch runs
    * [[graft.operators.TextOps.admitAgainstCatalog]] — MinHash signatures
    * computed on the arriving rows, banded join against the STAGED catalog
    * signature table (batch × catalog only, never catalog²), exact 3-gram
    * Jaccard verify ≥ 0.5 — emitting per-doc dup/new decisions to a
    * batchId-keyed parquet dir (idempotent under micro-batch retry, the
    * foreachBatch exactly-once contract). Decisions are batching-invariant
    * because an arrival is only ever compared against the catalog, so the
    * declared output (union of all batch decisions) is oracled against the
    * same SQL as the batch form, restricted to the bounded arrival slice.
    *
    * Scale posture: the per-batch plan cost scales with |batch| and its
    * collisions — the catalog side is the standing staged signature table
    * a 100 TB corpus maintains anyway, and only implicated docs
    * re-shingle. MemoryStream + the first-2000-docs cap is harness, not
    * operator: production runs the identical foreachBatch body over
    * `readStream` on Kafka/files.
    */
  def streamDedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File("target/graft-stream-dedup").getAbsoluteFile
    ScratchDirs.wipe(base)
    base.mkdirs()
    val slice = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(2000)
      .as[DocEvent].collect().toSeq
    val stream = MemoryStream[DocEvent](spark)
    withStatePartitions(spark) {
      val q = stream.toDF()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val docs = batch.select(col("doc_id"), col("text"))
          val decisions = graft.operators.TextOps.admitAgainstCatalog(
            batch.sparkSession, sfDir, docs, graft.operators.TextOps.signatures(docs))
          decisions.write.mode("overwrite")
            .parquet(new java.io.File(base, s"b$batchId").getPath)
        }
        .start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    readBatches(spark, base)
      .orderBy(col("doc_id"))
  }

  /** DECLARED streaming NEAR-DUP INGEST with a GROWING catalog — the
    * continuous-ingest contract [[streamDedupMinhash]] deliberately does
    * not make: each micro-batch's ADMITTED documents' signatures (and
    * text, the exact-verify asset) are appended to the catalog BEFORE the
    * next trigger, so an arrival duplicating an earlier-admitted arrival
    * from a PREVIOUS batch is caught as a dup — the leak the static form
    * has by design (two identical new docs in different micro-batches are
    * both "new" there). Same-batch co-arrivals are still not compared to
    * each other: the catalog grows per TRIGGER, the transactional unit of
    * Structured Streaming, which keeps decisions deterministic given the
    * batch split and lets DuckDB replay the three batches as sequential
    * CTEs (batch b admits against static ∪ admitted₀..b₋₁) for a full
    * hash oracle. The catalog is a MAINTAINED asset
    * ([[GrowingCatalog]], r14): admitted band rows live in a
    * band-key-BUCKETED layout (compacted base partitioned by
    * `pmod(xxhash64(band, sig), 64)` + per-trigger deltas, folded every 2
    * triggers), so each admission reads only the partitions matching the
    * arriving batch's own band keys and catalog file count stays
    * O(buckets), not O(triggers). Every catalog row carries the trigger
    * id that admitted it (`src_b`) and admission filters `src_b <
    * batchId`, so a micro-batch RETRY — even one that already appended
    * and compacted — admits against exactly the pre-batch catalog and
    * reproduces its first attempt's decisions; all sinks are
    * batchId-keyed overwrites (rewrite, never double-append).
    *
    * Scale posture: identical per-trigger economics to the static form —
    * banded batch × catalog join, exact verify on implicated docs only —
    * plus one |admitted|-row delta append per trigger and an
    * O(catalog)/K amortized compaction fold (the local-parquet stand-in
    * for a table format's size-tiered rewrite). Per-trigger cost is flat
    * in trigger COUNT — measured over 24 triggers (EXPERIMENTS.md "r13:
    * streaming-ingest load scaling"; its main is listed under "Retired
    * one-shot mains").
    */
  def streamDedupGrowing(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File("target/graft-stream-dedup-growing").getAbsoluteFile
    ScratchDirs.wipe(base)
    base.mkdirs()
    val slice = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(2000)
      .as[DocEvent].collect().toSeq
    val stream = MemoryStream[DocEvent](spark)
    withStatePartitions(spark) {
      val q = stream.toDF()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          GrowingCatalog.processTrigger(
            batch.sparkSession, sfDir, base,
            batch.select(col("doc_id"), col("text")), batchId): Unit
        }
        .start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    readBatches(spark, new java.io.File(base, "decisions"))
      .orderBy(col("doc_id"))
  }

  /** DECLARED streaming ANN ingest — the similarity-search sibling of
    * [[streamDedupMinhash]]: query vectors arrive over three
    * micro-batches, and each batch is answered exactly by
    * [[graft.operators.VectorOps.topkForQueries]] — the arriving batch
    * broadcasts, the corpus scans once per batch, per-query top-5 by the
    * cosTopk ranking protocol — with answers written to batchId-keyed
    * parquet (idempotent under retry). A query's answer depends only on
    * the query and the corpus, never on co-arrivals, so the union of all
    * batch answers is oracled against the SAME SQL as `cos_topk`.
    *
    * Scale posture: per-batch cost = one corpus scan × |batch| broadcast
    * queries; at real volume the identical foreachBatch body runs over
    * `readStream`, and the corpus side would swap in the staged IVF/LSH
    * index (cos_topk_ivf's plan) — the exact kernel here keeps the
    * declared entry oracle-checkable.
    */
  def streamAnnTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File("target/graft-stream-ann").getAbsoluteFile
    ScratchDirs.wipe(base)
    base.mkdirs()
    val slice = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .as[VecQuery].collect().toSeq
    val stream = MemoryStream[VecQuery](spark)
    withStatePartitions(spark) {
      val q = stream.toDF()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.operators.VectorOps.topkForQueries(batch.sparkSession, sfDir, batch)
            .write.mode("overwrite")
            .parquet(new java.io.File(base, s"b$batchId").getPath)
        }
        .start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    readBatches(spark, base)
      .orderBy(col("q_id"), col("rank"))
  }

  /** DECLARED streaming QUALITY GATE — the admission filter of the
    * LLM-ingest loop as a live query: arriving documents stream in over
    * three micro-batches and each batch runs
    * [[graft.operators.CurationOps.gopherPerDoc]] — the four Gopher drop
    * rules as map-side higher-order expressions on the arriving rows —
    * writing per-doc verdicts to batchId-keyed parquet (idempotent under
    * retry). The verdict map is STATELESS, so the union of batch outputs
    * is batching-invariant by construction and oracled against the
    * per-doc SQL on the same bounded arrival slice.
    *
    * Scale posture: per-batch cost is one scan of the batch — no state
    * store, no shuffle; the production form is the identical foreachBatch
    * body over `readStream`, usually fused in front of the
    * [[streamDedupMinhash]] admission join so rejected docs never reach
    * the signature computation.
    */
  def streamQualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File("target/graft-stream-quality").getAbsoluteFile
    ScratchDirs.wipe(base)
    base.mkdirs()
    val slice = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy(col("doc_id")).limit(2000)
      .as[DocSrcEvent].collect().toSeq
    val stream = MemoryStream[DocSrcEvent](spark)
    withStatePartitions(spark) {
      val q = stream.toDF()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.operators.CurationOps.gopherPerDoc(batch.toDF())
            .write.mode("overwrite")
            .parquet(new java.io.File(base, s"b$batchId").getPath)
        }
        .start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    readBatches(spark, base)
      .orderBy(col("doc_id"))
  }

  /** DECLARED stateful-coreset entry (reference operator R6 as a LIVE
    * streaming query): per-key doubling coresets maintained in
    * `flatMapGroupsWithState` state across three micro-batches of the
    * embedding stream; the result is each key's final kernel set. Because
    * chunks ascend by vec_id and the operator sorts within each batch, the
    * final kernels equal the sequential batch fold over the whole slice
    * (asserted in StatefulCoresetSpec) — while state never exceeds O(m)
    * kernels per key at any stream length. Rows-only (diversity op, not
    * SQL-expressible), deterministic by the §7.3.4 protocol.
    */
  def streamCoresetKeys(spark: SparkSession, sfDir: String): DataFrame =
    streamCoreset(spark, sfDir, "graft_stream_coreset", rocksDb = false)(
      StatefulCoreset.kernels(_, m = 16))

  /** DECLARED `transformWithState` coreset entry: the SAME per-key
    * doubling-coreset operator as [[streamCoresetKeys]], on Spark 4's
    * successor stateful API — a [[StatefulCoreset.CoresetProcessor]] with
    * named typed [[org.apache.spark.sql.streaming.ValueState]] resolved in
    * `init`, running on the RocksDB state store (required by the API;
    * pinned here, restored after). Same three-micro-batch feed, same final
    * kernels — StatefulCoresetSpec asserts equality with the
    * flatMapGroupsWithState form AND the sequential batch fold, so the two
    * state APIs are interchangeable carriers of operator R6. Rows-only
    * like every diversity op.
    */
  def streamCoresetTws(spark: SparkSession, sfDir: String): DataFrame =
    streamCoreset(spark, sfDir, "graft_stream_coreset_tws", rocksDb = true)(
      StatefulCoreset.kernelsTws(_, m = 16))

  /** The stateful-coreset harness both coreset entries share: the first
    * 1024 embeddings by vec_id, keyed by vec_id % 4, fed to `operator` in
    * three micro-batches; each key's final kernels, sorted on one partition
    * (at most 4 × 16 rows: a range `orderBy` would sample them in a job of
    * its own).
    */
  private def streamCoreset(spark: SparkSession, sfDir: String, name: String, rocksDb: Boolean)(
      operator: Dataset[StatefulCoreset.VecEvent] => Dataset[StatefulCoreset.KernelOut])
      : DataFrame = {
    import spark.implicits._
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(1024)
      .as[(Long, Array[Float])]
      .collect().toSeq
      .map { case (id, v) => StatefulCoreset.VecEvent((id % 4).toInt, id, v) }
    val stream = MemoryStream[StatefulCoreset.VecEvent](spark)
    memorySink(spark, name, "update", rocksDb)(operator(stream.toDS()))(feedChunks(stream, _, pts))
      .transform(latestPerKey("key", "consumed"))
      .select(col("key"), col("vec_id"), col("weight"))
      .repartition(1).sortWithinPartitions(col("key"), col("vec_id"))
  }

  /** DECLARED timer-driven sessionization entry: [[SessionProcessor]] on
    * `transformWithState` with EVENT-TIME TIMERS — each session emitted
    * exactly once, closed by data (same-user event beyond the gap) or by
    * time (the watermark passes last + gap and the registered timer
    * fires). The three-chunk feed closes most sessions by data across
    * batch boundaries; the replay pass (re-sending the already-seen
    * max-ts event, as in [[streamAppendFinalized]]) runs one more DATA
    * batch under the final watermark so due timers fire
    * deterministically — the replayed duplicate only extends its own
    * user's final session, which ends within the watermark delay of the
    * slice max and is therefore never emitted. Oracle = the lag+cumsum
    * sessionization restricted to EMITTED sessions: every non-final
    * session per user, plus final sessions whose last + gap (in the
    * timer's ms arithmetic) the final watermark passed.
    */
  def streamSessionTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_sess_tws", "append", rocksDb = true)(
      withTs(stream.toDF())
        .withWatermark("ts_utc", "1 hour")
        .as[StreamEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new SessionProcessor(gapUs = 30L * 60L * 1000000L),
          TimeMode.EventTime(), OutputMode.Append())) { q =>
      feedChunks(stream, q, slice)
      stream.addData(Seq(slice.last)) // deterministic timer-firing pass
      q.processAllAvailable()
    }
      .select(col("user_id"), col("session_start_us"), col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** DECLARED stream-stream interval join entry: signups arrive in
    * micro-batch 1, purchases in micro-batch 2 — every match therefore
    * crosses a batch boundary, proving the join buffers the signup side in
    * the state store. The global watermark is the MIN across both input
    * streams, and the purchase stream has seen no data during batch 1, so
    * no buffered signup can be GC'd before the purchases arrive — the
    * result is exactly the batch interval join over the slice (the oracle).
    * In production the same [[StreamingQueries.purchaseSignupStream]] runs
    * over two live streams with state bounded by the 7-day interval +
    * 1-hour watermark (see SCALING.md).
    */
  def streamIntervalJoinEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val pStream = MemoryStream[StreamEvent](spark)
    val sStream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_ssj", "append")(
      StreamingQueries.purchaseSignupStream(withTs(pStream.toDF()), withTs(sStream.toDF()))) { q =>
      sStream.addData(slice.filter(_.event_type == "signup"))
      q.processAllAvailable()
      pStream.addData(slice.filter(_.event_type == "purchase"))
      q.processAllAvailable()
    }
      .select(col("p_id"), col("s_id"), col("user_id"))
      .orderBy(col("p_id"), col("s_id"))
  }

  /** DECLARED stream-stream LEFT OUTER interval join entry: the append-mode
    * emission semantics for outer joins — matched pairs emit on arrival,
    * and each unmatched purchase emits its sentinel row exactly once, only
    * after the watermark proves no qualifying signup can still arrive. The
    * harness forces that proof deterministically in TWO micro-batches:
    * batch 1 carries both sides' real events PLUS a far-future flush event
    * on BOTH streams (rows process under the initial zero watermark — the
    * symmetric hash join matches same-batch arrivals through the state
    * store, each side probing the other's — while the COMMIT lifts the
    * global min-watermark past every real purchase's eviction bound);
    * batch 2 replays one flush event, running under that committed
    * watermark and forcing the state-eviction pass that emits the outer
    * rows (same explicit-replay device as [[streamAppendFinalized]] —
    * eviction in batch N uses the watermark committed after batch N−1).
    * Two rounds instead of the r7 three: the signups-before-purchases
    * staging the INNER entry keeps (to pin cross-batch state probes) adds
    * nothing here — the outer path's distinct semantics are the eviction
    * emission, and a commit round is the dominant harness cost
    * (EXPERIMENTS.md round 7). The flush events use negative user ids,
    * never join (purchase flushes user −1, signup flushes user −2), sit
    * above the final watermark so they can never emit as unmatched, and
    * are filtered out of the result by `user_id >= 0`. The oracle is the
    * batch LEFT JOIN over the slice — every purchase present, s_id = −1
    * where unmatched.
    */
  def streamOuterJoinEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val flushTs = slice.map(_.ts_us).max + 30L * 24 * 3600 * 1000000L
    val pStream = MemoryStream[StreamEvent](spark)
    val sStream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_ssj_outer", "append")(
      StreamingQueries.purchaseSignupLeftStream(
        withTs(pStream.toDF()), withTs(sStream.toDF()))) { q =>
      sStream.addData(slice.filter(_.event_type == "signup") :+
        StreamEvent(-2L, flushTs, -2L, "signup", 0.0))
      pStream.addData(slice.filter(_.event_type == "purchase") :+
        StreamEvent(-1L, flushTs, -1L, "purchase", 0.0))
      q.processAllAvailable()
      pStream.addData(Seq(StreamEvent(-3L, flushTs, -1L, "purchase", 0.0)))
      q.processAllAvailable()
    }
      .filter(col("user_id") >= 0)
      .select(col("p_id"), col("s_id"), col("user_id"))
      .orderBy(col("p_id"), col("s_id"))
  }

  /** DECLARED stream-stream FULL OUTER interval join entry — the
    * reconciliation form completing the stream-stream join family (inner,
    * left outer, left semi): matches emit on arrival, unmatched PURCHASES
    * emit (p_id, −1) and unmatched SIGNUPS emit (−1, s_id), each exactly
    * once at state eviction. Same two-round harness as
    * [[streamOuterJoinEvents]] (flush events on both streams lift the
    * committed watermark; one replay batch runs the eviction pass under
    * it) — the eviction pass walks BOTH state stores in that single
    * batch, so both sides' deferred rows emit together. The flush events
    * (negative user ids) sit above the final watermark, never emit, and
    * are filtered by `user_id >= 0`. Oracle = the batch FULL JOIN over
    * the slice with the same −1 sentinels.
    */
  def streamFullOuterJoinEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val flushTs = slice.map(_.ts_us).max + 30L * 24 * 3600 * 1000000L
    val pStream = MemoryStream[StreamEvent](spark)
    val sStream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_ssj_full", "append")(
      StreamingQueries.purchaseSignupFullStream(
        withTs(pStream.toDF()), withTs(sStream.toDF()))) { q =>
      sStream.addData(slice.filter(_.event_type == "signup") :+
        StreamEvent(-2L, flushTs, -2L, "signup", 0.0))
      pStream.addData(slice.filter(_.event_type == "purchase") :+
        StreamEvent(-1L, flushTs, -1L, "purchase", 0.0))
      q.processAllAvailable()
      pStream.addData(Seq(StreamEvent(-3L, flushTs, -1L, "purchase", 0.0)))
      q.processAllAvailable()
    }
      .filter(col("user_id") >= 0)
      .select(col("p_id"), col("s_id"), col("user_id"))
      .orderBy(col("p_id"), col("s_id"))
  }

  /** DECLARED stream-stream LEFT SEMI join entry: signups in micro-batch
    * 1, purchases in micro-batch 2 (every existence proof crosses the
    * state store), each matched purchase emitted exactly once even where
    * several signups qualify — semi semantics collapse the fan-out the
    * inner entry (`stream_interval_join_events`) deliberately exhibits.
    * Unmatched purchases emit nothing, so no flush batches are needed.
    * Oracle = the batch EXISTS query over the slice.
    */
  def streamSemiJoinEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val pStream = MemoryStream[StreamEvent](spark)
    val sStream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_ssj_semi", "append")(
      StreamingQueries.purchaseSignupSemiStream(
        withTs(pStream.toDF()), withTs(sStream.toDF()))) { q =>
      sStream.addData(slice.filter(_.event_type == "signup"))
      q.processAllAvailable()
      pStream.addData(slice.filter(_.event_type == "purchase"))
      q.processAllAvailable()
    }
      .select(col("p_id"), col("user_id"))
      .orderBy(col("p_id"))
  }

  /** DECLARED stream-STATIC join entry: the live event stream enriched
    * against the static customer dimension ([[StreamingQueries.enrichAgg]])
    * with per-nation spend accumulated across three micro-batches. The
    * static side carries no watermark and no state — it is re-planned
    * each micro-batch (the mechanism that lets a file-backed dimension
    * pick up slow changes) and broadcast when small, so the entry proves
    * the third join family (batch-batch, stream-stream, stream-static)
    * through the same driver-checked harness. Oracle = the identical
    * batch join+aggregate over the slice.
    */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_enrich", "complete")(
      StreamingQueries.enrichAgg(stream.toDF(), Tables.customer(spark, sfDir)))(
      feedChunks(stream, _, slice))
      .select(col("nationkey"), col("n"), col("sum_cents"))
      .orderBy(col("nationkey"))
  }

  /** DECLARED snapshot TIME TRAVEL on the atomic sink: after the same
    * 3-epoch streaming write as [[streamAtomicSink]], read back one
    * SNAPSHOT PER EPOCH BOUND — the files of all epochs ≤ e, exactly what
    * the manifest guaranteed is always a complete prefix ("a reader always
    * sees a complete prefix of epochs"). This is the Iceberg/Delta
    * read-at-version contract on the engine's own manifest commits: each
    * snapshot row aggregates a historically consistent view, counts are
    * monotone in the bound, and the final snapshot equals the full table.
    * The oracle reconstructs the same prefixes from the source slice via
    * the feed's deterministic chunking (⌈(n+2)/3⌉-sized event-id-ordered
    * chunks), so a file leaking across epochs or a snapshot reading a
    * torn prefix hash-mismatches.
    */
  def streamSinkTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_tt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_tt_ckpt").toString
    val stream = MemoryStream[StreamEvent](spark)
    withStatePartitions(spark) {
      val q = stream.toDS()
        .select(col("event_id"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
        .writeStream.format("graft-atomic-dir")
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    val byEpoch = graft.sources.AtomicDirSink.manifest(dir)
      .groupBy { case (n, _) => n.split("-")(1).drop(1).toInt }
      .toSeq.sortBy(_._1)
    val snapshots = byEpoch.indices.map { i =>
      val files = byEpoch.take(i + 1).flatMap(_._2).map { case (n, _) => s"$dir/$n" }
      spark.read.schema("event_id LONG, c LONG").csv(files: _*)
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sum_cents"))
        .select(lit(i.toLong).as("epoch_bound"), col("n_rows"), col("sum_cents"))
    }
    snapshots.reduce(_ unionByName _).orderBy(col("epoch_bound"))
  }

  /** DECLARED streaming write through the [[graft.sources.AtomicDirSink]]
    * DSv2 STREAMING_WRITE path: three micro-batches, each epoch-committed
    * (epoch-scoped file names, idempotent re-commit, manifest rewritten
    * atomically with prior epochs preserved) — the connector-level
    * exactly-once that `stream_upsert_foreachbatch` does at user level.
    * Read-back goes through the manifest only; the oracle recomputes the
    * aggregate from the source slice, so a lost epoch, a double-committed
    * replay, or a torn manifest all surface as a mismatch.
    */
  def streamAtomicSink(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_sink_ckpt").toString
    val stream = MemoryStream[StreamEvent](spark)
    withStatePartitions(spark) {
      val q = stream.toDS()
        .select(col("event_id"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
        .writeStream.format("graft-atomic-dir")
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    val files = graft.sources.AtomicDirSink.manifest(dir).map { case (n, _) => s"$dir/$n" }
    spark.read.schema("event_id LONG, c LONG").csv(files: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** Continuous top-k output row. */
  case class TopOut(
      event_type: String, rnk: Long, event_id: Long, value_cents: Long, consumed: Long)

  /** `transformWithState` processor carrying [[graft.functions.TopKState]]
    * as its per-key state: the batch Aggregator's reduce IS the streaming
    * update — one state representation serving both engines, which is the
    * point of making top-k state mergeable (COVERAGE.md +116). State is
    * O(k) per key forever; each batch re-emits the current ranking with a
    * consumed counter so the final answer is selectable (update mode).
    */
  class TopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, StreamEvent, TopOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var top: ValueState[graft.functions.TopKState] = _
    @transient private var seen: ValueState[Long] = _
    private val agg = new graft.functions.TopKAgg(k)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getValueState[graft.functions.TopKState](
        "topk", E.product[graft.functions.TopKState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TopOut] = {
      var st = if (top.exists()) top.get() else agg.zero
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { e =>
        st = agg.reduce(st, (math.floor(e.value * 100 + 0.5).toLong, e.event_id))
        n += 1
      }
      top.update(st); seen.update(n)
      st.cs.indices.iterator.map(i =>
        TopOut(key, i + 1L, st.ids(i), st.cs(i), n))
    }
  }

  /** Emitted transition bigram. */
  case class TransOut(user_id: Long, prev_type: String, event_type: String)

  /** `transformWithState` processor for the streaming transition matrix:
    * per-user state is ONE string — the last event_type seen — so a
    * batch's first event pairs with the previous batch's last (the
    * cross-batch carry a per-batch window cannot produce). Rows of a key
    * arrive in shuffle order within the micro-batch, so the processor
    * sorts its batch slice by event_id before folding; sequence order is
    * ingestion (event_id) order end-to-end.
    */
  class TransitionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, TransOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var last: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[String]("last", E.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TransOut] = {
      val sorted = rows.toArray.sortBy(_.event_id)
      val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
      var prev = if (last.exists()) last.get() else null
      sorted.foreach { e =>
        if (prev != null) out += TransOut(key, prev, e.event_type)
        prev = e.event_type
      }
      if (prev != null) last.update(prev)
      out.iterator
    }
  }

  /** Final EWMA per user. */
  case class EwmaOut(user_id: Long, n_events: Long, ewma_cents: Long)

  /** `transformWithState` processor for the streaming EWMA: per-user state
    * is the (count, smoothed value) pair; each batch's rows fold through
    * the SAME fixed-point recurrence as the batch `ewma_user_value`
    * (⌊(x−s)/4.0⌋ — floor, not truncating DIV), sorted by (ts, id) within
    * the batch. Update mode re-emits the running result; the final batch's
    * emission is the answer.
    */
  class EwmaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, EwmaOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("ewma", E.tuple(E.scalaLong, E.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[EwmaOut] = {
      var (n, s) = if (st.exists()) st.get() else (0L, 0L)
      // ingestion (event_id) order — the feed is event_id-chunked, so this
      // is the one order that is consistent ACROSS batches (a ts-ordered
      // fold would need future batches' earlier-ts rows; see the oracle)
      rows.toArray.sortBy(_.event_id).foreach { e =>
        val cents = math.floor(e.value * 100 + 0.5).toLong
        s = if (n == 0L) cents else s + math.floor((cents - s) / 4.0).toLong
        n += 1
      }
      st.update((n, s))
      Iterator.single(EwmaOut(key, n, s))
    }
  }

  case class DistinctOut(event_type: String, n_users: Long, n_events: Long)

  /** Streaming exact distinct-users per type on MAP STATE — the state type
    * whose point is that a micro-batch touches only the entries it probes
    * (RocksDB keys them individually), unlike a ValueState[Map] which
    * round-trips the whole map per batch: the correct shape for
    * unbounded-key dedup state. A ValueState counter tracks cardinality so
    * emission never iterates the map.
    */
  class DistinctUsersProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, StreamEvent, DistinctOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var users: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var card: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      users = getHandle.getMapState[Long, Long]("users", E.scalaLong, E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      card = getHandle.getValueState[(Long, Long)]("card",
        E.tuple(E.scalaLong, E.scalaLong), org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[DistinctOut] = {
      var (nUsers, nEvents) = if (card.exists()) card.get() else (0L, 0L)
      rows.foreach { e =>
        if (!users.containsKey(e.user_id)) { users.updateValue(e.user_id, 1L); nUsers += 1 }
        else users.updateValue(e.user_id, users.getValue(e.user_id) + 1L)
        nEvents += 1
      }
      card.update((nUsers, nEvents))
      Iterator.single(DistinctOut(key, nUsers, nEvents))
    }
  }

  /** S+: EXACT STREAMING DISTINCT COUNT on transformWithState MAP STATE —
    * per event type, the running number of distinct users and events,
    * carried across micro-batches in a MapState keyed per user. This is
    * the state-shape answer to "exact distinct over an unbounded stream":
    * per batch the store reads/writes ONLY the probed user entries
    * (MapState's contract — a ValueState[Map] would round-trip the whole
    * set every batch), so batch cost is O(batch), state is O(distinct
    * users), and the cardinality rides a ValueState counter so emission
    * never scans the map. Oracle: the batch COUNT(DISTINCT) over the
    * slice — a dropped cross-batch entry or double-counted repeat shifts
    * n_users and fails the hash. The approximate escape at 100 TB state
    * is the HLL/bitmap family; THIS is the exact path and its honest
    * price (O(users) keyed state, RocksDB-backed).
    */
  def streamDistinctUsersTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_distinct", "update", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.event_type)
        .transformWithState(new DistinctUsersProcessor, TimeMode.None(), OutputMode.Update()))(
      feedChunks(stream, _, slice))
      .transform(latestPerKey("event_type", "n_events"))
      .select(col("event_type"), col("n_users"), col("n_events"))
      .orderBy(col("event_type"))
  }

  case class RecentOut(user_id: Long, recent_ids: String)

  /** Last-3 events per user on LIST STATE — appendValue is an O(1) write
    * per row (no read-modify-write of the whole list on the hot path);
    * the trim to 3 rewrites the list only when it overflows.
    */
  class RecentEventsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, RecentOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var recent: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent", E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RecentOut] = {
      rows.toArray.sortBy(_.event_id).foreach(e => recent.appendValue(e.event_id))
      val all = recent.get().toArray
      if (all.length > 3) recent.put(all.takeRight(3))
      Iterator.single(RecentOut(key, recent.get().mkString(",")))
    }
  }

  /** S+: PER-USER RECENT-EVENTS BUFFER on transformWithState LIST STATE —
    * each user's last 3 event ids in arrival order, the "recent activity"
    * feature a serving layer reads. ListState's contract is the point:
    * `appendValue` is a pure write (no read of the existing list on the
    * hot path — RocksDB merges appends), and the buffer trim rewrites
    * only on overflow, so per-row cost is O(1) and state is O(users · k).
    * Feed order is event_id-chunked, so "arrival" = event_id order and
    * the oracle is the rank ≤ 3 window over the slice (ids ascending,
    * comma-joined) — a lost append, a mis-trimmed buffer, or cross-batch
    * reordering changes the string and fails the hash.
    */
  def streamRecentEventsTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    // final emission per user = longest recent_ids string wins is wrong —
    // take the emission from the LAST batch the user appeared in: the max
    // last id inside the string is monotone with arrival, so rank on it
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(expr("CAST(element_at(split(recent_ids, ','), -1) AS BIGINT)").desc)
    memorySink(spark, "graft_stream_recent", "update", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new RecentEventsProcessor, TimeMode.None(), OutputMode.Update()))(
      feedChunks(stream, _, slice))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("recent_ids"))
      .orderBy(col("user_id"))
  }

  case class WarmTotals(event_type: String, n: Long, sum_cents: Long)

  /** Per-type running totals warm-started from a BATCH initial state —
    * `StatefulProcessorWithInitialState`: `handleInitialState` seeds each
    * key's ValueState from the batch side before any stream row arrives,
    * then `handleInputRows` folds increments on top.
    */
  class WarmStartProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, StreamEvent, WarmTotals, (Long, Long)] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("totals",
        E.tuple(E.scalaLong, E.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(
        key: String,
        initial: (Long, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      st.update(initial)

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[WarmTotals] = {
      var (n, s) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { e =>
        n += 1
        s += math.floor(e.value * 100 + 0.5).toLong
      }
      st.update((n, s))
      Iterator.single(WarmTotals(key, n, s))
    }
  }

  /** S+: BATCH→STREAM WARM START — `transformWithState` seeded with an
    * INITIAL STATE (`StatefulProcessorWithInitialState`): the first half
    * of the slice is aggregated as a batch backfill, handed to the
    * streaming query as its initial per-key state, and the second half
    * streams on top. This is the production handoff every migration and
    * backfill needs — yesterday's batch totals become the live job's
    * opening state with no replay of history — and the correctness
    * contract is exactly what the oracle hash-checks: backfill + stream
    * must be INDISTINGUISHABLE from one batch aggregate over everything
    * (a seam — double count, dropped key, late initialization — shifts
    * n or cents and fails the hash). Scale: initial state distributes by
    * grouping key like any shuffle (O(keys), once, at query start);
    * per-key state afterwards is the same O(1) pair as the cold path.
    */
  def streamInitialState(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val (warm, live) = slice.splitAt(slice.length / 2)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_warm", "update", rocksDb = true) {
      val initial = spark.createDataset(warm)
        .groupByKey(_.event_type)
        .mapGroups { (t, es) =>
          var n = 0L; var s = 0L
          es.foreach { e => n += 1; s += math.floor(e.value * 100 + 0.5).toLong }
          (t, n, s)
        }
        .groupByKey(_._1).mapValues(t => (t._2, t._3))
      stream.toDS()
        .groupByKey(_.event_type)
        .transformWithState(new WarmStartProcessor, TimeMode.None(), OutputMode.Update(), initial)
    }(feedChunks(stream, _, live))
      .transform(latestPerKey("event_type", "n"))
      .select(col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("event_type"))
  }

  /** DECLARED streaming EWMA: the batch `ewma_user_value` recurrence
    * carried live — O(1) state per user (count + smoothed cents),
    * cross-batch carry exact because the state IS the recurrence value.
    * Update mode re-emits per batch; the declared output takes each
    * user's final emission (max n_events), which must equal the batch
    * fold — the oracle is the same recursive-CTE replay over the slice.
    */
  def streamEwmaUser(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_ewma", "update", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new EwmaProcessor, TimeMode.None(), OutputMode.Update()))(
      feedChunks(stream, _, slice))
      .transform(latestPerKey("user_id", "n_events"))
      .select(col("user_id"), col("n_events"), col("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** DECLARED streaming transition matrix: the batch `event_transitions`
    * bigram counting carried live on [[TransitionProcessor]] — O(1) state
    * per user (one string), bigrams emitted incrementally, aggregated at
    * read-back. The oracle computes the same lag-bigrams over the slice in
    * event_id order, so a dropped cross-batch carry (the classic
    * per-batch-windowing bug) under-counts and hash-mismatches.
    */
  def streamEventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_trans", "append", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new TransitionProcessor, TimeMode.None(), OutputMode.Append()))(
      feedChunks(stream, _, slice))
      .groupBy(col("prev_type"), col("event_type"))
      .agg(
        count(lit(1)).as("n_transitions"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Emitted attribution row: one per PURCHASE, carrying the user's first
    * and most recent non-purchase touch at purchase time.
    */
  case class AttrOut(first_touch: String, last_touch: String, cents: Long)

  /** `transformWithState` processor for CONTINUOUS first/last-touch
    * attribution: per-user state is exactly two strings (the first and
    * the latest non-purchase event_type ever seen), so a purchase in any
    * later micro-batch credits a touch from any earlier one — the
    * cross-batch carry a per-batch window cannot produce. Ingestion
    * (event_id) order within the batch, matching the feed's chunking, so
    * the fold is the one order consistent ACROSS batches.
    */
  class AttributionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, AttrOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var first: ValueState[String] = _
    @transient private var last: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      first = getHandle.getValueState[String]("first", E.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      last = getHandle.getValueState[String]("last", E.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AttrOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AttrOut]
      var f = if (first.exists()) first.get() else null
      var l = if (last.exists()) last.get() else null
      rows.toArray.sortBy(_.event_id).foreach { e =>
        if (e.event_type == "purchase") {
          out += AttrOut(if (f == null) "none" else f,
            if (l == null) "none" else l,
            math.floor(e.value * 100 + 0.5).toLong)
        } else {
          if (f == null) { f = e.event_type; first.update(f) }
          l = e.event_type; last.update(l)
        }
      }
      out.iterator
    }
  }

  /** DECLARED streaming attribution: the batch first/last-touch revenue
    * attribution (`attribution_first_last`) carried live — every purchase
    * emits its credited channels at arrival, O(2 strings) state per user,
    * and the read-back rolls the emissions into the same (model, channel)
    * shape. The oracle replays the window form over the slice in
    * event_id order, so a dropped cross-batch touch hash-mismatches.
    */
  def streamAttributionTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    val emitted = memorySink(spark, "graft_stream_attr", "append", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new AttributionProcessor, TimeMode.None(), OutputMode.Append()))(
      feedChunks(stream, _, slice))
    val firstAgg = emitted.groupBy(col("first_touch").as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
      .select(lit("first_touch").as("model"), col("channel"),
        col("n_purchases"), col("cents"))
    val lastAgg = emitted.groupBy(col("last_touch").as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
      .select(lit("last_touch").as("model"), col("channel"),
        col("n_purchases"), col("cents"))
    firstAgg.unionByName(lastAgg).orderBy(col("model"), col("channel"))
  }

  /** Emitted streak row: the user's current activity-streak summary
    * plus a strictly-increasing consumed counter (final-emission pick).
    */
  case class StreakOut(
      user_id: Long, n_seen: Long, n_active_days: Long, n_islands: Long,
      longest_streak: Long)

  /** Streak fold state: last active day + current run + the three
    * summary counters — O(5 longs) per user, forever.
    */
  case class StreakState(
      lastDay: Long, run: Long, longest: Long, nDays: Long, nIslands: Long,
      nSeen: Long)

  /** `transformWithState` processor for CONTINUOUS gaps-and-islands —
    * the batch `streak_active_days` carried live: per-user state is the
    * last active day and the current run (plus the three counters), so
    * a day that extends a streak STARTED IN AN EARLIER MICRO-BATCH
    * keeps counting — the cross-batch carry a per-batch window loses.
    * The fold is valid because event time is monotone in event_id (the
    * feed's chunk order), the same ingestion-order contract the EWMA and
    * attribution processors rely on; same-day repeats are no-ops, a +1
    * day extends the run, a larger gap opens a new island.
    */
  class StreakProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, StreakOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: ValueState[StreakState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[StreakState]("streak", E.product[StreakState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[StreakOut] = {
      var s = if (st.exists()) st.get() else StreakState(Long.MinValue, 0L, 0L, 0L, 0L, 0L)
      rows.toArray.sortBy(_.event_id).foreach { e =>
        val day = e.ts_us / 86400000000L
        s =
          if (s.nSeen == 0L || day > s.lastDay + 1)
            // first event ever, or a gap: a new island opens
            StreakState(day, 1L, math.max(s.longest, 1L), s.nDays + 1,
              s.nIslands + 1, s.nSeen + 1)
          else if (day == s.lastDay + 1)
            StreakState(day, s.run + 1, math.max(s.longest, s.run + 1),
              s.nDays + 1, s.nIslands, s.nSeen + 1)
          else // same day (monotone feed ⇒ day == lastDay)
            s.copy(nSeen = s.nSeen + 1)
      }
      st.update(s)
      Iterator.single(StreakOut(key, s.nSeen, s.nDays, s.nIslands, s.longest))
    }
  }

  /** DECLARED streaming streaks: the batch gaps-and-islands summary
    * (`streak_active_days`) maintained live on [[StreakProcessor]] —
    * O(5 longs) state per user, one summary emission per (user, batch);
    * the declared output takes each user's final emission (max n_seen,
    * strictly increasing). The oracle replays the island grouping over
    * the slice in batch SQL, so a dropped cross-batch run carry (longest
    * streak spanning a chunk boundary) hash-mismatches.
    */
  def streamStreaksTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_streaks", "update", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new StreakProcessor, TimeMode.None(), OutputMode.Update()))(
      feedChunks(stream, _, slice))
      .transform(latestPerKey("user_id", "n_seen"))
      .select(col("user_id"), col("n_active_days"), col("n_islands"),
        col("longest_streak"))
      .orderBy(col("user_id"))
  }

  /** Emitted CUSUM row: the user's current drift detector summary. */
  case class CusumOut(
      user_id: Long, n_seen: Long, peak_cusum_cents: Long, peak_event_id: Long)

  /** One-sided CUSUM state: current statistic + running peak and the
    * event that set it — O(4 longs) per user, forever.
    */
  case class CusumState(s: Long, peak: Long, peakEventId: Long, nSeen: Long)

  /** `transformWithState` processor for CONTINUOUS one-sided CUSUM drift
    * detection — S ← max(0, S + (cents − K)) per event with reference
    * K = 2500 cents, tracking the peak statistic and the FIRST event id
    * that achieved it (strict >, so ties keep the earliest). The live
    * form of the `cusum_changepoint` family: state is four longs per
    * user and a spend spike that builds ACROSS micro-batches keeps
    * accumulating — the cross-batch carry a per-batch window loses. The
    * oracle replays the slice through the closed form of the recurrence
    * (S_t = P_t − min(0, min_{j≤t} P_j) over prefix sums P), which is
    * what makes a max(0, ·) fold SQL-expressible at all.
    */
  class CusumProcessor(k: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, CusumOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: ValueState[CusumState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CusumState]("cusum", E.product[CusumState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CusumOut] = {
      var s = if (st.exists()) st.get() else CusumState(0L, 0L, 0L, 0L)
      rows.toArray.sortBy(_.event_id).foreach { e =>
        val c = math.floor(e.value * 100 + 0.5).toLong
        val next = math.max(0L, s.s + (c - k))
        s =
          if (next > s.peak) CusumState(next, next, e.event_id, s.nSeen + 1)
          else CusumState(next, s.peak, s.peakEventId, s.nSeen + 1)
      }
      st.update(s)
      Iterator.single(CusumOut(key, s.nSeen, s.peak, s.peakEventId))
    }
  }

  /** DECLARED streaming CUSUM: [[CusumProcessor]] over the event slice,
    * declared output = each user's final emission. The oracle rebuilds
    * S_t from prefix sums with a running min window — identical integer
    * arithmetic, so a dropped cross-batch S carry hash-mismatches.
    */
  def streamCusumTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_cusum", "update", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new CusumProcessor(2500L), TimeMode.None(), OutputMode.Update()))(
      feedChunks(stream, _, slice))
      .transform(latestPerKey("user_id", "n_seen"))
      .select(col("user_id"), col("n_seen"), col("peak_cusum_cents"),
        col("peak_event_id"))
      .orderBy(col("user_id"))
  }

  /** Emitted sample row: the user's current bounded uniform sample. */
  case class SampleOut(user_id: Long, sample_csv: String, n_sample: Long, n_seen: Long)

  /** Bounded sampler state: ≤ k (priority, event_id) pairs kept sorted by
    * (priority, id). Priorities are the md5-hex prefix of the event id —
    * the engine's deterministic-PRN idiom (`weighted_sample_strata`), so
    * "uniform at random" is reproducible bit-for-bit in both engines and
    * across replays.
    */
  case class SampleState(pris: Seq[String], ids: Seq[Long])

  /** `transformWithState` processor for CONTINUOUS BOTTOM-k SAMPLING: a
    * per-user uniform-without-replacement sample of fixed size k
    * maintained forever at O(k) state — the streaming form of reservoir
    * sampling, made deterministic (and merge-order-free) by hash
    * priorities: the bottom-k set of a union is the bottom-k of the
    * bottom-k's, so batch boundaries and within-batch row order cannot
    * change the result. Each batch re-emits the user's current sample
    * with a consumed counter (update mode).
    */
  class SampleProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, SampleOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: ValueState[SampleState] = _
    @transient private var seen: ValueState[Long] = _

    private def pri(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.take(8).map(b => f"$b%02x").mkString // 16 hex chars
    }

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[SampleState]("sample", E.product[SampleState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SampleOut] = {
      val prev = if (st.exists()) st.get() else SampleState(Nil, Nil)
      var pairs = prev.pris.zip(prev.ids).toVector
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { e => pairs :+= (pri(e.event_id), e.event_id); n += 1 }
      val kept = pairs.sortBy(identity).take(k)
      st.update(SampleState(kept.map(_._1), kept.map(_._2)))
      seen.update(n)
      Iterator.single(SampleOut(
        key, kept.map(_._2).sorted.mkString(","), kept.size.toLong, n))
    }
  }

  /** DECLARED continuous per-user sample entry: deterministic reservoir-
    * style bottom-8 sampling on [[SampleProcessor]]; the declared surface
    * keeps each user's LAST emission (max consumed). Oracle = the batch
    * bottom-8-by-md5-priority window over the slice — hash-matching it
    * proves the streamed bounded state converges to exactly the batch
    * sample regardless of chunking.
    */
  def streamSampleUsers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_sample", "update", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new SampleProcessor(8), TimeMode.None(), OutputMode.Update()))(
      feedChunks(stream, _, slice))
      .transform(latestPerKey("user_id", "n_seen"))
      .select(col("user_id"), col("sample_csv"), col("n_sample"), col("n_seen"))
      .orderBy(col("user_id"))
  }

  /** DECLARED continuous top-k entry: per-type top-5 by (cents desc, id
    * asc) maintained across micro-batches on `transformWithState` — the
    * streaming carrier of the SAME mergeable state `group_topk_agg`
    * aggregates in batch (TopKAggSpec pins reduce/merge equivalence, so
    * batch and stream provably converge on identical rankings). Oracle =
    * the batch rank-limit window over the slice.
    */
  /** S+: STATE STORE AS A TABLE — Spark 4's state data source
    * (`spark.read.format("statestore")`) pointed at a live checkpoint: the
    * tumbling aggregate's internal state reads back as a batch DataFrame
    * (key = (window, event_type), value = the agg buffer), the ops
    * capability behind streaming debugging, state audits, and offline
    * state repair. Semantics hash-proven by this query: after the feed,
    * state holds EXACTLY the windows the last commit had not yet evicted.
    * Append mode evicts (and emits) a window in the commit whose eviction
    * watermark passes its end — and that watermark is the one CAPTURED AT
    * BATCH START, i.e. computed from the batches before it (no-data
    * batches are off in this harness), so the final snapshot's threshold
    * is max ts of the first two chunks − 1 h. The oracle re-derives that
    * exact boundary with batch SQL over the slice — hash-proving the
    * store's eviction bookkeeping, watermark lag included, not just the
    * happy-path aggregate. Scale: the reader enumerates state
    * per shuffle partition — O(open state), never the stream's history;
    * the checkpoint is the same one the query commits anyway (zero extra
    * write cost; the noop sink isolates state cost from sink cost).
    */
  def streamStateReader(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    val ckpt = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_state_reader_ckpt")
    ScratchDirs.wipe(ckpt)
    withStatePartitions(spark) {
      val q = StreamingQueries.tumblingStream(withTs(stream.toDF()))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt.getAbsolutePath).start()
      try feedChunks(stream, q, slice) finally q.stop()
    }
    spark.read.format("statestore").load(ckpt.getAbsolutePath)
      .select(
        unix_micros(col("key.window.start")).as("ws_us"),
        col("key.event_type").as("event_type"),
        col("value.count").as("n"), col("value.sum").as("sum_cents"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** S+: CHAINED STATEFUL AGGREGATIONS — two event-time window aggregates
    * in ONE streaming query (hourly tumbling per type → daily rollup of
    * the hourly rows), the multi-stateful-operator pipeline Spark supports
    * since 3.4 via `window_time()`: stage 2 windows over the event-time
    * of stage 1's FINALIZED windows, both stages sharing one watermark.
    * This is the production pre-aggregation cascade (raw → minutely →
    * hourly → daily) expressed as a single query with a single state
    * lineage — no intermediate sink, no re-read, exactly-once end to end.
    * Emission is append-mode: a daily row appears only when the watermark
    * passes the day's end, by which point every hour of that day has
    * already flowed through stage 1 (hour end ≤ day end ≤ watermark) — so
    * finalized daily rows are COMPLETE, which is exactly what the oracle's
    * batch hour→day cascade over the finalized-day set hash-checks. The
    * max-ts replay trick ([[streamAppendFinalized]]) forces the final
    * watermark pass deterministically. Scale: state is O(open windows ×
    * types) per stage, GC'd by the shared watermark; the daily stage's
    * input is |hours|·|types| rows per batch, not events.
    */
  def streamChainedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_chained", "append") {
      val src = withTs(stream.toDF()).withWatermark("ts_utc", "1 hour")
      val hourly = src
        .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("sum_cents"))
      hourly
        .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_hours"), max(col("n")).as("max_hourly_n"),
          sum(col("n")).as("n_events"), sum(col("sum_cents")).as("sum_cents"))
        .select(
          unix_micros(col("window.start")).as("day_us"), col("event_type"),
          col("n_hours"), col("max_hourly_n"), col("n_events"), col("sum_cents"))
    } { q =>
      feedChunks(stream, q, slice)
      stream.addData(Seq(slice.last))
      q.processAllAvailable()
    }
      .orderBy(col("day_us"), col("event_type"))
  }

  /** S+: STREAMING PIPELINE OBSERVABILITY — `Dataset.observe()` on a live
    * micro-batch stream: per-batch row count, exact cents mass, and
    * purchase count ride the query's own execution as accumulator-backed
    * metrics (NO second scan, no sink coupling — the production way to
    * monitor a pipeline's throughput/content without re-reading it; batch
    * twin: the observe() on `dedup_bloom_prune`). The metrics surface
    * through `StreamingQueryProgress.observedMetrics` per micro-batch;
    * the declared output is that per-batch metrics table for the 3
    * deterministic harness chunks, and the ORACLE recomputes the same
    * numbers from the slice with plain SQL — hash-proving that what the
    * observability channel reports is exactly what flowed. Scale: observe
    * aggregates are map-side accumulators merged at the driver,
    * constant-size per batch regardless of input rows — the one
    * driver-side collect that is the API's contract.
    */
  def streamObserveMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    val observed = withStatePartitions(spark) {
      val src = withTs(stream.toDF())
        .observe("graft_obs",
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("sum_cents"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"))
      val q = src.writeStream.format("noop").start()
      try feedChunks(stream, q, slice) finally q.stop()
      q.recentProgress.toSeq
        .sortBy(_.batchId)
        .flatMap(p => Option(p.observedMetrics.get("graft_obs")))
        .map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_cents"),
          r.getAs[Long]("n_purchase")))
        .filter(_._1 > 0L)
    }
    observed.zipWithIndex
      .map { case ((n, s, p), i) => (i.toLong, n, s, p) }
      .toDF("batch_seq", "n_rows", "sum_cents", "n_purchase")
      .orderBy(col("batch_seq"))
  }

  def streamTopkTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = eventSlice(spark, sfDir)
    val stream = MemoryStream[StreamEvent](spark)
    memorySink(spark, "graft_stream_topk", "update", rocksDb = true)(
      stream.toDS()
        .groupByKey(_.event_type)
        .transformWithState(new TopKProcessor(5), TimeMode.None(), OutputMode.Update()))(
      feedChunks(stream, _, slice))
      .transform(latestPerKey("event_type", "consumed"))
      .select(col("event_type"), col("rnk"), col("event_id"), col("value_cents"))
      .orderBy(col("event_type"), col("rnk"))
  }
}
