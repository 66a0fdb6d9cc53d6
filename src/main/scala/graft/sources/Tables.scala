package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver-generated parquet fixtures (TESTDATA.md /
  * FIXTURES.md). One method per table so every query goes through a single
  * choke point for schema quirks.
  *
  * Design notes (100 TB posture):
  *  - These are plain `spark.read.parquet` scans: Catalyst predicate pushdown
  *    and column pruning apply to whatever the caller selects/filters — no
  *    eager caching, no collect.
  *  - `events.ts` is parquet `timestamp[ns]`, which Spark 4 refuses to read by
  *    default (`Illegal Parquet type`). We flip the legacy flag (runtime-
  *    mutable SQLConf) so it surfaces as a `long` of nanoseconds, then
  *    immediately truncate to microseconds: the DuckDB oracle reads the same
  *    column as a microsecond TIMESTAMP (DuckDB 1.0 truncates ns parquet to
  *    µs), so µs is the shared precision of record. All event-time logic in
  *    the engine uses `ts_us` (bigint µs) or `ts_utc` (timestamp) — never raw
  *    nanos.
  */
object Tables {
  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Exact table row count from parquet footer metadata — no Spark job, no
    * data scan: each footer carries the file's record count, so the cost is
    * one metadata read per file (memoized per path for the session). This
    * is how size-adaptive operators (e.g. VectorOps.nearDupBits) size their
    * plans without spending a full pass on `count()` first — the same role
    * AQE's statistics probe plays, but available before the first stage
    * runs. At 100 TB the footers live beside the data; a catalog would
    * serve the same number from table statistics.
    *
    * Listing RECURSES into subdirectories (Hive-partitioned layouts count
    * correctly), skipping hidden/metadata entries exactly like Spark's own
    * file index (`_`/`.` prefixes), and FAILS LOUDLY when no parquet file
    * is found — r15 fed this value into correctness-bearing arithmetic
    * (graph edge targets, insert-key offsets), so a silent 0 from an
    * unexpected layout must never masquerade as an empty table (r16,
    * ADVICE).
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val pathStr = s"$sfDir/$name.parquet"
    rowCountCache.computeIfAbsent(pathStr, { _ =>
      footers(spark, pathStr)(_.getRecordCount).map(_._2).sum
    }): Long
  }

  /** `f` of each data file's parquet footer under `pathStr`, with the
    * file's path. The listing is [[rowCount]]'s: recursive, hidden and
    * metadata entries skipped, and no data file at all is an error.
    */
  private def footers[A](spark: SparkSession, pathStr: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): Seq[(String, A)] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(pathStr)
    val fs = path.getFileSystem(conf)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath)
          .filterNot { s =>
            val n = s.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          }
          .toSeq.flatMap(walk)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Seq.empty
    val files = walk(fs.getFileStatus(path))
    require(files.nonEmpty,
      s"$pathStr: no *.parquet data files found — refusing to report 0 rows or pass a " +
        "schema for an unreadable or unexpectedly-laid-out table")
    files.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try (st.getPath.toString, f(reader)) finally reader.close()
    }
  }

  /** The embeddings table as parquet schema inference reports it for the
    * fixtures: every column nullable, array elements too.
    */
  private val EmbeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  private val embeddingsChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def region(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")

  /** embeddings, read with a declared schema, so analysis runs no schema
    * inference job. The declaration is checked once per path (memoized
    * like [[rowCount]]) against every data file's footer: a column that is
    * missing, or whose type differs, fails the read naming the file and
    * the column, where the declared read would return nulls or fail in a
    * task. Nullability is not compared: a declared nullable column reads a
    * required one.
    */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val pathStr = s"$sfDir/embeddings.parquet"
    embeddingsChecked.computeIfAbsent(pathStr, { _ =>
      val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      footers(spark, pathStr)(r => converter.convert(r.getFooter.getFileMetaData.getSchema))
        .foreach { case (file, found) =>
          EmbeddingsSchema.foreach { declared =>
            val actual = found.find(_.name == declared.name).map(_.dataType.catalogString)
            require(actual.contains(declared.dataType.catalogString),
              s"$file: column ${declared.name} is ${actual.getOrElse("missing")}, but embeddings " +
                s"is declared with ${declared.name} ${declared.dataType.catalogString}")
          }
        }
      true
    })
    spark.read.schema(EmbeddingsSchema).parquet(pathStr)
  }

  /** events with `ts_us` (bigint, µs since epoch, = floor(ns/1000)) and
    * `ts_utc` (timestamp, µs precision). Raw `ts` is retained but queries
    * must not compare or emit it — DuckDB only sees µs.
    *
    * Two physical layouts exist: the driver fixtures carry `ts` as parquet
    * timestamp[ns] (surfaced as a long of nanos via the legacy flag), while
    * scaled fixtures written by [[graft.GenData]] carry a normal µs
    * timestamp (Spark cannot write ns). Both normalize to the same `ts_us`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Defensive tz pin (ADVICE r9): the NTZ→TZ cast below is only correct
    // under UTC. Every entry point already pins it, but an externally
    // created session must not silently produce shifted epoch micros.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = read(spark, sfDir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      // Parquet µs timestamps with isAdjustedToUTC=false surface as
      // TIMESTAMP_NTZ; every entry point pins session tz = UTC, so the
      // NTZ→TZ cast interprets the naive value as UTC — the same epoch
      // micros DuckDB's epoch_us() yields for the naive timestamp.
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_micros(col("ts"))
    }
    raw.withColumn("ts_us", tsUs).withColumn("ts_utc", timestamp_micros(tsUs))
  }
}
