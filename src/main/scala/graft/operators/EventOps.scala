package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Materialize, Tables}

/** Event-time operators: ranking/analytic windows, tumbling/sliding/session
  * windows (batch forms — streaming parity in [[graft.streaming]]), as-of
  * join, JSON property extraction (SURVEY.md §2.2 groups E, S, plus C-asof
  * and H-json).
  *
  * Time protocol: `events.ts` is nanosecond parquet; the engine and the
  * DuckDB oracle share **microsecond** precision (`ts_us = ts DIV 1000` here,
  * `epoch_us(ts)` there — DuckDB 1.0 truncates ns→µs on read). All
  * comparisons, lags, gaps and outputs use µs. `value` sums use integer
  * cents (`CAST(round(value*100) AS BIGINT)`) so window sums are exact and
  * order-independent — no float-summation drift between engines.
  */
object EventOps {

  private val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")

  /** A+: partitioned SINK + partition-pruned read — events written once as
    * parquet in Hive directory layout (`event_type=.../part-*.parquet` via
    * [[graft.sources.Materialize.partitionedPath]]), then the purchase-only
    * aggregate reads back through the partitioned files. The filter lands in
    * the scan's PartitionFilters (directory pruning at file-listing time,
    * asserted in PlanAuditSpec) — the standard date/type-partitioned lake
    * layout: at 100 TB a selective partition filter skips data
    * proportionally, and NO data file of another partition is even opened.
    * Results identical to filtering the source table, which is what the
    * oracle checks.
    */
  def partitionedEventsPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Materialize.partitionedPath(spark, s"events_by_type_$sfDir", "event_type", sfDir) {
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    }
    spark.read.parquet(path)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), sum(cents).as("spend_cents"))
      .orderBy(col("user_id"))
  }

  /** A+/layout: SMALL-FILE COMPACTION — the maintenance operator every
    * streaming sink and fine-partitioned lake table needs: a fragmented
    * layout (here: the 5000-event slice deliberately staged as 64 tiny
    * files — a realistic micro-batch sink residue) is rewritten into
    * size-targeted files. The rewrite is a `coalesce` (NOT `repartition`):
    * file merging must not pay a shuffle — each output task concatenates
    * whole input files, so at 100 TB compaction is an embarrassingly
    * parallel per-directory pass whose cost is one read+write of the
    * fragment set, never an exchange (PlanAuditSpec pins the no-Exchange
    * plan and the ≥8× file-count reduction). The output file count is
    * sized from the MEASURED input bytes over a target file size (the
    * production knob is 128 MiB–1 GiB; fixture-scaled here). Compaction
    * changes bytes-per-file, never answers: the declared surface is an
    * exact-cents aggregate over the COMPACTED files, oracled against the
    * raw table.
    */
  def compactSmallFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val frag = Materialize.stage(spark, s"compact_frag_$sfDir", sfDir) {
      Tables.events(spark, sfDir)
        .orderBy(col("event_id")).limit(5000)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"), col("value"))
        .repartition(64)
    }
    val fragBytes = frag.inputFiles
      .map(p => new java.io.File(new java.net.URI(p)).length()).sum
    val targetBytes = 1L << 20 // fixture-scaled stand-in for the 128 MiB+ production target
    val nOut = math.max(1, math.ceil(fragBytes.toDouble / targetBytes).toInt)
    val compacted = Materialize.stage(spark, s"compact_out_$sfDir", sfDir) {
      frag.coalesce(nOut)
    }
    compacted.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** The staged fragment/compacted scans, re-derived for spec assertions
    * (memoized — no recompute after [[compactSmallFiles]] has run).
    */
  private[graft] def compactionStages(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    compactSmallFiles(spark, sfDir)
    (Materialize.stage(spark, s"compact_frag_$sfDir", sfDir)(sys.error("staged")),
      Materialize.stage(spark, s"compact_out_$sfDir", sfDir)(sys.error("staged")))
  }

  /** Morton/Z-order interleave of two 8-bit bucket columns into a 16-bit
    * code — built from shiftright/bitwiseAND/shiftleft so the whole
    * expression stays inside codegen. Bit i of x lands at position 2i,
    * bit i of y at 2i+1, so sorting by the code clusters rows that are
    * close in BOTH dimensions.
    */
  private def morton8(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** A+/layout: Z-ORDER clustering — the multi-dimensional data-skipping
    * layout: events are staged ONCE sorted by the Morton interleave of
    * range-binned (user_id, ts) buckets, then a 2-D box query (middle
    * quarter of each dimension) runs over the staged table with RAW range
    * predicates. Because the bins are range-based, every staged file/row
    * group covers a small rectangle of (user, time) space, so the raw
    * min/max stats prune most of the table for box queries on EITHER or
    * BOTH dimensions — where a single-column sort prunes only its own
    * dimension. This is the lakehouse ZORDER BY move, built from plain
    * expressions + orderBy; at 100 TB it is the difference between
    * scanning ~1/16 and scanning everything for sliced dashboards
    * (measured A/B in EXPERIMENTS.md "z-order"). The result is layout-
    * independent (the oracle computes the same box over the raw table) —
    * what the layout changes is bytes read, not answers.
    */
  def zorderEventsBox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"), cents.as("cents"))
    val (umin, umax, tmin, tmax) =
      raw.agg(min(col("user_id")), max(col("user_id")), min(col("ts_us")), max(col("ts_us")))
        .as[(Long, Long, Long, Long)].collect()(0)
    val uSpan = umax - umin + 1
    val tSpan = tmax - tmin + 1
    val staged = Materialize.stage(spark, s"zorder_events_$sfDir", sfDir) {
      raw.withColumn("z", morton8(
          expr(s"CAST(((user_id - $umin) * 256) DIV $uSpan AS INT)"),
          expr(s"CAST(((ts_us - $tmin) * 256) DIV $tSpan AS INT)")))
        .orderBy(col("z")).drop("z")
    }
    // middle-quarter box in both dimensions; integer floor arithmetic so
    // the DuckDB oracle derives bit-identical bounds from min/max
    val (uLo, uHi) = (umin + uSpan / 4, umin + uSpan / 2)
    val (tLo, tHi) = (tmin + tSpan / 4, tmin + tSpan / 2)
    staged
      .filter(col("user_id") >= uLo && col("user_id") < uHi &&
        col("ts_us") >= tLo && col("ts_us") < tHi)
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_eid"),
        max(col("event_id")).as("max_eid"))
  }

  /** A+/layout: HILBERT clustering — [[zorderEventsBox]]'s sibling using
    * the Hilbert-curve index ([[graft.functions.HilbertIndex]], a native
    * codegen expression — the xy2d walk's mutable rotate loop is the §4.3
    * "custom Expression beats 8 unrolled when() layers" case). Hilbert
    * never takes Z-order's long diagonal jumps — consecutive indexes are
    * always 4-adjacent cells — so each staged file covers a tighter
    * (user, time) bounding box and min/max stats skip MORE files for the
    * same box query (measured A/B vs z-order in EXPERIMENTS.md "layout").
    * Same bins, same box, same layout-independent answer as the z-order
    * entry: the declared result checks semantics; the layout changes only
    * bytes read.
    */
  def hilbertEventsBox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"), cents.as("cents"))
    val (umin, umax, tmin, tmax) =
      raw.agg(min(col("user_id")), max(col("user_id")), min(col("ts_us")), max(col("ts_us")))
        .as[(Long, Long, Long, Long)].collect()(0)
    val uSpan = umax - umin + 1
    val tSpan = tmax - tmin + 1
    val staged = Materialize.stage(spark, s"hilbert_events_$sfDir", sfDir) {
      raw.withColumn("h", expr(
          s"hilbert_d(CAST(((user_id - $umin) * 256) DIV $uSpan AS INT), " +
            s"CAST(((ts_us - $tmin) * 256) DIV $tSpan AS INT))"))
        .orderBy(col("h")).drop("h")
    }
    val (uLo, uHi) = (umin + uSpan / 4, umin + uSpan / 2)
    val (tLo, tHi) = (tmin + tSpan / 4, tmin + tSpan / 2)
    staged
      .filter(col("user_id") >= uLo && col("user_id") < uHi &&
        col("ts_us") >= tLo && col("ts_us") < tHi)
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_eid"),
        max(col("event_id")).as("max_eid"))
  }

  /** A+: JSON-lines source/sink round-trip — events exported once as JSONL
    * ([[graft.sources.Materialize.formatPath]]), read back with an EXPLICIT
    * schema (never inference: that is a second full scan of the data at
    * 100 TB), aggregated per event_type. Money rides as integer cents so the
    * text round-trip is exact; the oracle reads the original parquet — any
    * serialization loss would hash-mismatch.
    */
  def jsonlRoundtripEvents(spark: SparkSession, sfDir: String): DataFrame =
    roundtripEvents(spark, sfDir, "json")

  /** A+: CSV (with header) source/sink round-trip — same contract as
    * [[jsonlRoundtripEvents]]; simple typed columns only (no nested JSON in
    * a CSV cell: quoting semantics differ across engines).
    */
  def csvRoundtripEvents(spark: SparkSession, sfDir: String): DataFrame =
    roundtripEvents(spark, sfDir, "csv")

  /** A+: ORC source/sink round-trip — the columnar-format sibling of the
    * parquet path (Spark ships the ORC reader/writer natively): typed
    * binary round-trip, predicate-pushdown-capable scan, same explicit
    * schema contract as the text formats.
    */
  def orcRoundtripEvents(spark: SparkSession, sfDir: String): DataFrame =
    roundtripEvents(spark, sfDir, "orc")

  /** A+: XML source/sink round-trip — Spark 4's BUILT-IN XML data source
    * (rowTag-delimited records), same contract as the JSONL/CSV/ORC
    * round-trips: explicit schema on read (never inference), integer
    * cents so the text round-trip is exact, oracle reads the original
    * parquet so any serialization loss hash-mismatches.
    */
  def xmlRoundtripEvents(spark: SparkSession, sfDir: String): DataFrame =
    roundtripEvents(spark, sfDir, "xml")

  private def roundtripEvents(spark: SparkSession, sfDir: String, format: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = Materialize.formatPath(spark, s"events_rt_$sfDir", format, sfDir) {
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), cents.as("cents"))
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("cents", LongType)))
    val r = spark.read.schema(schema)
    (format match {
      case "csv" => r.option("header", "true").csv(path)
      case "orc" => r.orc(path)
      case "xml" => r.option("rowTag", "event").format("xml").load(path)
      case _     => r.json(path)
    })
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  /** E: per-brand top-3 parts by price (ranking window + filter). */
  def winTopkParts(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, sfDir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(
        col("p_brand"),
        col("rank").cast("long").as("rank"),
        col("p_partkey"),
        round(col("p_retailprice"), 2).as("p_retailprice"))
      .orderBy(col("p_brand"), col("rank"))
  }

  /** E: running per-user sum (analytic window, explicit ROWS frame). Sum in
    * integer cents → exact under any evaluation strategy.
    */
  def winRunningUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("running_cents", sum(cents).over(w))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("running_cents"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** E+: per-group Z-SCORE standardization — the feature-normalization
    * pass every tabular ML pipeline runs before training: each event's
    * value standardized against its event_type population, (x − μ)/σ over
    * an unbounded partition window (μ and σ computed once per group by the
    * WindowExec frame, not per row). Determinism per COVERAGE.md: μ is an
    * exact int/int quotient (integer cents), σ is stddev_samp — class 3,
    * order-dependent in the last ulps — so the z value rounds to 6 dp on
    * both engines. Scale: one exchange on event_type; the alternative
    * groupBy+broadcast-join form shuffles the same bytes but reads the
    * fact twice — the window form is the single-scan plan.
    */
  def winZscoreEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), cents.as("value_cents"))
      .withColumn("mu", avg(col("value_cents")).over(w))
      .withColumn("sd", stddev_samp(col("value_cents")).over(w))
      .select(
        col("event_id"), col("event_type"), col("value_cents"),
        round((col("value_cents") - col("mu")) / col("sd"), 6).as("z"))
      .orderBy(col("event_id"))
  }

  /** E: per-user Δt to previous event (lag). */
  def winLagDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        (col("ts_us") - col("prev_ts_us")).as("delta_us"))
      .orderBy(col("event_id"))
  }

  /** E+: RANGE frame — per event, the user's trailing-1-hour spend in
    * cents (RANGE BETWEEN 3.6e9 µs PRECEDING AND CURRENT ROW over the
    * numeric ts_us ordering). Integer output → exact cross-engine.
    */
  /** E+: IGNORE NULLS window navigation — carry the last "big purchase"
    * value forward per user (last_value + lag, both null-skipping). The
    * big-value column is sparse by construction (CASE makes most rows
    * null), which is exactly the shape IGNORE NULLS exists for.
    */
  def winIgnoreNulls(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("big_cents",
        when(col("value") >= 400, cents).otherwise(lit(null)))
      .selectExpr(
        "event_id", "user_id", "ts_us", "big_cents",
        """last_value(big_cents) IGNORE NULLS OVER (
          |  PARTITION BY user_id ORDER BY ts_us, event_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_big_cents""".stripMargin,
        """lag(big_cents, 1) IGNORE NULLS OVER (
          |  PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_big_cents""".stripMargin)
      .orderBy(col("event_id"))
  }

  def winRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-hourUs, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("trailing_hour_cents", sum(cents).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("trailing_hour_cents"))
      .orderBy(col("event_id"))
  }

  /** E+: the ranking-function family over one deterministic ordering —
    * dense_rank, percent_rank, cume_dist, ntile(4), first/last value.
    * Ordered by (p_retailprice DESC, p_partkey) so every function is
    * tie-free; doubles rounded to 6 dp.
    */
  def winRankKinds(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.part(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("top_part", first(col("p_partkey")).over(wFull))
      .withColumn("bottom_part", last(col("p_partkey")).over(wFull))
      .filter(col("rnk") <= 5) // window cols computed over the FULL partition, then filtered
      .select(
        col("p_brand"), col("rnk").cast("long").as("rnk"), col("p_partkey"),
        col("drnk").cast("long").as("drnk"), col("prnk"), col("cdist"),
        col("quartile").cast("long").as("quartile"),
        col("top_part"), col("bottom_part"))
      .orderBy(col("p_brand"), col("rnk"))
  }

  /** C: as-of join — each purchase matched to the same user's most recent
    * signup at-or-before it. Implemented as equi-join on user + time
    * predicate + row_number()=1; at scale the per-user fan-out is bounded by
    * signups-per-user, and the join shuffles on user_id only.
    * LEFT semantics: purchases with no prior signup keep NULL match columns.
    */
  def asofJoinEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val s = e.filter(col("event_type") === "signup")
      .select(
        col("event_id").as("s_event_id"),
        col("user_id").as("s_user_id"),
        col("ts_us").as("s_ts_us"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("s_ts_us").desc_nulls_last, col("s_event_id").desc_nulls_last)
    p.join(s, col("user_id") === col("s_user_id") && col("s_ts_us") <= col("ts_us"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("ts_us"), col("s_event_id"), col("s_ts_us"))
      .orderBy(col("event_id"))
  }

  /** S: 1-hour tumbling window per event_type (batch form of the streaming
    * aggregate; same epoch-aligned bucketing as `withWatermark` + `window`).
    */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
      .select(
        unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n"), col("sum_cents"))
      .orderBy(col("ws_us"), col("event_type"))
  }

  /** S: 1-hour window sliding every 15 minutes (each event lands in 4
    * windows, starts epoch-aligned to the slide).
    */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts_utc"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("n"), col("sum_cents"))
      .orderBy(col("ws_us"))
  }

  /** A+: DYNAMIC PARTITION PRUNING — the runtime star-join optimization
    * static pruning can't do: the fact side (events in the
    * [[partitionedEventsPurchases]] Hive layout, partitioned by
    * event_type) is joined to a FILE-BACKED dimension (event_type →
    * category, staged to parquet precisely so the category filter is NOT
    * constant-foldable), and the planner inserts a dynamic-pruning
    * subquery: the dim filter's surviving keys are computed FIRST and the
    * fact scan then opens only those partition directories —
    * `dynamicpruningexpression` in the scan's PartitionFilters,
    * PlanAuditSpec-pinned. At 100 TB this is the difference between
    * scanning 2/5 of a date/type-partitioned fact table and all of it,
    * decided at RUNTIME from dim data a static optimizer never sees. The
    * answer is layout-independent (oracle inlines the category rule over
    * the raw table).
    */
  def dppEventsJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val factPath = Materialize.partitionedPath(
      spark, s"events_by_type_$sfDir", "event_type", sfDir) {
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    }
    val dim = Materialize.stage(spark, s"event_type_dim_$sfDir", sfDir) {
      Tables.events(spark, sfDir).select(col("event_type")).distinct()
        .withColumn("category",
          when(col("event_type").isin("signup", "purchase"), "conversion")
            .otherwise("engagement"))
    }
    spark.read.parquet(factPath)
      .join(dim.filter(col("category") === "conversion"), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
      .orderBy(col("event_type"))
  }

  /** C+: NULL-SKEW-SAFE outer join — the enrichment-join hotspot fix: in
    * a plain left join, every NULL-keyed fact row hashes to ONE partition
    * (null is a single key value), so a fact table where 20% of rows have
    * an unattributable key ships 20% of 100 TB to one reducer — the
    * classic straggler no AQE skew split fixes well (it is one VALUE, not
    * a heavy tail). Nulls can never match an equi join anyway, so the
    * scale-safe plan SPLITS before joining: the null slice skips the join
    * entirely (map-side, null-padded) and unions back with the joined
    * non-null slice. Here the nullable key is realistic — error events
    * carry no attributable user (`event_type = 'error' → NULL`). The
    * result is definitionally identical to the plain left join, which is
    * what the oracle checks; the split plan's join input simply never
    * contains a null key.
    */
  def nullSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(
        when(col("event_type") === "error", lit(null)).otherwise(col("user_id"))
          .as("k"),
        cents.as("c"))
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val joined = e.filter(col("k").isNotNull)
      .join(dim, col("k") === col("c_custkey"), "left_outer")
      .select(col("c_nationkey"), col("c"))
    val nullSlice = e.filter(col("k").isNull)
      .select(lit(null).cast("int").as("c_nationkey"), col("c"))
    joined.unionAll(nullSlice)
      .groupBy(coalesce(col("c_nationkey"), lit(-1)).cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"))
      .orderBy(col("nationkey"))
  }

  /** E+: ORDERED FUNNEL — the product-analytics sequence query: how many
    * users complete signup → view → purchase IN ORDER, where each step's
    * anchor is the FIRST qualifying event strictly after the previous
    * step's anchor (first signup, first view after that signup, first
    * purchase after that view). All anchors are exact integer µs minima,
    * so the funnel is engine-portable with no rounding surface. Plan
    * shape: one conditional aggregate per step, each keyed on user_id —
    * the three step tables are per-user scalars (|users| rows), so the
    * two step joins are broadcast-or-bucketed small joins and the events
    * scan runs once per step WITH its event_type filter pushed to
    * parquet. At 100 TB the same funnel runs on a type-partitioned layout
    * ([[partitionedEventsPurchases]]) and each step scan touches only its
    * partition.
    */
  def funnelConversion(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val s = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_ts"))
    val v = e.filter(col("event_type") === "view").as("e")
      .join(s.as("s"), "user_id")
      .filter(col("e.ts_us") > col("s.s_ts"))
      .groupBy(col("user_id")).agg(min(col("e.ts_us")).as("v_ts"))
    val p = e.filter(col("event_type") === "purchase").as("e")
      .join(v.as("v"), "user_id")
      .filter(col("e.ts_us") > col("v.v_ts"))
      .groupBy(col("user_id")).agg(min(col("e.ts_us")).as("p_ts"))
    val counts = Seq(
      ("1_signup", s), ("2_view_after_signup", v), ("3_purchase_after_view", p))
    counts.map { case (step, df) =>
      df.agg(count(lit(1)).as("n_users")).select(lit(step).as("step"), col("n_users"))
    }.reduce(_ unionAll _).orderBy(col("step"))
  }

  /** S: 30-minute-gap sessionization (batch form: lag → new-session flag →
    * running count = session id). Streaming form uses `session_window` —
    * see [[graft.streaming.StreamingQueries]]; state is O(open sessions).
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = 30L * 60L * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(spark, sfDir)
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(wOrd))
      .withColumn(
        "is_new",
        when(col("prev_ts_us").isNull || col("ts_us") - col("prev_ts_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("span_us"))
    sessions
      .groupBy(col("user_id"))
      .agg(
        max(col("session_id")).as("n_sessions"),
        (sum(col("n_events")).cast("double")
          / count(lit(1)).cast("double")).as("avg_events"),
        max(col("span_us")).as("max_span_us"),
        sum(col("n_events")).as("n_events_total"))
      .orderBy(col("user_id"))
  }

  /** H: JSON path extraction from `props` + aggregate per event_type.
    * try_cast per the ANSI-mode protocol (SURVEY.md §7.3.2).
    */
  /** H+: schema-typed JSON parsing — `from_json` with an explicit struct
    * schema (the production path: one parse per row into a typed column,
    * codegen'd, vs per-path re-parsing with get_json_object). Min/max over
    * the typed field prove the values, not just counts, survive the parse.
    */
  def fromJsonProps(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("p", from_json(col("props"), lit("k LONG")))
      .groupBy(col("event_type"))
      .agg(
        count(col("p.k")).as("n_k"),
        min(col("p.k")).as("min_k"),
        max(col("p.k")).as("max_k"),
        sum(col("p.k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** H+: the VARIANT path for semi-structured props — Spark 4's binary
    * semi-structured type: `parse_json` encodes the string ONCE into
    * VARIANT, `variant_get` then extracts typed fields as binary probes,
    * not re-parses. At 100 TB this is the lakehouse answer to repeated
    * JSON string parsing: parse at ingest, store VARIANT in parquet, and
    * every downstream typed access skips the string scan. Same aggregate
    * shape (and oracle) as [[fromJsonProps]], through the VARIANT engine
    * path — a wrong encode or probe hash-mismatches against DuckDB's
    * json_extract oracle.
    */
  def variantProps(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("k", expr("variant_get(parse_json(props), '$.k', 'bigint')"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  // ---- AQE skew handling ---------------------------------------------------

  /** One skew-tuned sub-session per parent session: broadcast disabled (the
    * demo needs a shuffled join) and the AQE skew-split thresholds scaled
    * to fixture bytes — at production sizes the DEFAULTS (256 MB / 5×
    * median) fire on the same shape, so only these two knobs are
    * fixture-scaled, not the mechanism. A sub-session because they are
    * planning knobs that must not leak into other declared queries.
    */
  private val skewSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private def skewSession(spark: SparkSession): SparkSession =
    skewSessions.computeIfAbsent(spark, s => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      // sized against COMPRESSED shuffle blocks (what MapStatus reports):
      // the 90%-hot partition is a few KB compressed at sf0.001
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
      s2
    })

  /** C+/AQE: a ZIPF-HOT shuffled join — 90% of events land on one join key,
    * the classic power-law key a static hash partitioning cannot balance
    * (one straggler task does 90% of the work while 31 idle). AQE's
    * runtime re-plan splits the hot partition into advisory-sized chunks,
    * replicating the matching right-side rows (OptimizeSkewedJoin —
    * `skew=true` on the final SortMergeJoin, pinned by PlanAuditSpec after
    * execution). The aggregate output is skew-independent, so the oracle
    * checks values while the plan assertion checks the mechanism; integer
    * outputs keep the compare exact.
    */
  def skewJoinZipf(spark0: SparkSession, sfDir: String): DataFrame = {
    val spark = skewSession(spark0)
    // repartition(8): AQE's skew split slices a reduce partition at MAPPER
    // boundaries, and the single-file fixture scan gives the join's map
    // stage exactly one task — a one-mapper hot partition is physically
    // unsplittable no matter the thresholds. A production fact scan always
    // has many input splits; this restores that shape at fixture scale.
    val ev = Tables.events(spark, sfDir).repartition(8).select(
      col("event_type"),
      when(pmod(col("event_id"), lit(10)) < 9, 0L)
        .otherwise(pmod(col("event_id"), lit(997))).as("k"))
    // The right side must stay a PLAIN shuffled scan (filter + project, no
    // aggregate): OptimizeSkewedJoin only rewrites an SMJ whose children
    // are sort-over-shuffle stages, so an agg under the join would satisfy
    // the join's distribution itself and opt the plan out of skew
    // splitting. o_orderkey < 997 also makes k unique on this side — the
    // join multiplies no rows, keeping output linear in |events| at any SF.
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 997)
      .select(col("o_orderkey").as("k"))
    ev.join(ord, Seq("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  def jsonProps(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select(
        col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS LONG)").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_k"),
        (sum(col("k")).cast("double") / count(col("k")).cast("double")).as("avg_k"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** Mid-fixture split instant, `(min+max) DIV 2` of `ts_us` as a 1-row
    * frame — floor division keeps it an exact BIGINT on both engines
    * (DuckDB `//`). Broadcast-crossJoined where a scalar is needed
    * in-plan, like the z-order bounds.
    */
  private def midTs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .agg(expr("(min(ts_us) + max(ts_us)) DIV 2").as("t"))

  /** E+/warehouse: SCD TYPE-2 dimension build + AS-OF snapshot — the
    * standard slowly-changing-dimension shape: treat each user's event
    * stream as a change log of their `event_type` state, collapse runs of
    * the unchanged value (change detection via `lag`), turn each change
    * into a validity interval `[valid_from_us, valid_to_us)` via `lead`
    * (`-1` = still current), then snapshot the dimension AS OF the
    * mid-fixture instant: exactly the interval per user that covers it.
    *
    * Scale: both windows share one `(user_id)` hash partitioning — ONE
    * shuffle of (user, state, ts, id) regardless of how many versions a
    * user has; the snapshot filter is a scalar broadcast, no second pass.
    * Determinism: window order is `(ts_us, event_id)` — event_id is
    * globally unique, so ties at one instant order identically on both
    * engines, and zero-length intervals (two changes at one ts) can never
    * cover the snapshot instant on either engine.
    */
  def scd2Users(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val changes = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("state"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
    val intervals = changes
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", coalesce(lead(col("ts_us"), 1).over(w), lit(-1L)))
      .withColumn("version", row_number().over(w).cast("long"))
    intervals.crossJoin(broadcast(midTs(spark, sfDir)))
      .filter(col("valid_from_us") <= col("t") &&
        (col("valid_to_us") === -1L || col("valid_to_us") > col("t")))
      .select(col("user_id"), col("state"), col("version"), col("valid_from_us"))
      .orderBy(col("user_id"))
  }

  /** E+/warehouse: INCREMENTAL SCD2 APPLY — the maintenance operation the
    * [[scd2Users]] dimension needs in production: a standing version table
    * built from the change-log PREFIX (events before the 80% cutoff
    * instant, integer-exact `lo + (hi−lo)·4 DIV 5`) has a new BATCH of
    * changes applied incrementally — batch-only change detection with the
    * standing open version's state as CARRY-IN (a batch event that merely
    * repeats the current state opens no version), new versions appended,
    * the affected open versions closed at their successor's start, and
    * versions renumbered over the union. The run-collapse invariant makes
    * change detection prefix-decomposable (the open version's state IS the
    * last prefix event's state), so the DECLARED OUTPUT equals a full
    * rebuild over the whole stream — and the DuckDB oracle is exactly that
    * full rebuild: the driver's hash-compare proves incremental == rebuild
    * cross-engine, the correctness contract of every MERGE-maintained
    * dimension. Scale: fact-scale work touches ONLY the batch (one
    * (user) exchange of batch rows + a broadcast-sized carry-in of open
    * versions); the union window re-ranks the version table, which is
    * |state changes| rows — dimension-sized, not fact-sized.
    */
  def scd2ApplyBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("state"), col("ts_us"), col("event_id"))
    val bounds = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      .select(expr("lo + ((hi - lo) * 4) DIV 5").as("cutoff"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    // standing dimension: change-detect over the pre-cutoff prefix
    val standing = ev.crossJoin(broadcast(bounds))
      .filter(col("ts_us") < col("cutoff"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .select(col("user_id"), col("state"), col("ts_us"), col("event_id"))
    // carry-in: each user's OPEN version state (last standing change)
    val carry = standing
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("state").as("cur_state"))
    // batch: change-detect ONLY the post-cutoff rows, seeded by carry-in
    val newVersions = ev.crossJoin(broadcast(bounds))
      .filter(col("ts_us") >= col("cutoff"))
      .join(broadcast(carry), Seq("user_id"), "left")
      .withColumn("prev", coalesce(lag(col("state"), 1).over(w), col("cur_state")))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .select(col("user_id"), col("state"), col("ts_us"), col("event_id"))
    // apply: append, close (lead over the union), renumber
    standing.unionByName(newVersions)
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", coalesce(lead(col("ts_us"), 1).over(w), lit(-1L)))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("state"), col("version"),
        col("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("version"))
  }

  /** D+: FACT-TO-SCD2 TEMPORAL JOIN — the warehouse query the
    * [[scd2Users]] dimension exists for: each fact row joins the version
    * of its key that was VALID AT the fact's event time
    * (valid_from ≤ ts < valid_to, open interval = −1 sentinel). The join
    * follows the engine's range-join discipline (`range_join_promo`): the
    * EQUI key (user_id) carries the join — never a theta-only join — and
    * the interval predicate is a residual filter on matched pairs;
    * fan-out is bounded by versions-per-user (each fact matches exactly
    * ONE version, asserted by the count reconciliation in the output).
    * Scale posture: the interval table is |state changes| rows (≪ facts,
    * broadcastable for most dimensions); co-partitioning facts and
    * intervals on the key removes the exchange entirely. Output: per
    * assigned state, fact count and matched-user count — integers only.
    */
  def factScd2Join(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val intervals = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("state"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", coalesce(lead(col("ts_us"), 1).over(w), lit(-1L)))
      .select(col("user_id").as("i_user"), col("state"),
        col("valid_from_us"), col("valid_to_us"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"))
      .join(intervals,
        col("user_id") === col("i_user") &&
          col("ts_us") >= col("valid_from_us") &&
          (col("valid_to_us") === -1L || col("ts_us") < col("valid_to_us")))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("state"))
  }

  /** D+/maintenance: INCREMENTAL aggregate refresh — the partial-state
    * merge that keeps a 100 TB rollup current without rescanning history.
    * The pre-split base partials `(user, count, sum)` are MATERIALIZED
    * once ([[Materialize.stage]] — the prior refresh's output, a real
    * parquet table); the refresh aggregates only the post-split delta and
    * MERGES states (counts add, sums add, avg derived at the end — the
    * decomposition that makes count/sum/avg/min/max maintainable;
    * medians/distincts need sketches, see `value_quantiles_sketch` /
    * `agg_distinct_users_approx`). The oracle recomputes from scratch:
    * merged partials must be indistinguishable from a full rescan.
    *
    * Scale: the history scan is paid once per base refresh, not per
    * query; each refresh shuffles partials (≤ |users| rows) + the delta
    * slice only. Exact-integer cents keep the merge order-independent.
    */
  def aggIncrementalUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir).select(col("user_id"), cents.as("cents"), col("ts_us"))
    val t = broadcast(midTs(spark, sfDir))
    val base = Materialize.stage(spark, s"aggbase_users_$sfDir", sfDir) {
      e.crossJoin(t).filter(col("ts_us") < col("t"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    }
    val delta = e.crossJoin(t).filter(col("ts_us") >= col("t"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    base.unionByName(delta)
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"), sum(col("s")).as("sum_cents"))
      .withColumn("avg_cents",
        col("sum_cents").cast("double") / col("n_events").cast("double"))
      .orderBy(col("user_id"))
  }

  /** D+: MERGEABLE TOP-K — per-type top-5 events by (cents desc, id asc)
    * through [[graft.functions.TopKAgg]], the bounded-state alternative to
    * the rank-limit window. Spark's WindowGroupLimit already prunes the
    * WINDOW form map-side (see `win_topk_parts`), so the Aggregator's real
    * edge is that its partial state is a mergeable VALUE: selection top-k
    * under a static total order satisfies top-k(X∪Y) = top-k(top-k(X) ∪
    * top-k(Y)), so per-day states stored as columns re-merge into weekly /
    * monthly rankings without re-reading rows — `agg_incremental_users`
    * for rankings. Exchange carries ≤ k (8+8)-byte pairs per (type ×
    * partition) at any fact volume. Oracle = the window form.
    */
  def groupTopkAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.TopKAgg(5)
    Tables.events(spark, sfDir)
      .select(col("event_type"), cents.as("c"), col("event_id"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.toColumn.name("state"))
      .toDF("event_type", "state")
      .select(col("event_type"),
        posexplode(arrays_zip(col("state.cs"), col("state.ids"))))
      .select(
        col("event_type"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.ids").as("event_id"),
        col("col.cs").as("value_cents"))
      .orderBy(col("event_type"), col("rnk"))
  }

  /** W+: SNAPSHOT DIFF — the changeset derivation that feeds CDC/MERGE:
    * given two per-user state snapshots (activity windows [T−14d, T−7d)
    * and [T−7d, T]), classify every user as insert / delete / update /
    * unchanged via ONE full-outer join on the key. This is the inverse of
    * `merge_upsert_parts` (which APPLIES a changeset): production
    * incremental pipelines diff yesterday's materialization against
    * today's source exactly like this. Scale: both snapshots partial-
    * aggregate map-side to |users| rows before the join — the fact table
    * is scanned, never shuffled; the join key is the user id, and T is a
    * 1-row scalar bound (bounded derived state, the GraphOps convention).
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir).select(col("user_id"), col("ts_us"), cents.as("c"))
    val tmax = e.agg(max(col("ts_us"))).first().getLong(0)
    val day = 86400000000L
    def snap(lo: Long, hi: Long, n: String, s: String) =
      e.filter(col("ts_us") >= lit(lo) && col("ts_us") < lit(hi))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as(n), sum(col("c")).as(s))
    val a = snap(tmax - 14 * day, tmax - 7 * day, "old_n", "old_cents")
    val b = snap(tmax - 7 * day, tmax + 1L, "new_n", "new_cents")
    a.join(b, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        when(col("old_n").isNull, lit("insert"))
          .when(col("new_n").isNull, lit("delete"))
          .when(col("old_n") === col("new_n") && col("old_cents") === col("new_cents"),
            lit("unchanged"))
          .otherwise(lit("update")).as("action"),
        col("old_n"), col("old_cents"), col("new_n"), col("new_cents"))
      .orderBy(col("user_id"))
  }

  /** H+: ATOMIC SINK ROUND-TRIP — events written through the
    * [[graft.sources.AtomicDirSink]] DSv2 batch sink (task-private
    * staging, driver-side publish, manifest-last atomic commit), then
    * read back via the MANIFEST ONLY and aggregated. The oracle compares
    * against the source table directly, so a protocol bug anywhere —
    * a lost commit message, a double-published retry, a torn manifest —
    * shows up as a row/sum mismatch. repartition(4) pins the writer
    * fan-out so the exercise covers multi-task commit.
    */
  def atomicSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_atomic_sink").toString
    Tables.events(spark, sfDir)
      .select(col("event_id"), cents.as("c"))
      .repartition(4)
      .write.format("graft-atomic-dir").option("path", dir)
      .mode("append").save()
    val files = graft.sources.AtomicDirSink.manifest(dir).map { case (n, _) => s"$dir/$n" }
    spark.read
      .schema("event_id LONG, c LONG")
      .csv(files: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** H+: SCHEMA EVOLUTION MERGE — the lake reality a long-lived table
    * accretes: files written before a column existed sit next to files
    * written after. Half the events are staged as schema v1 (no `channel`
    * column), half as v2 (with it); the unified read uses parquet
    * `mergeSchema`, which widens v1 rows with NULLs — exactly how
    * Delta/Iceberg surface added columns without rewriting history. The
    * aggregate groups by which schema wrote each row, proving both the
    * NULL-fill and that no rows were lost in the merge. Scale: schema
    * merging is a FOOTER operation (per-file metadata union, no data
    * rewrite); the cost axis is listing+footers, not bytes — which is why
    * evolved tables stay cheap to read but pin `mergeSchema` on (or a
    * catalog-held schema) forever after the first evolution.
    */
  def schemaEvolutionMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_schema_evo").toString
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), cents.as("c"), col("event_type"))
    e.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("c"))
      .write.mode("overwrite").parquet(s"$root/v1")
    e.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("user_id"), col("c"), col("event_type").as("channel"))
      .write.mode("overwrite").parquet(s"$root/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
      .groupBy(when(col("channel").isNull, lit("v1")).otherwise(lit("v2")).as("schema_version"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("sum_cents"),
        count(col("channel")).as("n_channel"))
      .orderBy(col("schema_version"))
  }

  /** C+: BINNED BAND JOIN — the theta join with NO equi key, made
    * scalable by manufacturing one: attribute every purchase to the
    * system-wide error events in its trailing 60 s (incident attribution
    * — nothing relates the rows but time proximity). A naive theta join
    * is a broadcast-nested-loop over everything; the binned plan floors
    * time into 60 s bins, EXPLODES THE SMALLER SIDE (errors) to its bin
    * and successor — any ≤60 s-trailing error shares one of two bins with
    * the purchase — equi-joins on the bin, and applies the band predicate
    * residually. A (purchase, error) pair can match on exactly ONE
    * exploded copy (the copies carry distinct bins), so no dedup is
    * needed. Cost collapses from |P|·|E| to pairs that SHARE a bin —
    * within a constant of the output size, the information-theoretic
    * floor; bin width trades explode factor against candidate precision.
    * Declared output: the histogram of errors-per-purchase (LEFT join
    * keeps zero-error purchases).
    */
  def bandJoinBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val binUs = 60000000L // 60 s
    val e = Tables.events(spark, sfDir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts_us"), (col("ts_us") / binUs).cast("long").as("bin"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("ts_us").as("err_ts"), (col("ts_us") / binUs).cast("long").as("err_bin"))
    val errExploded = errors
      .select(col("err_ts"), explode(array(col("err_bin"), col("err_bin") + 1)).as("bin"))
    val perPurchase = purchases
      .join(errExploded,
        purchases("bin") === errExploded("bin") &&
          col("err_ts") >= col("ts_us") - binUs && col("err_ts") <= col("ts_us"),
        "left_outer")
      .groupBy(col("event_id"))
      .agg(count(col("err_ts")).as("n_errors"))
    perPurchase
      .groupBy(col("n_errors"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("n_errors"))
  }

  /** E+: ROLLING FEATURE TABLE — the ML feature-backfill pattern done in
    * the right order: AGGREGATE THEN WINDOW. Facts collapse map-side to
    * one (user, day) row (partial+final hash agg — the only full-table
    * pass), and the 7-day rolling sums run over that |users|×|days| grid,
    * partitioned by user. The window uses a RANGE frame on the integer
    * day number, so calendar gaps are handled exactly (a ROWS frame would
    * silently span gaps — the classic rolling-feature bug). The naive
    * window-over-raw-events plan shuffles and sorts every fact row per
    * feature; this shuffles each user's DAILY rows once for any number of
    * rolling features. All integer arithmetic — exact on both engines.
    */
  def rollingUserFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rangeBetween(-6, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("user_id"), (col("ts_us") / lit(86400000000L)).cast("long").as("day"),
        cents.as("c"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_day"), sum(col("c")).as("cents_day"))
      .select(
        col("user_id"), col("day"),
        col("n_day"), col("cents_day"),
        sum(col("n_day")).over(w).as("n_7d"),
        sum(col("cents_day")).over(w).as("cents_7d"))
      .orderBy(col("user_id"), col("day"))
  }

  /** E+: INTERVAL UNION — total covered time per user when every event
    * opens a 30-minute activity window: the classic merge-overlapping-
    * intervals problem, solved WITHOUT a self-join. Per user (the
    * parallelism axis): sort by start, running max of prior ends, a new
    * "island" starts where start > that max, prefix-sum the flags into
    * island ids, then one aggregate per island and one per user. All four
    * windows + both aggregates share the user_id partitioning, so the
    * whole query is ONE exchange; arithmetic is integer µs throughout —
    * exact on both engines. The self-join formulation this replaces is
    * O(events-per-user²) and unshippable at 100 TB.
    */
  def intervalCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val win = 1800000000L // 30 min in µs
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us").as("s"),
        (col("ts_us") + lit(win)).as("f"), col("event_id"))
      .withColumn("pmax",
        max(col("f")).over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isnew",
        when(col("pmax").isNull || col("s") > col("pmax"), lit(1L)).otherwise(lit(0L)))
      .withColumn("island",
        sum(col("isnew")).over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("st"), max(col("f")).as("fin"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("fin") - col("st")).as("covered_us"))
      .orderBy(col("user_id"))
  }

  /** D+: DATA-DRIFT MONITORING — total-variation distance between
    * consecutive weeks' event_type distributions, the week-over-week
    * "did the mix shift" check a production pipeline runs on every
    * ingest. TV = Σ_t ǀn₁ₜ·N₂ − n₂ₜ·N₁ǀ / (2·N₁·N₂) is computed on the
    * INTEGER numerator (exact at any scale, order-independent) with one
    * final IEEE division of exact integers — no ln/KL (libm last-ulp
    * differences are banned from declared scores). Shape at scale: one
    * (week, type) count aggregate — ǀweeksǀ·ǀtypesǀ rows — then a
    * self-join on week adjacency; nothing downstream scales with events.
    */
  def driftTvDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val counts = Tables.events(spark, sfDir)
      .groupBy(
        floor(col("ts_us") / weekUs).cast("long").as("week"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("week")).agg(sum(col("n")).as("total"))
    // complete (week × type) grid so a type absent from one week still
    // contributes its ǀ0 − n·Nǀ term — both frames are tiny (ǀweeksǀ and
    // ǀtypesǀ rows), the one sanctioned crossJoin size
    val types = counts.select(col("event_type")).distinct()
    val wk = totals.crossJoin(types)
      .join(counts, Seq("week", "event_type"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val prev = wk.select(
      (col("week") + 1).as("week"), col("event_type"),
      col("n").as("n_prev"), col("total").as("total_prev"))
    wk.join(prev, Seq("week", "event_type"))
      .groupBy(col("week"), col("total"), col("total_prev"))
      .agg(sum(abs(col("n_prev") * col("total") - col("n") * col("total_prev"))).as("num"))
      .select(
        col("week"),
        (col("num").cast("double") /
          (lit(2).cast("double") * col("total").cast("double") * col("total_prev").cast("double")))
          .as("tv_vs_prev"),
        col("total").as("n_events"))
      .orderBy(col("week"))
  }

  /** E+/time-series: EWMA SMOOTHING in exact fixed-point integer
    * arithmetic — per user, the exponentially weighted moving average of
    * spend (α = 1/4) folded over the event sequence in (ts, id) order:
    * s₀ = x₀, sᵢ = sᵢ₋₁ + ⌊(xᵢ − sᵢ₋₁)/4⌋. The recurrence is inherently
    * sequential (each value depends on the previous), which windows can't
    * express — it runs as a per-user `aggregate` fold over the sorted
    * event array, all integer so partial order/engine cannot perturb it.
    * ⌊·/4.0⌋ (floor of an exact double quotient) is used on BOTH engines
    * because integral `DIV` truncates toward zero in Spark but floors in
    * DuckDB — negative deltas would diverge. State is bounded by one
    * user's events (the same bound as every per-user window); the oracle
    * replays the recurrence as a RECURSIVE CTE over row_number.
    */
  def ewmaUserValue(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("cents"))))
        .as("evs"))
      .select(
        col("user_id"),
        size(col("evs")).cast("long").as("n_events"),
        expr(
          """aggregate(evs,
            |  named_struct('has', false, 's', CAST(0 AS BIGINT)),
            |  (acc, e) -> named_struct('has', true, 's',
            |    CASE WHEN acc.has
            |         THEN acc.s + CAST(floor((e.cents - acc.s) / 4.0) AS BIGINT)
            |         ELSE e.cents END),
            |  acc -> acc.s)""".stripMargin).as("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** C-asof+: FORWARD as-of join with a tolerance bound — each purchase
    * matched to the same user's EARLIEST following click no more than one
    * hour later (else null). Complements [[asofJoinEvents]] (backward,
    * unbounded): the tolerance is the production form — it bounds how much
    * history/future the match can reach, which is what makes the streaming
    * analog's state GC-able and caps the per-key join fan at scale. Same
    * scale shape as the backward variant: one user-keyed equi join with
    * time residuals, one per-purchase window, no inequality-only join.
    */
  def asofJoinTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val hourUs = 3600L * 1000000L
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val c = e.filter(col("event_type") === "click")
      .select(
        col("event_id").as("c_event_id"),
        col("user_id").as("c_user_id"),
        col("ts_us").as("c_ts_us"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("c_ts_us").asc_nulls_last, col("c_event_id").asc_nulls_last)
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_ts_us") > col("ts_us") &&
          col("c_ts_us") <= col("ts_us") + lit(hourUs), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("event_id"), col("ts_us"), col("c_event_id"), col("c_ts_us"),
        (col("c_ts_us") - col("ts_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** E+: event-sequence transition matrix — per user, each event's
    * `lag(event_type)` over the ts order forms a (prev → next) bigram;
    * counts + distinct-user support per transition. The canonical Markov /
    * clickstream-mining kernel. One user-partitioned window (the same
    * exchange every per-user feature shares) then a 25-row aggregate;
    * nothing about the shape changes at 100 TB — the window is per-user
    * state, the transition matrix is |event_types|² rows at any scale.
    */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(
        count(lit(1)).as("n_transitions"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** S+: retention cohort matrix — users cohorted by the DAY of their first
    * signup; for each cohort, distinct users active per whole-week offset.
    * Day-granular cohorting sidesteps week-start semantics (an engine
    * version knob); the offset is an exact integer day difference floored
    * to weeks. Shape at scale: one per-user min (cohort assignment), one
    * (user, day) distinct — both key-bounded aggregates — and a broadcast
    * of nothing: the cohort table scales with users, so the join stays a
    * user-keyed shuffle pair that AQE may broadcast while small.
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val dayUs = 86400L * 1000000L
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(floor(col("ts_us") / dayUs)).as("cohort_day"))
    val active = e
      .select(col("user_id").as("a_user_id"),
        floor(col("ts_us") / dayUs).as("active_day"))
      .distinct()
    cohort.join(active,
        col("user_id") === col("a_user_id") && col("active_day") >= col("cohort_day"))
      .withColumn("week_offset", floor((col("active_day") - col("cohort_day")) / 7).cast("long"))
      .groupBy(col("cohort_day").cast("long").as("cohort_day"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_active_users"))
      .orderBy(col("cohort_day"), col("week_offset"))
  }

  /** D+: QUANTILE DRIFT MONITOR — week-over-week shift of the p50/p90
    * value distribution per event type, the order-statistic complement of
    * [[driftTvDistance]] (TV sees mix changes between categories; this
    * sees location/tail changes WITHIN one): per (type, week) exact
    * interpolated percentiles over integer cents (.5-step-exact doubles,
    * the [[madOutliers]] parity), self-joined on consecutive weeks, the
    * deltas one IEEE subtraction each. Complete week coverage is
    * guaranteed by the fixture's 30-day span; weeks are data-anchored
    * (min-day broadcast) like the forecast backtest. Output is
    * |types| × 3 consecutive-week rows at any scale.
    */
  def quantileDriftWeekly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents.as("c"), expr("ts_us DIV 86400000000").as("d"))
    val d0 = ev.agg(min(col("d")).as("d0"))
    val wk = ev.crossJoin(broadcast(d0))
      .withColumn("week", ((col("d") - col("d0")) / 7).cast("long"))
      .filter(col("week") < 4)
      .groupBy(col("event_type"), col("week"))
      .agg(
        expr("percentile(c, 0.5)").as("p50"),
        expr("percentile(c, 0.9)").as("p90"))
    val prev = wk.select(
      col("event_type"), (col("week") + 1).as("week"),
      col("p50").as("p50_prev"), col("p90").as("p90_prev"))
    wk.join(prev, Seq("event_type", "week"))
      .select(
        col("event_type"), col("week"),
        col("p50"), (col("p50") - col("p50_prev")).as("d_p50"),
        col("p90"), (col("p90") - col("p90_prev")).as("d_p90"))
      .orderBy(col("event_type"), col("week"))
  }

  /** D+: SEASONAL BASELINE FORECAST + BACKTEST — the simplest honest
    * forecasting loop a metrics pipeline runs: per (event_type,
    * hour-of-day) mean value learned on the first three weeks, evaluated
    * as MAE on week four. Everything engine-portable: hour/day from
    * integer µs division, the profile a class-2 exact-int quotient, each
    * test event's absolute error quantized to BIGINT micro-units BEFORE
    * the sum (one deterministic IEEE chain per event — no
    * summation-order drift), MAE one final int/int division. The
    * train/test boundary is data-driven (min-day broadcast), so the
    * query is scale- and epoch-invariant. Plan: one scan feeds both
    * slices, profile is |types|×24 rows broadcast back to the test side,
    * one event_type-keyed final aggregate.
    */
  def seasonalForecastMae(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"), cents.as("c"))
      .withColumn("d", expr("ts_us DIV 86400000000"))
      .withColumn("hod", expr("(ts_us DIV 3600000000) % 24"))
    val d0 = ev.agg(min(col("d")).as("d0"))
    val evd = ev.crossJoin(broadcast(d0)).withColumn("rel", col("d") - col("d0"))
    val profile = evd.filter(col("rel") < 21)
      .groupBy(col("event_type"), col("hod"))
      .agg((sum(col("c")).cast("double") / count(lit(1)).cast("double")).as("pred"))
    evd.filter(col("rel") >= 21 && col("rel") < 28)
      .join(broadcast(profile), Seq("event_type", "hod"))
      .withColumn("err_micro",
        floor(abs(col("c").cast("double") - col("pred")) * 1e6 + lit(0.5)).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_test"),
        sum(col("err_micro")).as("sum_abs_err_micro"),
        (sum(col("err_micro")).cast("double") / count(lit(1)).cast("double")).as("mae_micro"))
      .orderBy(col("event_type"))
  }

  /** H+: MANIFEST-STATS PRUNED READ — the lakehouse file-skipping loop
    * closed on the [[graft.sources.AtomicDirSink]]: the write is
    * range-repartitioned on user_id (so each of the 8 files carries a
    * tight user range), the sink's writers collect per-file integral
    * min/max stats into the manifest, and the read enumerates ONLY the
    * files whose stat range intersects the predicate band
    * (`AtomicDirSink.prunedFiles`) before applying the row filter. The
    * oracle computes the same aggregate from the SOURCE table — the hash
    * proves pruning dropped no qualifying row; AtomicDirSinkSpec pins
    * that it actually skips (≥ half the files for a quarter-range band).
    * At 100 TB this is the decisive scan economics: skipping is decided
    * from a manifest that is O(files), before any data file is opened —
    * the same contract as Iceberg/Delta file stats, expressed in the
    * sink's two-phase-commit manifest.
    */
  def sinkStatsPrunedRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_sink").toString
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), cents.as("c"))
      .repartitionByRange(8, col("event_id"))
      .write.format("graft-atomic-dir").option("path", dir)
      .mode("append").save()
    // scale-invariant quarter band [n/4, n/2): event ids are dense 0..n−1
    // at every SF, and n comes from footer metadata — same bounds the
    // oracle derives from count(*)
    val n = Tables.rowCount(spark, sfDir, "events")
    val (lo, hi) = (n / 4, n / 2 - 1)
    val files = graft.sources.AtomicDirSink.prunedFiles(dir, colIdx = 0, lo = lo, hi = hi)
      .map(f => s"$dir/$f")
    spark.read
      .schema("event_id LONG, user_id LONG, c LONG")
      .csv(files: _*)
      .filter(col("event_id").between(lo, hi))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("sum_cents"),
        count_distinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** C+: the NAIVE band join, made scalable by the optimizer — written
    * exactly as a user writes it (`abs(err_ts − ts_us) <= 60 s`, an inner
    * join with no equi key), which Spark would plan as a
    * BroadcastNestedLoopJoin; the injected [[graft.plans.BandJoinRewrite]]
    * rule turns it into the bin-exploded equi join
    * ([[bandJoinBinned]]'s hand shape) automatically. Declared output:
    * per-purchase ±60 s error counts distribution (inner join, so only
    * purchases with ≥1 nearby error appear — the two-sided complement of
    * the one-sided LEFT [[bandJoinBinned]]). The oracle runs the same
    * naive join in DuckDB: the hash proves rewrite == naive cross-engine;
    * BandJoinRewriteSpec proves rewrite == unrewritten in-engine and
    * pins the no-BNLJ plan.
    */
  def bandJoinAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts_us"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("ts_us").as("err_ts"))
    purchases
      .join(errors, abs(col("err_ts") - col("ts_us")) <= lit(60000000L))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_errors"))
      .groupBy(col("n_errors"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("n_errors"))
  }

  /** D+: ROBUST OUTLIER DETECTION per event type via median absolute
    * deviation — the data-quality screen that, unlike z-scores
    * ([[winZscoreEvents]]), a few extreme values cannot drag: med and MAD
    * are order statistics, 50%-breakdown-robust. Exact medians
    * (`percentile` ≡ DuckDB `quantile_cont`, the [[Relational
    * .percentilesQty]] parity) over INTEGER cents, so the interpolated
    * midpoints are exact .5-step doubles and |cents − med| is exact
    * again — the whole chain is engine-portable without a single
    * `round()`. Flag = deviation > 3·MAD (double compare of exact
    * values). Two grouped order-statistic passes + one conditional
    * aggregate, all keyed on the 5-value event_type; at 100 TB the
    * per-group exact median is the deliberate choice (bounded group
    * count) with `value_quantiles_sketch` as the unbounded-cardinality
    * escape.
    */
  /** T+: POISSON-BOOTSTRAP CONFIDENCE INTERVAL for the mean daily revenue
    * per type — THE distributed bootstrap: instead of resampling rows
    * (a shuffle per replica), every observation gets an independent
    * Poisson(1) weight per replica, so all 200 replicas compute in ONE
    * grouped aggregation over the (observation × replica) expansion
    * (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    * Google 2012). Deterministic: the Poisson draw is inverse-CDF over an
    * md5-derived integer in [0, 10⁶) against PRECOMPUTED integer
    * thresholds (e⁻¹-CDF × 10⁶ — no exp() at query time), identical in
    * both engines; each replica mean is one class-2 division; the CI
    * bounds are percentiles over the 200 replica means, round(·, 6) on
    * both sides (class 3 — interpolation op-order is the one engine
    * surface here). Scale: the fact-scale work is the daily rollup;
    * bootstrap expansion happens on the BOUNDED series table
    * (|types|·|days|·B rows), so the uncertainty estimate is free at any
    * corpus size — the whole point of bootstrapping the aggregate, not
    * the rows.
    */
  def bootstrapCiDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_us DIV 86400000000").as("d"), cents.as("c"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("c")).as("x"))
    val reps = daily
      .select(col("event_type"), col("d"), col("x"),
        explode(expr("sequence(0, 199)")).as("b"))
      .withColumn("m", expr(
        "CAST(conv(substring(md5(concat('bs:', event_type, ':', d, ':', b)), 1, 8), 16, 10) " +
          "AS BIGINT) % 1000000"))
      .withColumn("w", expr(
        "CASE WHEN m < 367879 THEN 0L WHEN m < 735759 THEN 1L WHEN m < 919699 THEN 2L " +
          "WHEN m < 981012 THEN 3L WHEN m < 996340 THEN 4L WHEN m < 999406 THEN 5L " +
          "ELSE 6L END"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w") * col("x")).as("wx"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0L)
      .select(col("event_type"),
        (col("wx").cast("double") / col("sw").cast("double")).as("mean_b"))
    val base = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("total"))
      .select(col("event_type"), col("n_days"),
        (col("total").cast("double") / col("n_days").cast("double")).as("mean_daily_cents"))
    reps.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_replicas"),
        round(expr("percentile(mean_b, 0.025)"), 6).as("ci_lo"),
        round(expr("percentile(mean_b, 0.975)"), 6).as("ci_hi"))
      .join(base, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("mean_daily_cents"),
        col("n_replicas"), col("ci_lo"), col("ci_hi"))
      .orderBy(col("event_type"))
  }

  /** F+: LEAKAGE-FREE TARGET ENCODING (out-of-fold) — the categorical
    * feature a training pipeline derives from a label WITHOUT letting a
    * row see its own target: rows are split into 5 deterministic hash
    * folds (event_id % 5) and the encoding a fold RECEIVES is the target
    * mean of the OTHER folds, enc = (S_cat − S_fold)/(N_cat − N_fold) —
    * the complement trick means one 25-group aggregate plus a window over
    * it replaces 5 training/holdout scans. Exact: fold sums are BIGINT
    * cents, category totals are window sums over the 25-row table, and
    * each encoding is ONE class-2 division. Scale: one map-side-combined
    * shuffle of (category, fold) groups; everything after is constant
    * size — the same "aggregate once, re-slice algebraically" shape as
    * [[seasonalForecastMae]]'s profile.
    */
  def targetEncodeOof(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .select(col("event_type"), (col("event_id") % 5).as("fold"), cents.as("c"))
      .groupBy(col("event_type"), col("fold"))
      .agg(count(lit(1)).as("n_fold"), sum(col("c")).as("s_fold"))
    val full = Window.partitionBy(col("event_type"))
    per
      .withColumn("n_cat", sum(col("n_fold")).over(full))
      .withColumn("s_cat", sum(col("s_fold")).over(full))
      .select(
        col("event_type"), col("fold"), col("n_fold"), col("s_fold"),
        when(col("n_cat") - col("n_fold") =!= 0L,
          (col("s_cat") - col("s_fold")).cast("double") /
            (col("n_cat") - col("n_fold")).cast("double")).as("enc_cents"))
      .orderBy(col("event_type"), col("fold"))
  }

  /** T+: CUSUM CHANGEPOINT SCREEN — per event type, the classic
    * cumulative-sum statistic over the daily revenue series: S_d =
    * Σ_{i≤d}(x_i − x̄), whose peak |S| marks the most likely level-shift
    * day. Computed FRACTION-FREE: with n days and total T, n·S_d =
    * n·prefix_d − d·T is an exact BIGINT, so the argmax day and the peak
    * value are bit-deterministic on every engine and partitioning; the
    * surfaced `peak_cusum_cents` = n·S_peak / n is the statistic's one
    * IEEE division (class 2). Peak ties break to the earliest day. Shape:
    * one map-side-combined daily rollup (|types|·|days| groups), then
    * windows PARTITIONED by type over that bounded table — the row-scale
    * scan never sorts globally, and the series windows cost |days| per
    * type regardless of fact size. BIGINT headroom: n·prefix ≤ days² ·
    * max-daily-cents ≈ 10¹⁸ at ~10 B rows/day·30 d — switch the fold to
    * DECIMAL(38,0) beyond that.
    */
  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_us DIV 86400000000").as("d"), cents.as("c"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("c")).as("day_cents"))
    val full = Window.partitionBy(col("event_type"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val s = daily
      .withColumn("i", row_number().over(byDay).cast("long"))
      .withColumn("prefix", sum(col("day_cents")).over(byDay))
      .withColumn("n_days", count(lit(1)).over(full))
      .withColumn("total", sum(col("day_cents")).over(full))
      .withColumn("s_scaled", col("n_days") * col("prefix") - col("i") * col("total"))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("s_scaled")).desc, col("d"))
    s.withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(
        col("event_type"), col("n_days"), col("total").as("total_cents"),
        col("d").as("peak_day"), col("s_scaled").as("peak_cusum_scaled"),
        (col("s_scaled").cast("double") / col("n_days").cast("double"))
          .as("peak_cusum_cents"))
      .orderBy(col("event_type"))
  }

  /** T+: AUTOCORRELATION (lags 1–3) of the daily event-count series per
    * type — the seasonality detector behind [[seasonalForecastMae]]'s
    * profile choice. The estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²
    * is cleared of fractions by X_t = n·x_t − T (so num and den pick up
    * the same n² factor and cancel): every product and sum is an exact
    * BIGINT and each r_k is ONE IEEE division — bit-identical across
    * engines with no mean ever materialized as a float. Shape: the daily
    * rollup is the only fact-scale exchange; the lead() windows and the
    * final per-type fold run on the |types|·|days| series table. The three
    * lags unpivot through one `stack` generator, so the series is scanned
    * once for all lags.
    */
  def acfDailyEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_us DIV 86400000000").as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("x"))
    val full = Window.partitionBy(col("event_type"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val dev = daily
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("t", sum(col("x")).over(full))
      .withColumn("xc", col("n") * col("x") - col("t"))
      .withColumn("xc1", lead(col("xc"), 1).over(byDay))
      .withColumn("xc2", lead(col("xc"), 2).over(byDay))
      .withColumn("xc3", lead(col("xc"), 3).over(byDay))
    dev.groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_days"),
        sum(col("xc") * col("xc")).as("den"),
        sum(col("xc") * col("xc1")).as("num1"),
        sum(col("xc") * col("xc2")).as("num2"),
        sum(col("xc") * col("xc3")).as("num3"))
      .select(col("event_type"), col("n_days"), col("den"),
        expr("stack(3, CAST(1 AS BIGINT), num1, CAST(2 AS BIGINT), num2, " +
          "CAST(3 AS BIGINT), num3) AS (lag, num_scaled)"))
      .select(
        col("event_type"), col("lag"), col("n_days"), col("num_scaled"),
        when(col("den") =!= 0L,
          col("num_scaled").cast("double") / col("den").cast("double")).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** T+: TRAILING 7-DAY DISTINCT USERS per event type — the rolling-MAU
    * panel no window function expresses (COUNT(DISTINCT) OVER RANGE isn't
    * in Spark): dedupe to (type, day, user) FIRST, then a broadcast join
    * against the tiny distinct-day spine fans each active-day out to the
    * ≤7 windows it belongs to, and an exact two-level distinct count
    * finishes per (type, window-day). Shape: the fact-scale work is the
    * initial dedupe shuffle; the fan-out multiplies the DEDUPED table by
    * ≤7 against a broadcast spine (never a row-scale range join), and the
    * count-distinct Expand runs on (type, day, user) cardinality. At
    * 100 TB swap the exact distinct for the HLL/bitmap escapes
    * (`agg_distinct_users_approx`/`bitmap_distinct_users`) — same plan,
    * sketch-mergeable counters.
    */
  def slidingDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_us DIV 86400000000").as("d"), col("user_id"))
      .distinct()
    val spine = du.select(col("d").as("wday")).distinct()
    du.join(broadcast(spine),
        col("wday") >= col("d") && col("wday") <= col("d") + lit(6L))
      .groupBy(col("event_type"), col("wday"))
      .agg(count_distinct(col("user_id")).as("n_users_7d"))
      .orderBy(col("event_type"), col("wday"))
  }

  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents.as("cents"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(cents, 0.5)").as("med_cents"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("cents").cast("double") - col("med_cents")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(dev, 0.5)").as("mad_cents"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        first(col("med_cents")).as("med_cents"),
        first(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > lit(3.0) * col("mad_cents"), lit(1L)).otherwise(lit(0L)))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }
}
