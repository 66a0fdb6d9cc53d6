package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Materialize, Tables}

/** Relational core: scans, joins, aggregations, set ops (SURVEY.md §2.2
  * groups A, C, D, F, G).
  *
  * Determinism protocol (SURVEY.md §7.4): every query output is totally
  * ordered with a unique-key tie-break; double aggregates are rounded (2 dp
  * money, 6 dp ratios) identically to the oracle SQL in
  * each [[graft.SparkEntry.Oracle]]; integer-typed outputs are widened to
  * BIGINT on both sides.
  *
  * Scale posture: dimension tables (region/nation/supplier/customer-filter)
  * are broadcast explicitly; fact-fact joins (orders⋈lineitem) stay as
  * shuffle joins on their equi keys so AQE can pick SMJ/shuffled-hash and
  * split skew. No collect anywhere.
  */
object Relational {

  /** Date literal for NTZ comparisons (orders/lineitem timestamps read as
    * timestamp_ntz from parquet ms-timestamps).
    */
  private def tsNtz(lit0: String) = expr(s"CAST('$lit0' AS TIMESTAMP_NTZ)")

  /** A: scan→filter→project. Pushdown-friendly: filter on l_discount /
    * l_quantity reaches the parquet scan; only 5 columns read.
    *
    * The presentation sort keys on ALL FOUR projected columns:
    * (l_orderkey, l_linenumber) is NOT unique in the synthetic fixtures
    * (118k duplicate groups at sf0.1), so the short key only yields a
    * deterministic row stream while both engines happen to tie-break the
    * same way — the sf1 scale-up (more files, different read order) broke
    * that luck. A row-level output needs a TOTAL order over its projection.
    */
  def scanProjectFilter(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
  }

  /** Exact, order-independent money sum, surfaced as plain BIGINT cents.
    * The TERM is computed in double — bit-identical across engines,
    * per-row — quantized to integer cents with `floor(x*100 + 0.5)`,
    * then summed as LONG (associative, partition-order-independent at any
    * scale). Two deliberate non-choices, both learned from driver-side
    * regressions:
    *  - NOT `round(x*100, 0)`: `round()` tie behavior on an exact .5 is
    *    an engine-version knob (half-up vs ties-to-even); the money terms
    *    land on exact .5 cents by construction (2-dp inputs × 2-dp rates),
    *    so a tie-mode mismatch flips cents. `floor(x + 0.5)` has no tie
    *    mode: same IEEE input → same output on every engine.
    *  - NOT a DECIMAL(18,2) division surface: DECIMAL division/rescale is
    *    a second engine-version surface. BIGINT cents is the one money
    *    representation every engine agrees on bit-for-bit.
    * A plain `round(sum(double), 2)` would be worse still: the double sum
    * drifts in its last digit once ~10⁶ terms accumulate because engines
    * add in different orders.
    */
  private[operators] def centsSum(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(floor(term * 100 + lit(0.5)))

  /** Deterministic mean over [[centsSum]]-quantized terms: exact integer
    * numerator cast to double, divided by the group count — one IEEE
    * division of two exactly-represented integers, so the double is
    * bit-identical on every engine with NO rounding function anywhere
    * (rounding is exactly the version-sensitive construct this avoids).
    */
  private[operators] def centsAvg(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    centsSum(term).cast("double") / count(lit(1)).cast("double")

  /** D: TPC-H Q1 pricing summary. Partial+final hash aggregation; 6 groups.
    * Money sums via [[centsSum]] — exact at any SF.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= tsNtz("2000-12-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        centsSum(col("l_quantity")).as("sum_qty_cents"),
        centsSum(col("l_extendedprice")).as("sum_base_price_cents"),
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price_cents"),
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge_cents"),
        centsAvg(col("l_quantity")).as("avg_qty_cents"),
        centsAvg(col("l_extendedprice")).as("avg_price_cents"),
        centsAvg(col("l_discount")).as("avg_disc_cents"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** C: lineitem⋈supplier⋈nation revenue by nation. nation is broadcast by
    * hint (25 rows at EVERY scale factor — a bounded dimension); supplier
    * carries NO hint: it scales with SF (~1% of lineitem), so the
    * broadcast-vs-shuffle call belongs to AQE's runtime size check, which
    * broadcasts it at fixture scale and shuffles it at 100 TB.
    */
  def joinNationRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** C+F: TPC-H Q3 shape — filtered 3-way join, group, global top-10
    * (TakeOrderedAndProject; no full sort at scale). The filtered customer
    * side is ~20% of a SF-scaled table — NOT broadcastable at 100×, so it
    * carries no hint: AQE broadcasts it while it is small and shuffles it
    * when it is not.
    */
  def q3TopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, sfDir).filter(col("o_orderdate") < tsNtz("1998-01-01 00:00:00"))
    val li = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > tsNtz("1998-01-01 00:00:00"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"),
        col("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** C: FULL OUTER join — customer⋈orders reconciliation. Each side is
    * filtered so BOTH null sides are exercised (every fixture customer has
    * some order, so an unfiltered join would leave the null buckets empty):
    * acctbal-≥0 customers whose orders all predate 1998-04 land in
    * 'customer_only'; later orders of negative-balance customers land in
    * 'order_only'. Money is summed in exact BIGINT cents (a double sum over
    * thousands of rows is addition-order-dependent across engines; integer
    * cents are not). Scale posture: orders is pre-aggregated to one row per
    * custkey BEFORE the join (partial+final hash agg), so the outer join is
    * key-vs-key, and both sides are SF-scaled → no broadcast hint, AQE
    * decides.
    */
  def outerJoinOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") >= 0)
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= tsNtz("1998-04-01 00:00:00"))
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("spend_cents"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("both").as("category"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend_cents"), lit(0L)).as("spend_cents"))
      .groupBy(col("category"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("n_orders")).as("n_orders"),
        sum(col("spend_cents")).as("spend_cents"))
      .orderBy(col("category"))
  }

  /** C: LEFT OUTER join with a null-bucket aggregation — per market segment,
    * how many customers never placed an URGENT order (the NULL bucket the
    * left join preserves and an inner join would silently drop; the
    * priority filter makes it non-trivially populated — every fixture
    * customer has SOME order). Same key-vs-key pre-aggregated shape as
    * [[outerJoinOrders]].
    */
  def leftOuterCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_inactive"),
        sum(coalesce(col("n_orders"), lit(0L))).as("n_orders"),
        (sum(coalesce(col("n_orders"), lit(0L))).cast("double")
          / count(lit(1)).cast("double")).as("avg_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** A+: STABLE ROW IDS without the single-partition bottleneck — the
    * distributed answer to `row_number() OVER (ORDER BY key)`: a global
    * window has no PARTITION BY, so Spark plans ONE partition and a 100 TB
    * numbering job serializes through a single task. The scale-safe plan
    * is offset arithmetic: range-repartition + sort within partitions
    * (partitions now hold contiguous, ordered key ranges), count each
    * partition, cumulative-sum the counts into per-partition offsets (a
    * p-row driver fold — bounded derived state), and add the offset to
    * each row's within-partition index (`RDD.zipWithIndex`, which is
    * exactly this count-then-offset pattern; the one genuinely
    * imperative per-partition step, used as SURVEY §4.3 allows). The ids
    * are identical to the window's — which is what the oracle checks —
    * at O(p) driver cost instead of a one-task sort of everything.
    */
  def stableRowIds(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .rdd.map(_.getLong(0))
      .zipWithIndex()
      .map { case (id, idx) => (id, idx + 1L) }
    ids.toDF("doc_id", "row_id").orderBy(col("doc_id"))
  }

  /** A+: EQUI-DEPTH BUCKETS — distributed `ntile(4)`: the global quantile
    * binning a histogram/binning job needs, without the one-partition
    * window `ntile` plans. Same machinery as [[stableRowIds]] (range
    * repartition → in-partition sort → `zipWithIndex`), then each row's
    * bucket comes from SQL ntile's exact arithmetic: with n rows and B
    * buckets, the first n mod B buckets take ⌈n/B⌉ rows. The per-bucket
    * aggregate (count, min, max) is the equi-depth histogram: bucket
    * boundaries are exact order statistics at any scale, not sketch
    * estimates (contrast `value_quantiles_sketch`, the approximate
    * single-pass form). Tied sort keys may land either side of a bucket
    * boundary in either engine, but ties have EQUAL l_quantity by
    * construction, so the per-bucket min/max/count are invariant.
    */
  def equiDepthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = 4
    // n up front from the parquet footers (metadata-only count) — cheaper
    // than counting after the shuffle, and the ntile arithmetic needs it
    // before assignment anyway. Actually footer-read since r15 (the old
    // .count() still ran a scan job for the same number).
    val n = Tables.rowCount(spark, sfDir, "lineitem")
    val q = n / b; val r = n % b
    val sorted = Tables.lineitem(spark, sfDir)
      .select(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      .repartitionByRange(8, col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      .rdd.map(_.getDouble(0))
      .zipWithIndex()
    sorted
      .map { case (qty, rid) =>
        val bucket = if (rid < (q + 1) * r) rid / (q + 1) else (rid - r) / q
        (bucket + 1L, qty)
      }
      .toDF("bucket", "qty")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("qty")).as("min_qty"), max(col("qty")).as("max_qty"))
      .orderBy(col("bucket"))
  }

  /** A+: CLUSTERING-DEPTH AUDIT — the data-layout health metric a
    * lakehouse OPTIMIZE/Z-ORDER decision is made from: split the fact
    * table into 32 equal-depth "files" under two layouts (natural
    * ingest order = (l_orderkey, l_linenumber); shipdate-clustered =
    * sorted by ship day) and report, per layout, how many file pairs
    * have OVERLAPPING [min, max] ship-day ranges — overlap is exactly
    * what defeats min/max zone-map pruning, so `avg_overlap_per_bucket`
    * is the expected read amplification of a ship-day point query.
    * The sorted layout must audit to 0-ish overlap; the natural layout
    * shows the unclustered baseline. The measurement complement of
    * `compact_small_files` / the Hilbert z-order ops, the same way
    * `key_skew_profile` measures what the salting ops fix.
    *
    * Buckets are SQL-ntile semantics computed WITHOUT a one-partition
    * window (range repartition → in-partition sort → zipWithIndex →
    * ntile's published arithmetic — the [[equiDepthBuckets]] machinery);
    * the oracle is plain ntile(32). Both total orders end in the unique
    * (l_orderkey, l_linenumber) key, so assignment is deterministic.
    *
    * Scale: two global range-sorts of (day, key) triples — the real
    * price of a layout audit, each the same exchange a write-time
    * OPTIMIZE pays — then all overlap arithmetic runs on the 32-row
    * bucket table.
    */
  def clusteringDepthAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = 32L
    val n = Tables.rowCount(spark, sfDir, "lineitem")
    val big = n / b + (if (n % b > 0) 1L else 0L)
    val small = n / b
    val cut = (n % b) * big
    val base = Tables.lineitem(spark, sfDir)
      .select(
        // l_shipdate is TIMESTAMP_NTZ in the fixture; the session tz is
        // pinned UTC, so the NTZ→TZ cast is exact epoch micros (the
        // Tables.events shim's argument).
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000000").as("day"),
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"))
    def audit(layout: String, sortCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val ranked = base
        .repartitionByRange(8, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .select(col("day"))
        .as[Long].rdd.zipWithIndex()
        .map { case (day, i) => (day, i + 1L) }
        .toDF("day", "rn")
      val buckets = ranked
        .withColumn("bucket", expr(
          s"CASE WHEN rn <= $cut THEN (rn - 1) DIV $big + 1" +
            s" ELSE ${n % b} + (rn - $cut - 1) DIV $small + 1 END"))
        .groupBy(col("bucket"))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      buckets.as("x").join(buckets.as("y"),
          col("x.bucket") < col("y.bucket")
            && col("x.lo") <= col("y.hi") && col("y.lo") <= col("x.hi"))
        .agg(count(lit(1)).as("overlap_pairs"))
        .select(
          lit(layout).as("layout"), lit(b).as("n_buckets"), col("overlap_pairs"),
          ((col("overlap_pairs") * 2L).cast("double") / lit(b).cast("double"))
            .as("avg_overlap_per_bucket"))
    }
    audit("natural", Seq(col("l_orderkey"), col("l_linenumber")))
      .unionByName(audit(
        "shipdate", Seq(col("day"), col("l_orderkey"), col("l_linenumber"))))
      .orderBy(col("layout"))
  }

  /** A+: FK INTEGRITY AUDIT — orphan counts for every foreign-key edge
    * of the schema (lineitem→orders/part/supplier, orders→customer,
    * customer→nation, supplier→nation): child rows whose key has no
    * parent. The referential-integrity check every warehouse load gate
    * runs; pure BIGINT counts. On the fixtures every edge must audit to
    * zero orphans — a non-zero row IS the alert.
    *
    * Scale: one LEFT ANTI join per edge, keyed on the 8-byte FK —
    * dimension parents broadcast, fact-fact edges shuffle on the key
    * they already join on everywhere else; counts combine map-side.
    */
  def fkIntegrityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val total = child.agg(count(lit(1)).as("n_child"))
      val orphans = child.join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      total.crossJoin(orphans)
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"))
    }
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    Seq(
      edge("lineitem->orders", li.select(col("l_orderkey")), "l_orderkey",
        ord, "o_orderkey"),
      edge("lineitem->part", li.select(col("l_partkey")), "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"),
      edge("lineitem->supplier", li.select(col("l_suppkey")), "l_suppkey",
        Tables.supplier(spark, sfDir), "s_suppkey"),
      edge("orders->customer", ord.select(col("o_custkey")), "o_custkey",
        Tables.customer(spark, sfDir), "c_custkey"),
      edge("customer->nation",
        Tables.customer(spark, sfDir).select(col("c_nationkey")), "c_nationkey",
        Tables.nation(spark, sfDir), "n_nationkey"),
      edge("supplier->nation",
        Tables.supplier(spark, sfDir).select(col("s_nationkey")), "s_nationkey",
        Tables.nation(spark, sfDir), "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy(col("fk_edge"))
  }

  /** Force the co-bucketed table writes behind [[bucketedJoinOrders]]
    * (memoized per session + fixture content). Bench times this as its own
    * `stage_bucketed` line — the one-time layout job a production table
    * pays at write time — so the query line reports the steady-state
    * shuffle-free join cost the query exists to demonstrate.
    */
  def stageBucketedTables(spark: SparkSession, sfDir: String): (String, String) = {
    val liT = Materialize.bucketedTable(spark, s"li_$sfDir", 8, "l_orderkey", sfDir)(
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
    val ordT = Materialize.bucketedTable(spark, s"ord_$sfDir", 8, "o_orderkey", sfDir)(
      Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderpriority")))
    (liT, ordT)
  }

  /** C+: fact-fact join with NO shuffle — both sides written ONCE as
    * parquet tables bucketed (and per-file sorted) on the join key via
    * [[graft.sources.Materialize.bucketedTable]], then sort-merge-joined.
    * Co-bucketed layout means each task reads bucket i of both tables and
    * joins locally: zero Exchange under the join (asserted in
    * PlanAuditSpec). This is THE layout move for a repeated 100 TB
    * fact-fact join — pay one bucketed write, then every subsequent join
    * is shuffle-free. `hint("merge")` pins SMJ: a broadcast would ignore
    * the bucketing (and is exactly what we don't want to demonstrate);
    * bucket count is a property of the written layout, sized to the table
    * at scale, not to session parallelism.
    */
  def bucketedJoinOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val (liT, ordT) = stageBucketedTables(spark, sfDir)
    spark.table(liT).hint("merge")
      .join(spark.table(ordT).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** D+: the SQL front door — the q1 pricing summary issued as a
    * `spark.sql` TEXT query over a registered temp view, proving a
    * SQL-only user of the library gets the identical result (and plan:
    * Catalyst compiles both surfaces to the same logical plan) as the
    * DataFrame builder [[q1PricingSummary]]. Shares q1's oracle shape.
    */
  def sqlInterfaceQ1(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_lineitem_sql")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sum_qty_cents,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sum_base_price_cents,
        |  sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS sum_disc_price_cents,
        |  sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS sum_charge_cents,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price_cents,
        |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc_cents,
        |  count(*) AS count_order
        |FROM graft_lineitem_sql
        |WHERE l_shipdate <= CAST('2000-12-01 00:00:00' AS TIMESTAMP_NTZ)
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** C: semi/anti join — customers with vs without orders. */
  def semiAntiCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir).select(col("o_custkey"))
    val nWith = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_with"))
    val nWithout = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_without"))
    nWith.crossJoin(nWithout)
  }

  /** C: equi join + range residual — lineitems shipped within 90 days of
    * their order date. The equi key carries the join; the range predicate is
    * a post-join filter, so this never degenerates to a theta-only join.
    */
  def rangeJoinPromo(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .join(
        Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAY"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** D: ROLLUP over status×priority. NULL grouping slots surfaced as 'ALL'
    * so the total order is engine-agnostic (Spark sorts NULLS FIRST, DuckDB
    * NULLS LAST — coalescing sidesteps it).
    */
  def rollupOrders(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), centsSum(col("o_totalprice")).as("total_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_cents"))
      .orderBy(col("status"), col("priority"))
  }

  /** D: CUBE over status×priority — all four grouping sets (both, each
    * alone, grand total); same 'ALL' coalescing protocol as [[rollupOrders]]
    * so the total order is engine-agnostic. Planned as one Expand + hash
    * aggregate: one scan regardless of the number of grouping sets.
    */
  def cubeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), centsSum(col("o_totalprice")).as("total_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_cents"))
      .orderBy(col("status"), col("priority"))
  }

  /** D: explicit GROUPING SETS ((flag,status),(flag),()). */
  def groupingSetsLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_lineitem_gs")
    spark.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS flag,
             coalesce(l_linestatus, 'ALL') AS status,
             count(1) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM graft_lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY flag, status
    """)
  }

  /** D: exact count-distinct per event_type (two-phase distinct aggregate).
    * The approx_count_distinct variant lives in tests only — HLL output is
    * excluded from the hash-compare per SURVEY.md §7.4.
    */
  def aggDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** D: HLL sketch count-distinct — the declared approximate variant of
    * [[aggDistinctUsers]] (SURVEY.md §2.2-D). At 100 TB this IS the
    * count-distinct plan: the exact form shuffles every distinct
    * (event_type, user_id) pair twice; the HLL++ sketch is a fixed-size
    * (rsd 2%) algebraic state with full map-side combine — one
    * narrow shuffle of sketches, independent of cardinality. Rows-only by
    * design (an estimate is engine-specific; the ±5% envelope vs the exact
    * count is asserted in OperatorSpec).
    */
  def aggDistinctUsersApprox(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** D+: BITMAP exact distinct — Spark 4's bitmap functions as the exact
    * count-distinct plan for dense integer keys: user ids bucket into
    * 32768-bit bitmaps (`bitmap_bucket_number`/`bitmap_bit_position`),
    * each (event_type, bucket) group ORs its positions into one 4 KB
    * bitmap (`bitmap_construct_agg` — algebraic, map-side combinable),
    * and the per-type distinct count is the sum of `bitmap_count` over
    * buckets. Unlike the expand-based `count(DISTINCT)` (state = every
    * distinct pair), bitmap state is FIXED at 4 KB per occupied bucket
    * regardless of how many ids land in it — between exact-expand and
    * HLL: exact like the former, bounded-state like the latter, at the
    * price of requiring dense integer keys. The oracle is the plain
    * COUNT(DISTINCT): the bitmap pipeline must reproduce it exactly.
    */
  def bitmapDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id)))")
        .as("bucket_users"))
      .groupBy(col("event_type"))
      .agg(sum(col("bucket_users")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** D+: quantile SKETCH per event_type — `percentile_approx` (the
    * Greenwald-Khanna mergeable summary) at accuracy 10000 for
    * p50/p95/p99 of `value`, alongside the exact row count. At 100 TB
    * this is THE percentile plan, completing the engine's sketch family
    * (HLL count-distinct, bloom membership, Misra-Gries frequency): exact
    * percentiles need a global sort or full-value shuffle per group; the
    * GK summary is a bounded-size algebraic state with map-side combine —
    * one narrow exchange of sketches, error ≤ 1/accuracy of rank,
    * independent of row count. Rows-only by design (sketch estimates are
    * engine-specific; PackingSpec pins the rank-error envelope vs the
    * exact percentiles instead).
    */
  def valueQuantilesSketch(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col("value"), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000))
          .as("qs"))
      .select(
        col("event_type"), col("n"),
        round(col("qs").getItem(0), 6).as("p50"),
        round(col("qs").getItem(1), 6).as("p95"),
        round(col("qs").getItem(2), 6).as("p99"))
      .orderBy(col("event_type"))
  }

  /** D+: pivot — events per (day-of-week × event_type) as a wide table.
    * Explicit value list → deterministic column set; DuckDB oracle uses
    * the equivalent conditional aggregation. Day-of-week normalized to
    * 0=Sunday (DuckDB's convention).
    */
  def pivotEvents(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select((dayofweek(col("ts_utc")) - 1).cast("long").as("dow"), col("event_type"))
      .groupBy(col("dow"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("dow"))
  }

  /** D+: exact interpolated percentiles of l_quantity per return flag
    * (Spark `percentile` ≡ DuckDB `quantile_cont`, both linear
    * interpolation).
    */
  def percentilesQty(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** D+: statistical aggregates — sample stddev/variance, correlation and
    * covariance of quantity vs price per return flag.
    */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** G: EXCEPT / INTERSECT / UNION counts over returned-part sets.
    *
    * Computed as ONE scan + flag aggregation: naive
    * `r.except(a) / r.intersect(a) / r.union(a)` materializes six scans and
    * 18 exchanges (measured via graft.Plans) — at 100 TB that is 6 reads of
    * the fact table for what is a single-pass membership question. The
    * Dataset set operators themselves are exercised (and asserted equal to
    * this plan) in SetOpSpec.
    */
  /** D+: argmax aggregates — max_by/min_by with a STRUCT ordering value so
    * ties break on the key (bare max_by over a tied measure is
    * nondeterministic; the struct makes the comparison total). DuckDB's
    * arg_max with a ROW value implements the same total order.
    */
  def argmaxOrders(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").as("priciest_order"),
        expr("min_by(o_orderkey, struct(o_totalprice, -o_orderkey))").as("cheapest_order"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        round(min(col("o_totalprice")), 2).as("min_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** D+: skew-safe heavy hitters — the two-phase salted aggregation from
    * [[Salting.saltedCountSum]] declared as a query: partial aggregate on
    * (key, salt) caps any single reducer at |group|/buckets rows, the final
    * aggregate merges the partials. Algebraic aggregates make the result
    * exactly equal to the direct groupBy, which is what the oracle checks.
    */
  def saltedHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    // Quantize to cents BEFORE the two-phase sum: the salted partial order
    // differs from the oracle's single-pass order, so only an integer sum
    // is exactly order-independent (a double sum would drift at scale).
    Salting.saltedCountSum(
        Tables.events(spark, sfDir).select(col("event_type"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("value_cents")),
        "event_type", "value_cents", buckets = 8)
      .select(col("event_type"), col("n"), col("sum").as("sum_cents"))
      .orderBy(col("event_type"))
  }

  /** D+: unpivot (melt) — the inverse of [[pivotEvents]]: a wide per-flag
    * aggregate melted to (flag, metric, value) rows via the Dataset
    * `unpivot` API (planned as Expand, one pass, no shuffle beyond the
    * aggregate's own).
    */
  def unpivotStats(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        // cast back to double: unpivot needs one common value type, and an
        // integer cents value is exact in a double until 2^53 cents (~$90T)
        centsSum(col("l_quantity")).cast("double").as("qty_cents"),
        centsSum(col("l_extendedprice")).cast("double").as("price_cents"),
        count(lit(1)).cast("double").as("n"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents"), col("n")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  /** A+: table-function source — a month calendar spine generated with
    * `sequence` + explode (no input table), left-joined against the
    * per-month order counts so missing months would surface as zeros.
    * The generated side is rows-from-nothing, the Spark analogue of a SQL
    * table function.
    */
  def calendarMonths(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val perMonth = ord
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n_orders"))
    val spine = ord
      .agg(min(col("o_orderdate")).as("d0"), max(col("o_orderdate")).as("d1"))
      .select(explode(expr(
        "sequence(CAST(date_trunc('MONTH', d0) AS DATE), CAST(date_trunc('MONTH', d1) AS DATE), interval 1 month)")).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("ym"))
    spine.join(perMonth, Seq("ym"), "left")
      .select(col("ym"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("ym"))
  }

  /** D+: exact money aggregation on the integer-cents protocol — amounts
    * go to integer cents first (the §7.4 exact protocol, `floor(x*100+0.5)`
    * — no `round()` tie mode), are summed as BIGINT, and surfaced as
    * BIGINT cents, matching the five other green money queries. The r8/r9
    * driver runs proved every DECIMAL output column (even a lossless
    * widening cast of integer cents) hashes differently across the
    * parquet/DuckDB boundary, so the declared surface stays BIGINT; the
    * DECIMAL(18,0) widening itself is exercised in a scalatest golden
    * test (OperatorSpec "aggDecimalMoney decimal widening") where no
    * cross-engine hash is involved. At 100 TB the plan is the plain
    * partial+final integer aggregate.
    */
  def aggDecimalMoney(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select(
        col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cents")).as("revenue_cents"), count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  /** D+/SQL front door: the month spine via Spark 4's RECURSIVE CTE — the
    * anchor row is the data-driven min month, each recursion step adds one
    * month until the max; same (ym, n_orders) result as [[calendarMonths]]
    * (sequence()-based) and the same DuckDB oracle, so the recursion
    * engine itself sits on the hash. UNION ALL with an acyclic step —
    * Spark 4.1 has no distinct-union recursion (pinned in
    * Spark4FeatureSpec), which is also why connected components stay on
    * the union-find/label-propagation path. Depth = month span (~80 «
    * the default recursion limit); a spine is O(spanned months) rows at
    * any data scale.
    */
  def recursiveMonthSpine(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_orders_rec")
    spark.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS DATE) AS lo,
        |         CAST(date_trunc('MONTH', max(o_orderdate)) AS DATE) AS hi
        |  FROM graft_orders_rec),
        |spine AS (
        |  SELECT lo AS m, hi FROM bounds
        |  UNION ALL
        |  SELECT add_months(m, 1) AS m, hi FROM spine WHERE m < hi),
        |pm AS (
        |  SELECT date_format(o_orderdate, 'yyyy-MM') AS ym, count(*) AS n_orders
        |  FROM graft_orders_rec GROUP BY 1)
        |SELECT s.ym, CAST(coalesce(pm.n_orders, 0) AS BIGINT) AS n_orders
        |FROM (SELECT date_format(m, 'yyyy-MM') AS ym FROM spine) s
        |LEFT JOIN pm ON s.ym = pm.ym
        |ORDER BY s.ym""".stripMargin)
  }

  /** B+: null semantics — a null-safe (`<=>`) self-join keeps the NULL
    * group that plain `=` would drop (asserted in OperatorSpec), and the
    * output ordering is explicit NULLS FIRST.
    */
  def nullSemantics(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.events(spark, sfDir)
      .select(nullif(col("event_type"), lit("click")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    g.as("a").join(g.as("b"), expr("a.k <=> b.k"))
      .select(col("a.k").as("k"), col("a.n").as("n_a"), col("b.n").as("n_b"))
      .sort(col("k").asc_nulls_first)
  }

  /** D+: conditional & boolean aggregates — count_if, bool_and/bool_or,
    * plus a DETERMINISTIC string aggregation (collect_list is
    * order-nondeterministic under shuffle; array_sort before array_join
    * restores a total order, the only safe way to declare a listagg).
    */
  def aggConditional(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("count_if(l_quantity > 25)").as("n_big"),
        expr("bool_and(l_quantity > 0)").as("all_pos"),
        expr("bool_or(l_discount > 0.09)").as("some_high_disc"),
        expr("array_join(array_sort(collect_set(l_linestatus)), ',')").as("statuses"))
      .orderBy(col("l_returnflag"))
  }

  /** C+: LATERAL correlated subquery in FROM — each brand row drives a
    * dependent aggregate subquery; Catalyst decorrelates it
    * (DecorrelateInnerQuery) into a join against one grouped aggregate, so
    * the per-row subquery never re-executes at scale.
    */
  def lateralBrandStats(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
    spark.sql(
      """SELECT p.p_brand, l.max_price, l.n
        |FROM (SELECT DISTINCT p_brand FROM part) p,
        |LATERAL (SELECT round(max(p2.p_retailprice), 2) AS max_price,
        |                CAST(count(*) AS BIGINT) AS n
        |         FROM part p2 WHERE p2.p_brand = p.p_brand) l
        |ORDER BY p.p_brand""".stripMargin)
  }

  /** C+: TPC-H Q5 shape — six-way join (two broadcast dims, three
    * shuffle-key joins) with the "local supplier" residual predicate
    * `c_nationkey = s_nationkey` carried on the supplier equi-join. The
    * deepest join tree in the set; AQE picks broadcast for nation/region
    * and shuffle joins keyed on orderkey/custkey/suppkey for the big sides.
    */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'") &&
        expr("o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"))
    val joined = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sfDir),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
    joined
      .groupBy(col("n_name"))
      .agg(centsSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** D+: correlated scalar subquery — parts larger than their brand's
    * average size. Written as SQL so Catalyst's subquery decorrelation
    * (RewriteCorrelatedScalarSubquery) turns the per-row subquery into one
    * aggregate + join — the plan a 100 TB run needs: one scan for the
    * per-brand averages (25 rows, broadcast back), one for the probe, no
    * per-row re-execution. avg(p_size) over int32 is an exact integer sum
    * divided once, so the threshold is bit-identical across engines.
    */
  def subqueryAboveAvg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
    spark.sql(
      """SELECT p_brand,
        |  CAST(count(*) AS BIGINT) AS n_above,
        |  CAST(max(p_size) AS BIGINT) AS max_size
        |FROM part p
        |WHERE p_size > (SELECT avg(CAST(p2.p_size AS DOUBLE)) FROM part p2
        |                WHERE p2.p_brand = p.p_brand)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)
  }

  /** G+: multiset set-ops — EXCEPT ALL / INTERSECT ALL keep duplicate
    * counts (Spark plans them as a count-aggregate + replicate Generate,
    * not the distinct-based semi/anti path of [[setopParts]]). Output is a
    * single checksum row so the oracle compare is exact.
    */
  def setopAllParts(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val r = li.filter(col("l_returnflag") === "R").select(col("l_partkey"))
    val a = li.filter(col("l_returnflag") === "A").select(col("l_partkey"))
    val ex = r.exceptAll(a).agg(
      count(lit(1)).as("n_except_all"), sum(col("l_partkey")).as("sum_except_all"))
    val in = r.intersectAll(a).agg(
      count(lit(1)).as("n_intersect_all"), sum(col("l_partkey")).as("sum_intersect_all"))
    ex.crossJoin(in)
  }

  def setopParts(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy(col("l_partkey"))
      .agg(
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"),
        max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("has_a"))
      .agg(
        sum(when(col("has_r") === 1 && col("has_a") === 0, 1L).otherwise(0L)).as("n_except"),
        sum(when(col("has_r") === 1 && col("has_a") === 1, 1L).otherwise(0L)).as("n_intersect"),
        count(lit(1)).as("n_union"))
  }

  // ---- CBO statistics surface --------------------------------------------

  /** One CBO-tuned sub-session per parent session: CBO on, AQE OFF (so the
    * broadcast decision is attributable to catalog statistics alone, not a
    * runtime re-plan), and a 4 KB broadcast threshold sitting BETWEEN the
    * filtered dimension's stats-estimated size and its raw file size.
    * A sub-session because these are planning-time knobs: setting them on
    * the shared session would leak into every other declared query.
    */
  private val cboSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private def cboSession(spark: SparkSession): SparkSession =
    cboSessions.computeIfAbsent(spark, s => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      // Between the two estimates at spec scale (sf0.001): without column
      // stats the size-only visitor scales the table's file bytes by the
      // pruned-column width ratio (~3 KB); with stats the CBO filter
      // estimate is rowCount/ndv(p_size) rows (~0.2 KB). Like the skew
      // thresholds, the VALUE is fixture-scaled — at production sizes the
      // default 10 MB threshold separates the same two estimates.
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1500")
      s2
    })

  /** Force the analyzed catalog copy of `part` behind
    * [[statsBroadcastJoin]] (memoized per session + fixture content, like
    * [[stageBucketedTables]]). Bench times this as its own `stage_stats`
    * line — ANALYZE is catalog maintenance a production warehouse pays
    * once per table refresh, not per query — so the query line reports
    * the stats-planned join itself (r9 bench measured ANALYZE inside the
    * 2.48 s query row).
    */
  def stageStatsTable(spark: SparkSession, sfDir: String): Unit = {
    // Building the statsJoin frame runs Materialize.plainTable eagerly:
    // table write + ANALYZE + sub-session refresh, memoized for the query.
    statsJoin(spark, sfDir, analyzed = true): Unit
  }

  /** H/CBO: STATISTICS-DRIVEN broadcast — `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS` over a catalog copy of `part`, then
    * `part WHERE p_size = 1 ⋈ lineitem` planned with CBO on and AQE off.
    * File-size estimation alone cannot see past the filter (the table's
    * parquet bytes exceed the threshold → sort-merge join); the
    * rowCount × 1/ndv(p_size) column-stats estimate can (~2% of rows →
    * broadcast). PlanAuditSpec pins BOTH directions via [[statsJoin]].
    * This is the plan story file sizes get wrong at 100 TB: a filtered
    * dimension that LOOKS big on disk but is small after predicates
    * should ship to the fact table, not shuffle it. Stats never change
    * results, so the oracle is plain SQL.
    */
  def statsBroadcastJoin(spark: SparkSession, sfDir: String): DataFrame =
    statsJoin(spark, sfDir, analyzed = true)

  private[graft] def statsJoin(spark: SparkSession, sfDir: String, analyzed: Boolean): DataFrame = {
    val key = if (analyzed) s"part_stats_$sfDir" else s"part_nostats_$sfDir"
    // ANALYZE rides the creation memo: a Materialize.reset() that drops and
    // re-stages the table re-runs it, so the stats can never go stale
    // relative to the files.
    val name = Materialize.plainTable(spark, key, sfDir)(Tables.part(spark, sfDir)) { t =>
      if (analyzed)
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS p_partkey, p_brand, p_size"): Unit
      // The CBO sub-session caches resolved relations per-session: after a
      // Materialize.reset re-creates this table (same name+path, new
      // part-files — Bench does this between timing passes), s2 would
      // otherwise serve its pass-1 file listing → FAILED_READ_FILE.
      cboSession(spark).catalog.refreshTable(t)
    }
    val s2 = cboSession(spark) // shares the catalog (and its stats) with `spark`
    s2.table(name).filter(col("p_size") === 1)
      .join(Tables.lineitem(s2, sfDir), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 6).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  /** C+/warehouse: MERGE (upsert) semantics as a composable batch plan —
    * Spark has no MERGE INTO statement outside table-format extensions, and
    * this full-outer join + CASE IS how those formats execute it: matched
    * keys take the source value (update), source-only keys insert,
    * target-only keys carry through. The synthetic change set is
    * deterministic (every 7th key gets a +$5 price update; 100 new keys
    * beyond the contiguous id domain insert), and the output is the merged
    * table's per-action audit — the row-count/mass reconciliation a
    * production MERGE job logs.
    *
    * Scale: a MERGE is a key-shuffled full-outer join when the change set
    * is large, a broadcast one when it is batch-sized (the usual CDC case —
    * Catalyst picks it from size estimates here); the lake-format
    * refinement is partition pruning the TARGET to touched partitions
    * (copy-on-write) or row-group-level merges (merge-on-read), both of
    * which keep this exact join as their core. Integer cents keep the audit
    * sums exact on both engines.
    */
  def mergeUpsertParts(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
    val tgt = Tables.part(spark, sfDir).select(col("p_partkey").as("k"), cents.as("cents"))
    // 1-row scalar (contiguous id-domain size) for the insert-key offset
    // — footer-metadata count of the unfiltered table, no job (r15)
    val n = Tables.rowCount(spark, sfDir, "part")
    val upd = tgt.filter(col("k") % 7 === 0).select(col("k"), (col("cents") + 500).as("cents"))
    val ins = tgt.filter(col("k") < 100)
      .select((col("k") + n).as("k"), (lit(1000L) + (col("k") + n) % 997).as("cents"))
    val src = upd.unionByName(ins)
    tgt.as("t").join(src.as("s"), col("t.k") === col("s.k"), "full_outer")
      .select(
        coalesce(col("t.k"), col("s.k")).as("k"),
        when(col("t.k").isNotNull && col("s.k").isNotNull, "update")
          .when(col("t.k").isNull, "insert").otherwise("keep").as("action"),
        coalesce(col("s.cents"), col("t.cents")).as("cents"))
      .groupBy(col("action"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy(col("action"))
  }

  /** W+: DATA-QUALITY CONSTRAINT REPORT — the validation pass every
    * ingestion pipeline runs before publishing a table: declarative
    * checks, each reduced to (n_checked, n_violations). Three check
    * families, each with its scale shape:
    *  - **row predicates** (discount policy) — pure scan-aggregates, the
    *    predicate evaluates map-side, the exchange carries one row;
    *  - **referential integrity** (two FK checks + a childless-parent
    *    check) — LEFT ANTI joins on the key: at 100 TB this is the
    *    standard "orphan scan", shuffling only keys, broadcast when the
    *    parent side is a dimension;
    *  - **cross-table invariants** (ship date ≥ order date) — rides the
    *    FK equi join; the violation predicate is residual.
    * Passing checks report 0 — a DQ report asserts presence of checks,
    * not presence of violations; the three non-zero rows here prove the
    * counting path against the oracle.
    */
  def dqConstraintReport(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val ev = Tables.events(spark, sfDir)

    def report(name: String, checked: DataFrame, violations: DataFrame): DataFrame =
      checked.agg(count(lit(1)).as("n_checked")).crossJoin(
        violations.agg(count(lit(1)).as("n_violations")))
        .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))

    val discount = report("discount_policy_le_007",
      li, li.filter(col("l_discount") > 0.07))
    val evFk = report("events_user_fk_customer",
      ev, ev.join(cust, col("user_id") === col("c_custkey"), "left_anti"))
    val liFk = report("lineitem_fk_orders",
      li, li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti"))
    val childless = report("orders_has_lineitems",
      ord, ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti"))
    val shipAfter = report("ship_on_or_after_order",
      li,
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate")))

    discount.unionByName(evFk).unionByName(liFk)
      .unionByName(childless).unionByName(shipAfter)
      .orderBy(col("check_name"))
  }

  /** D+: TPC-H Q6 shape — the pure-pushdown aggregate. Every predicate
    * (shipdate year band, discount band, quantity cap) is a plain
    * column-vs-literal comparison, so all of them reach the parquet scan as
    * row-group filters (PushedFilters; plan-pinned in PlanAuditSpec) and
    * only 4 columns are read. The surviving rows feed one partial+final
    * aggregate whose only exchange is the single-row final — at 100 TB this
    * query's cost is pruned IO and nothing else, which is exactly what it
    * probes.
    */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsNtz("1997-01-01 00:00:00") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        centsSum(col("l_extendedprice") * col("l_discount")).as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** C+: TPC-H Q4 shape — correlated EXISTS with a non-equi residual
    * (lineitem shipped more than 80 days after its order date). Written as
    * SQL so Catalyst's RewritePredicateSubquery decorrelates the per-row
    * subquery into ONE left-semi join on the orderkey equi key with the
    * date comparison as the join residual — the 100 TB plan: a single
    * shuffle pair on orderkey, no re-executed subquery, and the semi join
    * stops probing an order at its first qualifying lineitem.
    */
  def q4PriorityExists(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 80 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** C+: TPC-H Q7 shape — two-nation shipping volume by year. The pair
    * predicate `(supp, cust) ∈ {(N1,N2), (N2,N1)}` is split the way a
    * 100 TB plan needs it: each nation dim is pre-filtered to the two
    * names BEFORE its broadcast (so the supplier/customer joins drop
    * ~23/25ths of their rows at the earliest join instead of at a final
    * residual), and only the cross-pair disjunction — not expressible as a
    * per-dim filter — remains as a post-join residual.
    */
  def q7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Seq("NATION_1", "NATION_2")
    val suppNation = broadcast(Tables.nation(spark, sfDir)
      .filter(col("n_name").isin(names: _*))
      .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation")))
    val custNation = broadcast(Tables.nation(spark, sfDir)
      .filter(col("n_name").isin(names: _*))
      .select(col("n_nationkey").as("cust_nk"), col("n_name").as("cust_nation")))
    Tables.lineitem(spark, sfDir)
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("supp_nk"))
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(custNation, col("c_nationkey") === col("cust_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** C+F: TPC-H Q10 shape — revenue lost to returned items per customer in
    * one quarter, global top-20. The returnflag and orderdate predicates
    * prune both fact scans before the orderkey shuffle; nation broadcasts;
    * the final top-20 plans as TakeOrderedAndProject (per-partition heaps +
    * single 20-row merge), never a full sort of the customer aggregate.
    */
  def q10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= tsNtz("1996-01-01 00:00:00") &&
        col("o_orderdate") < tsNtz("1996-04-01 00:00:00"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)
  }

  /** D+C: TPC-H Q18 shape — large-volume orders. The HAVING aggregation
    * runs FIRST (group lineitem by orderkey, keep sum(qty) > 180), so the
    * expensive joins see only the qualifying keys — shrink-then-join; at
    * fixture scale AQE broadcasts the shrunken aggregate into orders, and
    * at 100 TB it stays a keyed shuffle join that still moves only
    * qualifying orders. Quantities are compared on exact integer cents
    * (18000), never a double sum.
    */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(centsSum(col("l_quantity")).as("sum_qty_cents"))
      .filter(col("sum_qty_cents") > 18000L)
    big
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("totalprice_cents"),
        col("sum_qty_cents"))
      .orderBy(col("sum_qty_cents").desc, col("o_orderkey"))
      .limit(100)
  }

  /** F+: 2-D skyline (Pareto frontier) of part on (price ↓ better,
    * size ↑ better) — parts no other part beats on both axes. The
    * sort-based formulation: ordered by (price asc, size desc, key), a row
    * is on the frontier iff its size exceeds the running max size of every
    * earlier row. Exact (price, size) duplicates collapse to the min key
    * first so the strict `>` test is precisely the dominance predicate.
    *
    * Distributed shape (the textbook two-phase skyline): phase 1 prunes
    * within 64 hash buckets — a row dominated inside ANY subset is
    * dominated globally, so per-bucket pruning is sound and each bucket
    * forwards only its local frontier (expected O(log n) rows for random
    * 2-D data). Phase 2 runs the same window over the ≤ 64·|local frontier|
    * survivors; only that residue ever crosses into the single-partition
    * window, never the table. The oracle deliberately uses the OTHER
    * algorithm (quadratic NOT EXISTS dominance) so the hash-compare checks
    * the semantics, not a shared formulation.
    */
  def skylineParts(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.part(spark, sfDir)
      .groupBy(col("p_retailprice"), col("p_size"))
      .agg(min(col("p_partkey")).as("p_partkey"))
    def frontier(df: DataFrame, parts: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val w = Window.partitionBy(parts: _*)
        .orderBy(col("p_retailprice").asc, col("p_size").desc, col("p_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("pmax", max(col("p_size")).over(w))
        .filter(col("pmax").isNull || col("p_size") > col("pmax"))
        .drop("pmax")
    }
    val local = frontier(pairs, Seq(pmod(xxhash64(col("p_partkey")), lit(64))))
    frontier(local, Seq.empty)
      .select(
        col("p_partkey"),
        round(col("p_retailprice"), 2).as("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  /** D+C: INCREMENTAL VIEW MAINTENANCE for an aggregate-over-join view —
    * the revenue-per-nation view under a 10% lineitem batch insert. The
    * standing view is staged once from the 90% base (a real materialized
    * view); the refresh joins ONLY the delta against the dims, partial-
    * aggregates it, and merges partials with the standing view (algebraic
    * aggregates merge by summation). The DuckDB oracle computes the view
    * DIRECTLY over the full table, so the driver's hash-compare proves
    * incremental-refresh == full-recompute cross-engine — the materialized-
    * view correctness contract, same proof shape as `scd2_apply_batch`.
    * At 100 TB this is the only viable refresh: cost is
    * O(Δ ⋈ dims) + O(view), never O(fact).
    */
  def ivmJoinView(spark: SparkSession, sfDir: String): DataFrame = {
    def partials(li: DataFrame): DataFrame =
      li.join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"),
          count(lit(1)).as("n_items"))
    val standing = Materialize.stage(spark, s"ivm_nation_view_$sfDir", sfDir) {
      partials(Tables.lineitem(spark, sfDir).filter(pmod(col("l_orderkey"), lit(10)) =!= 0))
    }
    val delta =
      partials(Tables.lineitem(spark, sfDir).filter(pmod(col("l_orderkey"), lit(10)) === 0))
    standing.unionByName(delta)
      .groupBy(col("n_name"))
      .agg(
        sum(col("revenue_cents")).as("revenue_cents"),
        sum(col("n_items")).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** C+D: TPC-H Q15 shape — top supplier(s) by quarterly revenue via a
    * scalar subquery over the revenue VIEW. The spec's own structure is
    * CREATE VIEW revenue AS … then probe it twice (max + filter); a naive
    * single-statement CTE makes Spark re-aggregate the FACT table for the
    * subquery (verified: the static plan duplicates the lineitem
    * aggregation — no plan-time exchange reuse across a scalar subquery
    * boundary), so the view is STAGED once (Materialize — one fact pass,
    * ǀsuppliersǀ rows out) and both the scalar-subquery max and the probe
    * read the staged table. At 100 TB: one fact-scan aggregation, then
    * two ǀsuppliersǀ-row scans.
    */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Materialize.stage(spark, s"q15_rev_$sfDir", sfDir) {
      Tables.lineitem(spark, sfDir)
        .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsNtz("1996-04-01 00:00:00"))
        .groupBy(col("l_suppkey"))
        .agg(centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
    }
    rev.createOrReplaceTempView("graft_q15_rev")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("supplier")
    spark.sql(
      """SELECT s_suppkey, s_name, revenue_cents
        |FROM graft_q15_rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revenue_cents = (SELECT max(revenue_cents) FROM graft_q15_rev)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** D+C: TPC-H Q14 shape — promo revenue share for one ship-month: a
    * conditional aggregate over the part join, emitted as exact integer
    * cents for both the promo slice and the total plus their exact-IEEE
    * ratio (one int/int division — class-2, no rounding). The month
    * filter prunes the fact scan; part joins on partkey with only
    * (p_partkey, p_type) projected, so the broadcast/shuffle side carries
    * 16 bytes a row at any scale.
    */
  def q14PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= tsNtz("1996-03-01 00:00:00") &&
        col("l_shipdate") < tsNtz("1996-04-01 00:00:00"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", floor(rev * 100 + lit(0.5))).otherwise(0L))
          .as("promo_cents"),
        centsSum(rev).as("total_cents"))
      .select(
        col("promo_cents"), col("total_cents"),
        (col("promo_cents").cast("double") / col("total_cents").cast("double"))
          .as("promo_share"))
  }

  /** D+/privacy: K-ANONYMITY AUDIT — for the quasi-identifier pair
    * (c_mktsegment, c_nationkey), how many equivalence classes fall below
    * k=5 members and how many rows sit in them (re-identification risk
    * mass), reported per segment. The release-gating check a privacy
    * review runs before sharing a "pseudonymized" table: any QI class
    * smaller than k re-identifies its members by linkage. Two bounded
    * aggregations — (QI) then (segment) — nothing scales past
    * ǀQI-domainǀ rows after the first map-side-combined pass.
    */
  def kAnonymityCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5L
    Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_below_k"),
        sum(when(col("n") < k, col("n")).otherwise(lit(0L))).as("n_rows_at_risk"),
        min(col("n")).as("min_class_size"))
      .orderBy(col("c_mktsegment"))
  }

  /** D+/planning: JOIN-KEY SKEW PROFILE — the pre-join instrumentation a
    * 100 TB engine runs before choosing a strategy: for each candidate
    * shuffle key, the key count, the heaviest key's row count, the skew
    * factor (max·keys/rows — 1.0 means perfectly uniform; AQE's skew
    * threshold reasons in exactly these units) and the heaviest key's
    * row share. The MEASUREMENT counterpart of `skew_join_zipf` /
    * `salted_heavy_hitters` (which HANDLE skew): the profile decides
    * whether salting/AQE is needed at all. Both ratios are ONE int/int
    * IEEE division.
    *
    * Scale: one map-side-combined (key → count) aggregate per profiled
    * column, then a 1-row reduction — the profile costs one scan per
    * fact table regardless of size.
    */
  def keySkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(df: DataFrame, key: String, label: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_cnt"))
        .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_cnt"),
          ((col("max_cnt") * col("n_keys")).cast("double")
            / col("n_rows").cast("double")).as("skew_factor"),
          (col("max_cnt").cast("double") / col("n_rows").cast("double"))
            .as("top1_share"))
    profile(Tables.orders(spark, sfDir), "o_custkey", "orders.o_custkey")
      .unionByName(profile(Tables.lineitem(spark, sfDir), "l_partkey",
        "lineitem.l_partkey"))
      .unionByName(profile(Tables.lineitem(spark, sfDir), "l_suppkey",
        "lineitem.l_suppkey"))
      .unionByName(profile(Tables.events(spark, sfDir), "user_id",
        "events.user_id"))
      .orderBy(col("key_col"))
  }

  /** D+/planning: JOIN CARDINALITY AUDIT — the textbook equi-join
    * estimate ǀAǀ·ǀBǀ / max(ndv_A, ndv_B) checked against the ACTUAL join
    * cardinality for three fixture joins: the validation loop a
    * cost-based optimizer (and anyone debugging one) runs when a plan
    * goes sideways. The estimate itself is exact integer arithmetic
    * (BIGINT product, floor division); the error ratio actual/estimate
    * is the ONE IEEE division. NDVs are exact count_distinct here (the
    * audit is the ground-truth pass); the production profile variant
    * would use approx_count_distinct like `table_profile_approx`.
    *
    * Scale: per join, two key-aggregates + the real join count — the
    * audit costs what the join costs, which is the point: you run it on
    * a sampled slice in production and compare ratios, a practice this
    * query's fixed-fixture form makes testable.
    */
  def joinCardAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(a: DataFrame, ka: String, b: DataFrame, kb: String,
        label: String): DataFrame = {
      val sa = a.agg(count(lit(1)).as("n_a"),
        count_distinct(col(ka)).as("ndv_a"))
      val sb = b.agg(count(lit(1)).as("n_b"),
        count_distinct(col(kb)).as("ndv_b"))
      val actual = a.join(b, col(ka) === col(kb)).agg(
        count(lit(1)).as("actual_rows"))
      sa.crossJoin(sb).crossJoin(actual)
        .select(lit(label).as("join_pair"), col("n_a"), col("n_b"),
          col("ndv_a"), col("ndv_b"),
          expr("(n_a * n_b) DIV greatest(ndv_a, ndv_b)").as("est_rows"),
          col("actual_rows"),
          (col("actual_rows").cast("double")
            / expr("CAST((n_a * n_b) DIV greatest(ndv_a, ndv_b) AS DOUBLE)"))
            .as("err_ratio"))
    }
    audit(Tables.orders(spark, sfDir), "o_custkey",
        Tables.customer(spark, sfDir), "c_custkey", "orders-customer")
      .unionByName(audit(Tables.lineitem(spark, sfDir), "l_partkey",
        Tables.part(spark, sfDir), "p_partkey", "lineitem-part"))
      .unionByName(audit(Tables.lineitem(spark, sfDir), "l_orderkey",
        Tables.orders(spark, sfDir), "o_orderkey", "lineitem-orders"))
      .orderBy(col("join_pair"))
  }

  /** D+/privacy: t-CLOSENESS — the third member of the release-gate
    * triad ([[kAnonymityCustomers]], [[lDiversityCustomers]]): l-diversity
    * counts distinct sensitive values but misses SKEW — a class can hold
    * l values yet be dominated by one; t-closeness bounds the Earth
    * Mover's Distance between each class's sensitive-value distribution
    * and the global one. For the ORDERED balance-band attribute the EMD
    * has the closed cumulative form EMD = Σₖǀcum_c(k)/n_c − cum_g(k)/nǀ
    * / (m−1), which this query evaluates INTEGER-EXACTLY as
    * Σₖǀcum_c(k)·n − cum_g(k)·n_cǀ (exact BIGINT) with ONE IEEE division
    * by n_c·n·(m−1) at the output (COVERAGE.md class 2). The band is
    * shifted +100000 cents before the integral division so both engines
    * divide a nonnegative number — Spark's `DIV` truncates toward zero
    * while DuckDB's `//` floors, and the shift makes them agree.
    *
    * Scale: one (class × band) aggregate off the scan (map-side
    * partials), then everything runs on the ǀclassesǀ·ǀbandsǀ grid
    * (125 × ~11 here; QI-domain-bounded at any table size) — the
    * class-partitioned cumulative window never sees raw rows.
    */
  def tClosenessCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).select(
      col("c_mktsegment"),
      col("c_nationkey").cast("long").as("c_nationkey"),
      expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) DIV 100000")
        .as("band"))
    val classBand = cust
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("band"))
      .agg(count(lit(1)).as("cnt"))
    val classes = classBand.groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(sum(col("cnt")).as("n_c"))
    val globalBand = classBand.groupBy(col("band"))
      .agg(sum(col("cnt")).as("gcnt"))
    val totals = globalBand.agg(
      sum(col("gcnt")).as("n"), count(lit(1)).as("m"))
    // class × band grid so zero-count bands still contribute to the CDF
    val grid = classes.crossJoin(broadcast(globalBand))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"), col("c_nationkey")).orderBy(col("band"))
    grid
      .join(classBand, Seq("c_mktsegment", "c_nationkey", "band"), "left_outer")
      .select(col("c_mktsegment"), col("c_nationkey"), col("n_c"), col("band"),
        col("gcnt"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("ccum", sum(col("cnt")).over(w))
      .withColumn("gcum", sum(col("gcnt")).over(w))
      .crossJoin(broadcast(totals))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(
        max(col("n_c")).as("n_c"), max(col("n")).as("n"), max(col("m")).as("m"),
        sum(abs(col("ccum") * col("n") - col("gcum") * col("n_c")))
          .as("emd_num"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("n_c"), col("n"),
        col("m"), col("emd_num"),
        (col("emd_num").cast("double")
          / (col("n_c") * col("n") * (col("m") - 1)).cast("double"))
          .as("t_dist"))
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  /** D+/privacy: DISTINCT l-DIVERSITY GATE — the companion check to
    * [[kAnonymityCustomers]]: k-anonymity bounds re-identification but a
    * class can still leak if everyone in it SHARES the sensitive value;
    * distinct l-diversity requires ≥ l distinct sensitive values per
    * quasi-identifier class. Quasi-identifiers = (segment, nation);
    * sensitive attribute = the account-balance band, derived
    * integer-exactly (cents DIV 100 000 — never a float bucket boundary).
    * Per segment: class count, classes below l = 3, rows in those classes,
    * and the worst class's diversity. Shape: two map-side-combined
    * aggregations, |classes| groups — the release gate runs at scan cost
    * whatever the table size.
    */
  def lDiversityCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val l = 3L
    Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) DIV 100000").as("bal_band"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count_distinct(col("bal_band")).as("ldiv"), count(lit(1)).as("n"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("ldiv") < l, 1L).otherwise(0L)).as("n_below_l"),
        sum(when(col("ldiv") < l, col("n")).otherwise(lit(0L))).as("n_rows_at_risk"),
        min(col("ldiv")).as("min_diversity"))
      .orderBy(col("c_mktsegment"))
  }

  /** D+/profiling: TABLE PROFILE — per-column (non-null count, exact NDV,
    * min, max) for lineitem, the dataset-profiling report every platform
    * materializes before planning layouts and join strategies. ONE scan:
    * all 8 columns' stats compute in a single aggregate (exact multi-
    * distinct plans as one Expand ×ǀcolsǀ pass — the documented cost of
    * exact NDV; swap to approx_count_distinct per column when 2% error is
    * acceptable at extreme scale), then `stack` pivots the 1×40 row into
    * the 8×5 report. Engine-stable value protocol: doubles surface as
    * integer cents, timestamps as formatted strings — no raw double→string
    * casts (shortest-roundtrip formatting is an engine-version surface).
    */
  def tableProfileLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    type C = org.apache.spark.sql.Column
    val asIs: C => C = _.cast("string")
    val asCents: C => C = c => floor(c * 100 + lit(0.5)).cast("long").cast("string")
    val asTs: C => C = c => date_format(c, "yyyy-MM-dd HH:mm:ss")
    // (name, render) — aggregation runs on the ORIGINAL column (numeric /
    // temporal order); the monotone renderer applies AFTER min/max, so
    // ordering is never lexical on digits
    // (name, min/max input, render): min/max run on a FIXED-WIDTH column —
    // the string flag through its order-isomorphic ascii() surrogate
    // (single-char domain), rendered back with char() after aggregation.
    // A string min/max would put a varlen field in the aggregation buffer,
    // which HashAggregateExec cannot hold — Spark silently degrades the
    // ENTIRE multi-distinct aggregate to SortAggregate, i.e. two full
    // sorts of the 9×-expanded fact (measured 18.4 s → 7 s at sf0.1; at
    // 100 TB the sort, not the scan, would dominate). Varlen GROUPING
    // keys (the ndv path) are fine — only the buffer must be fixed-width.
    val cols: Seq[(String, C, C => C)] = Seq(
      ("l_orderkey", col("l_orderkey"), asIs),
      ("l_partkey", col("l_partkey"), asIs),
      ("l_suppkey", col("l_suppkey"), asIs),
      ("l_quantity", col("l_quantity"), asCents),
      ("l_extendedprice", col("l_extendedprice"), asCents),
      ("l_discount", col("l_discount"), asCents),
      ("l_returnflag", ascii(col("l_returnflag")), c => call_function("char", c)),
      ("l_shipdate", col("l_shipdate"), asTs))
    val aggs = cols.flatMap { case (n, mmIn, render) =>
      Seq(
        count(col(n)).as(s"${n}_cnt"),
        count_distinct(col(n)).as(s"${n}_ndv"),
        render(min(mmIn)).as(s"${n}_min"),
        render(max(mmIn)).as(s"${n}_max"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols.map { case (n, _, _) =>
      s"'$n', ${n}_cnt, ${n}_ndv, ${n}_min, ${n}_max"
    }.mkString(s"stack(${cols.size}, ", ", ", ")")
    one.selectExpr(s"$stackExpr AS (column_name, n_nonnull, ndv, min_val, max_val)")
      .orderBy(col("column_name"))
  }

  /** D+/profiling: APPROX TABLE PROFILE — the 100 TB form of
    * [[tableProfileLineitem]]: identical report shape but NDV via
    * HyperLogLog++ (approx_count_distinct, rsd 2%). The exact variant's
    * multi-distinct plans as one Expand × 9 pass over the fact (its
    * measured 3.7 s at sf0.1 is 9× the scan by construction and stays 9×
    * at any scale); HLL sketches fold map-side into a fixed 2.5 KB buffer
    * per column, so this one aggregates at plain scan cost — profiling
    * tolerates 2% NDV error everywhere it is used (layout planning, join
    * sizing). Declared rows-only: HLL estimates are engine-specific, so
    * no cross-engine oracle can hash-match (the exact twin stays the
    * oracled correctness anchor).
    */
  def tableProfileApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    type C = org.apache.spark.sql.Column
    val asIs: C => C = _.cast("string")
    val asCents: C => C = c => floor(c * 100 + lit(0.5)).cast("long").cast("string")
    val asTs: C => C = c => date_format(c, "yyyy-MM-dd HH:mm:ss")
    val cols: Seq[(String, C, C => C)] = Seq(
      ("l_orderkey", col("l_orderkey"), asIs),
      ("l_partkey", col("l_partkey"), asIs),
      ("l_suppkey", col("l_suppkey"), asIs),
      ("l_quantity", col("l_quantity"), asCents),
      ("l_extendedprice", col("l_extendedprice"), asCents),
      ("l_discount", col("l_discount"), asCents),
      ("l_returnflag", ascii(col("l_returnflag")), c => call_function("char", c)),
      ("l_shipdate", col("l_shipdate"), asTs))
    val aggs = cols.flatMap { case (n, mmIn, render) =>
      Seq(
        count(col(n)).as(s"${n}_cnt"),
        approx_count_distinct(col(n), 0.02).as(s"${n}_ndv"),
        render(min(mmIn)).as(s"${n}_min"),
        render(max(mmIn)).as(s"${n}_max"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols.map { case (n, _, _) =>
      s"'$n', ${n}_cnt, ${n}_ndv, ${n}_min, ${n}_max"
    }.mkString(s"stack(${cols.size}, ", ", ", ")")
    one.selectExpr(s"$stackExpr AS (column_name, n_nonnull, ndv_approx, min_val, max_val)")
      .orderBy(col("column_name"))
  }

  /** C+B: TPC-H Q19 shape — disjunction of brand/size/quantity bands over
    * the part join. The classic Q19 rewrite is applied by hand because
    * Catalyst does not factor common conjuncts out of a disjunction: each
    * disjunct pins one brand and a quantity band, so the implied
    * `p_brand IN (…)` is pushed to the part scan and the implied
    * `l_quantity <= 40` to the lineitem scan — both become parquet
    * row-group filters — while the full 3-way disjunction stays as the
    * post-join residual. At 100 TB this is the difference between joining
    * 3/25ths of part and joining all of it.
    */
  def q19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val brands = Seq("Brand#3", "Brand#7", "Brand#12")
    val pt = Tables.part(spark, sfDir).filter(col("p_brand").isin(brands: _*))
    val li = Tables.lineitem(spark, sfDir).filter(col("l_quantity") <= 40)
    val disjunction =
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#7" && col("p_size").between(5, 25) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#12" && col("p_size").between(10, 40) &&
        col("l_quantity").between(20, 40))
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .filter(disjunction)
      .agg(
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }
}
