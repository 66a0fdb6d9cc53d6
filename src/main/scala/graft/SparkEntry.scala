package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.streaming.StreamingEntry

/** The declared queries (SURVEY.md §7).
  *
  * [[queries]] is the one registry of declared keys, one operator from
  * SURVEY.md §2.2 each. Every [[Query]] holds the DataFrame builder and how
  * its output is checked: an [[Oracle]] with the equivalent ANSI SQL that
  * DuckDB runs on the same parquet tables, or a [[NoOracle]] with the
  * reason there is none. Column names and types are aligned on both
  * sides per the §7.4 determinism protocol.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** How a key's output is checked. */
  sealed trait Check

  /** DuckDB SQL computing the same rows from the same parquet tables.
    *
    * Output-type protocol (binding; full text in COVERAGE.md header):
    * every integer aggregate reaching an output list is wrapped
    * CAST(... AS BIGINT) on both engines — DuckDB types a bare integer
    * sum() HUGEINT, which hash-mismatches Spark's BIGINT at the driver
    * even when every value is equal (r8 DECIMAL / r10 HUGEINT
    * incidents). tools/local_check.py rejects violations by comparing
    * oracle column types against the Spark parquet footer.
    */
  final case class Oracle(sql: String) extends Check

  /** No SQL oracle, for the `reason` given; Verify output for the key is
    * checked for rows only.
    */
  final case class NoOracle(reason: String) extends Check

  /** A key's DataFrame builder, called with the session and the fixture
    * directory, and how its output is checked.
    */
  final case class Query(build: (SparkSession, String) => DataFrame, check: Check)

  /** `entries` as a map. A key repeated in a `Map(...)` literal silently
    * drops an entry; here it fails at startup.
    */
  private[graft] def registry(entries: (String, Query)*): Map[String, Query] = {
    val repeated = entries.groupBy(_._1).collect { case (k, es) if es.size > 1 => k }
    require(repeated.isEmpty, s"repeated query keys: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  /** The entries of [[queries]] named in `names` (all of them when `names`
    * is empty), in [[queries]] order. Throws IllegalArgumentException
    * listing every name that is not a key.
    */
  def select(names: Set[String]): Seq[(String, Query)] = {
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    queries.toSeq.filter { case (k, _) => names.isEmpty || names(k) }
  }

  /** DuckDB-dialect 16-char sign signature of embedding dims
    * [off+1, off+16] — the oracle twin of VectorOps.signSig.
    */
  private def duckSig(off: Int): String =
    (1 to 16).map(j => s"(CASE WHEN embedding[${off + j}] > 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  // Oracle texts shared by several keys; declared before `queries`, which
  // reads them when the object initializes.

  /** The oracle of q1_pricing_summary, sql_interface_q1. */
  private val q1PricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
      |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
      |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
      |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty_cents,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price_cents,
      |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc_cents,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** The oracle of join_nation_revenue, ivm_join_view. */
  private val joinNationRevenueSql =
    """SELECT n_name,
      |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** The oracle of zorder_events_box, hilbert_events_box. */
  private val eventsBoxSql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
      |s AS (SELECT min(user_id) AS umin, max(user_id) - min(user_id) + 1 AS uspan,
      |    min(ts_us) AS tmn, max(ts_us) - min(ts_us) + 1 AS tspan FROM e)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(min(event_id) AS BIGINT) AS min_eid,
      |  CAST(max(event_id) AS BIGINT) AS max_eid
      |FROM e, s
      |WHERE user_id >= umin + uspan // 4 AND user_id < umin + uspan // 2
      |  AND ts_us >= tmn + tspan // 4 AND ts_us < tmn + tspan // 2""".stripMargin

  /** The oracle of jsonl_roundtrip_events, xml_roundtrip_events, csv_roundtrip_events, orc_roundtrip_events. */
  private val eventsRoundtripSql =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(min(event_id) AS BIGINT) AS min_event,
      |  CAST(max(event_id) AS BIGINT) AS max_event
      |FROM e
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** The oracle of calendar_months, recursive_month_spine. */
  private val monthSpineSql =
    """WITH pm AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1),
      |spine AS (SELECT strftime(m, '%Y-%m') AS ym FROM (
      |  SELECT unnest(generate_series(
      |      date_trunc('month', CAST(min(o_orderdate) AS DATE)),
      |      date_trunc('month', CAST(max(o_orderdate) AS DATE)),
      |      INTERVAL 1 MONTH)) AS m
      |  FROM orders))
      |SELECT spine.ym, coalesce(pm.n_orders, 0) AS n_orders
      |FROM spine LEFT JOIN pm ON spine.ym = pm.ym
      |ORDER BY spine.ym""".stripMargin

  /** The oracle of stream_tumbling_events, stream_file_source_events. */
  private val hourlyTumblingSql =
    """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000)
      |SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS ws_us, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM e
      |GROUP BY 1, 2
      |ORDER BY ws_us, event_type""".stripMargin

  /** The oracle of stream_append_finalized, stream_file_sink_events. */
  private val finalizedHourlySql =
    """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
      |m AS (SELECT max(ts) AS mx FROM e),
      |a AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wb, event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM e GROUP BY 1, 2)
      |SELECT epoch_us(wb) AS ws_us, event_type, n, sum_cents
      |FROM a, m
      |WHERE wb + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
      |ORDER BY ws_us, event_type""".stripMargin

  /** The oracle of cos_topk, stream_ann_topk. */
  private val cosTop5Sql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 50),
      |t AS (SELECT vec_id AS t_id, CAST(embedding AS DOUBLE[]) AS t_emb FROM embeddings),
      |s AS (SELECT q_id, t_id, round(list_dot_product(q_emb, t_emb), 6) AS sim
      |  FROM t CROSS JOIN q WHERE t_id <> q_id),
      |r AS (SELECT q_id, t_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, t_id) AS rnk FROM s)
      |SELECT q_id, CAST(rnk AS BIGINT) AS "rank", t_id, sim
      |FROM r WHERE rnk <= 5
      |ORDER BY q_id, "rank"""".stripMargin

  /** The oracle of dedup_incremental, dedup_bloom_prune. */
  private val incrementalDedupSql =
    """WITH inc AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 4),
      |ex AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 4),
      |surv AS (SELECT doc_id, fp FROM inc WHERE fp NOT IN (SELECT fp FROM ex))
      |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
      |FROM surv
      |GROUP BY fp
      |ORDER BY doc_id""".stripMargin

  /** The oracle of from_json_props, variant_props. */
  private val jsonPropsKSql =
    """SELECT event_type,
      |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
      |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Every declared key, with its builder and its check. */
  val queries: Map[String, Query] = registry(
    "scan_project_filter" -> Query(Relational.scanProjectFilter _, Oracle(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),

    "q1_pricing_summary" -> Query(Relational.q1PricingSummary _, Oracle(q1PricingSummarySql)),
    "sql_interface_q1" -> Query(Relational.sqlInterfaceQ1 _, Oracle(q1PricingSummarySql)),
    "join_nation_revenue" -> Query(Relational.joinNationRevenue _, Oracle(joinNationRevenueSql)),

    "q3_top_orders" -> Query(Relational.q3TopOrders _, Oracle(
      """WITH g AS (
        |  SELECT l_orderkey, o_orderdate AS od, o_orderpriority,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_orderkey, od, o_orderpriority)
        |SELECT l_orderkey, strftime(od, '%Y-%m-%d') AS o_orderdate, o_orderpriority, revenue_cents
        |FROM g
        |ORDER BY revenue_cents DESC, l_orderkey
        |LIMIT 10""".stripMargin)),

    "q5_local_supplier" -> Query(Relational.q5LocalSupplier _, Oracle(
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue_cents DESC, n_name""".stripMargin)),

    "k_anonymity_customers" -> Query(Relational.kAnonymityCustomers _, Oracle(
      """WITH cls AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_k,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(min(n) AS BIGINT) AS min_class_size
        |FROM cls GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    "l_diversity_customers" -> Query(Relational.lDiversityCustomers _, Oracle(
      """WITH cls AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CAST(count(DISTINCT CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) // 100000)
        |      AS BIGINT) AS ldiv,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN ldiv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_l,
        |  CAST(sum(CASE WHEN ldiv < 3 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(min(ldiv) AS BIGINT) AS min_diversity
        |FROM cls GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    "table_profile_lineitem" -> Query(Relational.tableProfileLineitem _, Oracle(
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS column_name, CAST(count(l_orderkey) AS BIGINT) AS n_nonnull,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv,
        |    CAST(min(l_orderkey) AS VARCHAR) AS min_val, CAST(max(l_orderkey) AS VARCHAR) AS max_val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', CAST(count(l_partkey) AS BIGINT), CAST(count(DISTINCT l_partkey) AS BIGINT),
        |    CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', CAST(count(l_suppkey) AS BIGINT), CAST(count(DISTINCT l_suppkey) AS BIGINT),
        |    CAST(min(l_suppkey) AS VARCHAR), CAST(max(l_suppkey) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', CAST(count(l_quantity) AS BIGINT), CAST(count(DISTINCT l_quantity) AS BIGINT),
        |    CAST(CAST(floor(min(l_quantity) * 100 + 0.5) AS BIGINT) AS VARCHAR),
        |    CAST(CAST(floor(max(l_quantity) * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(count(l_extendedprice) AS BIGINT), CAST(count(DISTINCT l_extendedprice) AS BIGINT),
        |    CAST(CAST(floor(min(l_extendedprice) * 100 + 0.5) AS BIGINT) AS VARCHAR),
        |    CAST(CAST(floor(max(l_extendedprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', CAST(count(l_discount) AS BIGINT), CAST(count(DISTINCT l_discount) AS BIGINT),
        |    CAST(CAST(floor(min(l_discount) * 100 + 0.5) AS BIGINT) AS VARCHAR),
        |    CAST(CAST(floor(max(l_discount) * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', CAST(count(l_returnflag) AS BIGINT), CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |    min(l_returnflag), max(l_returnflag) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', CAST(count(l_shipdate) AS BIGINT), CAST(count(DISTINCT l_shipdate) AS BIGINT),
        |    strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') FROM lineitem)
        |ORDER BY column_name""".stripMargin)),

    "source_overlap_matrix" -> Query(TextOps.sourceOverlapMatrix _, Oracle(
      """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |shl AS (SELECT DISTINCT source, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle))
        |SELECT a.source AS source1, b.source AS source2,
        |  CAST(count(*) AS BIGINT) AS n_shared_shingles
        |FROM shl a JOIN shl b ON a.shingle = b.shingle AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY source1, source2""".stripMargin)),

    "doc_hop_distance" -> Query(GraphOps.docHopDistance _, Oracle(
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, CAST(n_chars % (SELECT n FROM nn) AS BIGINT) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST((n_chars * 31 + doc_id) % (SELECT n FROM nn) AS BIGINT) FROM documents),
        |und AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
        |walk AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
        |  UNION
        |  SELECT und.dst, walk.depth + 1
        |  FROM walk JOIN und ON und.src = walk.node
        |  WHERE walk.depth < 6)
        |SELECT node, CAST(min(depth) AS BIGINT) AS depth
        |FROM walk GROUP BY node
        |ORDER BY node""".stripMargin)),

    "stream_ewma_user" -> Query(StreamingEntry.streamEwmaUser _, Oracle(
      """WITH RECURSIVE sl AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |e AS (
        |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM sl),
        |r AS (
        |  SELECT user_id, rn, cents AS s FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, r.s + CAST(floor((e.cents - r.s) / 4.0) AS BIGINT)
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id,
        |  CAST(max(rn) AS BIGINT) AS n_events,
        |  CAST(arg_max(s, rn) AS BIGINT) AS ewma_cents
        |FROM r GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    "q14_promo_share" -> Query(Relational.q14PromoShare _, Oracle(
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS promo_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)),

    "ewma_user_value" -> Query(EventOps.ewmaUserValue _, Oracle(
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, rn, cents AS s FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, r.s + CAST(floor((e.cents - r.s) / 4.0) AS BIGINT)
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id,
        |  CAST(max(rn) AS BIGINT) AS n_events,
        |  CAST(arg_max(s, rn) AS BIGINT) AS ewma_cents
        |FROM r GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    "drift_tv_distance" -> Query(EventOps.driftTvDistance _, Oracle(
      """WITH counts AS (
        |  SELECT CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS week,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |totals AS (SELECT week, sum(n) AS total FROM counts GROUP BY week),
        |types AS (SELECT DISTINCT event_type FROM counts),
        |wk AS (SELECT t.week, ty.event_type, coalesce(c.n, 0) AS n, t.total
        |  FROM totals t CROSS JOIN types ty
        |  LEFT JOIN counts c ON c.week = t.week AND c.event_type = ty.event_type),
        |j AS (SELECT w.week, w.total, p.total AS total_prev,
        |    sum(abs(p.n * w.total - w.n * p.total)) AS num
        |  FROM wk w JOIN wk p ON p.week = w.week - 1 AND p.event_type = w.event_type
        |  GROUP BY 1, 2, 3)
        |SELECT week,
        |  CAST(num AS DOUBLE) / (2 * CAST(total AS DOUBLE) * CAST(total_prev AS DOUBLE)) AS tv_vs_prev,
        |  CAST(total AS BIGINT) AS n_events
        |FROM j ORDER BY week""".stripMargin)),

    "image_color_near_dup" -> Query(MultimodalOps.imageColorNearDup _, Oracle(
      """WITH img AS (SELECT doc_id, CAST((doc_id * 7) % 256 AS BIGINT) AS r_int,
        |    CAST(floor(((doc_id * 7) % 256) / 8) AS BIGINT) AS bucket
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.r_int AS r1, b.r_int AS r2,
        |  a.r_int - b.r_int AS dr
        |FROM img a JOIN img b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  AND abs(a.r_int - b.r_int) <= 4
        |ORDER BY doc1, doc2""".stripMargin)),

    // aHash near-dup: the oracle re-derives every PIXEL of the fixture
    // images from the md5 closed form (the engine round-trips the same
    // pixels through real PNG encode/decode) and runs the same 4×16-bit
    // band LSH + hamming ≤ 8 verification.
    "image_ahash_near_dup" -> Query(MultimodalOps.imageAhashNearDup _, Oracle(
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_img
        |           FROM documents WHERE doc_id % 3 = 0),
        |img AS (SELECT doc_id,
        |    doc_id % greatest(n_img // 8, 1) AS g,
        |    (doc_id * 2654435761) % 64 AS p
        |  FROM documents, n WHERE doc_id % 3 = 0),
        |gs AS (SELECT DISTINCT g FROM img),
        |px AS (SELECT g, x, y,
        |    ('0x' || substring(md5('px:' || g || ':' || x || ':' || y), 1, 8))::BIGINT % 128 AS v
        |  FROM gs, range(16) tx(x), range(16) ty(y)),
        |bs AS (SELECT g, (y // 2) * 8 + (x // 2) AS k, CAST(sum(v) AS BIGINT) AS s
        |       FROM px GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(s) AS BIGINT) AS total FROM bs GROUP BY 1),
        |bits AS (SELECT img.doc_id, bs.k,
        |    CASE WHEN 64 * (bs.s + CASE WHEN bs.k = img.p THEN 384 ELSE 0 END)
        |              > tot.total + 384 THEN 1 ELSE 0 END AS bit
        |  FROM img JOIN bs USING (g) JOIN tot USING (g)),
        |bands AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN k < 16 THEN bit * (1 << k) ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(sum(CASE WHEN k >= 16 AND k < 32 THEN bit * (1 << (k - 16)) ELSE 0 END)
        |      AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN k >= 32 AND k < 48 THEN bit * (1 << (k - 32)) ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN k >= 48 THEN bit * (1 << (k - 48)) ELSE 0 END) AS BIGINT) AS b3
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
        |       bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
        |FROM bands a JOIN bands b ON a.doc_id < b.doc_id
        |  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
        |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
        |      bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 8
        |ORDER BY doc1, doc2""".stripMargin)),

    "q4_priority_exists" -> Query(Relational.q4PriorityExists _, Oracle(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 80 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    "q6_forecast_revenue" -> Query(Relational.q6ForecastRevenue _, Oracle(
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),

    "q7_volume_shipping" -> Query(Relational.q7VolumeShipping _, Oracle(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    "q10_returned_items" -> Query(Relational.q10ReturnedItems _, Oracle(
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_cents DESC, c_custkey
        |LIMIT 20""".stripMargin)),

    "q18_large_orders" -> Query(Relational.q18LargeOrders _, Oracle(
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 18000)
        |SELECT c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents,
        |  sum_qty_cents
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty_cents DESC, o_orderkey
        |LIMIT 100""".stripMargin)),

    "q19_disjunctive" -> Query(Relational.q19Disjunctive _, Oracle(
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    "q15_top_supplier" -> Query(Relational.q15TopSupplier _, Oracle(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, revenue_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H completion set: every oracle re-derives partsupp with the SAME
    // integer-arithmetic CTE the engine uses (TpchOps.partsupp), so the
    // derivation itself sits under the cross-engine hash.
    "q2_min_cost_supplier" -> Query(TpchOps.q2MinCostSupplier _, Oracle(
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST((l_partkey * 7 + l_suppkey * 3) % 90000 + 100 AS BIGINT) AS ps_supplycost_cents,
        |         CAST((l_partkey * 31 + l_suppkey * 17) % 100 + 1 AS BIGINT) AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
        |SELECT CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS s_acctbal_cents,
        |       s_name, n_name, p_partkey, ps.ps_supplycost_cents
        |FROM partsupp ps
        |JOIN supplier ON ps.ps_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |JOIN part ON ps.ps_partkey = p_partkey AND p_size = 15
        |WHERE ps.ps_supplycost_cents = (
        |  SELECT min(ps2.ps_supplycost_cents)
        |  FROM partsupp ps2
        |  JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
        |  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE'
        |  WHERE ps2.ps_partkey = ps.ps_partkey)
        |ORDER BY s_acctbal_cents DESC, s_name, p_partkey
        |LIMIT 100""".stripMargin)),

    "q8_market_share" -> Query(TpchOps.q8MarketShare _, Oracle(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN sn.n_name = 'NATION_7' THEN vol_cents ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(vol_cents) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT l_suppkey, o_orderdate, o_custkey,
        |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS vol_cents
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') v
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    "q9_product_profit" -> Query(TpchOps.q9ProductProfit _, Oracle(
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST((l_partkey * 7 + l_suppkey * 3) % 90000 + 100 AS BIGINT) AS ps_supplycost_cents,
        |         CAST((l_partkey * 31 + l_suppkey * 17) % 100 + 1 AS BIGINT) AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
        |SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
        |      - ps_supplycost_cents * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY n_name, 2 ORDER BY n_name, o_year DESC""".stripMargin)),

    "q11_important_stock" -> Query(TpchOps.q11ImportantStock _, Oracle(
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST((l_partkey * 7 + l_suppkey * 3) % 90000 + 100 AS BIGINT) AS ps_supplycost_cents,
        |         CAST((l_partkey * 31 + l_suppkey * 17) % 100 + 1 AS BIGINT) AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)),
        |pp AS (
        |  SELECT ps_partkey, CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
        |  FROM partsupp
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_9'
        |  GROUP BY ps_partkey)
        |SELECT ps_partkey, value_cents
        |FROM pp
        |WHERE value_cents * 1000 > (SELECT sum(value_cents) FROM pp)
        |ORDER BY value_cents DESC, ps_partkey""".stripMargin)),

    "q12_late_priority" -> Query(TpchOps.q12LatePriority _, Oracle(
      """SELECT
        |  CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    "q13_customer_distribution" -> Query(TpchOps.q13CustomerDistribution _, Oracle(
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey) co
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    "q16_supplier_counts" -> Query(TpchOps.q16SupplierCounts _, Oracle(
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST((l_partkey * 7 + l_suppkey * 3) % 90000 + 100 AS BIGINT) AS ps_supplycost_cents,
        |         CAST((l_partkey * 31 + l_suppkey * 17) % 100 + 1 AS BIGINT) AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
        |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM partsupp
        |JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    "q17_small_qty_revenue" -> Query(TpchOps.q17SmallQtyRevenue _, Oracle(
      """WITH pq AS (
        |  SELECT l_partkey AS a_partkey,
        |         sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |         CAST(count(*) AS BIGINT) AS n_li
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 7.0
        |         AS avg_yearly_cents,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3' AND p_type = 'SMALL'
        |JOIN pq ON a_partkey = l_partkey
        |WHERE CAST(l_quantity AS BIGINT) * 5 * n_li < sum_qty""".stripMargin)),

    "q20_excess_suppliers" -> Query(TpchOps.q20ExcessSuppliers _, Oracle(
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST((l_partkey * 7 + l_suppkey * 3) % 90000 + 100 AS BIGINT) AS ps_supplycost_cents,
        |         CAST((l_partkey * 31 + l_suppkey * 17) % 100 + 1 AS BIGINT) AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)),
        |shipped AS (
        |  SELECT l_partkey AS sh_partkey, l_suppkey AS sh_suppkey,
        |         sum(CAST(l_quantity AS BIGINT)) AS sh_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT s_name, s_suppkey
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_9'
        |WHERE s_suppkey IN (
        |  SELECT ps_suppkey FROM partsupp
        |  JOIN part ON p_partkey = ps_partkey AND p_name LIKE 'small%'
        |  JOIN shipped ON sh_partkey = ps_partkey AND sh_suppkey = ps_suppkey
        |  WHERE ps_availqty * 2 > sh_qty)
        |ORDER BY s_name, s_suppkey""".stripMargin)),

    "q21_waiting_supplier" -> Query(TpchOps.q21WaitingSupplier _, Oracle(
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F')
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lo l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_9'
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM lo l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lo l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    "q22_dormant_customers" -> Query(TpchOps.q22DormantCustomers _, Oracle(
      """SELECT CAST(c_nationkey AS BIGINT) AS cntry, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS totacctbal_cents
        |FROM customer
        |WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) > (
        |    SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-08-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    "ivm_join_view" -> Query(Relational.ivmJoinView _, Oracle(joinNationRevenueSql)),

    "semi_anti_customers" -> Query(Relational.semiAntiCustomers _, Oracle(
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without""".stripMargin)),

    "partitioned_events_purchases" -> Query(EventOps.partitionedEventsPurchases _, Oracle(
      """SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // DPP changes partitions OPENED, never answers: the oracle inlines the
    // dim's category rule over the raw table.
    "dpp_events_join" -> Query(EventOps.dppEventsJoin _, Oracle(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE event_type IN ('signup', 'purchase')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    "funnel_conversion" -> Query(EventOps.funnelConversion _, Oracle(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s AS (SELECT user_id, min(ts_us) AS s_ts FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |v AS (SELECT e.user_id, min(e.ts_us) AS v_ts FROM e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view' AND e.ts_us > s.s_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts_us) AS p_ts FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > v.v_ts GROUP BY e.user_id)
        |SELECT '1_signup' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s
        |UNION ALL SELECT '2_view_after_signup', CAST(count(*) AS BIGINT) FROM v
        |UNION ALL SELECT '3_purchase_after_view', CAST(count(*) AS BIGINT) FROM p
        |ORDER BY step""".stripMargin)),

    // The split plan is definitionally equal to the plain left join —
    // the oracle IS the plain left join.
    "null_skew_join" -> Query(EventOps.nullSkewJoin _, Oracle(
      """WITH e AS (SELECT CASE WHEN event_type = 'error' THEN NULL ELSE user_id END AS k,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events)
        |SELECT CAST(COALESCE(c_nationkey, -1) AS BIGINT) AS nationkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sum_cents
        |FROM e LEFT JOIN customer ON e.k = customer.c_custkey
        |GROUP BY 1
        |ORDER BY nationkey""".stripMargin)),

    "stable_row_ids" -> Query(Relational.stableRowIds _, Oracle(
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS row_id
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // Ties at a bucket boundary carry equal l_quantity, so the per-bucket
    // aggregate is invariant to which side the engines put them on.
    "equi_depth_buckets" -> Query(Relational.equiDepthBuckets _, Oracle(
      """WITH r AS (SELECT l_quantity,
        |    ntile(4) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber) AS b
        |  FROM lineitem)
        |SELECT CAST(b AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM r GROUP BY 1
        |ORDER BY bucket""".stripMargin)),

    // Same whitespace tokenization as text_tokens; DF band [2, 80% of
    // docs] on both sides; pairs are ordered (t1 < t2) over per-doc
    // DISTINCT tokens.
    "token_cooccurrence" -> Query(TextOps.tokenCooccurrence _, Oracle(
      """WITH tk0 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |tk AS (SELECT DISTINCT doc_id, tok FROM tk0 WHERE length(tok) > 0),
        |df AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
        |kept AS (SELECT t.doc_id, t.tok FROM tk t JOIN df USING (tok)
        |  WHERE df.df >= 2
        |    AND df.df <= floor(0.8 * (SELECT count(*) FROM documents))),
        |p AS (SELECT a.tok AS t1, b.tok AS t2
        |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok)
        |SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, t1, t2
        |LIMIT 100""".stripMargin)),

    "fact_scd2_join" -> Query(EventOps.factScd2Join _, Oracle(
      """WITH x AS (SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us, event_id FROM events),
        |c AS (SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM x),
        |iv AS (SELECT user_id AS i_user, state, ts_us AS valid_from_us,
        |    COALESCE(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), -1) AS valid_to_us
        |  FROM c WHERE prev IS NULL OR prev <> state)
        |SELECT iv.state, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT x.user_id) AS BIGINT) AS n_users
        |FROM x JOIN iv ON x.user_id = iv.i_user
        |  AND x.ts_us >= iv.valid_from_us
        |  AND (iv.valid_to_us = -1 OR x.ts_us < iv.valid_to_us)
        |GROUP BY iv.state
        |ORDER BY iv.state""".stripMargin)),

    // Gram HASH on the engine side vs gram TEXT here: same counts modulo
    // 64-bit collisions (the contamination_check convention).
    "dup_span_fraction" -> Query(TextOps.dupSpanFraction _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
        |    i -> array_to_string(t[i : i + 7], ' '))) AS gram FROM tok),
        |dup AS (SELECT gram FROM (
        |  SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram) WHERE df >= 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_fraction
        |FROM g LEFT JOIN dup d ON g.gram = d.gram
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    "dq_constraint_report" -> Query(Relational.dqConstraintReport _, Oracle(
      """SELECT 'discount_policy_le_007' AS check_name,
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_checked,
        |  CAST((SELECT count(*) FROM lineitem WHERE l_discount > 0.07) AS BIGINT) AS n_violations
        |UNION ALL SELECT 'events_user_fk_customer',
        |  (SELECT count(*) FROM events),
        |  (SELECT count(*) FROM events e WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        |UNION ALL SELECT 'lineitem_fk_orders',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |UNION ALL SELECT 'orders_has_lineitems',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        |UNION ALL SELECT 'ship_on_or_after_order',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE l.l_shipdate < o.o_orderdate)
        |ORDER BY check_name""".stripMargin)),

    // RANGE frame on the integer day — calendar gaps handled exactly.
    "rolling_user_features" -> Query(EventOps.rollingUserFeatures _, Oracle(
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n_day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_day
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, n_day, cents_day,
        |  CAST(sum(n_day) OVER (PARTITION BY user_id ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d,
        |  CAST(sum(cents_day) OVER (PARTITION BY user_id ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_7d
        |FROM d
        |ORDER BY user_id, day""".stripMargin)),

    // The binned plan is provably the plain band join — the oracle IS the
    // plain band (theta) join.
    // Week-over-week p50/p90 drift per type: exact interpolated
    // percentiles over cents (quantile_cont ≡ percentile), deltas one
    // IEEE subtraction each.
    "quantile_drift_weekly" -> Query(EventOps.quantileDriftWeekly _, Oracle(
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |         epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM e),
        |wk AS (
        |  SELECT event_type, (d - (SELECT d0 FROM d0)) // 7 AS week,
        |         quantile_cont(c, 0.5) AS p50, quantile_cont(c, 0.9) AS p90
        |  FROM e WHERE (d - (SELECT d0 FROM d0)) // 7 < 4
        |  GROUP BY 1, 2)
        |SELECT a.event_type, a.week, a.p50, a.p50 - b.p50 AS d_p50,
        |       a.p90, a.p90 - b.p90 AS d_p90
        |FROM wk a JOIN wk b
        |  ON a.event_type = b.event_type AND a.week = b.week + 1
        |ORDER BY a.event_type, a.week""".stripMargin)),

    // Out-of-fold target encoding: complement identity (S_cat − S_fold) /
    // (N_cat − N_fold) — one aggregate + window, one class-2 division.
    "target_encode_oof" -> Query(EventOps.targetEncodeOof _, Oracle(
      """WITH per AS (
        |  SELECT event_type, event_id % 5 AS fold,
        |    CAST(count(*) AS BIGINT) AS n_fold,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s_fold
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(fold AS BIGINT) AS fold, n_fold, s_fold,
        |  CASE WHEN CAST(sum(n_fold) OVER (PARTITION BY event_type) AS BIGINT) - n_fold <> 0
        |    THEN CAST(CAST(sum(s_fold) OVER (PARTITION BY event_type) AS BIGINT) - s_fold
        |           AS DOUBLE)
        |       / CAST(CAST(sum(n_fold) OVER (PARTITION BY event_type) AS BIGINT) - n_fold
        |           AS DOUBLE) END AS enc_cents
        |FROM per
        |ORDER BY event_type, fold""".stripMargin)),

    // Poisson bootstrap: md5-derived integer inverse-CDF weights against
    // precomputed thresholds (no exp() at query time); replica means are
    // class-2 divisions; CI percentiles round(·,6) on both sides.
    "bootstrap_ci_daily" -> Query(EventOps.bootstrapCiDaily _, Oracle(
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |ex AS (SELECT event_type, d, x, b,
        |    ('0x' || substring(md5('bs:' || event_type || ':' || d || ':' || b), 1, 8))::BIGINT
        |      % 1000000 AS m
        |  FROM daily, range(200) t(b)),
        |reps AS (SELECT event_type, b,
        |    CAST(sum(CASE WHEN m < 367879 THEN 0 WHEN m < 735759 THEN 1
        |      WHEN m < 919699 THEN 2 WHEN m < 981012 THEN 3 WHEN m < 996340 THEN 4
        |      WHEN m < 999406 THEN 5 ELSE 6 END * x) AS BIGINT) AS wx,
        |    CAST(sum(CASE WHEN m < 367879 THEN 0 WHEN m < 735759 THEN 1
        |      WHEN m < 919699 THEN 2 WHEN m < 981012 THEN 3 WHEN m < 996340 THEN 4
        |      WHEN m < 999406 THEN 5 ELSE 6 END) AS BIGINT) AS sw
        |  FROM ex GROUP BY 1, 2),
        |rm AS (SELECT event_type, CAST(wx AS DOUBLE) / CAST(sw AS DOUBLE) AS mean_b
        |  FROM reps WHERE sw > 0),
        |base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_daily_cents
        |  FROM daily GROUP BY 1)
        |SELECT rm.event_type, base.n_days, base.mean_daily_cents,
        |  CAST(count(*) AS BIGINT) AS n_replicas,
        |  round(quantile_cont(mean_b, 0.025), 6) AS ci_lo,
        |  round(quantile_cont(mean_b, 0.975), 6) AS ci_hi
        |FROM rm JOIN base USING (event_type)
        |GROUP BY 1, 2, 3
        |ORDER BY rm.event_type""".stripMargin)),

    // Fraction-free CUSUM: n·S_d = n·prefix − d·T stays in exact BIGINTs;
    // the surfaced statistic is its one class-2 division by n.
    "cusum_changepoint" -> Query(EventOps.cusumChangepoint _, Oracle(
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
        |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, d,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS i,
        |    CAST(sum(day_cents) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS prefix,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
        |    CAST(sum(day_cents) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM daily),
        |sc AS (SELECT *, n_days * prefix - i * total AS s_scaled FROM s),
        |pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(s_scaled) DESC, d) AS rk FROM sc)
        |SELECT event_type, n_days, total AS total_cents, d AS peak_day,
        |  s_scaled AS peak_cusum_scaled,
        |  CAST(s_scaled AS DOUBLE) / CAST(n_days AS DOUBLE) AS peak_cusum_cents
        |FROM pick WHERE rk = 1
        |ORDER BY event_type""".stripMargin)),

    // Fraction-free ACF: X_t = n·x_t − T clears the mean, the n² factors
    // cancel in r_k = num_k/den — exact BIGINTs, one division per lag.
    "acf_daily_events" -> Query(EventOps.acfDailyEvents _, Oracle(
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |dev AS (
        |  SELECT event_type, d,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x -
        |      CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS xc,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM daily),
        |led AS (
        |  SELECT event_type, n, xc,
        |    lead(xc, 1) OVER (PARTITION BY event_type ORDER BY d) AS xc1,
        |    lead(xc, 2) OVER (PARTITION BY event_type ORDER BY d) AS xc2,
        |    lead(xc, 3) OVER (PARTITION BY event_type ORDER BY d) AS xc3
        |  FROM dev),
        |agg AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(sum(xc * xc) AS BIGINT) AS den,
        |    CAST(sum(xc * xc1) AS BIGINT) AS num1,
        |    CAST(sum(xc * xc2) AS BIGINT) AS num2,
        |    CAST(sum(xc * xc3) AS BIGINT) AS num3
        |  FROM led GROUP BY 1)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag, n_days, num_scaled,
        |  CASE WHEN den <> 0 THEN CAST(num_scaled AS DOUBLE) / CAST(den AS DOUBLE) END AS acf
        |FROM (
        |  SELECT event_type, n_days, den, 1 AS lag, num1 AS num_scaled FROM agg
        |  UNION ALL
        |  SELECT event_type, n_days, den, 2 AS lag, num2 AS num_scaled FROM agg
        |  UNION ALL
        |  SELECT event_type, n_days, den, 3 AS lag, num3 AS num_scaled FROM agg)
        |ORDER BY event_type, lag""".stripMargin)),

    // Dedupe-first, then ≤7× fan-out against the distinct-day spine; the
    // trailing window COUNT(DISTINCT) no window function expresses.
    "sliding_distinct_users" -> Query(EventOps.slidingDistinctUsers _, Oracle(
      """WITH du AS (
        |  SELECT DISTINCT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d, user_id
        |  FROM events),
        |sp AS (SELECT DISTINCT d AS wday FROM du)
        |SELECT event_type, wday, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
        |FROM du JOIN sp ON wday >= d AND wday <= d + 6
        |GROUP BY 1, 2
        |ORDER BY event_type, wday""".stripMargin)),

    // Seasonal-mean backtest: profile = class-2 quotient; per-event abs
    // error quantized to micro BIGINT before summing, so MAE sits on the
    // hash with no summation-order exposure.
    "seasonal_forecast_mae" -> Query(EventOps.seasonalForecastMae _, Oracle(
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |         epoch_us(ts) // 86400000000 AS d,
        |         (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM e),
        |ed AS (SELECT e.*, d - (SELECT d0 FROM d0) AS rel FROM e),
        |prof AS (
        |  SELECT event_type, hod,
        |         CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pred
        |  FROM ed WHERE rel < 21 GROUP BY 1, 2),
        |test AS (
        |  SELECT ed.event_type,
        |         CAST(floor(abs(CAST(c AS DOUBLE) - pred) * 1e6 + 0.5) AS BIGINT) AS err_micro
        |  FROM ed JOIN prof ON ed.event_type = prof.event_type AND ed.hod = prof.hod
        |  WHERE rel >= 21 AND rel < 28)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(err_micro) AS BIGINT) AS sum_abs_err_micro,
        |  CAST(sum(err_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mae_micro
        |FROM test GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The engine writes through the stats-collecting atomic sink, prunes
    // files on manifest min/max, then filters; the oracle aggregates the
    // SOURCE with the same predicate — pruning must drop no qualifying row.
    "sink_stats_pruned_read" -> Query(EventOps.sinkStatsPrunedRead _, Oracle(
      """WITH b AS (SELECT count(*) // 4 AS lo, count(*) // 2 - 1 AS hi FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE event_id BETWEEN (SELECT lo FROM b) AND (SELECT hi FROM b)""".stripMargin)),

    // The NAIVE band join (no manual binning) — the engine side relies on
    // the BandJoinRewrite optimizer rule for the scalable plan; the hash
    // proves the rewritten plan computes the naive semantics.
    "band_join_auto" -> Query(EventOps.bandJoinAuto _, Oracle(
      """WITH p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |err AS (SELECT epoch_us(ts) AS err_ts FROM events WHERE event_type = 'error'),
        |per AS (SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_errors
        |  FROM p JOIN err ON abs(err.err_ts - p.ts_us) <= 60000000
        |  GROUP BY p.event_id)
        |SELECT n_errors, CAST(count(*) AS BIGINT) AS n_purchases
        |FROM per GROUP BY 1
        |ORDER BY n_errors""".stripMargin)),

    "band_join_binned" -> Query(EventOps.bandJoinBinned _, Oracle(
      """WITH p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |err AS (SELECT epoch_us(ts) AS err_ts FROM events WHERE event_type = 'error'),
        |per AS (SELECT p.event_id, count(err.err_ts) AS n_errors
        |  FROM p LEFT JOIN err
        |    ON err.err_ts >= p.ts_us - 60000000 AND err.err_ts <= p.ts_us
        |  GROUP BY p.event_id)
        |SELECT CAST(n_errors AS BIGINT) AS n_errors,
        |  CAST(count(*) AS BIGINT) AS n_purchases
        |FROM per GROUP BY 1
        |ORDER BY n_errors""".stripMargin)),

    // The merged read must NULL-fill v1 rows and lose nothing: the oracle
    // recomputes both slices from the source table.
    "schema_evolution_merge" -> Query(EventOps.schemaEvolutionMerge _, Oracle(
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS schema_version,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_channel
        |FROM events
        |GROUP BY 1
        |ORDER BY schema_version""".stripMargin)),

    // Round-trip through the DSv2 atomic sink must deliver exactly the
    // source rows — the oracle reads the SOURCE, the engine the sink.
    "atomic_sink_roundtrip" -> Query(EventOps.atomicSinkRoundtrip _, Oracle(
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events""".stripMargin)),

    // Streaming epochs through the DSv2 sink must deliver exactly the
    // slice — the oracle recomputes from the source.
    "stream_atomic_sink" -> Query(StreamingEntry.streamAtomicSink _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM e""".stripMargin)),

    "stream_sink_time_travel" -> Query(StreamingEntry.streamSinkTimeTravel _, Oracle(
      """WITH e AS (SELECT event_id, value,
        |    row_number() OVER (ORDER BY event_id) AS rn
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 5000)),
        |c AS (SELECT (count(*) + 2) // 3 AS chunk, count(*) AS n FROM e),
        |b AS (SELECT 0 AS epoch_bound, chunk AS lim FROM c
        |  UNION ALL SELECT 1, least(2 * chunk, n) FROM c
        |  UNION ALL SELECT 2, n FROM c)
        |SELECT CAST(epoch_bound AS BIGINT) AS epoch_bound,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM b JOIN e ON e.rn <= b.lim
        |GROUP BY epoch_bound
        |ORDER BY epoch_bound""".stripMargin)),

    "stream_event_transitions" -> Query(StreamingEntry.streamEventTransitions _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |l AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        |  FROM e)
        |SELECT prev_type, event_type,
        |  CAST(count(*) AS BIGINT) AS n_transitions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM l WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin)),

    // Continuous attribution == the batch window form over the slice in
    // event_id (ingestion) order; a dropped cross-batch touch mismatches.
    "stream_attribution_tws" -> Query(StreamingEntry.streamAttributionTws _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |t AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |  FROM e),
        |p AS (SELECT * FROM t WHERE event_type = 'purchase')
        |SELECT 'first_touch' AS model, coalesce(first_touch, 'none') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases, CAST(sum(c) AS BIGINT) AS cents
        |FROM p GROUP BY 2
        |UNION ALL
        |SELECT 'last_touch', coalesce(last_touch, 'none'),
        |  CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
        |FROM p GROUP BY 2
        |ORDER BY model, channel""".stripMargin)),

    // Continuous gaps-and-islands == the batch island grouping over the
    // slice; a lost cross-batch run carry would under-count longest_streak.
    "stream_streaks_tws" -> Query(StreamingEntry.streamStreaksTws _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |      FROM e),
        |i AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(max(len) AS BIGINT) AS longest_streak
        |FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // Live one-sided CUSUM == the closed form of the max(0, ·) recurrence:
    // S_t = P_t − min(0, running-min of prefix sums P) — identical integer
    // arithmetic to the processor's fold, so the batch replay pins the
    // cross-batch S carry exactly.
    "stream_cusum_tws" -> Query(StreamingEntry.streamCusumTws _, Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) - 2500 AS a
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 5000)),
        |p AS (
        |  SELECT user_id, event_id,
        |    sum(a) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        |    count(*) OVER (PARTITION BY user_id) AS n_seen
        |  FROM e),
        |s AS (
        |  SELECT user_id, event_id, n_seen,
        |    pre - least(0, min(pre) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_t
        |  FROM p),
        |r AS (
        |  SELECT user_id, n_seen, s_t, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY s_t DESC, event_id) AS rk
        |  FROM s)
        |SELECT user_id, CAST(n_seen AS BIGINT) AS n_seen,
        |  CAST(s_t AS BIGINT) AS peak_cusum_cents,
        |  CAST(CASE WHEN s_t = 0 THEN 0 ELSE event_id END AS BIGINT)
        |    AS peak_event_id
        |FROM r WHERE rk = 1
        |ORDER BY user_id""".stripMargin)),

    // Continuous top-k == the batch rank-limit window over the slice.
    // Deterministic streamed reservoir: bottom-8 by md5-hex priority per
    // user; the batch window over the slice must reproduce it exactly.
    "stream_sample_users" -> Query(StreamingEntry.streamSampleUsers _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |p AS (SELECT user_id, event_id,
        |        substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS pri FROM e),
        |r AS (SELECT user_id, event_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY pri, event_id) AS rk,
        |        count(*) OVER (PARTITION BY user_id) AS n
        |      FROM p)
        |SELECT user_id,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS sample_csv,
        |  CAST(count(*) AS BIGINT) AS n_sample,
        |  CAST(min(n) AS BIGINT) AS n_seen
        |FROM r WHERE rk <= 8
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "stream_topk_tws" -> Query(StreamingEntry.streamTopkTws _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |r AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT) DESC, event_id) AS rn
        |  FROM e)
        |SELECT event_type, CAST(rn AS BIGINT) AS rnk, event_id, value_cents
        |FROM r WHERE rn <= 5
        |ORDER BY event_type, rnk""".stripMargin)),

    // observe() metrics per micro-batch: the harness chunks the 5000-event
    // slice into ⌈n/3⌉-sized batches, so the per-batch counts/sums are a
    // deterministic partition of the slice — recomputed here in plain SQL.
    "stream_observe_metrics" -> Query(StreamingEntry.streamObserveMetrics _, Oracle(
      """WITH sl AS (SELECT event_id, value, event_type
        |            FROM events ORDER BY event_id LIMIT 5000),
        |cz AS (SELECT greatest((count(*) + 2) // 3, 1) AS sz FROM sl),
        |s AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, event_type,
        |        CAST((row_number() OVER (ORDER BY event_id) - 1) // sz AS BIGINT) AS batch_seq
        |      FROM sl, cz)
        |SELECT batch_seq, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c) AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |FROM s GROUP BY 1
        |ORDER BY batch_seq""".stripMargin)),

    // Inverted index over the same tokenization + DF band as
    // token_cooccurrence; postings surfaced as a ','-joined sorted string
    // (a naked array sort-key crashes the driver's pandas lexsort, r9).
    "posting_lists" -> Query(TextOps.postingLists _, Oracle(
      """WITH tk0 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |tk AS (SELECT DISTINCT doc_id, tok FROM tk0 WHERE length(tok) > 0),
        |df AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
        |kept AS (SELECT t.doc_id, t.tok FROM tk t JOIN df USING (tok)
        |  WHERE df.df >= 2
        |    AND df.df <= floor(0.8 * (SELECT count(*) FROM documents)))
        |SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |  string_agg(doc_id, ',' ORDER BY doc_id) AS postings_csv
        |FROM kept GROUP BY tok
        |ORDER BY tok""".stripMargin)),

    // Deterministic πps sample: u is pure integer arithmetic, the
    // priority one exact-integer IEEE division — no rand(), no libm.
    "weighted_sample_strata" -> Query(TextOps.weightedSampleStrata _, Oracle(
      """WITH w AS (SELECT lang, doc_id, n_chars,
        |    CAST((doc_id * 2654435761) % 1000003 + 1 AS DOUBLE)
        |      / CAST(n_chars AS DOUBLE) AS priority
        |  FROM documents),
        |r AS (SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS rk
        |  FROM w)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
        |FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin)),

    // Planted PII mirrored exactly; DuckDB regexp_replace needs 'g' to
    // match Spark's replace-all default.
    "pii_scrub_stats" -> Query(TextAnalysisOps.piiScrubStats _, Oracle(
      """WITH d AS (SELECT lang, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS aug
        |  FROM documents),
        |s AS (SELECT lang, aug,
        |    len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |    len(regexp_extract_all(aug, '\+1-555-[0-9]{4}')) AS n_phones,
        |    regexp_replace(regexp_replace(aug,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS clean
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
        |  CAST(sum(len(aug) - len(clean)) AS BIGINT) AS chars_redacted
        |FROM s
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // Oracle = the rank-limit window form; the engine runs the mergeable
    // TopKAgg and must produce identical rows.
    "group_topk_agg" -> Query(EventOps.groupTopkAgg _, Oracle(
      """WITH r AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT) DESC, event_id) AS rn
        |  FROM events)
        |SELECT event_type, CAST(rn AS BIGINT) AS rnk, event_id, value_cents
        |FROM r WHERE rn <= 5
        |ORDER BY event_type, rnk""".stripMargin)),

    "snapshot_diff" -> Query(EventOps.snapshotDiff _, Oracle(
      """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS old_n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS old_cents
        |  FROM events, mx
        |  WHERE epoch_us(ts) >= m - 14 * 86400000000 AND epoch_us(ts) < m - 7 * 86400000000
        |  GROUP BY 1),
        |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS new_n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS new_cents
        |  FROM events, mx
        |  WHERE epoch_us(ts) >= m - 7 * 86400000000 AND epoch_us(ts) <= m
        |  GROUP BY 1)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id,
        |  CASE WHEN a.user_id IS NULL THEN 'insert'
        |       WHEN b.user_id IS NULL THEN 'delete'
        |       WHEN a.old_n = b.new_n AND a.old_cents = b.new_cents THEN 'unchanged'
        |       ELSE 'update' END AS action,
        |  old_n, old_cents, new_n, new_cents
        |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
        |ORDER BY user_id""".stripMargin)),

    "interval_coverage" -> Query(EventOps.intervalCoverage _, Oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS f, event_id FROM events),
        |w AS (SELECT *, max(f) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM e),
        |fl AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS isnew FROM w),
        |isl AS (SELECT *, sum(isnew) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS UNBOUNDED PRECEDING) AS island FROM fl),
        |g AS (SELECT user_id, island, min(s) AS st, max(f) AS fin FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(fin - st) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1
        |ORDER BY user_id""".stripMargin)),

    "stream_upsert_foreachbatch" -> Query(StreamingEntry.streamUpsertForeachBatch _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |x AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM e),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS n FROM x)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events, ts_us AS last_ts_us,
        |  event_id AS last_event_id, cents AS last_value_cents
        |FROM r WHERE rk = 1
        |ORDER BY user_id""".stripMargin)),

    // Compaction changes bytes-per-file, never answers: the oracle is the
    // same exact-cents aggregate over the raw slice the fragments held.
    "compact_small_files" -> Query(EventOps.compactSmallFiles _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM e
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // Z-order layout: the staged clustering changes bytes READ, never the
    // answer — the oracle computes the identical middle-quarter box over
    // the raw table, deriving the same integer bounds from min/max.
    "zorder_events_box" -> Query(EventOps.zorderEventsBox _, Oracle(eventsBoxSql)),
    "hilbert_events_box" -> Query(EventOps.hilbertEventsBox _, Oracle(eventsBoxSql)),
    "jsonl_roundtrip_events" -> Query(EventOps.jsonlRoundtripEvents _, Oracle(eventsRoundtripSql)),
    "xml_roundtrip_events" -> Query(EventOps.xmlRoundtripEvents _, Oracle(eventsRoundtripSql)),

    // Frame-sample plumbing for the codec-less modality: 4 evenly-spaced
    // byte windows per video doc; fixture content is ASCII text bytes, so
    // substr reproduces each window and md5 pins the exact boundaries.
    "media_byte_windows" -> Query(MultimodalOps.mediaByteWindows _, Oracle(
      """WITH v AS (SELECT doc_id, text, length(text) AS len,
        |    greatest(length(text) // 4, 1) AS win
        |  FROM documents WHERE doc_id % 3 = 2),
        |g AS (SELECT doc_id, text, len, win,
        |    UNNEST(generate_series(0, CAST(least(4, len) AS BIGINT) - 1)) AS i FROM v),
        |s AS (SELECT doc_id, i,
        |    substr(text, CAST(i * win + 1 AS BIGINT), CAST(win AS BIGINT)) AS piece
        |  FROM g)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(length(piece) AS BIGINT) AS n_bytes, md5(piece) AS frame_md5
        |FROM s WHERE length(piece) > 0
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // binaryFile ingestion: file names carry the doc id, content decodes
    // through the real JDK codec — the oracle is the generator closed form.
    "binary_files_meta" -> Query(MultimodalOps.binaryFilesMeta _, Oracle(
      """SELECT doc_id,
        |  CAST(8 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(8 + doc_id % 12 AS BIGINT) AS height,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS r_mean
        |FROM documents
        |WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin)),

    "csv_roundtrip_events" -> Query(EventOps.csvRoundtripEvents _, Oracle(eventsRoundtripSql)),
    "orc_roundtrip_events" -> Query(EventOps.orcRoundtripEvents _, Oracle(eventsRoundtripSql)),

    "outer_join_orders" -> Query(Relational.outerJoinOrders _, Oracle(
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_acctbal >= 0),
        |o AS (SELECT o_custkey, count(*) AS n_orders,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS spend_cents
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-04-01 00:00:00'
        |  GROUP BY o_custkey),
        |j AS (SELECT
        |    CASE WHEN c.c_custkey IS NULL THEN 'order_only'
        |         WHEN o.o_custkey IS NULL THEN 'customer_only'
        |         ELSE 'both' END AS category,
        |    coalesce(o.n_orders, 0) AS n_orders,
        |    coalesce(o.spend_cents, 0) AS spend_cents
        |  FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey)
        |SELECT category,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n_orders) AS BIGINT) AS n_orders,
        |  CAST(sum(spend_cents) AS BIGINT) AS spend_cents
        |FROM j
        |GROUP BY category
        |ORDER BY category""".stripMargin)),

    "left_outer_customers" -> Query(Relational.leftOuterCustomers _, Oracle(
      """WITH o AS (SELECT o_custkey, count(*) AS n_orders FROM orders
        |  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey)
        |SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive,
        |  CAST(sum(coalesce(o.n_orders, 0)) AS BIGINT) AS n_orders,
        |  CAST(sum(coalesce(o.n_orders, 0)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_orders
        |FROM customer c
        |LEFT OUTER JOIN o ON c.c_custkey = o.o_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    "bucketed_join_orders" -> Query(Relational.bucketedJoinOrders _, Oracle(
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    "stats_broadcast_join" -> Query(Relational.statsBroadcastJoin _, Oracle(
      """SELECT p_brand,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_quantity), 6) AS sum_qty
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_size = 1
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)),

    "skew_join_zipf" -> Query(EventOps.skewJoinZipf _, Oracle(
      """WITH e AS (SELECT event_type,
        |    CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id % 997 END AS k
        |  FROM events),
        |o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 997)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM e JOIN o USING (k)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    "cube_orders" -> Query(Relational.cubeOrders _, Oracle(
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM orders
        |  GROUP BY CUBE (o_orderstatus, o_orderpriority))
        |SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(n AS BIGINT) AS n, total_cents
        |FROM r
        |ORDER BY status, priority""".stripMargin)),

    "range_join_promo" -> Query(Relational.rangeJoinPromo _, Oracle(
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    "asof_join_events" -> Query(EventOps.asofJoinEvents _, Oracle(
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_event_id, user_id, epoch_us(ts) AS s_ts_us FROM events WHERE event_type = 'signup'),
        |j AS (SELECT p.event_id, p.ts_us, s.s_event_id, s.s_ts_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY s.s_ts_us DESC NULLS LAST, s.s_event_id DESC NULLS LAST) AS rn
        |  FROM p LEFT JOIN s ON p.user_id = s.user_id AND s.s_ts_us <= p.ts_us)
        |SELECT event_id, ts_us, s_event_id, s_ts_us
        |FROM j WHERE rn = 1
        |ORDER BY event_id""".stripMargin)),

    "asof_join_tolerance" -> Query(EventOps.asofJoinTolerance _, Oracle(
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_event_id, user_id, epoch_us(ts) AS c_ts_us FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.ts_us, c.c_event_id, c.c_ts_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.c_ts_us ASC NULLS LAST, c.c_event_id ASC NULLS LAST) AS rn
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.c_ts_us > p.ts_us AND c.c_ts_us <= p.ts_us + 3600000000)
        |SELECT event_id, ts_us, c_event_id, c_ts_us, c_ts_us - ts_us AS gap_us
        |FROM j WHERE rn = 1
        |ORDER BY event_id""".stripMargin)),

    "event_transitions" -> Query(EventOps.eventTransitions _, Oracle(
      """WITH l AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type,
        |  CAST(count(*) AS BIGINT) AS n_transitions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM l WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin)),

    "retention_cohorts" -> Query(EventOps.retentionCohorts _, Oracle(
      """WITH cohort AS (
        |  SELECT user_id, min(CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS active_day
        |  FROM events)
        |SELECT cohort_day,
        |  CAST(floor((active_day - cohort_day) / 7) AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active_users
        |FROM cohort c JOIN active a ON c.user_id = a.user_id AND a.active_day >= c.cohort_day
        |GROUP BY 1, 2
        |ORDER BY cohort_day, week_offset""".stripMargin)),

    "skyline_parts" -> Query(Relational.skylineParts _, Oracle(
      """WITH d AS (
        |  SELECT min(p_partkey) AS p_partkey, p_retailprice, p_size
        |  FROM part GROUP BY p_retailprice, p_size)
        |SELECT p_partkey, round(p_retailprice, 2) AS p_retailprice,
        |  CAST(p_size AS BIGINT) AS p_size
        |FROM d p
        |WHERE NOT EXISTS (SELECT 1 FROM d q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin)),

    "agg_distinct_users" -> Query(Relational.aggDistinctUsers _, Oracle(
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // Bitmap exact distinct: the bitmap pipeline must reproduce the plain
    // COUNT(DISTINCT) exactly — that equivalence IS the check.
    "bitmap_distinct_users" -> Query(Relational.bitmapDistinctUsers _, Oracle(
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    "rollup_orders" -> Query(Relational.rollupOrders _, Oracle(
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM orders
        |  GROUP BY ROLLUP (o_orderstatus, o_orderpriority))
        |SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(n AS BIGINT) AS n, total_cents
        |FROM r
        |ORDER BY status, priority""".stripMargin)),

    "grouping_sets_lineitem" -> Query(Relational.groupingSetsLineitem _, Oracle(
      """WITH r AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |  FROM lineitem
        |  GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()))
        |SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  CAST(n AS BIGINT) AS n, sum_qty
        |FROM r
        |ORDER BY flag, status""".stripMargin)),

    "pivot_events" -> Query(Relational.pivotEvents _, Oracle(
      """SELECT CAST(extract(dow FROM ts) AS BIGINT) AS dow,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY dow""".stripMargin)),

    "percentiles_qty" -> Query(Relational.percentilesQty _, Oracle(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |  round(quantile_cont(l_quantity, 0.99), 6) AS p99,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    "stats_agg" -> Query(Relational.statsAgg _, Oracle(
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    "subquery_above_avg" -> Query(Relational.subqueryAboveAvg _, Oracle(
      """SELECT p_brand,
        |  CAST(count(*) AS BIGINT) AS n_above,
        |  CAST(max(p_size) AS BIGINT) AS max_size
        |FROM part p
        |WHERE p_size > (SELECT avg(CAST(p2.p_size AS DOUBLE)) FROM part p2
        |                WHERE p2.p_brand = p.p_brand)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)),

    // Money: exact integer cents summed and surfaced as BIGINT — the r8/r9
    // driver runs proved any DECIMAL output column hashes differently
    // across the parquet/DuckDB boundary even when values agree, so the
    // declared surface stays integral; the DECIMAL widening lives in a
    // scalatest golden test instead.
    "agg_decimal_money" -> Query(Relational.aggDecimalMoney _, Oracle(
      """SELECT l_returnflag,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    "win_topk_parts" -> Query(EventOps.winTopkParts _, Oracle(
      """WITH r AS (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |  FROM part)
        |SELECT p_brand, CAST(rnk AS BIGINT) AS "rank", p_partkey, round(p_retailprice, 2) AS p_retailprice
        |FROM r WHERE rnk <= 3
        |ORDER BY p_brand, "rank"""".stripMargin)),

    "win_running_user" -> Query(EventOps.winRunningUser _, Oracle(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id, ts_us,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM e
        |ORDER BY user_id, ts_us, event_id""".stripMargin)),

    // z-score: μ exact int/int quotient, σ stddev_samp (class 3 → 6 dp).
    "win_zscore_events" -> Query(EventOps.winZscoreEvents _, Oracle(
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents FROM events)
        |SELECT event_id, event_type, value_cents,
        |  round((value_cents - avg(value_cents) OVER (PARTITION BY event_type))
        |    / stddev_samp(value_cents) OVER (PARTITION BY event_type), 6) AS z
        |FROM e
        |ORDER BY event_id""".stripMargin)),

    "win_lag_delta" -> Query(EventOps.winLagDelta _, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT event_id, user_id, ts_us,
        |  ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS delta_us
        |FROM e
        |ORDER BY event_id""".stripMargin)),

    "win_range_frame" -> Query(EventOps.winRangeFrame _, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id, ts_us,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_hour_cents
        |FROM e
        |ORDER BY event_id""".stripMargin)),

    // SCD2: change-detect → interval build → as-of snapshot. The snapshot
    // instant is (min+max) DIV 2 of ts_us — exact BIGINT floor division on
    // both engines, so the filter boundary can never drift.
    // The oracle is the FULL REBUILD over the whole stream — the Spark
    // side applies the batch incrementally onto the prefix-built standing
    // table, so the hash-compare proves incremental == rebuild.
    "scd2_apply_batch" -> Query(EventOps.scd2ApplyBatch _, Oracle(
      """WITH e AS (SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us, event_id FROM events),
        |c AS (SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
        |v AS (SELECT user_id, state, ts_us, event_id FROM c WHERE prev IS NULL OR prev <> state)
        |SELECT user_id, state,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS version,
        |  ts_us AS valid_from_us,
        |  coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), -1) AS valid_to_us
        |FROM v
        |ORDER BY user_id, version""".stripMargin)),

    "scd2_users" -> Query(EventOps.scd2Users _, Oracle(
      """WITH e AS (SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us, event_id FROM events),
        |c AS (SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
        |ch AS (SELECT user_id, state, ts_us, event_id FROM c WHERE prev IS NULL OR prev <> state),
        |iv AS (SELECT user_id, state,
        |         ts_us AS valid_from_us,
        |         COALESCE(lead(ts_us) OVER w, -1) AS valid_to_us,
        |         CAST(row_number() OVER w AS BIGINT) AS version
        |       FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS t FROM events)
        |SELECT user_id, state, version, valid_from_us
        |FROM iv, b
        |WHERE valid_from_us <= t AND (valid_to_us = -1 OR valid_to_us > t)
        |ORDER BY user_id""".stripMargin)),

    // Incremental refresh: the engine merges materialized base partials
    // with the delta slice; the oracle recomputes from scratch — merged
    // state must be indistinguishable from a full rescan.
    "agg_incremental_users" -> Query(EventOps.aggIncrementalUsers _, Oracle(
      """WITH e AS (SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cents
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "win_rank_kinds" -> Query(EventOps.winRankKinds _, Oracle(
      """WITH r AS (
        |  SELECT p_brand, p_partkey,
        |    row_number() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk,
        |    percent_rank() OVER w AS prnk,
        |    cume_dist() OVER w AS cdist,
        |    ntile(4) OVER w AS quartile,
        |    first_value(p_partkey) OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_part,
        |    last_value(p_partkey) OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_part
        |  FROM part
        |  WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey))
        |SELECT p_brand, CAST(rnk AS BIGINT) AS rnk, p_partkey,
        |  CAST(drnk AS BIGINT) AS drnk, prnk, cdist,
        |  CAST(quartile AS BIGINT) AS quartile, top_part, bottom_part
        |FROM r WHERE rnk <= 5
        |ORDER BY p_brand, rnk""".stripMargin)),

    "setop_parts" -> Query(Relational.setopParts _, Oracle(
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |    EXCEPT
        |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A') t1) AS n_except,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |    INTERSECT
        |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A') t2) AS n_intersect,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |    UNION
        |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A') t3) AS n_union""".stripMargin)),

    "argmax_orders" -> Query(Relational.argmaxOrders _, Oracle(
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice ASC, o_orderkey DESC) AS rmin
        |  FROM orders)
        |SELECT o_orderpriority,
        |  max(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order,
        |  max(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order,
        |  round(max(o_totalprice), 2) AS max_price,
        |  round(min(o_totalprice), 2) AS min_price
        |FROM r
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    "salted_heavy_hitters" -> Query(Relational.saltedHeavyHitters _, Oracle(
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    "unpivot_stats" -> Query(Relational.unpivotStats _, Oracle(
      """WITH w AS (SELECT l_returnflag,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS qty_cents,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS price_cents,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'n' AS metric, n AS value FROM w
        |  UNION ALL SELECT l_returnflag, 'price_cents', price_cents FROM w
        |  UNION ALL SELECT l_returnflag, 'qty_cents', qty_cents FROM w)
        |ORDER BY l_returnflag, metric""".stripMargin)),

    "calendar_months" -> Query(Relational.calendarMonths _, Oracle(monthSpineSql)),

    "null_semantics" -> Query(Relational.nullSemantics _, Oracle(
      """WITH g AS (SELECT nullif(event_type, 'click') AS k,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1)
        |SELECT a.k, a.n AS n_a, b.n AS n_b
        |FROM g a JOIN g b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY a.k NULLS FIRST""".stripMargin)),

    "try_funcs" -> Query(ScalarOps.tryFuncs _, Oracle(
      """SELECT doc_id,
        |  TRY_CAST(substr(text, 1, 3) AS BIGINT) AS head_int,
        |  TRY_CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS chars_int,
        |  round(CASE WHEN doc_id % 3 = 0 THEN NULL
        |             ELSE CAST(n_chars AS DOUBLE) / CAST(doc_id % 3 AS DOUBLE) END, 6) AS div3
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    "win_ignore_nulls" -> Query(EventOps.winIgnoreNulls _, Oracle(
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(ts) AS ts_us,
        |    CASE WHEN value >= 400 THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END AS big_cents
        |  FROM events)
        |SELECT event_id, user_id, ts_us, big_cents,
        |  last_value(big_cents IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_big_cents,
        |  lag(big_cents, 1 IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_big_cents
        |FROM e
        |ORDER BY event_id""".stripMargin)),

    "agg_conditional" -> Query(Relational.aggConditional _, Oracle(
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.09) AS some_high_disc,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    "map_roundtrip" -> Query(ScalarOps.mapRoundtrip _, Oracle(
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |WHERE user_id < 20
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)),

    "lateral_brand_stats" -> Query(Relational.lateralBrandStats _, Oracle(
      """SELECT p.p_brand, l.max_price, l.n
        |FROM (SELECT DISTINCT p_brand FROM part) p,
        |LATERAL (SELECT round(max(p2.p_retailprice), 2) AS max_price,
        |                CAST(count(*) AS BIGINT) AS n
        |         FROM part p2 WHERE p2.p_brand = p.p_brand) l
        |ORDER BY p.p_brand""".stripMargin)),

    "setop_all_parts" -> Query(Relational.setopAllParts _, Oracle(
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |    EXCEPT ALL
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') t1) AS n_except_all,
        |  (SELECT CAST(sum(l_partkey) AS BIGINT) FROM (
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |    EXCEPT ALL
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') t2) AS sum_except_all,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |    INTERSECT ALL
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') t3) AS n_intersect_all,
        |  (SELECT CAST(sum(l_partkey) AS BIGINT) FROM (
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |    INTERSECT ALL
        |    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') t4) AS sum_intersect_all""".stripMargin)),

    "scalar_funcs" -> Query(ScalarOps.scalarFuncs _, Oracle(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  upper(n_name) AS upper_name,
        |  CAST(length(n_name) AS BIGINT) AS name_len,
        |  substr(n_name, 1, 6) AS name_pfx,
        |  n_name || '_' || CAST(n_regionkey AS VARCHAR) AS name_region,
        |  CAST(n_nationkey % 7 AS BIGINT) AS mod7,
        |  round(sqrt(CAST(n_nationkey AS DOUBLE)), 6) AS sqrt_key,
        |  CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin)),

    "date_funcs" -> Query(ScalarOps.dateFuncs _, Oracle(
      """SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
        |  CAST(extract(month FROM o_orderdate) AS BIGINT) AS m,
        |  CAST(count(*) AS BIGINT) AS n,
        |  strftime(min(o_orderdate), '%Y-%m-%d') AS min_day,
        |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_day,
        |  CAST(date_diff('day', CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS span_days,
        |  strftime(date_trunc('month', min(o_orderdate)), '%Y-%m-%d') AS month_start,
        |  CAST(sum(CAST(extract(dow FROM o_orderdate) AS BIGINT)) AS BIGINT) AS dow_sum,
        |  strftime(CAST(max(o_orderdate) AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY y, m""".stripMargin)),

    "json_props" -> Query(EventOps.jsonProps _, Oracle(
      """WITH t AS (SELECT event_type,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type,
        |  CAST(count(k) AS BIGINT) AS n_k,
        |  CAST(sum(k) AS DOUBLE) / CAST(count(k) AS DOUBLE) AS avg_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    "array_map_funcs" -> Query(ScalarOps.arrayMapFuncs _, Oracle(
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS ssq,
        |  round(list_sum(list_transform(embedding[1:4], x -> CAST(x AS DOUBLE))), 6) AS head4_sum,
        |  round(list_sum(list_transform(embedding, x -> CAST(abs(x) AS DOUBLE))), 6) AS l1_norm
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin)),

    "stream_tumbling_events" -> Query(StreamingEntry.streamTumblingEvents _, Oracle(hourlyTumblingSql)),

    "stream_sliding_events" -> Query(StreamingEntry.streamSlidingEvents _, Oracle(
      """WITH e AS (SELECT event_id, ts, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events ORDER BY event_id LIMIT 5000)
        |SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL (k * 15) MINUTE) AS ws_us,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) AS offs(k)
        |GROUP BY 1, 2
        |ORDER BY ws_us, event_type""".stripMargin)),

    "stream_session_events" -> Query(StreamingEntry.streamSessionEvents _, Oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events ORDER BY event_id LIMIT 5000),
        |x AS (SELECT user_id, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev_ts FROM e),
        |y AS (SELECT user_id, ts_us,
        |    CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_new FROM x),
        |z AS (SELECT user_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM y)
        |SELECT user_id,
        |  CAST(min(ts_us) AS BIGINT) AS session_start_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM z
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start_us""".stripMargin)),

    // Timer-driven sessionization (transformWithState, event-time timers):
    // the lag+cumsum sessions restricted to EMITTED ones — every non-final
    // session per user (closed by data), plus final sessions whose timer
    // (last//1000 + 30min, the processor's ms arithmetic) the final
    // watermark (max//1000 - 1h) passed.
    "stream_session_tws" -> Query(StreamingEntry.streamSessionTws _, Oracle(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events ORDER BY event_id LIMIT 5000),
        |m AS (SELECT max(ts_us) AS mx FROM e),
        |x AS (SELECT user_id, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts FROM e),
        |y AS (SELECT user_id, ts_us,
        |    CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_new FROM x),
        |z AS (SELECT user_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM y),
        |s AS (SELECT user_id, sid,
        |    CAST(min(ts_us) AS BIGINT) AS session_start_us,
        |    CAST(max(ts_us) AS BIGINT) AS last_us,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM z GROUP BY user_id, sid),
        |f AS (SELECT user_id, max(sid) AS max_sid FROM s GROUP BY user_id)
        |SELECT s.user_id, s.session_start_us, s.n_events
        |FROM s JOIN f ON s.user_id = f.user_id, m
        |WHERE s.sid < f.max_sid
        |   OR (s.last_us // 1000 + 1800000) <= (m.mx // 1000 - 3600000)
        |ORDER BY s.user_id, s.session_start_us""".stripMargin)),

    "stream_dedup_events" -> Query(StreamingEntry.streamDedupEvents _, Oracle(
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |  FROM events ORDER BY event_id LIMIT 5000)
        |SELECT event_id, ts_us, user_id, event_type, value
        |FROM e
        |ORDER BY event_id""".stripMargin)),

    // The live DSv2 micro-batch read of the graft-vectors source: same
    // splitmix64 label kernel as vector_source_scan (see that oracle's
    // comment), aggregated over the full 20,000-id stream — an offset
    // bookkeeping error (skipped/re-emitted id span) breaks n_vecs/id_sum.
    "stream_vector_source" -> Query(StreamingEntry.streamVectorSource _, Oracle(
      """WITH ids AS (SELECT unnest(generate_series(0, 19999)) AS id),
        |s0 AS (SELECT id, CAST(xor(CAST(42 AS BIGINT), id) AS UBIGINT) AS x FROM ids),
        |s1 AS (SELECT id, CAST((CAST(x AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM s0),
        |s1x AS (SELECT id, xor(z, z >> 30) AS z FROM s1),
        |s2 AS (SELECT id, CAST(((CAST(z & 4294967295 AS HUGEINT) * 484763065) + (((CAST(z & 4294967295 AS HUGEINT) * 3210233709 + CAST(z >> 32 AS HUGEINT) * 484763065) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z FROM s1x),
        |s2x AS (SELECT id, xor(z, z >> 27) AS z FROM s2),
        |s3 AS (SELECT id, CAST(((CAST(z & 4294967295 AS HUGEINT) * 321982955) + (((CAST(z & 4294967295 AS HUGEINT) * 2496678331 + CAST(z >> 32 AS HUGEINT) * 321982955) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z FROM s2x),
        |s4 AS (SELECT id, xor(z, z >> 31) AS h FROM s3),
        |s5 AS (SELECT id, CASE WHEN h >= 9223372036854775808 THEN CAST(h AS HUGEINT) - 18446744073709551616 ELSE CAST(h AS HUGEINT) END AS sgn FROM s4),
        |lab AS (SELECT id, CAST(((sgn % 10) + 10) % 10 AS BIGINT) AS label FROM s5)
        |SELECT label,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(id) AS BIGINT) AS id_sum
        |FROM lab
        |GROUP BY label
        |ORDER BY label""".stripMargin)),

    // Append-mode finalization: only windows whose end the final watermark
    // (max event time − 1 h) has passed are ever emitted — the oracle is
    // the batch tumbling aggregate restricted to that finalized set.
    "stream_append_finalized" -> Query(StreamingEntry.streamAppendFinalized _, Oracle(finalizedHourlySql)),

    // MapState exact distinct: running per-type distinct users across
    // batches must equal the batch COUNT(DISTINCT) over the slice.
    "stream_distinct_users_tws" -> Query(StreamingEntry.streamDistinctUsersTws _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000)
        |SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM e GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ListState last-3 buffer: arrival = event_id order (the feed is
    // event_id-chunked), so the oracle is the rank <= 3 window, ascending
    // ids comma-joined.
    "stream_recent_events_tws" -> Query(StreamingEntry.streamRecentEventsTws _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |r AS (SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS recent_ids
        |FROM r WHERE rn <= 3 GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // Warm start: batch backfill + streamed remainder must equal ONE
    // batch aggregate over the whole slice — the seam is the check.
    "stream_initial_state" -> Query(StreamingEntry.streamInitialState _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM e GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // State-store read-back: state after the feed = windows NOT yet
    // evicted. Eviction in micro-batch k uses the watermark CAPTURED AT
    // BATCH START (computed from batches 1..k−1) — with no-data batches
    // off, the final commit's eviction threshold is max ts of the first
    // TWO chunks minus the 1 h delay, which this oracle re-derives.
    "stream_state_reader" -> Query(StreamingEntry.streamStateReader _, Oracle(
      """WITH e0 AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |cz AS (SELECT greatest((count(*) + 2) // 3, 1) AS sz FROM e0),
        |e AS (SELECT *, row_number() OVER (ORDER BY event_id) AS rn FROM e0),
        |m AS (SELECT max(ts) AS mx FROM e, cz WHERE rn <= 2 * sz),
        |a AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wb, event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY 1, 2)
        |SELECT epoch_us(wb) AS ws_us, event_type, n, sum_cents
        |FROM a, m
        |WHERE wb + INTERVAL 1 HOUR > mx - INTERVAL 1 HOUR
        |ORDER BY ws_us, event_type""".stripMargin)),

    // Chained hour→day cascade: finalized daily rows are complete (every
    // hour of a closed day is itself closed), so the batch two-level
    // rollup over days ending before the final watermark is the oracle.
    "stream_chained_agg" -> Query(StreamingEntry.streamChainedAgg _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |m AS (SELECT max(ts) AS mx FROM e),
        |h AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hb, event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY 1, 2),
        |d AS (SELECT time_bucket(INTERVAL 1 DAY, hb) AS db, event_type,
        |    CAST(count(*) AS BIGINT) AS n_hours, CAST(max(n) AS BIGINT) AS max_hourly_n,
        |    CAST(sum(n) AS BIGINT) AS n_events, CAST(sum(sum_cents) AS BIGINT) AS sum_cents
        |  FROM h GROUP BY 1, 2)
        |SELECT epoch_us(db) AS day_us, event_type, n_hours, max_hourly_n, n_events, sum_cents
        |FROM d, m WHERE db + INTERVAL 1 DAY <= mx - INTERVAL 1 HOUR
        |ORDER BY day_us, event_type""".stripMargin)),

    // FileStreamSource over the staged slice: same full-slice tumbling
    // aggregate as stream_tumbling_events (complete mode, order-free).
    "stream_file_source_events" -> Query(StreamingEntry.streamFileSourceEvents _, Oracle(hourlyTumblingSql)),

    // Exactly-once parquet file sink read back through _spark_metadata:
    // same finalized-window set as stream_append_finalized — a dropped or
    // double-committed micro-batch file changes n/sum_cents and the hash.
    "stream_file_sink_events" -> Query(StreamingEntry.streamFileSinkEvents _, Oracle(finalizedHourlySql)),

    "stream_interval_join_events" -> Query(StreamingEntry.streamIntervalJoinEvents _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM e WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id AS s_user, ts AS s_ts FROM e WHERE event_type = 'signup')
        |SELECT p_id, s_id, p_user AS user_id
        |FROM p JOIN s ON p_user = s_user
        |  AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 7 DAYS
        |ORDER BY p_id, s_id""".stripMargin)),

    // Stream-stream LEFT SEMI: exactly-once existence — each purchase with
    // at least one qualifying signup appears once, fan-out collapsed.
    "stream_semi_join_events" -> Query(StreamingEntry.streamSemiJoinEvents _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM e WHERE event_type = 'purchase'),
        |s AS (SELECT user_id AS s_user, ts AS s_ts FROM e WHERE event_type = 'signup')
        |SELECT p_id, p_user AS user_id
        |FROM p
        |WHERE EXISTS (SELECT 1 FROM s
        |  WHERE s_user = p_user AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 7 DAYS)
        |ORDER BY p_id""".stripMargin)),

    // Stream-static enrichment: the static dim adds no state and no
    // watermark — the result equals the batch join+aggregate exactly.
    "stream_static_enrich" -> Query(StreamingEntry.streamStaticEnrich _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000)
        |SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1
        |ORDER BY nationkey""".stripMargin)),

    // LEFT OUTER stream-stream join: every purchase appears exactly once
    // per qualifying signup, or once with the −1 sentinel when the
    // watermark proved no signup can still arrive.
    "stream_outer_join_events" -> Query(StreamingEntry.streamOuterJoinEvents _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM e WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id AS s_user, ts AS s_ts FROM e WHERE event_type = 'signup')
        |SELECT p_id, CAST(COALESCE(s_id, -1) AS BIGINT) AS s_id, p_user AS user_id
        |FROM p LEFT JOIN s ON p_user = s_user
        |  AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 7 DAYS
        |ORDER BY p_id, s_id""".stripMargin)),

    "stream_full_outer_join_events" -> Query(StreamingEntry.streamFullOuterJoinEvents _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM e WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id AS s_user, ts AS s_ts FROM e WHERE event_type = 'signup')
        |SELECT CAST(COALESCE(p_id, -1) AS BIGINT) AS p_id,
        |  CAST(COALESCE(s_id, -1) AS BIGINT) AS s_id,
        |  COALESCE(p_user, s_user) AS user_id
        |FROM p FULL JOIN s ON p_user = s_user
        |  AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 7 DAYS
        |ORDER BY p_id, s_id""".stripMargin)),

    "tumbling_window" -> Query(EventOps.tumblingWindow _, Oracle(
      """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS ws_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY ws_us, event_type""".stripMargin)),

    // Update-mode emissions accumulate in the sink; max(n) per key == the
    // final count because counts only grow — the oracle is the plain
    // batch tumbling count over the slice.
    "stream_update_counts" -> Query(StreamingEntry.streamUpdateCounts _, Oracle(
      """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 5000)
        |SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS ws_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM e
        |GROUP BY 1, 2
        |ORDER BY ws_us, event_type""".stripMargin)),

    "sliding_window" -> Query(EventOps.slidingWindow _, Oracle(
      """WITH e AS (SELECT ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL (k * 15) MINUTE) AS ws_us,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) AS offs(k)
        |GROUP BY 1
        |ORDER BY ws_us""".stripMargin)),

    "sessionize" -> Query(EventOps.sessionize _, Oracle(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |x AS (SELECT user_id, event_id, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts FROM e),
        |y AS (SELECT user_id, event_id, ts_us,
        |    CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_new FROM x),
        |z AS (SELECT user_id, event_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM y),
        |sess AS (SELECT user_id, session_id, count(*) AS n_events,
        |    max(ts_us) - min(ts_us) AS span_us FROM z GROUP BY user_id, session_id)
        |SELECT user_id,
        |  CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_events,
        |  CAST(max(span_us) AS BIGINT) AS max_span_us,
        |  CAST(sum(n_events) AS BIGINT) AS n_events_total
        |FROM sess
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    "cos_topk" -> Query(VectorOps.cosTopk _, Oracle(cosTop5Sql)),

    // Streaming ANN ingest: per-micro-batch exact top-5 over the corpus —
    // answers depend only on (query, corpus), never on co-arrivals, so the
    // union of batch answers equals the one-shot cos_topk and shares its
    // oracle verbatim.
    "stream_ann_topk" -> Query(StreamingEntry.streamAnnTopk _, Oracle(cosTop5Sql)),

    "knn_label_vote" -> Query(VectorOps.knnLabelVote _, Oracle(
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 50),
        |t AS (SELECT vec_id AS t_id, label AS t_label, CAST(embedding AS DOUBLE[]) AS t_emb FROM embeddings),
        |s AS (SELECT q_id, t_id, t_label, round(list_dot_product(q_emb, t_emb), 6) AS sim
        |  FROM t CROSS JOIN q WHERE t_id <> q_id),
        |nn AS (SELECT q_id, t_label,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, t_id) AS rnk FROM s),
        |votes AS (SELECT q_id, t_label, count(*) AS n_votes FROM nn WHERE rnk <= 10 GROUP BY q_id, t_label),
        |best AS (SELECT q_id, t_label, n_votes,
        |    row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, t_label) AS vr FROM votes)
        |SELECT q_id, CAST(t_label AS BIGINT) AS pred_label, CAST(n_votes AS BIGINT) AS n_votes
        |FROM best WHERE vr = 1
        |ORDER BY q_id""".stripMargin)),

    "dedup_docs_exact" -> Query(TextOps.dedupDocsExact _, Oracle(
      """WITH g AS (SELECT min(doc_id) AS survivor, count(*) AS n FROM documents GROUP BY text)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(survivor) AS BIGINT) AS survivor_id_sum,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
        |FROM g""".stripMargin)),

    // PPJoin-style exact similarity join: prefix lemma makes the rare-token
    // candidate join lossless; the J >= 0.5 gate is the integer compare
    // 3·inter >= n1+n2, the surfaced jaccard one class-2 division.
    "jaccard_join_exact" -> Query(TextOps.jaccardJoinExact _, Oracle(
      """WITH tk AS (SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |    FROM documents WHERE lang = 'en' AND doc_id % 10 = 0)),
        |dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY 1),
        |rk AS (SELECT doc_id, tok,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY df, tok) AS BIGINT) AS pos,
        |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        |  FROM tk JOIN dfc USING (tok)),
        |pre AS (SELECT * FROM rk WHERE pos <= n - (n + 1) // 2 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.n AS n1, b.n AS n2
        |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |itr AS (SELECT c.d1, c.d2, c.n1, c.n2, CAST(count(*) AS BIGINT) AS inter
        |  FROM cand c JOIN tk x ON x.doc_id = c.d1
        |  JOIN tk y ON y.doc_id = c.d2 AND y.tok = x.tok
        |  GROUP BY 1, 2, 3, 4)
        |SELECT d1 AS doc1, d2 AS doc2, inter, n1, n2,
        |  CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) AS jaccard
        |FROM itr WHERE 3 * inter >= n1 + n2
        |ORDER BY doc1, doc2""".stripMargin)),

    "dedup_docs_minhash" -> Query(TextOps.dedupDocsMinhash _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM sh GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g)
        |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |ORDER BY doc1, doc2""".stripMargin)),

    "dedup_clusters" -> Query(TextOps.dedupClusters _, Oracle(
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM sh GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |edges AS (SELECT doc1, doc2 FROM cand UNION SELECT doc2, doc1 FROM cand),
        |reach AS (
        |  SELECT doc1 AS a, doc2 AS b FROM edges
        |  UNION
        |  SELECT r.a, e.doc2 AS b FROM reach r JOIN edges e ON r.b = e.doc1)
        |SELECT m AS cluster_rep, CAST(count(*) AS BIGINT) AS n_docs
        |FROM (SELECT a, min(b) AS m FROM reach GROUP BY a)
        |GROUP BY m
        |ORDER BY cluster_rep""".stripMargin)),

    // Same component machinery as dedup_clusters, then the keep-best
    // arg-max (max tokens, min doc_id) instead of the min-id report.
    "dedup_keep_best" -> Query(TextOps.dedupKeepBest _, Oracle(
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM sh GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |edges AS (SELECT doc1, doc2 FROM cand UNION SELECT doc2, doc1 FROM cand),
        |reach AS (
        |  SELECT doc1 AS a, doc2 AS b FROM edges
        |  UNION
        |  SELECT r.a, e.doc2 AS b FROM reach r JOIN edges e ON r.b = e.doc1),
        |lbl AS (SELECT a AS doc_id, min(b) AS cluster_rep FROM reach GROUP BY a),
        |mem AS (SELECT l.cluster_rep, l.doc_id,
        |    CAST(len(list_filter(string_split(d.text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM lbl l JOIN documents d ON l.doc_id = d.doc_id),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY cluster_rep ORDER BY n_tokens DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY cluster_rep) AS n_docs
        |  FROM mem)
        |SELECT cluster_rep, CAST(n_docs AS BIGINT) AS n_docs,
        |  doc_id AS keep_id, n_tokens AS keep_tokens
        |FROM r WHERE rk = 1
        |ORDER BY cluster_rep""".stripMargin)),

    // Same component machinery as dedup_clusters, then split by
    // md5(cluster rep): near-dups can never straddle train/test.
    "split_no_leakage" -> Query(TextOps.splitNoLeakage _, Oracle(
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM sh GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |edges AS (SELECT doc1, doc2 FROM cand UNION SELECT doc2, doc1 FROM cand),
        |reach AS (
        |  SELECT doc1 AS a, doc2 AS b FROM edges
        |  UNION
        |  SELECT r.a, e.doc2 AS b FROM reach r JOIN edges e ON r.b = e.doc1),
        |lbl AS (SELECT a AS id, min(b) AS lbl FROM reach GROUP BY a),
        |rep AS (SELECT d.doc_id, d.lang, coalesce(l.lbl, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id),
        |sp AS (SELECT lang, rep,
        |    CASE WHEN md5(CAST(rep AS VARCHAR)) < 'cc' THEN 'train'
        |         WHEN md5(CAST(rep AS VARCHAR)) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM rep)
        |SELECT split, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters
        |FROM sp
        |GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin)),

    "ngram_counts" -> Query(TextOps.ngramCounts _, Oracle(
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE lang = 'en'),
        |g AS (
        |  SELECT 1 AS n, unnest(toks) AS gram FROM t
        |  UNION ALL
        |  SELECT 2, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1])) FROM t WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT 3, unnest(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) FROM t WHERE len(toks) >= 3),
        |c AS (SELECT n, gram, count(*) AS cnt FROM g GROUP BY n, gram),
        |r AS (SELECT n, gram, cnt,
        |    row_number() OVER (PARTITION BY n ORDER BY cnt DESC, gram) AS rk FROM c)
        |SELECT CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk, gram, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rk <= 10
        |ORDER BY n, rk""".stripMargin)),

    // Streaming ingest form of the incremental near-dup gate: identical
    // decisions to dedup_incremental_minhash (arrivals only ever compare
    // against the CATALOG, so micro-batching cannot change the answer),
    // restricted to the harness' bounded arrival slice (first 2000 batch
    // docs by doc_id — covers the whole doc_id%5=4 slice at driver SFs).
    "stream_dedup_minhash" -> Query(StreamingEntry.streamDedupMinhash _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |batch AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 5 = 4 ORDER BY doc_id LIMIT 2000),
        |sh0 AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM sh0 GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS cat_id
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id IN (SELECT doc_id FROM batch) AND b.doc_id % 5 <> 4),
        |shd AS (SELECT DISTINCT doc_id, shingle FROM sh0),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        |inter AS (SELECT c.doc_id, c.cat_id, count(*) AS n_inter
        |  FROM cand c JOIN shd a ON c.doc_id = a.doc_id
        |  JOIN shd b ON c.cat_id = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY c.doc_id, c.cat_id),
        |m AS (SELECT c.doc_id, count(*) AS n_near_dups, min(c.cat_id) AS best_match
        |  FROM cand c
        |  LEFT JOIN inter i ON c.doc_id = i.doc_id AND c.cat_id = i.cat_id
        |  JOIN cnt na ON c.doc_id = na.doc_id
        |  JOIN cnt nb ON c.cat_id = nb.doc_id
        |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / CAST(na.n_sh + nb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) >= 0.5
        |  GROUP BY c.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN m.doc_id IS NULL THEN 'new' ELSE 'dup' END AS status,
        |  CAST(coalesce(m.n_near_dups, 0) AS BIGINT) AS n_near_dups,
        |  CAST(coalesce(m.best_match, -1) AS BIGINT) AS best_match
        |FROM batch d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // GROWING-catalog streaming ingest replayed as sequential batch CTEs:
    // the arrival slice splits into the harness' 3 chunks (chunk size
    // c = max(1, (n+2) DIV 3) over the doc_id-ordered slice, exactly
    // feedChunks' split); batch b admits against static-catalog ∪ the
    // ADMITTED docs of batches < b, so the recursion unrolls as
    // d0 → adm0 → d1 → adm1 → d2. Verified pairs are computed ONCE over
    // the union of possible (arrival, catalog-or-earlier-arrival) pairs;
    // admission then just filters which pairs QUALIFY at each step.
    "stream_dedup_growing" -> Query(StreamingEntry.streamDedupGrowing _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |arr0 AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 5 = 4 ORDER BY doc_id LIMIT 2000),
        |prm AS (SELECT greatest(1, (count(*) + 2) // 3) AS c FROM arr0),
        |bat AS MATERIALIZED (SELECT doc_id,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // c AS b
        |  FROM arr0, prm),
        |sh0 AS MATERIALIZED (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS MATERIALIZED (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM sh0 GROUP BY doc_id),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |asig AS MATERIALIZED (SELECT s.doc_id, s.band, s.sig, bx.b
        |  FROM sig s JOIN bat bx ON s.doc_id = bx.doc_id),
        |bsig AS MATERIALIZED (SELECT s.doc_id, s.band, s.sig, byt.b AS by_b
        |  FROM sig s LEFT JOIN bat byt ON s.doc_id = byt.doc_id
        |  WHERE s.doc_id % 5 <> 4 OR byt.doc_id IS NOT NULL),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS cat_id,
        |    a.b AS bx, b.by_b
        |  FROM asig a JOIN bsig b ON a.band = b.band AND a.sig = b.sig
        |    AND a.doc_id <> b.doc_id
        |  WHERE b.by_b IS NULL OR b.by_b < a.b),
        |shd AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM sh0),
        |bshd AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM shd s JOIN bat USING (doc_id)),
        |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        |inter AS MATERIALIZED (SELECT c.doc_id, c.cat_id, count(*) AS n_inter
        |  FROM cand c JOIN bshd a ON c.doc_id = a.doc_id
        |  JOIN shd b ON c.cat_id = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY c.doc_id, c.cat_id),
        |ver AS MATERIALIZED (SELECT c.doc_id, c.cat_id, c.bx, c.by_b
        |  FROM cand c
        |  LEFT JOIN inter i ON c.doc_id = i.doc_id AND c.cat_id = i.cat_id
        |  JOIN cnt na ON c.doc_id = na.doc_id
        |  JOIN cnt nb ON c.cat_id = nb.doc_id
        |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / CAST(na.n_sh + nb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) >= 0.5),
        |d0 AS MATERIALIZED (SELECT a.doc_id, count(v.cat_id) AS nd, min(v.cat_id) AS bm
        |  FROM bat a LEFT JOIN ver v ON a.doc_id = v.doc_id AND v.by_b IS NULL
        |  WHERE a.b = 0 GROUP BY a.doc_id),
        |adm0 AS MATERIALIZED (SELECT doc_id FROM d0 WHERE nd = 0),
        |v1 AS MATERIALIZED (SELECT v.doc_id, v.cat_id FROM ver v
        |  LEFT JOIN adm0 q ON v.cat_id = q.doc_id
        |  WHERE v.by_b IS NULL OR q.doc_id IS NOT NULL),
        |d1 AS MATERIALIZED (SELECT a.doc_id, count(v.cat_id) AS nd, min(v.cat_id) AS bm
        |  FROM bat a LEFT JOIN v1 v ON a.doc_id = v.doc_id
        |  WHERE a.b = 1 GROUP BY a.doc_id),
        |adm1 AS MATERIALIZED (SELECT doc_id FROM d1 WHERE nd = 0),
        |adm01 AS MATERIALIZED (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1),
        |v2 AS MATERIALIZED (SELECT v.doc_id, v.cat_id FROM ver v
        |  LEFT JOIN adm01 q ON v.cat_id = q.doc_id
        |  WHERE v.by_b IS NULL OR q.doc_id IS NOT NULL),
        |d2 AS MATERIALIZED (SELECT a.doc_id, count(v.cat_id) AS nd, min(v.cat_id) AS bm
        |  FROM bat a LEFT JOIN v2 v ON a.doc_id = v.doc_id
        |  WHERE a.b = 2 GROUP BY a.doc_id),
        |alls AS (SELECT * FROM d0
        |  UNION ALL SELECT * FROM d1
        |  UNION ALL SELECT * FROM d2)
        |SELECT doc_id,
        |  CASE WHEN nd = 0 THEN 'new' ELSE 'dup' END AS status,
        |  CAST(nd AS BIGINT) AS n_near_dups,
        |  CAST(coalesce(bm, -1) AS BIGINT) AS best_match
        |FROM alls
        |ORDER BY doc_id""".stripMargin)),

    // Batch (doc_id%5=4) admitted against the catalog's minhash bands,
    // exact-Jaccard verified at >= 0.5 — the incremental near-dup gate.
    "dedup_incremental_minhash" -> Query(TextOps.dedupIncrementalMinhash _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh0 AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM sh0 GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS cat_id
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4),
        |shd AS (SELECT DISTINCT doc_id, shingle FROM sh0),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        |inter AS (SELECT c.doc_id, c.cat_id, count(*) AS n_inter
        |  FROM cand c JOIN shd a ON c.doc_id = a.doc_id
        |  JOIN shd b ON c.cat_id = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY c.doc_id, c.cat_id),
        |m AS (SELECT c.doc_id, count(*) AS n_near_dups, min(c.cat_id) AS best_match
        |  FROM cand c
        |  LEFT JOIN inter i ON c.doc_id = i.doc_id AND c.cat_id = i.cat_id
        |  JOIN cnt na ON c.doc_id = na.doc_id
        |  JOIN cnt nb ON c.cat_id = nb.doc_id
        |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / CAST(na.n_sh + nb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) >= 0.5
        |  GROUP BY c.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN m.doc_id IS NULL THEN 'new' ELSE 'dup' END AS status,
        |  CAST(coalesce(m.n_near_dups, 0) AS BIGINT) AS n_near_dups,
        |  CAST(coalesce(m.best_match, -1) AS BIGINT) AS best_match
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |WHERE d.doc_id % 5 = 4
        |ORDER BY d.doc_id""".stripMargin)),

    "modality_coverage" -> Query(VectorOps.modalityCoverage _, Oracle(
      """SELECT d.lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(e.vec_id) AS BIGINT) AS n_with_embedding,
        |  CAST(count(e.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
        |FROM documents d
        |LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin)),

    // The Aggregator's micro-unit quantizer floor(x*1e6 + 0.5) recomputed
    // per element; centroid = class-2 raw quotient of exact integers.
    "label_centroids" -> Query(VectorOps.labelCentroids _, Oracle(
      """WITH x AS (SELECT label, i AS dim,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS u(i)),
        |g AS (SELECT label, dim,
        |    CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(q) AS BIGINT) AS sum_q
        |  FROM x GROUP BY label, dim)
        |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim, n_rows, sum_q,
        |  CAST(sum_q AS DOUBLE) / CAST(n_rows * 1000000 AS DOUBLE) AS centroid
        |FROM g
        |ORDER BY label, dim""".stripMargin)),

    "doc_chunks" -> Query(TextOps.docChunks _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id,
        |    unnest(list_transform(range(0, greatest((len(tk) - 1) // 24, 0) + 1),
        |      i -> struct_pack(chunk_no := i, ch := tk[24 * i + 1 : 24 * i + 32]))) AS s
        |  FROM t)
        |SELECT doc_id, CAST(s.chunk_no AS BIGINT) AS chunk_no,
        |  CAST(len(s.ch) AS BIGINT) AS n_tokens,
        |  array_to_string(s.ch, ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_no""".stripMargin)),

    "contamination_check" -> Query(TextOps.contaminationCheck _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |    WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(0, len(tk) - 7),
        |      i -> array_to_string(tk[i + 1 : i + 8], ' '))) AS gram
        |  FROM t),
        |e AS (SELECT doc_id AS eval_doc, gram FROM g WHERE doc_id % 10 = 7),
        |tr AS (SELECT doc_id AS train_doc, gram FROM g WHERE doc_id % 10 <> 7)
        |SELECT eval_doc,
        |  CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams,
        |  CAST(count(DISTINCT train_doc) AS BIGINT) AS n_train_docs
        |FROM e JOIN tr USING (gram)
        |GROUP BY eval_doc
        |ORDER BY eval_doc""".stripMargin)),

    "dedup_incremental" -> Query(TextOps.dedupIncremental _, Oracle(incrementalDedupSql)),

    // Bloom-pruned incremental dedup: the runtime filter only PRUNES the
    // catalog side of the exact anti-join, so the answer — and the oracle —
    // is identical to dedup_incremental's.
    "dedup_bloom_prune" -> Query(TextOps.dedupBloomPrune _, Oracle(incrementalDedupSql)),

    // Repetition is computed per doc with list functions on both engines —
    // identical shingle construction to the MinHash oracle, then
    // distinct-vs-total inside the row.
    "doc_repetition" -> Query(TextOps.docRepetition _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS shs FROM tok)
        |SELECT doc_id,
        |  CAST(len(shs) AS BIGINT) AS n_shingles,
        |  CAST(len(list_distinct(shs)) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(shs)) AS DOUBLE) / CAST(len(shs) AS DOUBLE) AS dup_ratio
        |FROM sh
        |ORDER BY doc_id""".stripMargin)),

    "doc_commonness" -> Query(TextOps.docCommonness _, Oracle(
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
        |counts AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(cnt) AS BIGINT) AS sum_freq,
        |  CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_freq
        |FROM t JOIN counts USING (tok)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // BM25 with the log-free rational idf (house no-libm rule); per-term
    // scores quantized to BIGINT micro-units BEFORE the per-doc sum, so the
    // ranking key is an exact integer in both engines.
    "bm25_topk" -> Query(TextAnalysisOps.bm25Topk _, Oracle(
      s"""WITH ${TextAnalysisOps.queryWorkloadValuesSql},
        |d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |      FROM documents WHERE lang = 'en'),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |sc AS (
        |  SELECT qid, tfc.doc_id,
        |    CAST(floor(((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) +
        |      1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) * 1000000 + 0.5) AS BIGINT)
        |      AS score_micro
        |  FROM tfc JOIN q ON term = q_term JOIN dfc USING (term)
        |  JOIN dl ON dl.doc_id = tfc.doc_id CROSS JOIN st),
        |qd AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id, CAST(sum(score_micro) AS BIGINT) AS score_micro,
        |              CAST(count(*) AS BIGINT) AS n_terms_hit FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id)
        |        AS rnk FROM qd)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", doc_id, score_micro, n_terms_hit
        |FROM r WHERE rnk <= 10 ORDER BY qid, "rank"""".stripMargin)),

    // Reciprocal-rank fusion of the BM25 top-10 and a query-term-set
    // Jaccard top-10: rrf = Σ_r 1000000 DIV (60 + rank_r), an exact
    // integer; a doc absent from a ranker's list contributes 0.
    "hybrid_rrf_topk" -> Query(RetrievalOps.hybridRrfTopk _, Oracle(
      s"""WITH ${TextAnalysisOps.queryWorkloadValuesSql},
        |d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |      FROM documents WHERE lang = 'en'),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |sc AS (
        |  SELECT qid, tfc.doc_id,
        |    CAST(floor(((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) +
        |      1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) * 1000000 + 0.5) AS BIGINT)
        |      AS score_micro
        |  FROM tfc JOIN q ON term = q_term JOIN dfc USING (term)
        |  JOIN dl ON dl.doc_id = tfc.doc_id CROSS JOIN st),
        |bm AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id,
        |              row_number() OVER (PARTITION BY qid ORDER BY sum(score_micro) DESC, doc_id)
        |                AS bm25_rank
        |       FROM sc GROUP BY qid, doc_id
        |       QUALIFY bm25_rank <= 10),
        |dset AS (SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS n_set
        |         FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1),
        |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_q FROM q GROUP BY 1),
        |inter AS (SELECT qid, doc_id, CAST(count(DISTINCT term) AS BIGINT) AS n_inter
        |          FROM (SELECT doc_id, unnest(toks) AS term FROM d) t JOIN q ON term = q_term
        |          GROUP BY 1, 2),
        |jc AS (SELECT CAST(i.qid AS BIGINT) AS qid, i.doc_id,
        |              row_number() OVER (PARTITION BY i.qid ORDER BY
        |                CAST(floor(1000000.0 * n_inter / (n_set + n_q - n_inter) + 0.5) AS BIGINT) DESC,
        |                i.doc_id) AS jacc_rank
        |       FROM inter i JOIN dset USING (doc_id) JOIN qn ON qn.qid = i.qid
        |       QUALIFY jacc_rank <= 10),
        |fused AS (
        |  SELECT coalesce(bm.qid, jc.qid) AS qid, coalesce(bm.doc_id, jc.doc_id) AS doc_id,
        |         CAST(coalesce(1000000 // (60 + bm.bm25_rank), 0) +
        |              coalesce(1000000 // (60 + jc.jacc_rank), 0) AS BIGINT) AS rrf_micro,
        |         CAST(bm.bm25_rank AS BIGINT) AS bm25_rank, CAST(jc.jacc_rank AS BIGINT) AS jacc_rank
        |  FROM bm FULL OUTER JOIN jc ON bm.qid = jc.qid AND bm.doc_id = jc.doc_id)
        |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, doc_id) AS BIGINT)
        |         AS "rank",
        |       doc_id, rrf_micro, bm25_rank, jacc_rank
        |FROM fused
        |QUALIFY "rank" <= 10
        |ORDER BY qid, "rank"""".stripMargin)),

    // MMR greedy replayed EXACTLY in SQL: a recursive CTE carries the
    // selected set as an array and a LATERAL argmax picks each next
    // candidate by (rel_micro − max selected-Jaccard, low doc_id) — the
    // same integer lattice the Spark mapGroups walks, so the selection
    // is hash-exact.
    "mmr_rerank_k8" -> Query(RetrievalOps.mmrRerankK8 _, Oracle(
      s"""WITH RECURSIVE ${TextAnalysisOps.queryWorkloadValuesSql},
        |d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |      FROM documents WHERE lang = 'en'),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |sc AS (
        |  SELECT qid, tfc.doc_id,
        |    CAST(floor(((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) +
        |      1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) * 1000000 + 0.5) AS BIGINT)
        |      AS score_micro
        |  FROM tfc JOIN q ON term = q_term JOIN dfc USING (term)
        |  JOIN dl ON dl.doc_id = tfc.doc_id CROSS JOIN st),
        |cand AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id, CAST(sum(score_micro) AS BIGINT) AS rel_micro
        |         FROM sc GROUP BY qid, doc_id
        |         QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel_micro DESC, doc_id) <= 10),
        |ctok AS (SELECT DISTINCT c.qid, c.doc_id, t.term
        |         FROM cand c JOIN (SELECT doc_id, unnest(toks) AS term FROM d) t USING (doc_id)),
        |csz AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_set FROM ctok GROUP BY 1, 2),
        |sims AS (
        |  SELECT p.qid, p.da AS a, p.db AS b,
        |    CAST(floor(1000000.0 * cnt / (sa.n_set + sb.n_set - cnt) + 0.5) AS BIGINT) AS jac_micro
        |  FROM (SELECT x.qid, x.doc_id AS da, y.doc_id AS db, CAST(count(*) AS BIGINT) AS cnt
        |        FROM ctok x JOIN ctok y ON x.qid = y.qid AND x.term = y.term AND x.doc_id < y.doc_id
        |        GROUP BY 1, 2, 3) p
        |  JOIN csz sa ON sa.qid = p.qid AND sa.doc_id = p.da
        |  JOIN csz sb ON sb.qid = p.qid AND sb.doc_id = p.db),
        |simsym AS (SELECT qid, a, b, jac_micro FROM sims
        |           UNION ALL SELECT qid, b, a, jac_micro FROM sims),
        |sel(qid, step, picked, mmr_micro, sel_list) AS (
        |  (SELECT qid, CAST(1 AS BIGINT), doc_id, rel_micro, [doc_id]
        |   FROM cand QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel_micro DESC, doc_id) = 1)
        |  UNION ALL
        |  SELECT s.qid, s.step + 1, p.doc_id, p.mmr, list_append(s.sel_list, p.doc_id)
        |  FROM sel s, LATERAL (
        |    SELECT c.doc_id,
        |      c.rel_micro - coalesce((SELECT max(j.jac_micro) FROM simsym j
        |        WHERE j.qid = s.qid AND j.a = c.doc_id AND list_contains(s.sel_list, j.b)), 0) AS mmr
        |    FROM cand c
        |    WHERE c.qid = s.qid AND NOT list_contains(s.sel_list, c.doc_id)
        |    ORDER BY mmr DESC, c.doc_id
        |    LIMIT 1) p
        |  WHERE s.step < 8
        |)
        |SELECT qid, step AS "rank", picked AS doc_id, CAST(mmr_micro AS BIGINT) AS mmr_micro
        |FROM sel ORDER BY qid, "rank"""".stripMargin)),

    // Exact medians over integer cents (quantile_cont ≡ Spark percentile):
    // interpolated midpoints are exact .5-step doubles, so med/MAD/compare
    // are engine-portable with no rounding anywhere.
    "mad_outliers" -> Query(EventOps.madOutliers _, Oracle(
      """WITH e AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med_cents FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, abs(CAST(cents AS DOUBLE) - med_cents) AS dev, med_cents
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad_cents FROM d GROUP BY 1)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |       min(med_cents) AS med_cents, min(mad_cents) AS mad_cents,
        |       CAST(sum(CASE WHEN dev > 3.0 * mad_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    "text_tokens" -> Query(TextOps.textTokens _, Oracle(
      """WITH tk AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents WHERE lang = 'en')
        |SELECT tok, CAST(count(*) AS BIGINT) AS n
        |FROM tk WHERE length(tok) > 0
        |GROUP BY tok
        |ORDER BY n DESC, tok
        |LIMIT 20""".stripMargin)),

    // Adjacent pairs over the SAME whitespace tokens as text_tokens: the
    // engine builds pairs map-side with a positional transform; the oracle
    // with lead() over unnest positions. Empty tokens are dropped BEFORE
    // pairing on both sides, so adjacency means adjacent non-empty tokens.
    "bpe_pair_stats" -> Query(TextOps.bpePairStats _, Oracle(
      """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |           FROM documents WHERE lang = 'en'),
        |t AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM d),
        |pr AS (SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS pair FROM t)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM pr WHERE pair IS NOT NULL
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin)),

    // MERGE/upsert as full-outer join + CASE (how table formats execute
    // MERGE INTO); per-action audit of the merged table, integer cents.
    "merge_upsert_parts" -> Query(Relational.mergeUpsertParts _, Oracle(
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM part),
        |tgt AS (SELECT p_partkey AS k, CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents FROM part),
        |upd AS (SELECT k, cents + 500 AS cents FROM tgt WHERE k % 7 = 0),
        |ins AS (SELECT k + (SELECT cnt FROM n) AS k, 1000 + ((k + (SELECT cnt FROM n)) % 997) AS cents
        |        FROM tgt WHERE k < 100),
        |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |m AS (SELECT COALESCE(t.k, s.k) AS k,
        |             CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN 'update'
        |                  WHEN t.k IS NULL THEN 'insert' ELSE 'keep' END AS action,
        |             CAST(COALESCE(s.cents, t.cents) AS BIGINT) AS cents
        |      FROM tgt t FULL JOIN src s ON t.k = s.k)
        |SELECT action, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
        |FROM m GROUP BY action ORDER BY action""".stripMargin)),

    // Integer fixed-point PageRank: every step exact BIGINT arithmetic so
    // aggregation order can't move a single bit — the recursion replays
    // identically as a recursive CTE. Nodes without in-edges are kept via
    // the left join (their iter tag is window-filled from the global max).
    // Triangles counted once each at their minimum vertex (a<b<c oriented
    // two-join); clustering = one exact-int IEEE quotient (class 2).
    // Link prediction over the same closed-form graph; Jaccard is one
    // int/int IEEE division (class 2).
    "link_predict_cn" -> Query(GraphOps.linkPredictCn _, Oracle(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |directed AS (
        |  SELECT doc_id AS src, n_chars % (SELECT n FROM nn) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (n_chars * 31 + doc_id) % (SELECT n FROM nn) FROM documents),
        |edges AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM directed WHERE src <> dst),
        |und AS (SELECT a AS node, b AS nbr FROM edges
        |        UNION ALL SELECT b, a FROM edges),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY node),
        |cand AS (
        |  SELECT x.nbr AS u, y.nbr AS v, CAST(count(*) AS BIGINT) AS cn
        |  FROM und x JOIN und y ON x.node = y.node AND x.nbr < y.nbr
        |  GROUP BY 1, 2),
        |nonedge AS (
        |  SELECT u, v, cn FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = c.u AND e.b = c.v))
        |SELECT u, v, cn, du.deg AS deg_u, dv.deg AS deg_v,
        |  CAST(cn AS DOUBLE) / CAST(du.deg + dv.deg - cn AS DOUBLE) AS jaccard
        |FROM nonedge
        |JOIN deg du ON du.node = u
        |JOIN deg dv ON dv.node = v
        |ORDER BY cn DESC, u, v
        |LIMIT 20""".stripMargin)),

    "triangle_count_docs" -> Query(GraphOps.triangleCountDocs _, Oracle(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |directed AS (
        |  SELECT doc_id AS src, n_chars % (SELECT n FROM nn) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (n_chars * 31 + doc_id) % (SELECT n FROM nn) FROM documents),
        |edges AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM directed WHERE src <> dst),
        |wedges AS (SELECT e1.b AS a, e2.b AS b FROM edges e1 JOIN edges e2
        |  ON e1.a = e2.a AND e1.b < e2.b),
        |tri AS (SELECT w.a, w.b FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM edges e WHERE e.a = w.a AND e.b = w.b))
        |SELECT (SELECT n FROM nn) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
        |  CAST(3 * (SELECT count(*) FROM tri) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM wedges) AS DOUBLE) AS clustering""".stripMargin)),

    // Stub symmetry (Σx = Σy, Σx² = Σy²) collapses Pearson to a sqrt-free
    // rational — exact BIGINTs, one class-2 division.
    "graph_assortativity" -> Query(GraphOps.graphAssortativity _, Oracle(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |directed AS (
        |  SELECT doc_id AS src, n_chars % (SELECT n FROM nn) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (n_chars * 31 + doc_id) % (SELECT n FROM nn) FROM documents),
        |edges AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM directed WHERE src <> dst),
        |und AS (SELECT a AS node, b AS nbr FROM edges
        |        UNION ALL SELECT b, a FROM edges),
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
        |st AS (SELECT du.deg AS x, dv.deg AS y
        |       FROM und JOIN d du ON und.node = du.node JOIN d dv ON und.nbr = dv.node),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS m_stubs, CAST(sum(x) AS BIGINT) AS sum_deg,
        |         CAST(sum(x * y) AS BIGINT) AS sum_xy, CAST(sum(x * x) AS BIGINT) AS sum_x2
        |       FROM st)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        |  m_stubs, sum_deg, sum_xy, sum_x2,
        |  CAST(m_stubs * sum_xy - sum_deg * sum_deg AS DOUBLE)
        |    / CAST(m_stubs * sum_x2 - sum_deg * sum_deg AS DOUBLE) AS assortativity
        |FROM ag""".stripMargin)),

    "pagerank_docs" -> Query(GraphOps.pagerankDocs _, Oracle(
      """WITH RECURSIVE
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |nodes AS (SELECT doc_id AS node FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, n_chars % (SELECT n FROM nn) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (n_chars * 31 + doc_id) % (SELECT n FROM nn) FROM documents),
        |pr AS (
        |  SELECT 0 AS iter, node, CAST(1000000 AS BIGINT) AS rank FROM nodes
        |  UNION ALL
        |  SELECT c.iter + 1, c.node, CAST(150000 + 85 * c.s // 100 AS BIGINT) AS rank
        |  FROM (SELECT node, s, max(it) OVER () AS iter
        |        FROM (SELECT nd.node AS node, COALESCE(sum(p.rank // 2), 0) AS s, max(p.iter) AS it
        |              FROM nodes nd
        |              LEFT JOIN (SELECT e.dst, pp.rank, pp.iter FROM pr pp JOIN edges e ON pp.node = e.src) p
        |                ON p.dst = nd.node
        |              GROUP BY nd.node)) c
        |  WHERE c.iter < 10
        |)
        |SELECT node, rank FROM pr WHERE iter = 10 ORDER BY rank DESC, node LIMIT 20""".stripMargin)),

    // Blocked fuzzy match over the DISTINCT name domain: candidates share
    // a token, survivors within Levenshtein <= 3 (exact DP metric, same on
    // both engines), row counts joined back for the fact-level linkage.
    // Blocking tokens are frequency-capped at DF <= 256 on BOTH sides
    // (TextAnalysisOps.FuzzyBlockCap): semantics are "a pair must share a
    // RARE token", identical at every scale.
    "fuzzy_name_match" -> Query(TextAnalysisOps.fuzzyNameMatch _, Oracle(
      """WITH names AS (SELECT p_name AS nm, CAST(count(*) AS BIGINT) AS n_rows FROM part GROUP BY p_name),
        |tok AS (SELECT nm, unnest(string_split(nm, ' ')) AS tk FROM names),
        |blockable AS (SELECT tk FROM tok GROUP BY tk HAVING count(DISTINCT nm) <= 256),
        |btok AS (SELECT nm, tk FROM tok JOIN blockable USING (tk)),
        |cand AS (SELECT DISTINCT a.nm AS nm1, b.nm AS nm2
        |         FROM btok a JOIN btok b ON a.tk = b.tk AND a.nm < b.nm),
        |m AS (SELECT nm1, nm2, CAST(levenshtein(nm1, nm2) AS BIGINT) AS dist
        |      FROM cand WHERE levenshtein(nm1, nm2) <= 3)
        |SELECT m.nm1, m.nm2, m.dist, x.n_rows AS n1, y.n_rows AS n2
        |FROM m JOIN names x ON m.nm1 = x.nm JOIN names y ON m.nm2 = y.nm
        |ORDER BY m.dist, m.nm1, m.nm2""".stripMargin)),

    // Sequence packing: all-integer contiguous fill per shard — the bin
    // manifest is a pure window computation on both engines.
    "pack_token_bins" -> Query(TextOps.packTokenBins _, Oracle(
      """WITH d AS (SELECT doc_id, doc_id % 16 AS shard,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS strt FROM d)
        |SELECT shard, doc_id, n_tokens,
        |  CAST(strt // 2048 AS BIGINT) AS bin_id,
        |  CAST(strt % 2048 AS BIGINT) AS bin_offset
        |FROM c
        |ORDER BY shard, doc_id""".stripMargin)),

    // Rarity-weighted top terms: score = tf × N / df — multiply/divide
    // only (IEEE-exact, engine-identical), never ln.
    "rarity_top_terms" -> Query(TextAnalysisOps.rarityTopTerms _, Oracle(
      """WITH tk AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM tk WHERE len(tok) > 0),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf,
        |    CAST(tf.tf AS DOUBLE) * CAST((SELECT n_docs FROM n) AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (tok)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk FROM s)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, CAST(tf AS BIGINT) AS tf, score
        |FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin)),

    // Heavy hitters: the sketch pass only nominates candidates; the final
    // counts are exact, so the oracle is the plain exact φ=1/512 query.
    "heavy_hitters_tokens" -> Query(TextOps.heavyHittersTokens _, Oracle(
      """WITH tk AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT tok FROM tk WHERE length(tok) > 0),
        |tot AS (SELECT count(*) AS n FROM t)
        |SELECT tok, CAST(count(*) AS BIGINT) AS n
        |FROM t
        |GROUP BY tok
        |HAVING count(*) * 512 > (SELECT n FROM tot)
        |ORDER BY n DESC, tok""".stripMargin)),

    // CMS: both engines build the IDENTICAL d×w sketch (md5-hex-prefix row
    // hashes), so estimate, exact, and overcount all sit on the hash.
    "cms_token_counts" -> Query(TextAnalysisOps.cmsTokenCounts _, Oracle(TextAnalysisOps.Oracle.cmsTokenCounts)),

    "text_stats_lang" -> Query(TextOps.textStatsLang _, Oracle(
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
        |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // LSH quality gate: same banded-candidate CTE as the dedup oracle,
    // truth = integer-exact J >= 1/2 over the shared-shingle universe.
    "minhash_pr_eval" -> Query(TextOps.minhashPrEval _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |shl AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM shl GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |shd AS (SELECT DISTINCT doc_id, shingle FROM shl),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        |truth AS (
        |  SELECT i.doc1, i.doc2
        |  FROM (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
        |        FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2) i
        |  JOIN cnt c1 ON i.doc1 = c1.doc_id
        |  JOIN cnt c2 ON i.doc2 = c2.doc_id
        |  WHERE i.n_inter * 3 >= c1.n_sh + c2.n_sh),
        |hit AS (SELECT t.doc1, t.doc2 FROM truth t
        |  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.doc1 = t.doc1 AND c.doc2 = t.doc2))
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
        |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
        |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
        |  CAST((SELECT count(*) FROM hit) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM cand) AS DOUBLE) AS precision,
        |  CAST((SELECT count(*) FROM hit) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall""".stripMargin)),

    // Planted-truth P/R: probes = 1% sample with md5-coin token drops in
    // three severity bands; truth = the planted (probe, source) list,
    // exact-verified pair-by-pair (linear at any SF — no all-pairs join).
    "minhash_pr_planted" -> Query(TextOps.minhashPrPlanted _, Oracle(
      """WITH pr0 AS (SELECT doc_id AS src_id, (doc_id // 100) % 3 AS band,
        |    string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 100 = 7),
        |pr AS MATERIALIZED (SELECT src_id, band, src_id + 1000000000000 AS probe_id,
        |    list_filter(t, tok -> md5('e:' || tok) >=
        |      CASE WHEN band = 0 THEN '1' WHEN band = 1 THEN '18' ELSE '2' END) AS m
        |  FROM pr0),
        |psh AS MATERIALIZED (SELECT DISTINCT probe_id, shingle
        |  FROM pr, UNNEST(list_transform(generate_series(1, len(m) - 2),
        |    i -> m[i] || ' ' || m[i + 1] || ' ' || m[i + 2])) AS u(shingle)
        |  WHERE len(m) >= 3),
        |pcnt AS MATERIALIZED (SELECT probe_id, count(*) AS n_p FROM psh GROUP BY probe_id),
        |pg AS MATERIALIZED (SELECT probe_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM psh GROUP BY probe_id),
        |psig AS MATERIALIZED (
        |  SELECT probe_id, 0 AS lsh_band, s0 || s1 AS sig FROM pg
        |  UNION ALL SELECT probe_id, 1, s2 || s3 FROM pg
        |  UNION ALL SELECT probe_id, 2, s4 || s5 FROM pg
        |  UNION ALL SELECT probe_id, 3, s6 || s7 FROM pg),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |shl AS MATERIALIZED (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS MATERIALIZED (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM shl GROUP BY doc_id),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, 0 AS lsh_band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS MATERIALIZED (SELECT DISTINCT p.probe_id, c.doc_id AS cat_id
        |  FROM psig p JOIN sig c ON p.lsh_band = c.lsh_band AND p.sig = c.sig),
        |shd AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM shl),
        |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        |interc AS MATERIALIZED (SELECT c.probe_id, c.cat_id, count(*) AS n_inter
        |  FROM cand c JOIN psh a ON c.probe_id = a.probe_id
        |  JOIN shd b ON c.cat_id = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |candv AS MATERIALIZED (SELECT c.probe_id, c.cat_id, coalesce(i.n_inter, 0) AS n_inter,
        |    pc.n_p, cc.n_sh AS n_c
        |  FROM cand c
        |  LEFT JOIN interc i ON c.probe_id = i.probe_id AND c.cat_id = i.cat_id
        |  JOIN pcnt pc ON c.probe_id = pc.probe_id
        |  JOIN cnt cc ON c.cat_id = cc.doc_id),
        |sshd AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM shd s
        |  JOIN (SELECT DISTINCT src_id FROM pr) u ON s.doc_id = u.src_id),
        |interp AS MATERIALIZED (SELECT a.probe_id, count(*) AS n_inter
        |  FROM psh a JOIN pr p ON a.probe_id = p.probe_id
        |  JOIN sshd b ON b.doc_id = p.src_id AND b.shingle = a.shingle
        |  GROUP BY 1),
        |planted AS MATERIALIZED (SELECT p.probe_id, p.src_id, p.band,
        |    coalesce(ip.n_inter, 0) AS n_inter,
        |    coalesce(pc.n_p, 0) AS n_p, cc.n_sh AS n_c
        |  FROM pr p
        |  JOIN cnt cc ON p.src_id = cc.doc_id
        |  LEFT JOIN pcnt pc ON p.probe_id = pc.probe_id
        |  LEFT JOIN interp ip ON p.probe_id = ip.probe_id),
        |pla AS (SELECT band, count(*) AS n_planted,
        |    sum(CASE WHEN 3 * n_inter >= n_p + n_c THEN 1 ELSE 0 END) AS n_true
        |  FROM planted GROUP BY band),
        |reca AS (SELECT pl.band, count(*) AS n_recovered
        |  FROM planted pl
        |  JOIN cand c ON pl.probe_id = c.probe_id AND pl.src_id = c.cat_id
        |  WHERE 3 * pl.n_inter >= pl.n_p + pl.n_c
        |  GROUP BY pl.band),
        |ca AS (SELECT p.band, count(*) AS n_cand,
        |    sum(CASE WHEN 3 * v.n_inter >= v.n_p + v.n_c THEN 1 ELSE 0 END)
        |      AS n_cand_true
        |  FROM candv v JOIN pr p ON v.probe_id = p.probe_id
        |  GROUP BY p.band)
        |SELECT CAST(pla.band AS BIGINT) AS band,
        |  CAST(n_planted AS BIGINT) AS n_planted,
        |  CAST(n_true AS BIGINT) AS n_true,
        |  CAST(coalesce(n_recovered, 0) AS BIGINT) AS n_recovered,
        |  CASE WHEN n_true = 0 THEN NULL
        |    ELSE CAST(coalesce(n_recovered, 0) AS DOUBLE) / CAST(n_true AS DOUBLE)
        |  END AS recall,
        |  CAST(coalesce(n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(n_cand_true, 0) AS BIGINT) AS n_cand_true,
        |  CASE WHEN coalesce(n_cand, 0) = 0 THEN NULL
        |    ELSE CAST(coalesce(n_cand_true, 0) AS DOUBLE) / CAST(n_cand AS DOUBLE)
        |  END AS precision
        |FROM pla
        |LEFT JOIN reca ON pla.band = reca.band
        |LEFT JOIN ca ON pla.band = ca.band
        |ORDER BY band""".stripMargin)),

    "ngram_jaccard" -> Query(TextOps.ngramJaccard _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |shl AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM shl GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |shd AS (SELECT DISTINCT doc_id, shingle FROM shl),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        |inter AS (SELECT c.doc1, c.doc2, count(*) AS n_inter
        |  FROM cand c
        |  JOIN shd a ON c.doc1 = a.doc_id
        |  JOIN shd b ON c.doc2 = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY c.doc1, c.doc2)
        |SELECT c.doc1, c.doc2,
        |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
        |  CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / CAST(c1.n_sh + c2.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
        |FROM cand c
        |LEFT JOIN inter i ON c.doc1 = i.doc1 AND c.doc2 = i.doc2
        |JOIN cnt c1 ON c.doc1 = c1.doc_id
        |JOIN cnt c2 ON c.doc2 = c2.doc_id
        |ORDER BY c.doc1, c.doc2""".stripMargin)),

    "minhash_containment" -> Query(TextOps.minhashContainment _, Oracle(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |shl AS (SELECT doc_id, shingle
        |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
        |g AS (SELECT doc_id,
        |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
        |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
        |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
        |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
        |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
        |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
        |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
        |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
        |  FROM shl GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
        |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |shd AS (SELECT DISTINCT doc_id, shingle FROM shl),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        |inter AS (SELECT c.doc1, c.doc2, count(*) AS n_inter
        |  FROM cand c
        |  JOIN shd a ON c.doc1 = a.doc_id
        |  JOIN shd b ON c.doc2 = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY c.doc1, c.doc2)
        |SELECT c.doc1, c.doc2,
        |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
        |  CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(c1.n_sh AS DOUBLE) AS cont_1in2,
        |  CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(c2.n_sh AS DOUBLE) AS cont_2in1,
        |  CAST(CASE WHEN greatest(
        |      CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(c1.n_sh AS DOUBLE),
        |      CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(c2.n_sh AS DOUBLE)) >= 0.9
        |    THEN 1 ELSE 0 END AS BIGINT) AS contained
        |FROM cand c
        |LEFT JOIN inter i ON c.doc1 = i.doc1 AND c.doc2 = i.doc2
        |JOIN cnt c1 ON c.doc1 = c1.doc_id
        |JOIN cnt c2 ON c.doc2 = c2.doc_id
        |ORDER BY c.doc1, c.doc2""".stripMargin)),

    // Sketch-accuracy audit: the ngram_jaccard chain extended with the
    // per-pair MinHash match count read from the same g CTE; n_match/8 and
    // the error are exact IEEE values (class 2 — no rounding).
    "minhash_jaccard_audit" -> Query(TextOps.minhashJaccardAudit _, Oracle {
      val matches = (0 until 8)
        .map(i => s"(CASE WHEN ga.s$i = gb.s$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |shl AS (SELECT doc_id, shingle
         |  FROM tok, UNNEST(list_transform(generate_series(1, len(t) - 2),
         |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(shingle)),
         |g AS (SELECT doc_id,
         |    min(substr(md5('mh0:' || shingle), 1, 16)) AS s0,
         |    min(substr(md5('mh0:' || shingle), 17, 16)) AS s1,
         |    min(substr(md5('mh1:' || shingle), 1, 16)) AS s2,
         |    min(substr(md5('mh1:' || shingle), 17, 16)) AS s3,
         |    min(substr(md5('mh2:' || shingle), 1, 16)) AS s4,
         |    min(substr(md5('mh2:' || shingle), 17, 16)) AS s5,
         |    min(substr(md5('mh3:' || shingle), 1, 16)) AS s6,
         |    min(substr(md5('mh3:' || shingle), 17, 16)) AS s7
         |  FROM shl GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id, 0 AS band, s0 || s1 AS sig FROM g
         |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM g
         |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM g
         |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM g),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |shd AS (SELECT DISTINCT doc_id, shingle FROM shl),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
         |inter AS (SELECT c.doc1, c.doc2, count(*) AS n_inter
         |  FROM cand c
         |  JOIN shd a ON c.doc1 = a.doc_id
         |  JOIN shd b ON c.doc2 = b.doc_id AND a.shingle = b.shingle
         |  GROUP BY c.doc1, c.doc2),
         |ex AS (SELECT c.doc1, c.doc2,
         |    CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |      / CAST(c1.n_sh + c2.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
         |  FROM cand c
         |  LEFT JOIN inter i ON c.doc1 = i.doc1 AND c.doc2 = i.doc2
         |  JOIN cnt c1 ON c.doc1 = c1.doc_id
         |  JOIN cnt c2 ON c.doc2 = c2.doc_id)
         |SELECT e.doc1, e.doc2,
         |  CAST($matches AS BIGINT) AS n_match,
         |  CAST($matches AS DOUBLE) / CAST(8 AS DOUBLE) AS est_j,
         |  e.jaccard,
         |  CAST($matches AS DOUBLE) / CAST(8 AS DOUBLE) - e.jaccard AS err
         |FROM ex e
         |JOIN g ga ON e.doc1 = ga.doc_id
         |JOIN g gb ON e.doc2 = gb.doc_id
         |ORDER BY e.doc1, e.doc2""".stripMargin
    }),

    "token_count_regex" -> Query(TextOps.tokenCountRegex _, Oracle(
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))) AS BIGINT) AS re_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    "lang_id_confusion" -> Query(TextAnalysisOps.langIdConfusion _, Oracle(TextAnalysisOps.Oracle.langIdConfusion)),
    "assoc_rules_brands" -> Query(MiningOps.assocRulesBrands _, Oracle(MiningOps.Oracle.assocRulesBrands)),
    "ols_trend_user" -> Query(MiningOps.olsTrendUser _, Oracle(MiningOps.Oracle.olsTrendUser)),
    "cosine_tf_pairs" -> Query(MiningOps.cosineTfPairs _, Oracle(MiningOps.Oracle.cosineTfPairs)),
    "chi2_event_dow" -> Query(MiningOps.chi2EventDow _, Oracle(MiningOps.Oracle.chi2EventDow)),
    "forget_user_cascade" -> Query(MiningOps.forgetUserCascade _, Oracle(MiningOps.Oracle.forgetUserCascade)),
    "temporal_split_embargo" -> Query(MiningOps.temporalSplitEmbargo _, Oracle(MiningOps.Oracle.temporalSplitEmbargo)),
    "percentile_bands_value" -> Query(MiningOps.percentileBandsValue _, Oracle(MiningOps.Oracle.percentileBandsValue)),
    "width_bucket_hist" -> Query(MiningOps.widthBucketHist _, Oracle(MiningOps.Oracle.widthBucketHist)),
    "time_weighted_avg_user" -> Query(MiningOps.timeWeightedAvgUser _, Oracle(MiningOps.Oracle.timeWeightedAvgUser)),
    "table_checksum_diff" -> Query(MiningOps.tableChecksumDiff _, Oracle(MiningOps.Oracle.tableChecksumDiff)),
    "benford_first_digit" -> Query(MiningOps.benfordFirstDigit _, Oracle(MiningOps.Oracle.benfordFirstDigit)),
    "rfm_segments" -> Query(MiningOps.rfmSegments _, Oracle(MiningOps.Oracle.rfmSegments)),
    "pattern_profile_columns" -> Query(MiningOps.patternProfileColumns _, Oracle(MiningOps.Oracle.patternProfileColumns)),
    "attribution_first_last" -> Query(MiningOps.attributionFirstLast _, Oracle(MiningOps.Oracle.attributionFirstLast)),
    "interarrival_hist_type" -> Query(MiningOps.interarrivalHistType _, Oracle(MiningOps.Oracle.interarrivalHistType)),
    "holt_linear_daily" -> Query(MiningOps.holtLinearDaily _, Oracle(MiningOps.Oracle.holtLinearDaily)),

    // Join-key skew profile: per candidate shuffle key, max·keys/rows
    // and the top-1 share — both one int/int division.
    "key_skew_profile" -> Query(Relational.keySkewProfile _, Oracle(
      """WITH oc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders
        |            GROUP BY o_custkey),
        |lp AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem
        |       GROUP BY l_partkey),
        |ls AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem
        |       GROUP BY l_suppkey),
        |eu AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events
        |       GROUP BY user_id),
        |u AS (
        |  SELECT 'orders.o_custkey' AS key_col, CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(c) AS BIGINT) AS max_cnt
        |  FROM oc
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey', CAST(sum(c) AS BIGINT),
        |    CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT) FROM lp
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey', CAST(sum(c) AS BIGINT),
        |    CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT) FROM ls
        |  UNION ALL
        |  SELECT 'events.user_id', CAST(sum(c) AS BIGINT),
        |    CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT) FROM eu)
        |SELECT key_col, n_rows, n_keys, max_cnt,
        |  CAST(max_cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    AS skew_factor,
        |  CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share
        |FROM u
        |ORDER BY key_col""".stripMargin)),

    // Join cardinality audit: |A|·|B| / max(ndv) estimate vs the actual
    // join count; estimate exact integer, error ratio one division.
    "join_card_audit" -> Query(Relational.joinCardAudit _, Oracle(
      """WITH a1 AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_a FROM orders),
        |b1 AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(count(DISTINCT c_custkey) AS BIGINT) AS ndv_b FROM customer),
        |j1 AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |a2 AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_a FROM lineitem),
        |b2 AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(count(DISTINCT p_partkey) AS BIGINT) AS ndv_b FROM part),
        |j2 AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |a3 AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv_a FROM lineitem),
        |b3 AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv_b FROM orders),
        |j3 AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |u AS (
        |  SELECT 'orders-customer' AS join_pair, a1.n_a, b1.n_b, a1.ndv_a,
        |    b1.ndv_b, j1.actual_rows FROM a1, b1, j1
        |  UNION ALL
        |  SELECT 'lineitem-part', a2.n_a, b2.n_b, a2.ndv_a, b2.ndv_b,
        |    j2.actual_rows FROM a2, b2, j2
        |  UNION ALL
        |  SELECT 'lineitem-orders', a3.n_a, b3.n_b, a3.ndv_a, b3.ndv_b,
        |    j3.actual_rows FROM a3, b3, j3)
        |SELECT join_pair, n_a, n_b, ndv_a, ndv_b,
        |  CAST((n_a * n_b) // greatest(ndv_a, ndv_b) AS BIGINT) AS est_rows,
        |  actual_rows,
        |  CAST(actual_rows AS DOUBLE)
        |    / CAST((n_a * n_b) // greatest(ndv_a, ndv_b) AS DOUBLE)
        |    AS err_ratio
        |FROM u
        |ORDER BY join_pair""".stripMargin)),

    // t-closeness: EMD between each QI class's ordered sensitive-band
    // CDF and the global CDF, integer-exact (see Relational scaladoc).
    "t_closeness_customers" -> Query(Relational.tClosenessCustomers _, Oracle(
      """WITH c AS (
        |  SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |    (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) // 100000
        |      AS band
        |  FROM customer),
        |cb AS (SELECT c_mktsegment, c_nationkey, band,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM c GROUP BY 1, 2, 3),
        |cl AS (SELECT c_mktsegment, c_nationkey, CAST(sum(cnt) AS BIGINT) AS n_c
        |  FROM cb GROUP BY 1, 2),
        |gb AS (SELECT band, CAST(sum(cnt) AS BIGINT) AS gcnt FROM cb GROUP BY 1),
        |t AS (SELECT CAST(sum(gcnt) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS m FROM gb),
        |f AS (
        |  SELECT cl.c_mktsegment, cl.c_nationkey, cl.n_c, gb.band, gb.gcnt,
        |    coalesce(cb.cnt, 0) AS cnt
        |  FROM cl CROSS JOIN gb
        |  LEFT JOIN cb ON cb.c_mktsegment = cl.c_mktsegment
        |    AND cb.c_nationkey = cl.c_nationkey AND cb.band = gb.band),
        |cum AS (
        |  SELECT c_mktsegment, c_nationkey, n_c,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS ccum,
        |    CAST(sum(gcnt) OVER w AS BIGINT) AS gcum
        |  FROM f
        |  WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey ORDER BY band))
        |SELECT cum.c_mktsegment, cum.c_nationkey,
        |  CAST(max(n_c) AS BIGINT) AS n_c, t.n, t.m,
        |  CAST(sum(abs(ccum * t.n - gcum * n_c)) AS BIGINT) AS emd_num,
        |  CAST(sum(abs(ccum * t.n - gcum * n_c)) AS DOUBLE)
        |    / CAST(max(n_c) * t.n * (t.m - 1) AS DOUBLE) AS t_dist
        |FROM cum, t
        |GROUP BY 1, 2, t.n, t.m
        |ORDER BY 1, 2""".stripMargin)),

    // k-core: six unrolled peel rounds at k=3 over the closed-form doc
    // graph — same fixed-iteration contract as the engine loop.
    "kcore_docs" -> Query(GraphOps.kcoreDocs _, Oracle(
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |directed AS MATERIALIZED (
        |  SELECT doc_id AS src, n_chars % nn.n AS dst FROM documents, nn
        |  UNION ALL
        |  SELECT doc_id, (n_chars * 31 + doc_id) % nn.n FROM documents, nn),
        |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |       FROM directed WHERE src <> dst),
        |k1 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        |       GROUP BY node HAVING count(*) >= 3),
        |e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE a IN (SELECT node FROM k1)
        |       AND b IN (SELECT node FROM k1)),
        |k2 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
        |       GROUP BY node HAVING count(*) >= 3),
        |e2 AS MATERIALIZED (SELECT a, b FROM e1 WHERE a IN (SELECT node FROM k2)
        |       AND b IN (SELECT node FROM k2)),
        |k3 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
        |       GROUP BY node HAVING count(*) >= 3),
        |e3 AS MATERIALIZED (SELECT a, b FROM e2 WHERE a IN (SELECT node FROM k3)
        |       AND b IN (SELECT node FROM k3)),
        |k4 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
        |       GROUP BY node HAVING count(*) >= 3),
        |e4 AS MATERIALIZED (SELECT a, b FROM e3 WHERE a IN (SELECT node FROM k4)
        |       AND b IN (SELECT node FROM k4)),
        |k5 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
        |       GROUP BY node HAVING count(*) >= 3),
        |e5 AS MATERIALIZED (SELECT a, b FROM e4 WHERE a IN (SELECT node FROM k5)
        |       AND b IN (SELECT node FROM k5)),
        |k6 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e5 UNION ALL SELECT b FROM e5)
        |       GROUP BY node HAVING count(*) >= 3),
        |e6 AS MATERIALIZED (SELECT a, b FROM e5 WHERE a IN (SELECT node FROM k6)
        |       AND b IN (SELECT node FROM k6))
        |SELECT CAST(1 AS BIGINT) AS round,
        |  (SELECT CAST(count(*) AS BIGINT) FROM k1) AS n_kept_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges
        |UNION ALL SELECT CAST(2 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM k2),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e2)
        |UNION ALL SELECT CAST(3 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM k3),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e3)
        |UNION ALL SELECT CAST(4 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM k4),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e4)
        |UNION ALL SELECT CAST(5 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM k5),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e5)
        |UNION ALL SELECT CAST(6 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM k6),
        |  (SELECT CAST(count(*) AS BIGINT) FROM e6)
        |ORDER BY round""".stripMargin)),

    "ship_latency_percentiles" -> Query(TpchOps.shipLatencyPercentiles _, Oracle(
      """WITH gaps AS (
        |  SELECT o_orderpriority,
        |    epoch_us(l_shipdate) // 86400000000
        |      - epoch_us(o_orderdate) // 86400000000 AS gap
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |grid AS (
        |  SELECT o_orderpriority, gap, CAST(count(*) AS BIGINT) AS cnt
        |  FROM gaps GROUP BY 1, 2),
        |g2 AS (
        |  SELECT *,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY gap
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n,
        |    sum(cnt * gap) OVER (PARTITION BY o_orderpriority) AS sum_gap
        |  FROM grid),
        |g3 AS (SELECT *, cum - cnt AS cum_prev FROM g2),
        |p50 AS (SELECT o_orderpriority, gap AS p50_days FROM g3
        |  WHERE greatest(1, (50 * n) // 100) > cum_prev
        |    AND greatest(1, (50 * n) // 100) <= cum),
        |p90 AS (SELECT o_orderpriority, gap AS p90_days FROM g3
        |  WHERE greatest(1, (90 * n) // 100) > cum_prev
        |    AND greatest(1, (90 * n) // 100) <= cum),
        |p99 AS (SELECT o_orderpriority, gap AS p99_days,
        |    CAST(n AS BIGINT) AS n, CAST(sum_gap AS BIGINT) AS sum_gap FROM g3
        |  WHERE greatest(1, (99 * n) // 100) > cum_prev
        |    AND greatest(1, (99 * n) // 100) <= cum)
        |SELECT o_orderpriority, n, p50_days, p90_days, p99_days,
        |  CAST(sum_gap AS DOUBLE) / CAST(n AS DOUBLE) AS mean_days
        |FROM p50 JOIN p90 USING (o_orderpriority) JOIN p99 USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin)),

    "pareto_suppliers_80" -> Query(TpchOps.paretoSuppliers80 _, Oracle(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS total_cents,
        |        CAST(count(*) AS BIGINT) AS n_suppliers,
        |        CAST(max(rev) AS BIGINT) AS top1_cents FROM rev),
        |c AS (
        |  SELECT rev,
        |    sum(rev) OVER (ORDER BY rev DESC, l_suppkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rev AS cum_prev
        |  FROM rev)
        |SELECT t.n_suppliers,
        |  CAST(sum(CASE WHEN c.cum_prev * 5 < t.total_cents * 4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_top_80,
        |  t.total_cents,
        |  CAST(sum(CASE WHEN c.cum_prev * 5 < t.total_cents * 4 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(t.n_suppliers AS DOUBLE) AS share_of_suppliers,
        |  CAST(t.top1_cents AS DOUBLE) / CAST(t.total_cents AS DOUBLE)
        |    AS top1_revenue_share
        |FROM c, t
        |GROUP BY t.n_suppliers, t.total_cents, t.top1_cents""".stripMargin)),

    "open_orders_weekly" -> Query(TpchOps.openOrdersWeekly _, Oracle(
      """WITH close AS (
        |  SELECT l_orderkey,
        |    max(epoch_us(l_shipdate) // 86400000000) AS close_day
        |  FROM lineitem GROUP BY 1),
        |o AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS open_day, close_day
        |  FROM orders JOIN close ON o_orderkey = l_orderkey),
        |d AS (
        |  SELECT day, CAST(sum(delta) AS BIGINT) AS d FROM (
        |    SELECT open_day AS day, 1 AS delta FROM o
        |    UNION ALL SELECT close_day + 1, -1 FROM o)
        |  GROUP BY 1),
        |c AS (
        |  SELECT day, sum(d) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM d)
        |SELECT day // 7 AS week, CAST(max(open) AS BIGINT) AS peak_open,
        |  CAST(arg_max(open, day) AS BIGINT) AS week_end_open
        |FROM c GROUP BY 1
        |ORDER BY week""".stripMargin)),

    "clustering_depth_audit" -> Query(Relational.clusteringDepthAudit _, Oracle(
      """WITH li AS (
        |  SELECT epoch_us(l_shipdate) // 86400000000 AS day,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |nat AS (SELECT day,
        |  ntile(32) OVER (ORDER BY l_orderkey, l_linenumber) AS bucket FROM li),
        |shp AS (SELECT day,
        |  ntile(32) OVER (ORDER BY day, l_orderkey, l_linenumber) AS bucket FROM li),
        |bn AS (SELECT bucket, min(day) AS lo, max(day) AS hi FROM nat GROUP BY 1),
        |bs AS (SELECT bucket, min(day) AS lo, max(day) AS hi FROM shp GROUP BY 1),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS overlap_pairs FROM bn x JOIN bn y
        |       ON x.bucket < y.bucket AND x.lo <= y.hi AND y.lo <= x.hi),
        |cs AS (SELECT CAST(count(*) AS BIGINT) AS overlap_pairs FROM bs x JOIN bs y
        |       ON x.bucket < y.bucket AND x.lo <= y.hi AND y.lo <= x.hi)
        |SELECT 'natural' AS layout, CAST(32 AS BIGINT) AS n_buckets,
        |  overlap_pairs,
        |  CAST(overlap_pairs * 2 AS DOUBLE) / CAST(32 AS DOUBLE)
        |    AS avg_overlap_per_bucket
        |FROM cn
        |UNION ALL
        |SELECT 'shipdate', CAST(32 AS BIGINT), overlap_pairs,
        |  CAST(overlap_pairs * 2 AS DOUBLE) / CAST(32 AS DOUBLE)
        |FROM cs
        |ORDER BY layout""".stripMargin)),

    // Four unrolled min-label rounds — the kcore_docs oracle pattern
    // (AS MATERIALIZED is oracle hygiene: DuckDB re-evaluates plain CTEs
    // per reference and exhausts file handles on the chain).
    "label_prop_communities" -> Query(GraphOps.labelPropCommunities _, Oracle(
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |directed AS MATERIALIZED (
        |  SELECT doc_id AS src, n_chars % nn.n AS dst FROM documents, nn
        |  UNION ALL
        |  SELECT doc_id, (n_chars * 31 + doc_id) % nn.n FROM documents, nn),
        |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM directed WHERE src <> dst),
        |b AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
        |      UNION ALL SELECT b, a FROM e),
        |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl FROM documents),
        |l1 AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (
        |  SELECT node, lbl FROM l0
        |  UNION ALL SELECT b.dst, l0.lbl FROM b JOIN l0 ON b.src = l0.node)
        |  GROUP BY node),
        |l2 AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (
        |  SELECT node, lbl FROM l1
        |  UNION ALL SELECT b.dst, l1.lbl FROM b JOIN l1 ON b.src = l1.node)
        |  GROUP BY node),
        |l3 AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (
        |  SELECT node, lbl FROM l2
        |  UNION ALL SELECT b.dst, l2.lbl FROM b JOIN l2 ON b.src = l2.node)
        |  GROUP BY node),
        |l4 AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (
        |  SELECT node, lbl FROM l3
        |  UNION ALL SELECT b.dst, l3.lbl FROM b JOIN l3 ON b.src = l3.node)
        |  GROUP BY node)
        |SELECT CAST(lbl AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS size
        |FROM l4 GROUP BY lbl
        |ORDER BY size DESC, community
        |LIMIT 20""".stripMargin)),

    "streak_active_days" -> Query(SeqStatOps.streakActiveDays _, Oracle(SeqStatOps.Oracle.streakActiveDays)),
    "second_order_transitions" -> Query(SeqStatOps.secondOrderTransitions _, Oracle(SeqStatOps.Oracle.secondOrderTransitions)),
    "time_to_first_purchase" -> Query(SeqStatOps.timeToFirstPurchase _, Oracle(SeqStatOps.Oracle.timeToFirstPurchase)),
    "ks_purchase_click" -> Query(SeqStatOps.ksPurchaseClick _, Oracle(SeqStatOps.Oracle.ksPurchaseClick)),
    "spearman_daily" -> Query(SeqStatOps.spearmanDaily _, Oracle(SeqStatOps.Oracle.spearmanDaily)),
    "kendall_tau_daily" -> Query(SeqStatOps.kendallTauDaily _, Oracle(SeqStatOps.Oracle.kendallTauDaily)),
    "quality_filter_funnel" -> Query(SeqStatOps.qualityFilterFunnel _, Oracle(SeqStatOps.Oracle.qualityFilterFunnel)),
    "dedup_yield_source" -> Query(SeqStatOps.dedupYieldSource _, Oracle(SeqStatOps.Oracle.dedupYieldSource)),
    "dedup_cluster_sizes" -> Query(SeqStatOps.dedupClusterSizes _, Oracle(SeqStatOps.Oracle.dedupClusterSizes)),
    "hhi_concentration" -> Query(SeqStatOps.hhiConcentration _, Oracle(SeqStatOps.Oracle.hhiConcentration)),
    "curriculum_deciles" -> Query(SeqStatOps.curriculumDeciles _, Oracle(SeqStatOps.Oracle.curriculumDeciles)),
    "mixture_epochs_plan" -> Query(SeqStatOps.mixtureEpochsPlan _, Oracle(SeqStatOps.Oracle.mixtureEpochsPlan)),
    "local_clustering_docs" -> Query(SeqStatOps.localClusteringDocs _, Oracle(SeqStatOps.Oracle.localClusteringDocs)),
    "session_paths_topk" -> Query(SeqStatOps.sessionPathsTopk _, Oracle(SeqStatOps.Oracle.sessionPathsTopk)),
    "zipf_rank_profile" -> Query(SeqStatOps.zipfRankProfile _, Oracle(SeqStatOps.Oracle.zipfRankProfile)),
    "feed_freshness_report" -> Query(SeqStatOps.feedFreshnessReport _, Oracle(SeqStatOps.Oracle.feedFreshnessReport)),
    "cohort_ltv_curve" -> Query(SeqStatOps.cohortLtvCurve _, Oracle(SeqStatOps.Oracle.cohortLtvCurve)),
    "growth_accounting_weekly" -> Query(SeqStatOps.growthAccountingWeekly _, Oracle(SeqStatOps.Oracle.growthAccountingWeekly)),

    "fk_integrity_audit" -> Query(Relational.fkIntegrityAudit _, Oracle(
      """SELECT 'customer->nation' AS fk_edge,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->orders',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |UNION ALL
        |SELECT 'lineitem->part',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |UNION ALL
        |SELECT 'supplier->nation',
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier
        |   WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |ORDER BY fk_edge""".stripMargin)),

    "basket_freq_pairs" -> Query(BasketOps.basketFreqPairs _, Oracle(BasketOps.Oracle.basketFreqPairs)),
    "basket_rules_lift" -> Query(BasketOps.basketRulesLift _, Oracle(BasketOps.Oracle.basketRulesLift)),
    "cuped_adjusted_ab" -> Query(CausalOps.cupedAdjustedAb _, Oracle(CausalOps.Oracle.cupedAdjustedAb)),
    "diff_in_diff" -> Query(CausalOps.diffInDiff _, Oracle(CausalOps.Oracle.diffInDiff)),
    "theil_sen_daily" -> Query(CausalOps.theilSenDaily _, Oracle(CausalOps.Oracle.theilSenDaily)),
    "winsorized_stats" -> Query(CausalOps.winsorizedStats _, Oracle(CausalOps.Oracle.winsorizedStats)),
    "km_survival_purchase" -> Query(CausalOps.kmSurvivalPurchase _, Oracle(CausalOps.Oracle.kmSurvivalPurchase)),
    "kruskal_wallis_value" -> Query(StatTestOps.kruskalWallisValue _, Oracle(StatTestOps.Oracle.kruskalWallisValue)),
    "odds_ratio_ab" -> Query(StatTestOps.oddsRatioAb _, Oracle(StatTestOps.Oracle.oddsRatioAb)),
    "cramers_v2_lang_source" -> Query(StatTestOps.cramersV2LangSource _, Oracle(StatTestOps.Oracle.cramersV2LangSource)),
    "gini_split_stump" -> Query(StatTestOps.giniSplitStump _, Oracle(StatTestOps.Oracle.giniSplitStump)),
    "mann_kendall_trend" -> Query(StatTestOps.mannKendallTrend _, Oracle(StatTestOps.Oracle.mannKendallTrend)),
    "runs_test_daily" -> Query(StatTestOps.runsTestDaily _, Oracle(StatTestOps.Oracle.runsTestDaily)),
    "bowley_skew_types" -> Query(StatTestOps.bowleySkewTypes _, Oracle(StatTestOps.Oracle.bowleySkewTypes)),
    "qq_deciles_pair" -> Query(StatTestOps.qqDecilesPair _, Oracle(StatTestOps.Oracle.qqDecilesPair)),
    "auc_event_scores" -> Query(EvalOps.aucEventScores _, Oracle(EvalOps.Oracle.aucEventScores)),
    "calibration_bins" -> Query(EvalOps.calibrationBins _, Oracle(EvalOps.Oracle.calibrationBins)),
    "calibration_ece" -> Query(EvalOps.calibrationEce _, Oracle(EvalOps.Oracle.calibrationEce)),
    "cohens_kappa_lang" -> Query(EvalOps.cohensKappaLang _, Oracle(EvalOps.Oracle.cohensKappaLang)),
    "confusion_prf_lang" -> Query(EvalOps.confusionPrfLang _, Oracle(EvalOps.Oracle.confusionPrfLang)),
    "gini_revenue_segments" -> Query(EvalOps.giniRevenueSegments _, Oracle(EvalOps.Oracle.giniRevenueSegments)),
    "rank_eval_bm25" -> Query(EvalOps.rankEvalBm25 _, Oracle(EvalOps.Oracle.rankEvalBm25)),
    "from_json_props" -> Query(EventOps.fromJsonProps _, Oracle(jsonPropsKSql)),

    // VARIANT engine path (parse once → binary typed probes); the oracle is
    // the same JSON extraction as from_json_props — result parity across
    // the string-parse and VARIANT paths is the point.
    "variant_props" -> Query(EventOps.variantProps _, Oracle(jsonPropsKSql)),

    // Spark-side recursion (WITH RECURSIVE month spine) against the same
    // generate_series oracle as calendar_months: the recursion engine's
    // seed, step, and termination all sit on the hash.
    "recursive_month_spine" -> Query(Relational.recursiveMonthSpine _, Oracle(monthSpineSql)),

    "vocab_coverage" -> Query(TextAnalysisOps.vocabCoverage _, Oracle(
      """WITH toks AS (SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT lang, tok FROM toks WHERE length(tok) > 0),
        |vocab AS (SELECT tok AS v_tok FROM (
        |  SELECT tok, count(*) AS cnt FROM t GROUP BY tok
        |  ORDER BY cnt DESC, tok LIMIT 100)),
        |j AS (SELECT t.lang, v.v_tok FROM t LEFT JOIN vocab v ON t.tok = v.v_tok)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN v_tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM j
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    "corpus_mix_weights" -> Query(TextAnalysisOps.corpusMixWeights _, Oracle(
      """WITH d AS (SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY lang),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    max(n_tokens) AS max_tokens FROM g)
        |SELECT lang, n_docs, g.n_tokens,
        |  CAST(g.n_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE) AS share,
        |  CAST(t.max_tokens AS DOUBLE) / CAST(g.n_tokens AS DOUBLE) AS repeat_factor
        |FROM g, t
        |ORDER BY lang""".stripMargin)),

    "hash_sample_stratified" -> Query(TextAnalysisOps.hashSampleStratified _, Oracle(
      """WITH r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin)),

    "regex_clean_stats" -> Query(TextAnalysisOps.regexCleanStats _, Oracle(
      """WITH c AS (SELECT lang, text,
        |    trim(regexp_replace(regexp_replace(text, '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean
        |  FROM documents)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(length(text)) AS BIGINT) AS chars_raw,
        |  CAST(sum(length(clean)) AS BIGINT) AS chars_clean
        |FROM c
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    "text_quality" -> Query(TextAnalysisOps.textQuality _, Oracle(TextAnalysisOps.Oracle.textQuality)),
    "doc_fingerprint" -> Query(TextAnalysisOps.docFingerprint _, Oracle(TextAnalysisOps.Oracle.docFingerprint)),
    "dedup_docs_simhash" -> Query(TextAnalysisOps.dedupDocsSimhash _, Oracle(TextAnalysisOps.Oracle.dedupDocsSimhash)),

    // Banded adaptive sign-LSH (see VectorOps.embeddingNearDup): B =
    // clamp(floor(log2 n) - 6, 4, 14) computed integer-exactly as
    // length(bin(n)) - 1 - 6; band keys are B-char prefixes of the 16-char
    // per-slice sign strings built by duckSig. The kc CTE mirrors the
    // engine's NearDupBucketCap fence (VectorOps.NearDupBucketCap): only
    // buckets with 2..4096 members emit pairs, so the oracle and the
    // engine agree BY CONSTRUCTION even on inputs with a mass-identical
    // cluster that overflows a bucket (r14 advice: the uncapped oracle
    // diverged on such inputs while fixtures never triggered it).
    "embedding_near_dup" -> Query(VectorOps.embeddingNearDup _, Oracle(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |n AS (SELECT GREATEST(4, LEAST(16, length(bin(count(*))) - 1 - 6)) AS b FROM e),
         |s AS (SELECT vec_id, ${duckSig(0)} AS g0, ${duckSig(16)} AS g1,
         |    ${duckSig(32)} AS g2, ${duckSig(48)} AS g3 FROM e),
         |k AS (SELECT vec_id, band, substr(sig, 1, (SELECT b FROM n)) AS key FROM (
         |    SELECT vec_id, 0 AS band, g0 AS sig FROM s
         |    UNION ALL SELECT vec_id, 1, g1 FROM s
         |    UNION ALL SELECT vec_id, 2, g2 FROM s
         |    UNION ALL SELECT vec_id, 3, g3 FROM s)),
         |kc AS (SELECT band, key FROM k GROUP BY band, key
         |  HAVING count(*) BETWEEN 2 AND 4096),
         |cand AS (SELECT DISTINCT a.vec_id AS v1, b2.vec_id AS v2
         |  FROM k a JOIN k b2 ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id
         |  JOIN kc ON a.band = kc.band AND a.key = kc.key),
         |r AS (SELECT c.v1, c.v2,
         |    round(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) AS sim
         |  FROM cand c JOIN e ea ON c.v1 = ea.vec_id JOIN e eb ON c.v2 = eb.vec_id)
         |SELECT v1, v2, sim FROM r WHERE sim >= 0.3
         |ORDER BY v1, v2""".stripMargin)),

    // Same banded-candidate + rescore CTE as embedding_near_dup (incl. the
    // kc bucket-cap fence mirroring NearDupBucketCap), then the
    // min-id-survivor decision: v2 is dominated by its max-sim (min-id
    // tie-break) earlier near-dup, everything undominated is kept.
    "semdedup_decisions" -> Query(VectorOps.semdedupDecisions _, Oracle(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |n AS (SELECT GREATEST(4, LEAST(16, length(bin(count(*))) - 1 - 6)) AS b FROM e),
         |s AS (SELECT vec_id, ${duckSig(0)} AS g0, ${duckSig(16)} AS g1,
         |    ${duckSig(32)} AS g2, ${duckSig(48)} AS g3 FROM e),
         |k AS (SELECT vec_id, band, substr(sig, 1, (SELECT b FROM n)) AS key FROM (
         |    SELECT vec_id, 0 AS band, g0 AS sig FROM s
         |    UNION ALL SELECT vec_id, 1, g1 FROM s
         |    UNION ALL SELECT vec_id, 2, g2 FROM s
         |    UNION ALL SELECT vec_id, 3, g3 FROM s)),
         |kc AS (SELECT band, key FROM k GROUP BY band, key
         |  HAVING count(*) BETWEEN 2 AND 4096),
         |cand AS (SELECT DISTINCT a.vec_id AS v1, b2.vec_id AS v2
         |  FROM k a JOIN k b2 ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id
         |  JOIN kc ON a.band = kc.band AND a.key = kc.key),
         |r AS (SELECT c.v1, c.v2,
         |    round(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) AS sim
         |  FROM cand c JOIN e ea ON c.v1 = ea.vec_id JOIN e eb ON c.v2 = eb.vec_id),
         |dom AS (SELECT v2 AS vec_id, v1 AS dominated_by, sim AS dom_sim FROM (
         |  SELECT v1, v2, sim,
         |    row_number() OVER (PARTITION BY v2 ORDER BY sim DESC, v1) AS rn
         |  FROM r WHERE sim >= 0.3) WHERE rn = 1)
         |SELECT e.vec_id, dom.dominated_by IS NULL AS kept,
         |  dom.dominated_by, dom.dom_sim
         |FROM e LEFT JOIN dom ON e.vec_id = dom.vec_id
         |ORDER BY e.vec_id""".stripMargin)),

    "phrase_search_pos" -> Query(CurationOps.phraseSearchPositional _, Oracle(CurationOps.Oracle.phraseSearchPositional)),
    "gopher_rules_source" -> Query(CurationOps.gopherRulesSource _, Oracle(CurationOps.Oracle.gopherRulesSource)),
    "dup_token_coverage" -> Query(CurationOps.dupTokenCoverage _, Oracle(CurationOps.Oracle.dupTokenCoverage)),

    // Seeded deterministic epoch shuffle: md5(epoch ':' doc_id) is the
    // engine-portable shuffle key; the shard is its first hex DIGIT mod 8
    // (16 uniform values fold evenly onto 8); position is per-(epoch,
    // shard) — no global order anywhere.
    "epoch_shuffle_manifest" -> Query(CurationOps.epochShuffleManifest _, Oracle(
      """WITH e(epoch) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))),
        |k AS (SELECT epoch, doc_id,
        |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM e CROSS JOIN (SELECT doc_id FROM documents)),
        |s AS (SELECT epoch, doc_id, h,
        |    CAST((CASE WHEN ascii(substr(h, 1, 1)) < 58 THEN ascii(substr(h, 1, 1)) - 48
        |      ELSE ascii(substr(h, 1, 1)) - 87 END) % 8 AS BIGINT) AS shard
        |  FROM k),
        |r AS (SELECT epoch, shard, doc_id,
        |    row_number() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id) AS position
        |  FROM s)
        |SELECT epoch, shard, CAST(position AS BIGINT) AS position, doc_id
        |FROM r WHERE position <= 25
        |ORDER BY epoch, shard, position""".stripMargin)),

    "epoch_shard_balance" -> Query(CurationOps.epochShardBalance _, Oracle(
      """WITH e(epoch) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))),
        |k AS (SELECT epoch, doc_id,
        |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM e CROSS JOIN (SELECT doc_id FROM documents)),
        |s AS (SELECT epoch,
        |    CAST((CASE WHEN ascii(substr(h, 1, 1)) < 58 THEN ascii(substr(h, 1, 1)) - 48
        |      ELSE ascii(substr(h, 1, 1)) - 87 END) % 8 AS BIGINT) AS shard
        |  FROM k),
        |c AS (SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs FROM s GROUP BY 1, 2),
        |t AS (SELECT epoch, CAST(sum(n_docs) AS BIGINT) AS n_total FROM c GROUP BY 1)
        |SELECT c.epoch, c.shard, c.n_docs,
        |  CAST(floor((CAST(n_docs AS DOUBLE) * 8.0 / n_total - 1.0) * 1000 + 0.5) AS BIGINT)
        |    AS dev_permille
        |FROM c JOIN t ON c.epoch = t.epoch
        |ORDER BY c.epoch, c.shard""".stripMargin)),
    "stream_quality_gate" -> Query(StreamingEntry.streamQualityGate _, Oracle(CurationOps.Oracle.streamQualityGate)),

    // Exact and 5-probe IVF rankings composed in one statement; recall@5
    // is a LEFT JOIN hit count per query — both rankings deterministic,
    // so the eval itself is exact.
    "ann_recall_ivf" -> Query(VectorOps.annRecallIvf _, Oracle(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS qb FROM e WHERE vec_id < 50),
        |ex AS (SELECT q_id, t.vec_id AS t_id, round(list_dot_product(q_emb, t.emb), 6) AS sim
        |  FROM e t CROSS JOIN q WHERE t.vec_id <> q.q_id),
        |exr AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, t_id) AS rnk FROM ex) WHERE rnk <= 5),
        |qp AS (SELECT q_id, q_emb, probe
        |  FROM q, UNNEST([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4), xor(qb, 8)]) AS u(probe)),
        |ap AS (SELECT q_id, t.vec_id AS t_id, round(list_dot_product(q_emb, t.emb), 6) AS sim
        |  FROM qp JOIN e t ON t.bucket = qp.probe AND t.vec_id <> qp.q_id),
        |apr AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, t_id) AS rnk FROM ap) WHERE rnk <= 5)
        |SELECT exr.q_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN apr.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN apr.t_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
        |FROM exr LEFT JOIN apr ON exr.q_id = apr.q_id AND exr.t_id = apr.t_id
        |GROUP BY exr.q_id
        |ORDER BY exr.q_id""".stripMargin)),

    "cos_topk_ivf" -> Query(VectorOps.cosTopkIvf _, Oracle(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, probe
        |  FROM e, UNNEST([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS u(probe)
        |  WHERE vec_id < 50),
        |s AS (SELECT q_id, t.vec_id AS t_id, round(list_dot_product(q_emb, t.emb), 6) AS sim
        |  FROM q JOIN e t ON t.bucket = q.probe AND t.vec_id <> q.q_id),
        |r AS (SELECT q_id, t_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, t_id) AS rnk FROM s)
        |SELECT q_id, CAST(rnk AS BIGINT) AS "rank", t_id, sim
        |FROM r WHERE rnk <= 5
        |ORDER BY q_id, "rank"""".stripMargin)),

    // ||v||² folds left-to-right over the 64 dims on both engines (Spark
    // aggregate() from 0.0, DuckDB list_reduce over the transformed list —
    // 0+t1 = t1 exactly, so the IEEE chains coincide), then quantizes to
    // integer micro-units BEFORE the cross-row sums.
    "norm2_profile_label" -> Query(VectorOps.norm2ProfileLabel _, Oracle(
      """WITH v AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(floor(list_reduce(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)
        |      * 1000000 + 0.5) AS BIGINT) AS n2_micro
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(n2_micro) AS BIGINT) AS min_n2_micro,
        |  CAST(max(n2_micro) AS BIGINT) AS max_n2_micro,
        |  CAST(sum(n2_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_n2_micro
        |FROM v GROUP BY label
        |ORDER BY label""".stripMargin)),

    // The `graft-vectors` DSv2 source derives labels from
    // splitmix64(seed ^ vec_id) (VectorSource.labelFor); the oracle
    // recomputes that kernel closed-form: 64-bit wrap-around multiplies as
    // 32-bit limbs in HUGEINT (a full 64×64 product overflows INT128), the
    // xor-shift mixing on UBIGINT, and Java's floorMod via the signed
    // reinterpretation. No table input — the source is synthetic, so the
    // oracle is pure generate_series over the same pushed-down id range.
    "vector_source_scan" -> Query(VectorOps.vectorSourceScan _, Oracle(
      """WITH ids AS (SELECT unnest(generate_series(1000, 1499)) AS id),
        |s0 AS (SELECT id, CAST(xor(CAST(42 AS BIGINT), id) AS UBIGINT) AS x FROM ids),
        |s1 AS (SELECT id, CAST((CAST(x AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM s0),
        |s1x AS (SELECT id, xor(z, z >> 30) AS z FROM s1),
        |s2 AS (SELECT id, CAST(((CAST(z & 4294967295 AS HUGEINT) * 484763065) + (((CAST(z & 4294967295 AS HUGEINT) * 3210233709 + CAST(z >> 32 AS HUGEINT) * 484763065) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z FROM s1x),
        |s2x AS (SELECT id, xor(z, z >> 27) AS z FROM s2),
        |s3 AS (SELECT id, CAST(((CAST(z & 4294967295 AS HUGEINT) * 321982955) + (((CAST(z & 4294967295 AS HUGEINT) * 2496678331 + CAST(z >> 32 AS HUGEINT) * 321982955) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z FROM s2x),
        |s4 AS (SELECT id, xor(z, z >> 31) AS h FROM s3),
        |s5 AS (SELECT id, CASE WHEN h >= 9223372036854775808 THEN CAST(h AS HUGEINT) - 18446744073709551616 ELSE CAST(h AS HUGEINT) END AS sgn FROM s4)
        |SELECT id AS vec_id, CAST(((sgn % 10) + 10) % 10 AS BIGINT) AS label
        |FROM s5
        |ORDER BY vec_id""".stripMargin)),

    // Closed form of the pushed-down count/min/max over the clamped id
    // range [100, 40000100) of a 50M-row synthetic table: the Spark side
    // must answer from partition bounds alone (plan-asserted O(1) rows).
    "vector_source_agg" -> Query(VectorOps.vectorSourceAgg _, Oracle(
      """SELECT CAST(40000000 AS BIGINT) AS n_vecs,
        |  CAST(100 AS BIGINT) AS min_id,
        |  CAST(40000099 AS BIGINT) AS max_id""".stripMargin)),

    "multimodal_meta" -> Query(MultimodalOps.multimodalMeta _, Oracle(
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |         WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
        |    octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash
        |  FROM documents)
        |SELECT mime, CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(count(DISTINCT content_hash) AS BIGINT) AS n_distinct_content,
        |  min(content_hash) AS min_hash
        |FROM m GROUP BY mime ORDER BY mime""".stripMargin)),

    // Closed-form scaled dims: the Spark side really encodes, resizes, and
    // re-decodes PNGs (MultimodalOps.imageResizeDims); the oracle
    // recomputes scale = min(1, 12/w, 12/h) and floor(dim * scale) with
    // the same IEEE double operations, and r_mean is exact because
    // bilinear interpolation of a constant-fill image is the constant.
    "image_resize_dims" -> Query(MultimodalOps.imageResizeDims _, Oracle(
      """WITH m AS (SELECT doc_id,
        |    CAST(8 + doc_id % 16 AS DOUBLE) AS w,
        |    CAST(8 + doc_id % 12 AS DOUBLE) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |s AS (SELECT doc_id, w, h, LEAST(1.0, LEAST(12.0 / w, 12.0 / h)) AS sc FROM m)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS src_w,
        |  CAST(h AS BIGINT) AS src_h,
        |  CAST(GREATEST(1.0, floor(w * sc)) AS BIGINT) AS out_w,
        |  CAST(GREATEST(1.0, floor(h * sc)) AS BIGINT) AS out_h,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS r_mean
        |FROM s
        |ORDER BY doc_id""".stripMargin)),

    // n_frames and PCM byte totals are exact functions of the WAV
    // generator's frame count; the Spark side re-derives them through the
    // real container parse + frame-aligned sampling.
    "audio_frames_meta" -> Query(MultimodalOps.audioFramesMeta _, Oracle(
      """SELECT doc_id,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(16 * (100 + doc_id % 200) AS BIGINT) AS pcm_bytes
        |FROM documents
        |WHERE doc_id % 3 = 1
        |ORDER BY doc_id""".stripMargin)),

    // The oracle re-derives the closed-form generator parameters
    // (MultimodalOps.pngDims/pngRed/wavFrames); the Spark side reads them
    // back through REAL JDK codec decodes of really-encoded PNG/WAV bytes.
    "media_decode_meta" -> Query(MultimodalOps.mediaDecodeMeta _, Oracle(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 16 ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 12 ELSE 0 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 7) % 256 ELSE 0 END AS DOUBLE) AS r_mean,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 100 + doc_id % 200 ELSE 0 END AS BIGINT) AS duration_ms
        |FROM documents
        |WHERE doc_id % 3 < 2
        |ORDER BY doc_id""".stripMargin)),

    // Keys with no SQL oracle: Verify output is checked for rows only.
    // approximate sketches (SURVEY.md §7.4 approximate-output carve-out)
    "agg_distinct_users_approx" -> Query(Relational.aggDistinctUsersApprox _, NoOracle(
      "HLL estimates are engine-specific; ±5% envelope in OperatorSpec")),
    "table_profile_approx" -> Query(Relational.tableProfileApprox _, NoOracle(
      "HLL NDV estimates are engine-specific; table_profile_lineitem is the oracled exact twin")),
    "value_quantiles_sketch" -> Query(Relational.valueQuantilesSketch _, NoOracle(
      "GK sketch estimates are engine-specific")),
    // learned or iterative kernels
    "bpe_train_merges" -> Query(TextOps.bpeTrainMerges _, NoOracle(
      "the greedy left-to-right merge fold is not one DuckDB statement; BpeSpec checks it against a sequential BPE")),
    "bpe_encode_docs" -> Query(TextOps.bpeEncodeDocs _, NoOracle(
      "encodes with the engine-trained merge table, which is not SQL-expressible")),
    "cos_topk_ivf_kmeans" -> Query(VectorOps.cosTopkIvfKmeans _, NoOracle(
      "the quantizer is learned (GMM over the coreset), not SQL-expressible")),
    "cos_topk_rplsh" -> Query(VectorOps.cosTopkRplsh _, NoOracle(
      "hyperplane draws are seeded-hash, not SQL-expressible")),
    "cos_topk_pq" -> Query(VectorOps.cosTopkPq _, NoOracle(
      "PQ codebook training (farthest-first kernel) is not SQL-expressible; recall vs exact pinned in PipelineOpsSpec")),
    "kmeans_lloyd" -> Query(VectorOps.kmeansLloyd _, NoOracle(
      "the iterative Lloyd fixpoint (GMM-seeded) is not SQL-expressible; invariants in PipelineOpsSpec")),
    // diversity core (SURVEY.md §2.2-W): property-tested
    "gmm_diverse_k32" -> Query(DiversityOps.gmmDiverseK32 _, NoOracle(
      "GMM selection is not SQL-expressible")),
    "local_search_k32" -> Query(DiversityOps.localSearchK32 _, NoOracle(
      "local-search selection is not SQL-expressible")),
    "matching_k32" -> Query(DiversityOps.matchingK32 _, NoOracle(
      "matching selection is not SQL-expressible")),
    "remote_edge_div" -> Query(DiversityOps.remoteEdgeDiv _, NoOracle(
      "objectives of a GMM selection, which is not SQL-expressible")),
    "remote_clique_div" -> Query(DiversityOps.remoteCliqueDiv _, NoOracle(
      "objective of a heuristic selection, which is not SQL-expressible")),
    "remote_star_div" -> Query(DiversityOps.remoteStarDiv _, NoOracle(
      "objective of a GMM selection, which is not SQL-expressible")),
    "remote_tree_div" -> Query(DiversityOps.remoteTreeDiv _, NoOracle(
      "objective of a GMM selection, which is not SQL-expressible")),
    "remote_bipartition_cycle_div" -> Query(DiversityOps.remoteBipartitionCycleDiv _, NoOracle(
      "objectives of a GMM selection, which is not SQL-expressible")),
    "coreset_exec_k64" -> Query(DiversityOps.coresetExecK64 _, NoOracle(
      "the coreset kernel is not SQL-expressible; CoresetPlanSpec asserts plan node ≡ mapPartitions output")),
    "coreset_stream" -> Query(DiversityOps.coresetStream _, NoOracle(
      "the streaming-coreset kernel is not SQL-expressible")),
    "diverse_by_label" -> Query(DiversityOps.diverseByLabel _, NoOracle(
      "per-label streaming-coreset kernels are not SQL-expressible")),
    "diverse_docs_k16" -> Query(DiversityOps.diverseDocsK16 _, NoOracle(
      "Jaccard GMM document selection is not SQL-expressible")),
    "curate_corpus_k16" -> Query(DiversityOps.curateCorpusK16 _, NoOracle(
      "ends in a diversity selection, which is not SQL-expressible")),
    "stream_coreset_keys" -> Query(StreamingEntry.streamCoresetKeys _, NoOracle(
      "per-key doubling-coreset state is not SQL-expressible")),
    "stream_coreset_tws" -> Query(StreamingEntry.streamCoresetTws _, NoOracle(
      "the stream_coreset_keys operator on the transformWithState API (RocksDB state)"))
  )
}
