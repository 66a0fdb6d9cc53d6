package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Per-operator golden tests on the sf0.001 fixtures. Golden values were
  * computed once in DuckDB 1.0.0 against the same parquet files and inlined
  * (SURVEY.md §5.2.2).
  */
class OperatorSpec extends AnyFunSuite with SparkTestBase {

  test("q1_pricing_summary: 6 groups; A/F golden row") {
    val rows = Relational.q1PricingSummary(spark, sf0001).collect()
    assert(rows.length == 6)
    val af = rows.head
    assert(af.getString(0) == "A" && af.getString(1) == "F")
    // money sums are plain BIGINT cents since the r9 oracle-parity change:
    // floor(x*100+0.5) quantization == DuckDB-1.0.0 half-up round for the
    // positive terms, so the golden VALUES are the r8 decimals ×100
    assert(af.getLong(2) == 2136500L)         // sum_qty_cents
    assert(af.getLong(3) == 4368378945L)      // sum_base_price_cents
    assert(af.getLong(9) == 843L)             // count_order
  }

  test("join_nation_revenue: sf0.001 has 10 supplier nations; golden revenues") {
    val rows = Relational.joinNationRevenue(spark, sf0001).collect()
    assert(rows.length == 10)
    // per-term cents quantization shifts the old sum-then-round goldens by
    // a few cents (.52 -> .58, .80 -> .82); values re-derived with DuckDB,
    // surfaced as BIGINT cents since r9 (floor(x*100+0.5) == half-up here)
    assert(rows(0).getString(0) == "NATION_12" && rows(0).getLong(1) == 2919637058L)
    assert(rows(1).getString(0) == "NATION_13" && rows(1).getLong(1) == 2934999482L)
  }

  test("semi_anti_customers: every sf0.001 customer has orders") {
    val r = Relational.semiAntiCustomers(spark, sf0001).collect()(0)
    assert(r.getLong(0) == 150L && r.getLong(1) == 0L)
  }

  test("text_tokens: golden top-3 English tokens") {
    val rows = TextOps.textTokens(spark, sf0001).collect()
    assert(rows.length == 20)
    assert((rows(0).getString(0), rows(0).getLong(1)) == ("column", 386L))
    assert((rows(1).getString(0), rows(1).getLong(1)) == ("sort", 376L))
    assert((rows(2).getString(0), rows(2).getLong(1)) == ("key", 367L))
  }

  test("win_topk_parts: exactly 3 per brand, ranks 1..3, descending prices") {
    val rows = EventOps.winTopkParts(spark, sf0001).collect()
    val byBrand = rows.groupBy(_.getString(0))
    byBrand.foreach { case (_, rs) =>
      assert(rs.length == 3)
      assert(rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
      val prices = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cos_topk: 5 per query, sims in [-1,1] descending per query") {
    val rows = VectorOps.cosTopk(spark, sf0001).collect()
    assert(rows.length == 50 * 5)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("dot_f32 expression agrees with the higher-order-function form") {
    val diff = graft.sources.Tables.embeddings(spark, sf0001)
      .limit(100)
      .select(
        expr("dot_f32(embedding, embedding)").as("native"),
        graft.functions.VectorFunctions.normSqD("embedding").as("hof"))
      .select(max(abs(col("native") - col("hof"))).as("d"))
      .collect()(0).getDouble(0)
    assert(diff == 0.0, s"native and HOF dot products differ by $diff")
  }

  test("sessionize: 30-minute gap invariant on a literal frame") {
    import spark.implicits._
    val min = 60L * 1000000L
    // user 1: events at 0, 29min, 62min (gap 33min -> 2 sessions)
    // user 2: single event -> 1 session
    val df = Seq(
      (1L, 10L, 0L * min, "click", 1.0, "{}"),
      (1L, 11L, 29L * min, "click", 1.0, "{}"),
      (1L, 12L, 62L * min, "click", 1.0, "{}"),
      (2L, 20L, 5L * min, "view", 2.0, "{}")
    ).toDF("user_id", "event_id", "ts_us", "event_type", "value", "props")
    df.createOrReplaceTempView("graft_test_events")
    // run the same lag+cumsum logic inline (EventOps reads from parquet)
    val out = spark.sql("""
      WITH x AS (SELECT user_id, event_id, ts_us,
          lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM graft_test_events),
      y AS (SELECT user_id, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM x)
      SELECT user_id, sum(is_new) AS n_sessions FROM y GROUP BY user_id ORDER BY user_id""")
      .collect()
    assert(out(0).getLong(1) == 2L)
    assert(out(1).getLong(1) == 1L)
  }

  test("dedup_docs_minhash: exact duplicate texts always become a candidate pair") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (1L, text, "en", "src0", text.length.toLong),
      (2L, text, "en", "src1", text.length.toLong),
      (3L, "completely different words nothing shared here at all", "en", "src2", 54L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs/documents.parquet")
    val pairs = TextOps.dedupDocsMinhash(spark, "/tmp/graft_test_docs").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    assert(!pairs.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("asof join: every purchase row appears exactly once (left semantics)") {
    val purchases = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase").count()
    val out = EventOps.asofJoinEvents(spark, sf0001)
    assert(out.count() == purchases)
    // matched signup must never be after the purchase
    assert(out.filter(col("s_ts_us") > col("ts_us")).count() == 0)
  }

  test("gmm_diverse_k32: 32 ranked ids, deterministic across runs") {
    val a = DiversityOps.gmmDiverseK32(spark, sf0001).collect().map(_.getLong(1)).toSeq
    val b = DiversityOps.gmmDiverseK32(spark, sf0001).collect().map(_.getLong(1)).toSeq
    assert(a.length == 32 && a.distinct.length == 32)
    assert(a == b)
  }

  test("local_search_k32 / matching_k32: 32 distinct ids each, deterministic, drawn from the pool") {
    val ls1 = DiversityOps.localSearchK32(spark, sf0001).collect().map(_.getLong(1)).toSeq
    val ls2 = DiversityOps.localSearchK32(spark, sf0001).collect().map(_.getLong(1)).toSeq
    val m1 = DiversityOps.matchingK32(spark, sf0001).collect().map(_.getLong(1)).toSeq
    val m2 = DiversityOps.matchingK32(spark, sf0001).collect().map(_.getLong(1)).toSeq
    assert(ls1.length == 32 && ls1.distinct.length == 32)
    assert(m1.length == 32 && m1.distinct.length == 32)
    assert(ls1 == ls2 && m1 == m2)
    // both heuristics must pick real vec_ids
    val ids = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ls1.forall(ids) && m1.forall(ids))
    // the three selectors explore the same pool but are different
    // algorithms — on this fixture they should not all coincide
    val gmm = DiversityOps.gmmDiverseK32(spark, sf0001).collect().map(_.getLong(1)).toSeq
    assert(!(ls1 == gmm && m1 == gmm), "heuristics unexpectedly identical to GMM")
  }

  test("subquery_above_avg: decorrelated to one aggregate (no per-row subquery); bounds hold") {
    val df = Relational.subqueryAboveAvg(spark, sf0001)
    // Catalyst must rewrite the correlated scalar subquery into an
    // aggregate + join: the optimized plan carries no subquery expression.
    assert(!df.queryExecution.optimizedPlan.toString.contains("scalar-subquery"))
    val totals = graft.sources.Tables.part(spark, sf0001)
      .groupBy(col("p_brand")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    df.collect().foreach { r =>
      val (brand, nAbove) = (r.getString(0), r.getLong(1))
      assert(nAbove > 0 && nAbove < totals(brand))
    }
  }

  test("null_semantics: <=> keeps the NULL group that = drops") {
    val rows = Relational.nullSemantics(spark, sf0001).collect()
    // NULLS FIRST: the nullified 'click' group leads, and <=> matched it
    assert(rows.head.isNullAt(0))
    assert(rows.length == 5)
    // a plain = self-join on the same aggregate drops the null row
    val g = graft.sources.Tables.events(spark, sf0001)
      .select(nullif(col("event_type"), lit("click")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(g.as("a").join(g.as("b"), col("a.k") === col("b.k")).count() == 4)
  }

  test("agg_distinct_users_approx: HLL estimate within ±5% of the exact count") {
    val exact = Relational.aggDistinctUsers(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Relational.aggDistinctUsersApprox(spark, sf0001).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (tpe, est) = (r.getString(0), r.getLong(1))
      val ex = exact(tpe).toDouble
      assert(math.abs(est - ex) <= 0.05 * ex, s"$tpe: approx $est vs exact $ex")
    }
  }

  test("outer_join_orders: categories partition the key space; counts reconcile") {
    val rows = Relational.outerJoinOrders(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cust = graft.sources.Tables.customer(spark, sf0001)
    val nPos = cust.filter(col("c_acctbal") >= 0).count()
    val nOrders = graft.sources.Tables.orders(spark, sf0001)
      .filter(expr("o_orderdate >= CAST('1998-04-01 00:00:00' AS TIMESTAMP_NTZ)")).count()
    // every acctbal>=0 customer is in 'both' or 'customer_only'
    assert(rows.getOrElse("both", (0L, 0L))._1 +
      rows.getOrElse("customer_only", (0L, 0L))._1 == nPos)
    // every windowed order lands in exactly one of 'both' / 'order_only'
    assert(rows.getOrElse("both", (0L, 0L))._2 +
      rows.getOrElse("order_only", (0L, 0L))._2 == nOrders)
    // both null sides are genuinely exercised at this SF
    assert(rows.contains("order_only") && rows.contains("customer_only"), rows.toString)
  }

  test("left_outer_customers: null bucket counts customers the inner join drops") {
    val rows = Relational.leftOuterCustomers(spark, sf0001).collect()
    val nCust = graft.sources.Tables.customer(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == nCust)
    assert(rows.map(_.getLong(2)).sum > 0, "null bucket should be non-trivial")
    rows.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1)))
  }

  test("regex_clean_stats: cleaning never grows a doc; changed ≤ total") {
    val rows = TextAnalysisOps.regexCleanStats(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))   // n_changed <= n_docs
      assert(r.getLong(4) <= r.getLong(3))   // chars_clean <= chars_raw
    }
  }

  test("dedup_incremental: survivors are incoming-only, unique, and absent from the catalog") {
    import org.apache.spark.sql.functions._
    val survivors = TextOps.dedupIncremental(spark, sf0001).collect().map(_.getLong(0))
    assert(survivors.nonEmpty)
    assert(survivors.forall(_ % 5 == 4))                  // incoming split only
    assert(survivors.distinct.length == survivors.length) // one per fingerprint
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val catalogTexts = docs.filter(col("doc_id") % 5 =!= 4)
      .select(md5(col("text"))).collect().map(_.getString(0)).toSet
    val survivorTexts = docs.filter(col("doc_id").isin(survivors.toSeq: _*))
      .select(md5(col("text"))).collect().map(_.getString(0))
    assert(survivorTexts.forall(!catalogTexts.contains(_)))
  }

  test("merge_upsert_parts: actions partition the merged key space; counts reconcile") {
    val rows = Relational.mergeUpsertParts(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val nParts = graft.sources.Tables.part(spark, sf0001).count()
    assert(rows.keySet == Set("insert", "keep", "update"))
    assert(rows("insert")._1 == 100L)
    // update count = keys divisible by 7 in the contiguous [0, n) domain
    assert(rows("update")._1 == (nParts + 6) / 7)
    assert(rows("keep")._1 == nParts - rows("update")._1)
    // inserts occupy exactly the appended key range
    assert(rows("insert")._3 == nParts && rows("insert")._4 == nParts + 99)
  }

  test("pagerank_docs: exact integer ranks — deterministic, damping floor, mass bounds") {
    val a = GraphOps.pagerankDocs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = GraphOps.pagerankDocs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, "integer PageRank must be bit-stable across runs")
    assert(a.length == 20)
    // every rank ≥ the damping floor; top ranks strictly above it (the
    // graph is irregular, so somebody accumulates in-links)
    assert(a.forall(_._2 >= 150000L))
    assert(a.head._2 > 1000000L, s"top rank ${a.head._2} should exceed the uniform start")
    // sorted by (rank desc, node)
    assert(a == a.sortBy(t => (-t._2, t._1)))
  }

  test("pagerank_docs: reliable-checkpoint variant produces identical ranks") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      val local = GraphOps.pagerankDocs(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val reliable = GraphOps.pagerankDocsReliable(spark, sf0001, ckpt).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(reliable == local,
        "checkpoint strategy must not perturb the integer ranks")
      // the checkpoint actually went to the reliable dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "expected reliable checkpoint files on disk")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
    }
  }

  test("fuzzy_name_match: pairs are ordered, within distance, and blocking finds shared-token pairs") {
    val rows = TextAnalysisOps.fuzzyNameMatch(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // canonical orientation (nm1 < nm2) — no symmetric duplicates
    assert(rows.forall(r => r.getString(0) < r.getString(1)))
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 3))
    // a known near-pair differing by one leading char shares its noun
    // token, so blocking must surface it
    assert(rows.exists(r => r.getString(0) == "cold bolt" && r.getString(1) == "old bolt"))
    // row counts are the true per-name fact counts
    val names = graft.sources.Tables.part(spark, sf0001)
      .groupBy(col("p_name")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => names(r.getString(0)) == r.getLong(3) &&
      names(r.getString(1)) == r.getLong(4)))
  }

  test("scd2_apply_batch: incremental apply equals the in-engine full rebuild") {
    // the declared oracle proves it vs DuckDB; this pins the same
    // decomposition property WITHIN Spark (prefix+batch == full stream)
    val incremental = EventOps.scd2ApplyBatch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val full = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type").as("state"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", coalesce(lead(col("ts_us"), 1).over(w), lit(-1L)))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("state"), col("version"),
        col("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("version")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(incremental.nonEmpty && incremental == full)
    // every user's versions tile: each close == the successor's open
    incremental.groupBy(_._1).foreach { case (_, vs) =>
      vs.sortBy(_._3).sliding(2).foreach {
        case Seq(a, b) => assert(a._5 == b._4, s"versions must tile: $a -> $b")
        case _ =>
      }
      assert(vs.count(_._5 == -1L) == 1, "exactly one open version per user")
    }
  }

  test("minhash_jaccard_audit: estimator in [0,1] steps of 1/8; exact dups estimate 1") {
    val rows = TextOps.minhashJaccardAudit(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nMatch, est, j, err) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(nMatch >= 1 && nMatch <= 8, "a banded candidate shares >= 1 signature slot pair")
      assert(est == nMatch / 8.0 && err == est - j)
      assert(j >= 0.0 && j <= 1.0)
    }
    // identical texts hash to identical signatures AND jaccard 1 — the
    // estimator must agree exactly there
    rows.filter(_.getDouble(4) == 1.0).foreach { r =>
      assert(r.getLong(2) == 8L, s"exact dup pair (${r.getLong(0)},${r.getLong(1)}) must match all 8 slots")
    }
  }

  test("win_zscore_events: per-group mean ~0, sample stddev ~1") {
    val rows = EventOps.winZscoreEvents(spark, sf0001).collect()
      .map(r => (r.getString(1), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (tpe, zs) =>
      val v = zs.map(_._2)
      val mean = v.sum / v.length
      val sd = math.sqrt(v.map(z => (z - mean) * (z - mean)).sum / (v.length - 1))
      assert(math.abs(mean) < 1e-6, s"$tpe: standardized mean must be ~0, got $mean")
      assert(math.abs(sd - 1.0) < 1e-6, s"$tpe: standardized stddev must be ~1, got $sd")
    }
  }

  test("triangle_count_docs: invariants of the oriented two-join count") {
    val r = GraphOps.triangleCountDocs(spark, sf0001).collect()(0)
    val (nodes, edges, wedges, tris) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nodes == 500L)
    assert(edges > 0 && edges <= 2 * nodes, "≤ 2 undirected edges per doc")
    assert(wedges > 0 && tris >= 0 && tris <= wedges)
    val clustering = r.getDouble(4)
    assert(clustering >= 0.0 && clustering <= 1.0)
    assert(clustering == 3.0 * tris / wedges)
  }

  test("kcore_docs: six peel rounds match a brute-force in-memory peel") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = docs.length.toLong
    var edges = docs.flatMap { case (id, ch) =>
      Seq((id, ch % n), (id, (ch * 31 + id) % n))
    }.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val expect = (1 to 6).map { r =>
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= 3).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      (r.toLong, keep.size.toLong, edges.size.toLong)
    }
    val got = GraphOps.kcoreDocs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // peeling is monotone: survivors never grow
    assert(got.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
    assert(got.map(_._3).sliding(2).forall(w => w(0) >= w(1)))
  }

  test("t_closeness_customers: EMD matches brute force; identical-dist class is 0") {
    val rows = graft.sources.Tables.customer(spark, sf0001)
      .select(col("c_mktsegment"), col("c_nationkey").cast("long"),
        expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) DIV 100000"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bands = rows.map(_._3).distinct.sorted
    val m = bands.length.toLong
    val nTot = rows.length.toLong
    val gCum = bands.map(b => b -> rows.count(_._3 <= b).toLong).toMap
    val got = Relational.tClosenessCustomers(spark, sf0001).collect().map(r =>
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    val classes = rows.groupBy(r => (r._1, r._2))
    assert(got.keySet == classes.keySet)
    for ((k, members) <- classes) {
      val nC = members.length.toLong
      val emdNum = bands.map { b =>
        math.abs(members.count(_._3 <= b).toLong * nTot - gCum(b) * nC)
      }.sum
      assert(got(k) == ((nC, nTot, m, emdNum,
        emdNum.toDouble / (nC * nTot * (m - 1)).toDouble)))
    }
  }

  test("holt_linear_daily: fold equals the sequential recurrence; exact halving") {
    val daily = graft.sources.Tables.events(spark, sf0001)
      .select(expr("ts_us DIV 86400000000"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.map { case (d, g) => (d, g.map(_._2).sum) }
      .sortBy(_._1)
    var level = 0L; var trend = 0L
    val expect = daily.zipWithIndex.map { case ((d, y), i) =>
      val fitted = if (i == 0) y else level + trend
      val l2 = if (i == 0) y
        else math.floor((y + level + trend) / 2.0).toLong
      val t2 = if (i == 0) 0L
        else math.floor((trend + (l2 - level)) / 2.0).toLong
      level = l2; trend = t2
      (d, y, l2, t2, fitted, math.abs(y - fitted))
    }
    val got = MiningOps.holtLinearDaily(spark, sf0001).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got == expect)
  }

  test("key_skew_profile matches brute-force key histograms") {
    def brute(rows: Array[Long]): (Long, Long, Long) = {
      val h = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
      (rows.length.toLong, h.size.toLong, h.values.max)
    }
    val got = Relational.keySkewProfile(spark, sf0001).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    val cases = Seq(
      ("orders.o_custkey", graft.sources.Tables.orders(spark, sf0001)
        .select(col("o_custkey")).collect().map(_.getLong(0))),
      ("events.user_id", graft.sources.Tables.events(spark, sf0001)
        .select(col("user_id")).collect().map(_.getLong(0))))
    for ((label, keys) <- cases) {
      val (n, k, m) = brute(keys)
      assert(got(label) == ((n, k, m,
        (m * k).toDouble / n.toDouble, m.toDouble / n.toDouble)))
      // skew factor ≥ 1 by construction (max ≥ avg)
      assert(got(label)._4 >= 1.0)
    }
    assert(got.keySet == Set("orders.o_custkey", "lineitem.l_partkey",
      "lineitem.l_suppkey", "events.user_id"))
  }

  test("join_card_audit: estimate law and actual counts match brute force") {
    val got = Relational.joinCardAudit(spark, sf0001).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    assert(got.keySet ==
      Set("orders-customer", "lineitem-part", "lineitem-orders"))
    for ((_, (nA, nB, ndvA, ndvB, est, actual, err)) <- got) {
      assert(est == nA * nB / math.max(ndvA, ndvB))
      assert(err == actual.toDouble / est.toDouble)
    }
    // FK-join ground truth: every order has a customer → actual == |orders|
    val (nA, _, _, _, _, actual, _) = got("orders-customer")
    assert(actual == nA)
  }

  test("aggDecimalMoney decimal widening: DECIMAL(18,0) cast of BIGINT cents is lossless") {
    // The declared query surfaces BIGINT cents (any DECIMAL output column
    // hashes differently across the parquet/DuckDB boundary, r8/r9); the
    // DECIMAL-type exercise lives here, where no cross-engine hash runs.
    val base = Relational.aggDecimalMoney(spark, sf0001)
    val widened = base.select(
      col("l_returnflag"),
      col("revenue_cents").cast("decimal(18,0)").as("revenue_dec"))
    assert(widened.schema("revenue_dec").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 0))
    val back = widened.collect()
      .map(r => r.getString(0) -> r.getDecimal(1).longValueExact()).toMap
    val orig = base.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back == orig, "decimal widening must be value-lossless")
    assert(orig.keySet == Set("A", "N", "R"))
    assert(orig.values.forall(_ > 0L))
  }

  test("posting_lists: csv form equals array form element-for-element") {
    val arr = TextOps.postingListsArray(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    val csv = TextOps.postingLists(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(arr.keySet == csv.keySet)
    assert(arr.nonEmpty)
    arr.foreach { case (tok, (df, postings)) =>
      val (csvDf, csvStr) = csv(tok)
      assert(df == csvDf)
      assert(postings.mkString(",") == csvStr, s"mismatch for token $tok")
      assert(postings.length == df, s"df must equal postings length for $tok")
      assert(postings == postings.sorted, s"postings must be sorted for $tok")
    }
  }

  // r10 TPC-H classics — goldens computed once with DuckDB at sf0.001
  test("q6_forecast_revenue: golden single row") {
    val r = Relational.q6ForecastRevenue(spark, sf0001).collect()(0)
    assert(r.getLong(0) == 42964746L && r.getLong(1) == 152L)
  }

  test("q4_priority_exists: golden per-priority counts") {
    val rows = Relational.q4PriorityExists(spark, sf0001).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("1-URGENT", 214L), ("2-HIGH", 235L), ("3-MEDIUM", 245L),
      ("4-NOT SPECIFIED", 226L), ("5-LOW", 223L)))
  }

  test("q7_volume_shipping: empty at sf0.001 (none of the 10 suppliers sit in NATION_1/2)") {
    // The substantive value check is the sf0.01 oracle (14 rows); this
    // pins that the pre-filtered dims don't accidentally widen the result.
    assert(Relational.q7VolumeShipping(spark, sf0001).count() == 0L)
  }

  test("q10_returned_items: golden top customer") {
    val r = Relational.q10ReturnedItems(spark, sf0001).collect()(0)
    assert(r.getLong(0) == 140L)         // c_custkey
    assert(r.getLong(3) == 24328402L)    // revenue_cents
  }

  test("q18_large_orders: limit binds (166 qualifying orders at sf0.001)") {
    val rows = Relational.q18LargeOrders(spark, sf0001).collect()
    assert(rows.length == 100)
    // descending by quantity with orderkey tie-break; all above threshold
    val qtys = rows.map(_.getLong(4))
    assert(qtys.toSeq == qtys.sortBy(-_).toSeq && qtys.forall(_ > 18000L))
  }

  test("q19_disjunctive: golden single row") {
    val r = Relational.q19Disjunctive(spark, sf0001).collect()(0)
    assert(r.getLong(0) == 734609460L && r.getLong(1) == 147L)
  }

  test("skyline_parts: golden frontier + no row dominates another") {
    val rows = Relational.skylineParts(spark, sf0001).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq == Seq(
      (0L, 900.0, 24L), (3L, 900.3, 29L), (7L, 900.7, 33L),
      (9L, 900.9, 48L), (26L, 902.6, 50L)))
    // frontier internal consistency: price strictly asc ⇒ size strictly asc
    val sizes = rows.map(_.getLong(2))
    assert(sizes.toSeq == sizes.sorted.toSeq && sizes.distinct.length == sizes.length)
  }

  test("event_transitions: 5×5 matrix, bigram count = rows - users-with-events") {
    val rows = EventOps.eventTransitions(spark, sf0001).collect()
    assert(rows.length == 25)
    assert(rows.map(_.getLong(2)).sum == 985L) // 1000 events - 15 users' first rows
  }

  test("asof_join_tolerance: every purchase kept; matches respect (0, 1h] gap") {
    val rows = EventOps.asofJoinTolerance(spark, sf0001).collect()
    assert(rows.length == 202)
    val matched = rows.filter(!_.isNullAt(2))
    assert(matched.length == 2)
    matched.foreach { r =>
      val gap = r.getLong(4)
      assert(gap > 0L && gap <= 3600000000L, s"gap out of tolerance: $gap")
    }
  }

  test("q15_top_supplier: golden top supplier") {
    val rows = Relational.q15TopSupplier(spark, sf0001).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 9L && rows(0).getLong(2) == 141942064L)
  }

  test("ivm_join_view: incremental refresh == direct full aggregate, in-engine") {
    val ivm = Relational.ivmJoinView(spark, sf0001).collect().map(_.toSeq).toSeq
    val direct = Relational.joinNationRevenue(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(ivm == direct)
    // the refresh must not re-read the base fact: exactly one lineitem scan
    // (the delta) — the standing view comes from its staged parquet
    val p = Relational.ivmJoinView(spark, sf0001).queryExecution.executedPlan.toString
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1, p)
  }

  test("k_anonymity_customers: risk accounting is internally consistent") {
    val rows = Relational.kAnonymityCustomers(spark, sf0001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (classes, below, atRisk, minSz) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(below <= classes)
      assert(atRisk <= below * 4L)  // every below-k class has < 5 rows
      assert(minSz >= 1L)
      assert((below == 0L) == (atRisk == 0L))
    }
  }

  test("ewma_user_value == sequential fixed-point recurrence, per user") {
    val engine = EventOps.ewmaUserValue(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val events = graft.sources.Tables.events(spark, sf0001)
      .selectExpr("user_id", "ts_us", "event_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perUser = events.groupBy(_._1).map { case (u, es) =>
      val sorted = es.sortBy(e => (e._2, e._3)).map(_._4)
      val s = sorted.tail.foldLeft(sorted.head) { (s, x) =>
        s + math.floor((x - s) / 4.0).toLong
      }
      u -> (sorted.length.toLong, s)
    }
    assert(perUser.size == engine.size)
    perUser.foreach { case (u, v) => assert(engine(u) == v, s"user=$u") }
  }

  test("table_profile_lineitem: 8 columns; counts/ndv/ranges internally consistent") {
    val rows = Relational.tableProfileLineitem(spark, sf0001).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.getLong(1) == 6000L, r.toString)                 // all columns non-null
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 6000L)       // 1 ≤ ndv ≤ rows
    }
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("l_returnflag").getLong(2) == 3L)             // A/N/R
    assert(byName("l_discount").getString(3) == "0")            // min 0 cents
  }

  test("table_profile_approx: same report shape; HLL ndv within 5% of exact") {
    val exact = Relational.tableProfileLineitem(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = Relational.tableProfileApprox(spark, sf0001).collect()
    assert(approx.length == 8)
    approx.foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getLong(1) == e.getLong(1))                      // counts exact
      assert(r.getString(3) == e.getString(3), r.getString(0))  // min exact
      assert(r.getString(4) == e.getString(4), r.getString(0))  // max exact
      val (a, x) = (r.getLong(2).toDouble, e.getLong(2).toDouble)
      assert(math.abs(a - x) / x <= 0.05, s"${r.getString(0)}: $a vs $x")
    }
  }

  test("source_overlap_matrix: symmetric-free pairs; overlap bounded by smaller side") {
    val rows = graft.operators.TextOps.sourceOverlapMatrix(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))                   // canonical orientation
      assert(r.getLong(2) > 0L)
    }
    assert(rows.length <= 20 * 19 / 2)
  }

  test("doc_hop_distance: BFS invariants — source at 0, every level supported by the previous") {
    val dist = graft.operators.GraphOps.docHopDistance(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist(0L) == 0L)
    assert(dist.values.forall(d => d >= 0L && d <= 6L))
    // rebuild the undirected edge set and check: a node at depth d > 0 has
    // at least one neighbor at depth d-1 (BFS level consistency)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = docs.length
    val und = docs.flatMap { case (id, c) =>
      Seq(id -> c % n, id -> (c * 31 + id) % n)
    }.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    dist.foreach { case (node, d) =>
      if (d > 0) assert(und(node).exists(nb => dist.get(nb).contains(d - 1)), s"node $node")
    }
  }

  test("drift_tv_distance: golden weeks; TV bounded in [0,1]") {
    val rows = EventOps.driftTvDistance(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2818L, 2819L, 2820L, 2821L))
    assert(math.abs(rows(0).getDouble(1) - 0.13371978390315076) < 1e-15)
    assert(rows.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("drift_tv_distance: metric identity — identical weekly mixes give TV exactly 0") {
    import spark.implicits._
    // two weeks with the same type mix scaled 3×: TV must be exactly 0
    // (integer numerator n1*N2 - n2*N1 vanishes term-by-term)
    val weekUs = 7L * 86400L * 1000000L
    val rows =
      Seq.tabulate(10)(i => (i.toLong, 0L * weekUs + i, 1L, if (i % 2 == 0) "a" else "b", 1.0, "{}")) ++
      Seq.tabulate(30)(i => ((100 + i).toLong, 1L * weekUs + i, 1L, if (i % 2 == 0) "a" else "b", 1.0, "{}"))
    val dir = "/tmp/graft_tv_ident"
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .drop("ts_us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val tv = EventOps.driftTvDistance(spark, dir).collect()
    assert(tv.length == 1 && tv(0).getDouble(1) == 0.0, tv.mkString(","))
  }

  test("image_color_near_dup: 286 bucketed pairs at sf0.001, residual bound holds") {
    val rows = graft.operators.MultimodalOps.imageColorNearDup(spark, sf0001).collect()
    assert(rows.length == 286)
    rows.foreach { r =>
      assert(math.abs(r.getLong(4)) <= 4L)
      // real decode must equal the generator's closed form
      assert(r.getLong(2) == (r.getLong(0) * 7) % 256)
    }
  }

  test("retention_cohorts: 18 cells summing to 69 active-user-weeks; offsets start at 0") {
    val rows = EventOps.retentionCohorts(spark, sf0001).collect()
    assert(rows.length == 18)
    assert(rows.map(_.getLong(2)).sum == 69L)
    assert(rows.forall(_.getLong(1) >= 0L))
  }

  test("bm25_topk: top hit per query is golden; scores descend within query; ranks tile 1..10") {
    val rows = TextAnalysisOps.bm25Topk(spark, sf0001).collect()
    assert(rows.length == 30)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(1L, 2L, 3L))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 10L))
      val scores = sorted.map(_.getLong(3))
      assert(scores.toSeq == scores.sortBy(-_).toSeq)
      assert(g.forall(r => r.getLong(4) >= 1L && r.getLong(4) <= 3L))
    }
    val top1 = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 1L).get
    assert(top1.getLong(2) == 333L && top1.getLong(3) == 1476971L)
  }

  test("mad_outliers: golden per-type medians/MADs; outliers bounded") {
    val rows = EventOps.madOutliers(spark, sf0001).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getLong(4))).toSeq == Seq(
      ("click", 210L, 3339.5, 2286.5, 23L),
      ("error", 201L, 3355.0, 2295.0, 22L),
      ("purchase", 202L, 3582.5, 2391.0, 28L),
      ("signup", 199L, 3790.0, 2849.0, 14L),
      ("view", 188L, 3721.5, 2556.0, 17L)))
    assert(rows.map(_.getLong(1)).sum == 1000L) // every event in exactly one group
  }

  test("minhash_pr_eval: counts consistent; ratios are the exact quotients; hits bounded") {
    val r = TextOps.minhashPrEval(spark, sf0001).collect()(0)
    val (c, t, h, p, rc) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    assert(h <= math.min(c, t))
    assert(t == 28L) // golden truth-set size at sf0.001 (exact J >= 1/2)
    assert(p == h.toDouble / c.toDouble && rc == h.toDouble / t.toDouble)
    assert(rc >= 0.8, s"LSH config should catch most true near-dups, got $rc")
  }

  test("minhash_pr_planted: planted universe complete; counts consistent; light band recovered") {
    val rows = TextOps.minhashPrPlanted(spark, sf0001).collect().toSeq
    assert(rows.nonEmpty && rows.map(_.getLong(0)).forall(b => b >= 0 && b <= 2))
    // planted universe = every %100==7 doc with >= 3 tokens, across bands
    val expected = graft.sources.Tables.documents(spark, sf0001)
      .filter(org.apache.spark.sql.functions.expr(
        "doc_id % 100 = 7 AND size(split(text, ' ')) >= 3"))
      .count()
    assert(rows.map(_.getLong(1)).sum == expected)
    rows.foreach { r =>
      val (planted, tru, rec, cand, candTrue) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6))
      assert(rec <= tru && tru <= planted, s"band ${r.getLong(0)}: counts inconsistent")
      assert(candTrue <= cand)
      if (tru > 0) assert(r.getDouble(4) == rec.toDouble / tru.toDouble) else assert(r.isNullAt(4))
      if (cand > 0) assert(r.getDouble(7) == candTrue.toDouble / cand.toDouble) else assert(r.isNullAt(7))
    }
    // the light band (~1/16 token types dropped, planted J ~ 0.85) must
    // exist, be all-true, and be fully recovered by the 4x2 LSH here
    val b0 = rows.find(_.getLong(0) == 0L).get
    assert(b0.getLong(2) == b0.getLong(1) && b0.getLong(1) > 0)
    assert(b0.getDouble(4) == 1.0, s"light-band recall ${b0.getDouble(4)} < 1 at sf0.001")
  }

  test("quantile_drift_weekly: 5 types x 3 consecutive weeks; delta identity exact") {
    val rows = EventOps.quantileDriftWeekly(spark, sf0001).collect()
    assert(rows.length == 15)
    assert(rows.map(_.getLong(1)).toSeq.distinct.sorted == Seq(1L, 2L, 3L))
    // reconstruct week-0 p50 from (p50, d_p50) chains: deltas are exact
    val byType = rows.groupBy(_.getString(0))
    byType.values.foreach { g =>
      g.sortBy(_.getLong(1)).foreach { r =>
        assert(!r.getDouble(3).isNaN && !r.getDouble(5).isNaN)
      }
    }
  }

  test("seasonal_forecast_mae: all five types backtested; MAE identity holds exactly") {
    val rows = EventOps.seasonalForecastMae(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("click", "error", "purchase", "signup", "view"))
    rows.foreach { r =>
      val (n, s, mae) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n > 0L && s >= 0L)
      assert(mae == s.toDouble / n.toDouble) // one exact int/int division
    }
  }

  test("target_encode_oof: encoding excludes exactly the receiving fold") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("event_id") % 5,
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = EventOps.targetEncodeOof(spark, sf0001).collect()
    assert(out.length == ev.map(e => (e._1, e._2)).distinct.length)
    out.foreach { r =>
      val (t, f) = (r.getString(0), r.getLong(1))
      val mine = ev.filter(e => e._1 == t && e._2 == f)
      val others = ev.filter(e => e._1 == t && e._2 != f)
      assert(r.getLong(2) == mine.length.toLong && r.getLong(3) == mine.map(_._3).sum)
      assert(r.getDouble(4) ==
        others.map(_._3).sum.toDouble / others.length.toDouble)
      // leakage check: the encoding is NOT the plain category mean unless
      // the fold happens to sit exactly on it
      val all = ev.filter(_._1 == t)
      val allMean = all.map(_._3).sum.toDouble / all.length.toDouble
      if (mine.map(_._3).sum * others.length != others.map(_._3).sum * mine.length)
        assert(r.getDouble(4) != allMean)
    }
  }

  test("cusum_changepoint: fraction-free peak equals the collected brute force") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), expr("ts_us DIV 86400000000"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = EventOps.cusumChangepoint(spark, sf0001).collect()
    assert(out.map(_.getString(0)).toSeq == ev.map(_._1).distinct.sorted.toSeq)
    out.foreach { r =>
      val t = r.getString(0)
      val daily = ev.filter(_._1 == t).groupBy(_._2).map { case (d, g) =>
        (d, g.map(_._3).sum) }.toSeq.sortBy(_._1)
      val n = daily.length.toLong
      val total = daily.map(_._2).sum
      var prefix = 0L
      val s = daily.zipWithIndex.map { case ((d, c), i) =>
        prefix += c; (d, n * prefix - (i + 1L) * total) }
      val peak = s.minBy { case (d, v) => (-math.abs(v), d) }
      assert(r.getLong(1) == n && r.getLong(2) == total)
      assert(r.getLong(3) == peak._1 && r.getLong(4) == peak._2)
      assert(r.getDouble(5) == peak._2.toDouble / n.toDouble)
      // the CUSUM telescopes to zero at the last day: S_n = n·T − n·T
      assert(s.last._2 == 0L)
    }
  }

  test("acf_daily_events: cleared-fraction lags equal the textbook estimator") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), expr("ts_us DIV 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val out = EventOps.acfDailyEvents(spark, sf0001).collect()
    assert(out.length == ev.map(_._1).distinct.length * 3)
    out.foreach { r =>
      val (t, k) = (r.getString(0), r.getLong(1).toInt)
      val xs = ev.filter(_._1 == t).groupBy(_._2).map { case (d, g) =>
        (d, g.length.toLong) }.toSeq.sortBy(_._1).map(_._2)
      val n = xs.length.toLong
      val tot = xs.sum
      val xc = xs.map(x => n * x - tot)
      val den = xc.map(v => v * v).sum
      val num = xc.dropRight(k).zip(xc.drop(k)).map { case (a, b) => a * b }.sum
      assert(r.getLong(2) == n && r.getLong(3) == num)
      assert(r.getDouble(4) == num.toDouble / den.toDouble)
      assert(math.abs(r.getDouble(4)) <= 1.0) // Cauchy–Schwarz bound
    }
  }

  test("sliding_distinct_users: trailing 7-day panel equals the brute-force window") {
    val du = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), expr("ts_us DIV 86400000000"), col("user_id"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val days = du.map(_._2).distinct.sorted
    val out = EventOps.slidingDistinctUsers(spark, sf0001).collect()
    assert(out.length == du.map(_._1).distinct.length * days.length)
    out.foreach { r =>
      val (t, w) = (r.getString(0), r.getLong(1))
      val expected = du.filter(e => e._1 == t && e._2 >= w - 6 && e._2 <= w)
        .map(_._3).distinct.length.toLong
      assert(r.getLong(2) == expected)
    }
    // the trailing window is a superset of the single day's actives
    val daily = du.groupBy(e => (e._1, e._2)).map { case (k, g) =>
      k -> g.map(_._3).distinct.length.toLong }
    out.foreach { r =>
      assert(r.getLong(2) >= daily.getOrElse((r.getString(0), r.getLong(1)), 0L))
    }
  }

  test("bootstrap_ci_daily: replica weights replay exactly; CI bounds bracket the replicas") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def m(t: String, d: Long, b: Int): Long = {
      val hex = md.digest(s"bs:$t:$d:$b".getBytes("UTF-8"))
        .take(4).map(x => f"${x & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val thr = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)
    def w(mm: Long): Long = thr.indexWhere(mm < _) match {
      case -1 => 6L; case i => i.toLong
    }
    val daily = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), expr("ts_us DIV 86400000000"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(e => (e._1, e._2)).toSeq
      .map { case ((t, d), g) => (t, d, g.map(_._3).sum) }
    val out = EventOps.bootstrapCiDaily(spark, sf0001).collect()
    out.foreach { r =>
      val t = r.getString(0)
      val series = daily.filter(_._1 == t)
      assert(r.getLong(1) == series.length.toLong)
      assert(r.getDouble(2) ==
        series.map(_._3).sum.toDouble / series.length.toDouble)
      val means = (0 until 200).flatMap { b =>
        val ws = series.map { case (_, d, x) => (w(m(t, d, b)), x) }
        val sw = ws.map(_._1).sum
        if (sw > 0) Some(ws.map { case (wt, x) => wt * x }.sum.toDouble / sw.toDouble)
        else None
      }
      assert(r.getLong(3) == means.length.toLong)
      val (lo, hi) = (r.getDouble(4), r.getDouble(5))
      assert(lo <= hi)
      // bounds must bracket within the replica range (round-6 tolerance)
      assert(lo >= means.min - 1e-6 && hi <= means.max + 1e-6)
      // 95% of replicas lie inside the CI by construction
      val inside = means.count(x => x >= lo - 1e-6 && x <= hi + 1e-6)
      assert(inside >= (means.length * 0.94).toInt)
    }
  }

  test("l_diversity_customers: class diversity equals the collected brute force") {
    val rows = graft.sources.Tables.customer(spark, sf0001)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) DIV 100000"))
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue, r.getLong(2)))
    val out = Relational.lDiversityCustomers(spark, sf0001).collect()
    assert(out.map(_.getString(0)).toSeq == rows.map(_._1).distinct.sorted.toSeq)
    out.foreach { r =>
      val seg = r.getString(0)
      val classes = rows.filter(_._1 == seg).groupBy(_._2).toSeq
        .map { case (_, g) => (g.map(_._3).distinct.length.toLong, g.length.toLong) }
      assert(r.getLong(1) == classes.size.toLong)
      assert(r.getLong(2) == classes.count(_._1 < 3L).toLong)
      assert(r.getLong(3) == classes.filter(_._1 < 3L).map(_._2).sum)
      assert(r.getLong(4) == classes.map(_._1).min)
    }
  }

  test("jaccard_join_exact: prefix filtering is LOSSLESS — equals the all-pairs brute force") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .filter(col("lang") === "en" && col("doc_id") % 10 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSet))
    val expect = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      (d1, t1) = docs(i); (d2, t2) = docs(j)
      inter = (t1 & t2).size
      if 3L * inter >= (t1.size + t2.size) // J >= 0.5 as the integer gate
    } yield {
      val (a, b) = if (d1 < d2) (d1, d2) else (d2, d1)
      val (ta, tb) = if (d1 < d2) (t1, t2) else (t2, t1)
      (a, b, inter.toLong, ta.size.toLong, tb.size.toLong)
    }).toVector.sortBy(e => (e._1, e._2))
    val out = TextOps.jaccardJoinExact(spark, sf0001).collect()
    assert(out.length == expect.length) // no candidate missed, none invented
    out.zip(expect).foreach { case (r, e) =>
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == e)
      assert(r.getDouble(5) == e._3.toDouble / (e._4 + e._5 - e._3).toDouble)
      assert(r.getDouble(5) >= 0.5)
    }
  }

  test("graph_assortativity: sqrt-free rational equals the textbook Pearson over stubs") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = docs.length.toLong
    val edges = docs.flatMap { case (id, nc) => Seq((id, nc % n), (id, (nc * 31 + id) % n)) }
      .filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val stubs = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .map { case (u, v) => (deg(u), deg(v)) }
    val m = stubs.length.toLong
    val s = stubs.map(_._1).sum
    val sxy = stubs.map { case (x, y) => x * y }.sum
    val sx2 = stubs.map { case (x, _) => x * x }.sum
    val r = GraphOps.graphAssortativity(spark, sf0001).collect()(0)
    assert(r.getLong(0) == edges.length.toLong && r.getLong(1) == m)
    assert(r.getLong(2) == s && r.getLong(3) == sxy && r.getLong(4) == sx2)
    assert(r.getDouble(5) == (m * sxy - s * s).toDouble / (m * sx2 - s * s).toDouble)
    // symmetric stubs make the rational form EXACTLY textbook Pearson
    val xs = stubs.map(_._1.toDouble); val ys = stubs.map(_._2.toDouble)
    val mx = xs.sum / m
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - mx) }.sum
    val vx = xs.map(x => (x - mx) * (x - mx)).sum
    assert(math.abs(r.getDouble(5) - cov / vx) < 1e-9)
    assert(math.abs(r.getDouble(5)) <= 1.0)
  }

  test("link_predict_cn: candidates are canonical non-edges with consistent Jaccard") {
    val rows = graft.operators.GraphOps.linkPredictCn(spark, sf0001).collect()
    assert(rows.length == 20)
    val cns = rows.map(_.getLong(2))
    assert(cns.toSeq == cns.sortBy(-_).toSeq)
    rows.foreach { r =>
      val (u, v, cn, du, dv, j) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(u < v)
      assert(cn >= 1L && cn <= math.min(du, dv)) // common nbrs bounded by degree
      assert(j == cn.toDouble / (du + dv - cn).toDouble) // exact int/int quotient
      assert(j > 0.0 && j <= 1.0)
    }
  }

  // r10 TPC-H completion set — goldens computed once with DuckDB at sf0.001
  // (the substantive cross-engine check is the sf0.01 driver oracle).

  test("q2_min_cost_supplier: golden 5 rows — each part keeps only its EUROPE min-cost supplier") {
    val rows = TpchOps.q2MinCostSupplier(spark, sf0001).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4))).toSeq == Seq(
      (603519L, "Supplier#000000002", 20L, 246L),
      (603519L, "Supplier#000000002", 52L, 470L),
      (603519L, "Supplier#000000002", 120L, 946L),
      (603519L, "Supplier#000000002", 130L, 1016L),
      (603519L, "Supplier#000000002", 150L, 1156L)))
  }

  test("q8_market_share: both years present; share 0 at sf0.001 (no NATION_7 volume in ASIA)") {
    val rows = TpchOps.q8MarketShare(spark, sf0001).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1995L, 0.0), (1996L, 0.0)))
  }

  test("q9_product_profit: golden head; years descend within nation") {
    val rows = TpchOps.q9ProductProfit(spark, sf0001).collect()
    assert(rows.length == 70)
    val r0 = rows(0)
    assert(r0.getString(0) == "NATION_12" && r0.getLong(1) == 2001L && r0.getLong(2) == 22863249L)
    rows.groupBy(_.getString(0)).values.foreach { g =>
      val ys = g.map(_.getLong(1)).toSeq
      assert(ys == ys.sortBy(-_), s"years not descending: $ys")
    }
  }

  test("q11_important_stock: empty at sf0.001 (NATION_9 holds no suppliers there)") {
    assert(TpchOps.q11ImportantStock(spark, sf0001).count() == 0L)
  }

  test("q12_late_priority: golden CASE-sum split") {
    val rows = TpchOps.q12LatePriority(spark, sf0001).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == Seq(
      ("LATE", 1218L, 1829L), ("ONTIME", 1189L, 1764L)))
  }

  test("q13_customer_distribution: golden head; distribution masses sum to the customer count") {
    val rows = TpchOps.q13CustomerDistribution(spark, sf0001).collect()
    assert(rows.length == 15)
    assert(rows.take(3).map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq(
      (9L, 25L), (6L, 20L), (10L, 17L)))
    assert(rows.map(_.getLong(1)).sum == 150L) // every customer lands in exactly one bucket
  }

  test("q16_supplier_counts: golden head; counts descend") {
    val rows = TpchOps.q16SupplierCounts(spark, sf0001).collect()
    assert(rows.length == 26)
    val r0 = rows(0)
    assert((r0.getString(0), r0.getString(1), r0.getLong(2), r0.getLong(3)) ==
      (("Brand#11", "SMALL", 16L, 10L)))
    val cnts = rows.map(_.getLong(3))
    assert(cnts.toSeq == cnts.sortBy(-_).toSeq)
  }

  test("q17_small_qty_revenue: golden single row (integer-exact 5·qty·count < sum threshold)") {
    val r = TpchOps.q17SmallQtyRevenue(spark, sf0001).collect()(0)
    assert(r.getDouble(0) == 800232.7142857143 && r.getLong(1) == 1L)
  }

  test("q20/q21: empty at sf0.001 (NATION_9 holds no suppliers there)") {
    assert(TpchOps.q20ExcessSuppliers(spark, sf0001).count() == 0L)
    assert(TpchOps.q21WaitingSupplier(spark, sf0001).count() == 0L)
  }

  test("q22_dormant_customers: golden head; every cohort is dormant high-balance") {
    val rows = TpchOps.q22DormantCustomers(spark, sf0001).collect()
    assert(rows.length == 10)
    assert(rows.take(3).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq(
      (0L, 1L, 880844L), (1L, 1L, 590039L), (10L, 1L, 762287L)))
    assert(rows.forall(_.getLong(1) >= 1L))
  }

  test("fk_integrity_audit: all six schema edges audit to zero orphans") {
    val rows = Relational.fkIntegrityAudit(spark, sf0001).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "customer->nation", "lineitem->orders", "lineitem->part",
      "lineitem->supplier", "orders->customer", "supplier->nation"))
    assert(rows.forall(_.getLong(2) == 0L), rows.mkString(", "))
    // child counts are the real table sizes, not zero
    assert(rows.forall(_.getLong(1) > 0L))
  }

  test("norm2_profile_label: quantized fold norms match the sequential brute force") {
    val rows = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("label").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val n2 = rows.map { case (l, v) =>
      var acc = 0.0
      v.foreach(x => acc += x.toDouble * x.toDouble) // the engine's fold order
      (l, math.floor(acc * 1000000 + 0.5).toLong)
    }
    val expect = n2.groupBy(_._1).view.mapValues { vs =>
      val xs = vs.map(_._2)
      (xs.length.toLong, xs.min, xs.max, xs.sum.toDouble / xs.length.toDouble)
    }.toMap
    val got = VectorOps.norm2ProfileLabel(spark, sf0001).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expect)
  }

  test("ship_latency_percentiles: rank-pick quantiles match the sorted gap brute force") {
    val dayUs = 86400000000L
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"),
        expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV $dayUs"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ord = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV $dayUs"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    val gaps = li.flatMap { case (ok, sd) => ord.get(ok).map { case (p, od) => (p, sd - od) } }
    val got = TpchOps.shipLatencyPercentiles(spark, sf0001).collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))).toMap
    for ((p, rows) <- gaps.groupBy(_._1)) {
      val vs = rows.map(_._2).sorted
      val n = vs.length.toLong
      def pick(pct: Long): Long = vs(math.max(1L, pct * n / 100).toInt - 1)
      assert(got(p) == ((n, pick(50), pick(90), pick(99),
        vs.sum.toDouble / n.toDouble)))
    }
  }

  test("pareto_suppliers_80: exact integer 80% cutoff over descending revenue") {
    val rev = graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val total = rev.map(_._2).sum
    val sorted = rev.sortBy { case (k, v) => (-v, k) }
    var cum = 0L; var n80 = 0L
    for ((_, v) <- sorted) { if (cum * 5 < total * 4) n80 += 1; cum += v }
    val r = TpchOps.paretoSuppliers80(spark, sf0001).collect().head
    assert(r.getLong(0) == rev.length.toLong && r.getLong(1) == n80)
    assert(r.getLong(2) == total)
    assert(r.getDouble(3) == n80.toDouble / rev.length.toDouble)
    assert(r.getDouble(4) == sorted.head._2.toDouble / total.toDouble)
  }

  test("open_orders_weekly: interval sweep equals the per-day replay") {
    val dayUs = 86400000000L
    val close = graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"),
        expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV $dayUs"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val opens = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_orderkey"),
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV $dayUs"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (ok, _) => close.contains(ok) }
    val deltas = scala.collection.mutable.Map.empty[Long, Long]
    for ((ok, od) <- opens) {
      deltas(od) = deltas.getOrElse(od, 0L) + 1
      val cd = close(ok) + 1
      deltas(cd) = deltas.getOrElse(cd, 0L) - 1
    }
    var open = 0L
    val series = deltas.toSeq.sortBy(_._1).map { case (d, dl) => open += dl; (d, open) }
    val expect = series.groupBy(_._1 / 7).view.mapValues(rs =>
      (rs.map(_._2).max, rs.maxBy(_._1)._2)).toMap
    val got = TpchOps.openOrdersWeekly(spark, sf0001).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("label_prop_communities: 4 min-label rounds equal the sequential propagation") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = docs.length.toLong
    val edges = docs.flatMap { case (id, ch) =>
      Seq((id, ch % n), (id, (ch * 31 + id) % n))
    }.filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val edgesBoth = edges ++ edges.map(_.swap)
    var lbl = docs.map { case (id, _) => id -> id }.toMap
    for (_ <- 1 to 4) {
      val contrib = edgesBoth.flatMap { case (s, d) => lbl.get(s).map(l => (d, l)) }
      lbl = (lbl.toSeq ++ contrib).groupBy(_._1)
        .view.mapValues(_.map(_._2).min).toMap
    }
    val expect = lbl.values.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
      .sortBy { case (c, sz) => (-sz, c) }.take(20)
    val got = GraphOps.labelPropCommunities(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("clustering_depth_audit: sorted layout has fewer overlapping buckets; brute ntile agrees") {
    val rows = graft.sources.Tables.lineitem(spark, sf0001)
      .select(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000000"),
        col("l_orderkey"), col("l_linenumber").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def overlaps(order: Ordering[(Long, Long, Long)]): Long = {
      val sorted = rows.sorted(order)
      val n = sorted.length; val b = 32
      val big = n / b + (if (n % b > 0) 1 else 0); val small = n / b
      val cut = (n % b) * big
      val byBucket = sorted.zipWithIndex.groupBy { case (_, i) =>
        val rn = i + 1
        if (rn <= cut) (rn - 1) / big + 1 else n % b + (rn - cut - 1) / small + 1
      }
      val ranges = byBucket.values.map { rs =>
        (rs.map(_._1._1).min, rs.map(_._1._1).max)
      }.toSeq
      (for {
        i <- ranges.indices; j <- (i + 1) until ranges.length
        if ranges(i)._1 <= ranges(j)._2 && ranges(j)._1 <= ranges(i)._2
      } yield 1L).sum
    }
    val natural = overlaps(Ordering.by(t => (t._2, t._3)))
    val shipdate = overlaps(Ordering.by(t => (t._1, t._2, t._3)))
    val got = Relational.clusteringDepthAudit(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("natural" -> natural, "shipdate" -> shipdate))
    assert(got("shipdate") <= got("natural"))
  }

  test("dup_span_fraction equals the brute-force per-position dup count (r16 df=1 complement)") {
    // Pins the r16 identity n_dup = n_grams − Σ_{df(g)=1} c(g, doc): the
    // brute force marks each 8-gram POSITION duplicated iff its gram
    // occurs in ≥ 2 distinct docs, with the same whitespace tokenization
    // (split on ' ', empties kept) and the size ≥ 8 gate as the operator.
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val gramsByDoc = docs.collect { case (id, t) if t.size >= 8 =>
      id -> (0 to t.size - 8).map(i => t.slice(i, i + 8).mkString(" "))
    }
    val docsPerGram = gramsByDoc
      .flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.length }
    val expected = gramsByDoc.map { case (id, gs) =>
      id -> ((gs.size.toLong, gs.count(g => docsPerGram(g) >= 2).toLong))
    }.toMap
    val got = TextOps.dupSpanFraction(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // and the surfaced fraction is exactly the one division of those counts
    TextOps.dupSpanFraction(spark, sf0001).collect().foreach { r =>
      assert(r.getDouble(3) == r.getLong(2).toDouble / r.getLong(1).toDouble)
    }
  }

  test("source_overlap_matrix equals the brute-force shared-shingle-set counts (r16 set expansion)") {
    // Pins the r16 per-hash source-set pair expansion against plain Scala
    // set intersections of 3-token shingles per source (same tokenizer,
    // empties kept, size ≥ 3 gate; hashing is injective here — any
    // xxhash64 collision would fail this test).
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ", -1).toSeq)
    val shBySource = docs.collect { case (s, t) if t.size >= 3 =>
      s -> (0 to t.size - 3).map(i => t.slice(i, i + 3).mkString(" ")).toSet
    }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).reduce(_ ++ _) }
    val sources = shBySource.keys.toSeq.sorted
    val expected = (for {
      i <- sources.indices; j <- (i + 1) until sources.length
      n = (shBySource(sources(i)) & shBySource(sources(j))).size.toLong
      if n > 0
    } yield (sources(i), sources(j)) -> n).toMap
    val got = TextOps.sourceOverlapMatrix(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }
}
