package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Sequence / order-statistic analytics (events) and corpus-curation
  * planning (documents) — the round-11 band. Two families:
  *
  *  - **Sequence analytics**: gaps-and-islands activity streaks,
  *    second-order Markov transitions, time-to-conversion histogram,
  *    and three classical nonparametric statistics (Kolmogorov–Smirnov
  *    two-sample, Spearman rho, Kendall tau-a) in the repo's
  *    integer-exact form: every statistic is an exact BIGINT numerator
  *    and denominator with at most ONE IEEE division at the output
  *    (COVERAGE.md class 2), so Spark and DuckDB hash bit-identically
  *    regardless of partitioning. Nonparametric tests were chosen over
  *    their parametric cousins deliberately: rank statistics stay in
  *    integer arithmetic, while Pearson/t-tests force sqrt (libm,
  *    banned from declared outputs by the determinism protocol).
  *
  *  - **Curation planning**: the quality-filter attrition funnel, the
  *    exact-dedup token-yield and cluster-size profiles, market-style
  *    concentration (HHI) of the source/lang mix, deterministic
  *    curriculum deciles (distributed ntile — no single-partition
  *    window), and an integer token-budget mixture plan (epochs per
  *    source under a repetition cap — the data-mixing arithmetic a
  *    training run plans with).
  *
  * Scale posture (per query, also in scaladoc below): the event
  * statistics aggregate to calendar-bounded or value-grid-bounded
  * domains BEFORE any ordered scan, so no window ever runs over raw
  * facts; the curation queries are one fact scan plus shuffles keyed
  * on 16-byte fingerprints or the 20-key source dimension.
  */
object SeqStatOps {

  private val dayUs = 86400000000L

  /** events.value quantized to integer cents (repo money convention). */
  private val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")

  /** Whitespace word count, the corpus_mix_weights convention
    * (TextAnalysisOps.scala:543) — split on single space, drop empties.
    */
  private val words =
    expr("CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT)")

  /** S+: ACTIVITY STREAKS — gaps-and-islands per user: distinct active
    * days, number of activity islands (maximal runs of consecutive
    * days), and the longest streak. The canonical retention/engagement
    * feature (DAU streaks). Islands via the textbook `day − row_number`
    * group key: consecutive days share a constant difference.
    *
    * Scale: one (user, day) distinct (shuffle on user+day), one
    * user-partitioned window — the same exchange every per-user feature
    * shares — then two key-bounded aggregates. Output is one row per
    * user; no global ordering before the final (parallel range) sort.
    */
  def streakActiveDays(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts_us DIV $dayUs").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_islands"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  /** S+: SECOND-ORDER MARKOV TRANSITIONS — (prev2, prev1) → next
    * trigram counts and conditional probability, the order-2 complement
    * of [[EventOps.eventTransitions]] (order-1). Conditioning totals
    * come from a window over the ALREADY-AGGREGATED ≤|types|³-row
    * table, so the probability join costs nothing at any scale.
    *
    * Scale: one user-partitioned window (two lags share one exchange),
    * one ≤125-row aggregate. The transition tensor is |event_types|³
    * rows regardless of fact size.
    */
  def secondOrderTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val counts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev1", lag(col("event_type"), 1).over(w))
      .withColumn("prev2", lag(col("event_type"), 2).over(w))
      .filter(col("prev2").isNotNull)
      .groupBy(col("prev2"), col("prev1"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val ctx = Window.partitionBy(col("prev2"), col("prev1"))
    counts
      .withColumn("ctx_total", sum(col("n")).over(ctx))
      .select(
        col("prev2"), col("prev1"), col("next_type"), col("n"), col("ctx_total"),
        (col("n").cast("double") / col("ctx_total").cast("double")).as("prob"))
      .orderBy(col("prev2"), col("prev1"), col("next_type"))
  }

  /** S+: TIME-TO-CONVERSION HISTOGRAM — for every user whose history
    * contains a purchase, whole days from their FIRST event of any kind
    * to their FIRST purchase, bucketed by that day count; share over
    * converted users is ONE int/int IEEE division. The funnel-latency
    * complement of `funnel_conversion` (which counts stage reach, not
    * latency).
    *
    * Scale: two user-keyed min-aggregates (one exchange each, both
    * partial-agg'd map-side) joined user-to-user, then a ≤span-days
    * histogram aggregate. Nothing global until the ≤31-row output.
    */
  def timeToFirstPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val firstAny = e.groupBy(col("user_id")).agg(min(col("ts_us")).as("t0"))
    val firstBuy = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("tp"))
    val hist = firstBuy.join(firstAny, Seq("user_id"))
      .select(expr(s"(tp - t0) DIV $dayUs").as("days_to_purchase"))
      .groupBy(col("days_to_purchase"))
      .agg(count(lit(1)).as("n_users"))
    val total = hist.agg(sum(col("n_users")).as("n_converted"))
    hist.crossJoin(broadcast(total))
      .select(
        col("days_to_purchase"), col("n_users"), col("n_converted"),
        (col("n_users").cast("double") / col("n_converted").cast("double"))
          .as("user_share"))
      .orderBy(col("days_to_purchase"))
  }

  /** S+: KOLMOGOROV–SMIRNOV TWO-SAMPLE — sup-distance between the
    * purchase-value and click-value ECDFs, in exact integer form:
    * D = max |n2·cum1(v) − n1·cum2(v)| / (n1·n2), where the cumulative
    * counts are per distinct CENTS value, so numerator and denominator
    * are exact BIGINTs and the statistic is ONE IEEE division. The
    * standard drift test between two continuous distributions —
    * the order-statistic sibling of `drift_tv_distance` (categorical)
    * and `quantile_drift_weekly` (location).
    *
    * Scale: the ordered scan runs over DISTINCT cents (the value grid —
    * ≤49k here, price-grid-bounded in production), never raw events:
    * facts collapse to (cents, cnt_a, cnt_b) with map-side partial agg
    * first, so the single-partition cumulative window sees only the
    * bounded grid. (The same staging a 100 TB engine would use; for an
    * unbounded domain you'd pre-bucket to a fixed grid.)
    */
  def ksPurchaseClick(spark: SparkSession, sfDir: String): DataFrame = {
    val byValue = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), cents.as("cents"))
      .groupBy(col("cents"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("b"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byValue.select(
      col("a"), col("b"),
      sum(col("a")).over(w).as("cum_a"),
      sum(col("b")).over(w).as("cum_b"))
    val totals = byValue.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    cum.crossJoin(broadcast(totals))
      .select(abs(col("n2") * col("cum_a") - col("n1") * col("cum_b")).as("gap"),
        col("n1"), col("n2"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("gap")).as("d_num"))
      .select(
        col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") / (col("n1") * col("n2")).cast("double"))
          .as("d_stat"))
  }

  /** Daily (day, n_events, cents) series shared by the two rank
    * statistics below — one calendar-bounded aggregate of the fact
    * table (≤366 rows/year at ANY corpus size).
    */
  private def dailySeries(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(expr(s"ts_us DIV $dayUs").as("day"), cents.as("c"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("x"), sum(col("c")).as("y"))

  /** S+: SPEARMAN RANK CORRELATION between daily event count and daily
    * revenue cents — rho = (n(n²−1) − 6Σd²) / (n(n²−1)): the numerator
    * and denominator are exact BIGINTs (ranks are row_numbers with the
    * unique `day` tie-break, so both rank sequences are permutations and
    * Σd² is integer-exact), ONE IEEE division total. Rank correlation
    * instead of Pearson because Pearson's sqrt is libm (banned from
    * declared outputs).
    *
    * Scale: both windows order the CALENDAR-BOUNDED daily table
    * (≤366 rows/year) — the fact scan only feeds one day-keyed
    * aggregate with map-side partials.
    */
  def spearmanDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val d = dailySeries(spark, sfDir)
    val rx = Window.orderBy(col("x").asc, col("day").asc)
    val ry = Window.orderBy(col("y").asc, col("day").asc)
    d.select(
        (row_number().over(rx).cast("long")
          - row_number().over(ry).cast("long")).as("dd"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("dd") * col("dd")).as("sum_d2"))
      .select(
        col("n_days"), col("sum_d2"),
        ((col("n_days") * (col("n_days") * col("n_days") - 1)
          - lit(6L) * col("sum_d2")).cast("double")
          / (col("n_days") * (col("n_days") * col("n_days") - 1)).cast("double"))
          .as("rho"))
  }

  /** S+: KENDALL TAU-A over the same daily series — concordant minus
    * discordant pairs over all pairs: tau = (C − D) / (n(n−1)/2), exact
    * BIGINT counts, ONE IEEE division. The O(n²) pair join is legitimate
    * here BECAUSE the input is the calendar-bounded daily aggregate
    * (≤366 rows/year → ≤67k pairs at any corpus size); tau over raw
    * facts would instead use the O(n log n) merge-sort inversion count.
    */
  def kendallTauDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val d = dailySeries(spark, sfDir)
    val l = d.select(col("day").as("d1"), col("x").as("x1"), col("y").as("y1"))
    val r = d.select(col("day").as("d2"), col("x").as("x2"), col("y").as("y2"))
    l.join(r, col("d1") < col("d2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when((col("x1") < col("x2") && col("y1") < col("y2"))
          || (col("x1") > col("x2") && col("y1") > col("y2")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("x1") < col("x2") && col("y1") > col("y2"))
          || (col("x1") > col("x2") && col("y1") < col("y2")), 1L)
          .otherwise(0L)).as("discordant"))
      .select(
        col("n_pairs"), col("concordant"), col("discordant"),
        ((col("concordant") - col("discordant")).cast("double")
          / col("n_pairs").cast("double")).as("tau"))
  }

  /** C+: QUALITY-FILTER ATTRITION FUNNEL — the stage-by-stage survivor
    * report every curation pipeline publishes: all docs → length floor →
    * ASCII-alpha ratio (integer cross-multiplied, no division in the
    * filter) → word floor → exact-dedup survivor. Stages are CUMULATIVE
    * conjunctions; the share is ONE division by the stage-0 count.
    *
    * Scale: one scan computes all per-doc flags; the dedup flag is a
    * row_number over the md5 fingerprint (16-byte-key exchange, the
    * dedup_docs_exact discipline); the funnel itself is a 5-row stack
    * of conditional sums — a single partial-agg'd pass, NOT five scans.
    */
  def qualityFilterFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val fpw = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val flags = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"),
        length(regexp_replace(col("text"), "[^a-z ]", "")).cast("long")
          .as("alpha"),
        words.as("n_words"))
      .withColumn("is_first", (row_number().over(fpw) === 1))
      .select(
        when(col("len") >= 100, 1L).otherwise(0L).as("f_len"),
        when(col("alpha") * 10 >= col("len") * 5, 1L).otherwise(0L).as("f_alpha"),
        when(col("n_words") >= 20, 1L).otherwise(0L).as("f_words"),
        when(col("is_first"), 1L).otherwise(0L).as("f_uniq"))
    val agg = flags.agg(
      count(lit(1)).as("s0"),
      sum(col("f_len")).as("s1"),
      sum(col("f_len") * col("f_alpha")).as("s2"),
      sum(col("f_len") * col("f_alpha") * col("f_words")).as("s3"),
      sum(col("f_len") * col("f_alpha") * col("f_words") * col("f_uniq"))
        .as("s4"))
    agg.select(expr(
        """stack(5,
          |  CAST(0 AS BIGINT), 'all_docs', s0,
          |  CAST(1 AS BIGINT), 'len_ge_100', s1,
          |  CAST(2 AS BIGINT), 'alpha_ge_50pct', s2,
          |  CAST(3 AS BIGINT), 'words_ge_20', s3,
          |  CAST(4 AS BIGINT), 'exact_dedup', s4) AS (stage, stage_name, n_docs)
          |""".stripMargin), col("s0"))
      .select(col("stage"), col("stage_name"), col("n_docs"),
        (col("n_docs").cast("double") / col("s0").cast("double"))
          .as("retained_share"))
      .orderBy(col("stage"))
  }

  /** C+: DEDUP TOKEN YIELD per source — raw vs post-exact-dedup token
    * counts and the yield ratio, the number a corpus report quotes as
    * "dedup kept X% of tokens from source S". Survivor = min doc_id per
    * md5 fingerprint (the dedup_docs_exact rule).
    *
    * Scale: one fingerprint-keyed window (16-byte keys), one 20-row
    * source aggregate; token sums partial-agg map-side.
    */
  def dedupYieldSource(spark: SparkSession, sfDir: String): DataFrame = {
    val fpw = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("text"), words.as("n_words"))
      .withColumn("keep", when(row_number().over(fpw) === 1, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        sum(col("n_words")).as("raw_tokens"),
        sum(col("keep") * col("n_words")).as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("raw_tokens"), col("kept_tokens"),
        (col("kept_tokens").cast("double") / col("raw_tokens").cast("double"))
          .as("yield_share"))
      .orderBy(col("source"))
  }

  /** C+: DEDUP CLUSTER-SIZE PROFILE — how many exact-duplicate clusters
    * exist at each multiplicity, and what share of the corpus they
    * cover. The distribution behind dedup_docs_exact's single audit row;
    * its shape (head-heavy vs long-tail) decides whether exact dedup is
    * even worth a pass at a given corpus.
    *
    * Scale: fingerprint groupBy (16-byte keys) → size groupBy (≤log-many
    * distinct sizes). Both partial-agg'd; output is tiny at any scale.
    */
  def dedupClusterSizes(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = clusters.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val total = hist.agg(
      sum(col("cluster_size") * col("n_clusters")).as("n_total"))
    hist.crossJoin(broadcast(total))
      .select(
        col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") * col("n_clusters")).cast("double")
          / col("n_total").cast("double")).as("doc_share"))
      .orderBy(col("cluster_size"))
  }

  /** C+: SOURCE/LANG CONCENTRATION — Herfindahl–Hirschman index of the
    * corpus mix along each governance dimension, in the one-division
    * form HHI = Σcntᵢ² / total² (exact BIGINT numerator & denominator;
    * the usual Σshareᵢ² would be a division per group). effective_n =
    * total²/Σcnt² is the "equivalent number of equal sources" — the
    * figure a diversity report quotes. Complements `corpus_mix_weights`
    * (raw shares) with the scalar concentration summary.
    *
    * Scale: two key-bounded aggregates (20 sources / 5 langs) unioned;
    * one scan each, partial-agg'd.
    */
  def hhiConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    def dim(colName: String, label: String): DataFrame =
      Tables.documents(spark, sfDir)
        .groupBy(col(colName)).agg(count(lit(1)).as("cnt"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(col("cnt") * col("cnt")).as("sum_sq"),
          sum(col("cnt")).as("n_total"))
        .select(lit(label).as("dimension"), col("n_groups"), col("sum_sq"),
          col("n_total"),
          (col("sum_sq").cast("double")
            / (col("n_total") * col("n_total")).cast("double")).as("hhi"),
          ((col("n_total") * col("n_total")).cast("double")
            / col("sum_sq").cast("double")).as("effective_n"))
    dim("lang", "lang").unionByName(dim("source", "source"))
      .orderBy(col("dimension"))
  }

  /** C+: CURRICULUM DECILES — deterministic curriculum ordering by an
    * integer quality score (2·ascii-alpha-chars + words, doc_id
    * tie-break), bucketed into SQL-ntile deciles WITHOUT a
    * single-partition window: range repartition → in-partition sort →
    * `zipWithIndex` → ntile's exact arithmetic (first n mod B buckets
    * take ⌈n/B⌉ rows) — the [[Relational.equiDepthBuckets]] /
    * [[Relational.stableRowIds]] machinery, which is how a global total
    * order is actually computed on a cluster. Oracle = plain
    * `ntile(10)`, equivalence is exactly ntile's published arithmetic.
    */
  def curriculumDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, sfDir)
      .select(
        (length(regexp_replace(col("text"), "[^a-z ]", "")).cast("long") * 2
          + words).as("score"),
        col("doc_id"), col("n_chars"))
    val ranked = scored
      .repartitionByRange(8, col("score").desc, col("doc_id").asc)
      .sortWithinPartitions(col("score").desc, col("doc_id").asc)
      .as[(Long, Long, Long)]
      .rdd.zipWithIndex()
      .map { case ((s, d, c), i) => (s, d, c, i + 1L) }
      .toDF("score", "doc_id", "n_chars", "rn")
    val n = Tables.rowCount(spark, sfDir, "documents")
    val b = 10L
    val big = n / b + (if (n % b > 0) 1L else 0L) // ceil
    val small = n / b
    val cut = (n % b) * big
    ranked
      // ntile's exact arithmetic, in integer (DIV) form
      .withColumn("decile", expr(
        s"CASE WHEN rn <= $cut THEN (rn - 1) DIV $big + 1" +
          s" ELSE ${n % b} + (rn - $cut - 1) DIV $small + 1 END"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("decile"))
  }

  /** C+: MIXTURE EPOCH PLAN — the token-budget arithmetic of a training
    * mixture: give each source an equal target slice of a fixed token
    * budget, repeat (epoch) small sources up to a 4× cap, and report the
    * planned token draw — ALL integer (milli-epoch fixed point, floor
    * division), so the plan is bit-identical on any engine; the only
    * double is the final ONE-division budget share. Complements
    * `corpus_mix_weights` (descriptive shares) with the prescriptive
    * budgeted plan.
    *
    * Scale: one source-keyed token aggregate (20 keys) + broadcast
    * totals; the plan math is per-group scalar arithmetic.
    */
  def mixtureEpochsPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 2000000L
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"), words.as("n_words"))
      .groupBy(col("source"))
      .agg(sum(col("n_words")).as("n_tokens"))
    val nSrc = perSource.agg(count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(nSrc))
      .withColumn("target_tokens", expr(s"$budget DIV n_sources"))
      .withColumn("epochs_milli",
        least(lit(4000L), expr("(target_tokens * 1000) DIV n_tokens")))
      .withColumn("planned_tokens", expr("(n_tokens * epochs_milli) DIV 1000"))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        col("epochs_milli"), col("planned_tokens"),
        (col("planned_tokens").cast("double") / lit(budget.toDouble))
          .as("budget_share"))
      .orderBy(col("source"))
  }

  /** V+/graph: LOCAL CLUSTERING COEFFICIENT — per-node triangle count
    * over the closed-form doc graph (the [[GraphOps.triangleCountDocs]]
    * edge set), coefficient = 2·tri / (deg·(deg−1)) as ONE int/int IEEE
    * division; top-100 under the integer total order (n_tri DESC, deg,
    * node). Per-node structure where triangle_count_docs is the global
    * scalar — the feature that feeds community/spam detection.
    *
    * Scale: the standard oriented triangle enumeration (two shuffles on
    * 8-byte node ids), then explode each triangle to its 3 corners and
    * count — Σtriangles·3 rows, partial-agg'd. Degree skew would orient
    * by degree instead of id (see triangleCountDocs note).
    */
  def localClusteringDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = GraphOps.docEdges(spark, sfDir)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"), col("e2.b").as("tc"))
      .join(edges.select(col("a").as("tb"), col("b").as("tc")),
        Seq("tb", "tc"), "left_semi")
    val triPerNode = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val deg = edges
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(triPerNode, Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .filter(col("deg") >= 2)
      .select(col("node"), col("deg"), col("n_tri"),
        ((col("n_tri") * 2).cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double")).as("lcc"))
      .orderBy(col("n_tri").desc, col("deg").asc, col("node").asc)
      .limit(100)
  }

  /** S+: SESSION PATH MINING — the top-20 most common session journeys:
    * sessions cut at the 30-minute gap (the [[EventOps.sessionize]]
    * convention), each session's path = its first 8 event types joined
    * '>' in (ts, event_id) order, counted across all sessions. The
    * classic clickstream path-analysis kernel — `sessionize` measures
    * session SHAPE, this measures session CONTENT.
    *
    * Scale: the same single user-partitioned window stack as sessionize
    * (lag → flag → running sum), one (user, session) aggregate whose
    * value is a ≤8-element array, then a path-keyed count — the path
    * domain is ≤ǀtypesǀ⁸ but concentrates Zipf-style, and partial
    * aggregation collapses it map-side; top-20 by TakeOrdered.
    */
  def sessionPathsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = 1800000000L
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_ts_us").isNull
          || col("ts_us") - col("prev_ts_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_list(
        struct(col("ts_us"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(
        expr("transform(slice(evs, 1, 8), e -> e.event_type)"), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** C+: ZIPF RANK-FREQUENCY PROFILE — token frequencies bucketed by
    * power-of-two rank (bucket = integer log2 of the 1-based rank, the
    * `interarrival_hist_type` idiom — no float log): per bucket the
    * token count, total occurrences, and corpus share as ONE division.
    * The corpus-health fingerprint behind vocabulary sizing and
    * stopword policy — a healthy natural-language corpus halves total
    * frequency per bucket; synthetic or templated text shows up as a
    * flat head.
    *
    * Scale: the token-frequency aggregate is map-side combined on the
    * token key; the global rank window orders the DISTINCT-TOKEN table
    * (vocabulary-bounded — ≪ corpus at any size; a web-scale vocabulary
    * would put the `heavy_hitters_tokens` Misra–Gries pass in front and
    * rank only the sketch).
    */
  def zipfRankProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val w = Window.orderBy(col("freq").desc, col("tok").asc)
    val total = tf.agg(sum(col("freq")).as("corpus_tokens"))
    tf.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("bucket", length(expr("bin(rank)")).cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_tokens"),
        min(col("rank")).as("lo_rank"),
        max(col("rank")).as("hi_rank"),
        sum(col("freq")).as("total_freq"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_tokens"), col("lo_rank"), col("hi_rank"),
        col("total_freq"), col("corpus_tokens"),
        (col("total_freq").cast("double") / col("corpus_tokens").cast("double"))
          .as("freq_share"))
      .orderBy(col("bucket"))
  }

  /** S+/DQ: FEED FRESHNESS REPORT — the dead-feed / lagging-feed monitor
    * a pipeline health page runs per source stream: per event type, the
    * staleness of the newest event vs the global watermark and the
    * day-over-day volume ratio of the last two 24 h windows (anchored at
    * the global max — data-anchored like the forecast backtest, so the
    * report is deterministic for a fixed fixture). Ratio is NULL when
    * the prior window is empty (a Spark double /0 is Infinity — not a
    * portable output), else ONE int/int division.
    *
    * Scale: one scan; the global watermark is a 1-row broadcast; the
    * per-type aggregate is ǀtypesǀ rows with map-side partials.
    */
  def feedFreshnessReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUsL = 86400000000L
    val gmax = Tables.events(spark, sfDir).agg(max(col("ts_us")).as("gmax"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"))
      .crossJoin(broadcast(gmax))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("ts_us")).as("last_ts_us"),
        max(col("gmax")).as("g"),
        sum(when(col("ts_us") > col("gmax") - dayUsL, 1L).otherwise(0L))
          .as("cnt_last_24h"),
        sum(when(col("ts_us") > col("gmax") - 2 * dayUsL
          && col("ts_us") <= col("gmax") - dayUsL, 1L).otherwise(0L))
          .as("cnt_prev_24h"))
      .select(col("event_type"), col("n_events"), col("last_ts_us"),
        expr("(g - last_ts_us) DIV 1000000").as("lag_s"),
        col("cnt_last_24h"), col("cnt_prev_24h"),
        when(col("cnt_prev_24h") === 0L, lit(null).cast("double"))
          .otherwise(col("cnt_last_24h").cast("double")
            / col("cnt_prev_24h").cast("double")).as("day_over_day"))
      .orderBy(col("event_type"))
  }

  /** S+: COHORT LTV CURVE — cumulative purchase revenue per signup
    * cohort and week offset: the lifetime-value complement of
    * `retention_cohorts` (that counts WHO comes back; this sums what
    * they SPEND). Cohort = day of first signup; offsets are exact
    * integer day arithmetic; the cumulative sum runs per cohort over
    * week offsets (≤ span/7 rows per cohort at any scale).
    */
  def cohortLtvCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(expr(s"ts_us DIV $dayUs")).as("cohort_day"))
    val rev = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user_id"),
        expr(s"ts_us DIV $dayUs").as("day"), cents.as("c"))
    val weekly = cohort.join(rev,
        col("user_id") === col("r_user_id") && col("day") >= col("cohort_day"))
      .withColumn("week_offset", expr("(day - cohort_day) DIV 7"))
      .groupBy(col("cohort_day"), col("week_offset"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("c")).as("week_cents"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum_cents", sum(col("week_cents")).over(w))
      .select(col("cohort_day"), col("week_offset"), col("n_purchases"),
        col("week_cents"), col("cum_cents"))
      .orderBy(col("cohort_day"), col("week_offset"))
  }

  /** DuckDB oracle twins. Protocol: every integer aggregate reaching an
    * output list is CAST(... AS BIGINT) (DuckDB types bare integer sums
    * HUGEINT — the r10 regression class); ratios are exactly one
    * division; ORDER BY carries a unique tie-break.
    */
  /** S+: GROWTH ACCOUNTING — the weekly new / retained / resurrected /
    * churned user decomposition (the canonical product-growth ledger:
    * actives(w) = new + retained + resurrected; churned(w) = actives(w−1)
    * − retained(w)). Each user's distinct-week sequence contributes its
    * flags through lag/lead windows: new when the week is the user's
    * first, retained when the previous active week is w−1, resurrected
    * otherwise; a user churns INTO week w+1 when no activity follows in
    * w+1 (the final active week therefore churns into max-week+1 — that
    * trailing row is part of the contract, both engines emit it).
    *
    * Scale: one (user, week) distinct + one user-partitioned window —
    * the shared per-user exchange — then a ≤span-weeks aggregate.
    */
  def growthAccountingWeekly(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts_us DIV ${dayUs * 7}").as("week"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val flagged = uw
      .withColumn("prev", lag(col("week"), 1).over(w))
      .withColumn("next", lead(col("week"), 1).over(w))
    val active = flagged.groupBy(col("week")).agg(
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
      sum(when(col("prev") === col("week") - 1L, 1L).otherwise(0L)).as("retained"),
      sum(when(col("prev").isNotNull && col("prev") < col("week") - 1L, 1L)
        .otherwise(0L)).as("resurrected"))
    val churned = flagged
      .filter(col("next").isNull || col("next") > col("week") + 1L)
      .groupBy((col("week") + 1L).as("week"))
      .agg(count(lit(1)).as("churned"))
    active.join(churned, Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("resurrected"), lit(0L)).as("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy(col("week"))
  }

  object Oracle {

    val growthAccountingWeekly: String =
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |f AS (
        |  SELECT user_id, week,
        |    lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
        |    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next
        |  FROM uw),
        |a AS (
        |  SELECT week,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS new_users,
        |    CAST(sum(CASE WHEN prev = week - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < week - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        |  FROM f GROUP BY week),
        |c AS (
        |  SELECT week + 1 AS week, CAST(count(*) AS BIGINT) AS churned
        |  FROM f WHERE next IS NULL OR next > week + 1
        |  GROUP BY 1)
        |SELECT week,
        |  coalesce(new_users, 0) AS new_users,
        |  coalesce(retained, 0) AS retained,
        |  coalesce(resurrected, 0) AS resurrected,
        |  coalesce(churned, 0) AS churned
        |FROM a FULL OUTER JOIN c USING (week)
        |ORDER BY week""".stripMargin


    val sessionPathsTopk: String =
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |    AS is_new
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |r AS (
        |  SELECT user_id, session_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts_us, event_id) AS rn
        |  FROM s),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 8 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path
        |LIMIT 20""".stripMargin

    val zipfRankProfile: String =
      """WITH tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0 GROUP BY tok),
        |r AS (
        |  SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, tok) AS rank
        |  FROM tf),
        |b AS (
        |  SELECT CAST(length(bin(rank)) AS BIGINT) AS bucket, rank, freq
        |  FROM r),
        |t AS (SELECT CAST(sum(freq) AS BIGINT) AS corpus_tokens FROM b)
        |SELECT bucket,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(min(rank) AS BIGINT) AS lo_rank,
        |  CAST(max(rank) AS BIGINT) AS hi_rank,
        |  CAST(sum(freq) AS BIGINT) AS total_freq,
        |  t.corpus_tokens,
        |  CAST(sum(freq) AS DOUBLE) / CAST(t.corpus_tokens AS DOUBLE)
        |    AS freq_share
        |FROM b, t
        |GROUP BY bucket, t.corpus_tokens
        |ORDER BY bucket""".stripMargin

    val feedFreshnessReport: String =
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
        |t AS (SELECT max(ts_us) AS gmax FROM e)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(ts_us) AS BIGINT) AS last_ts_us,
        |  CAST((t.gmax - max(ts_us)) // 1000000 AS BIGINT) AS lag_s,
        |  CAST(sum(CASE WHEN ts_us > t.gmax - 86400000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS cnt_last_24h,
        |  CAST(sum(CASE WHEN ts_us > t.gmax - 172800000000
        |    AND ts_us <= t.gmax - 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS cnt_prev_24h,
        |  CASE WHEN sum(CASE WHEN ts_us > t.gmax - 172800000000
        |      AND ts_us <= t.gmax - 86400000000 THEN 1 ELSE 0 END) = 0
        |    THEN NULL
        |    ELSE CAST(sum(CASE WHEN ts_us > t.gmax - 86400000000
        |        THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN ts_us > t.gmax - 172800000000
        |        AND ts_us <= t.gmax - 86400000000 THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS day_over_day
        |FROM e, t
        |GROUP BY event_type, t.gmax
        |ORDER BY event_type""".stripMargin

    val cohortLtvCurve: String =
      """WITH co AS (
        |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |rv AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |wk AS (
        |  SELECT co.cohort_day, (rv.day - co.cohort_day) // 7 AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(sum(rv.c) AS BIGINT) AS week_cents
        |  FROM co JOIN rv ON co.user_id = rv.user_id
        |    AND rv.day >= co.cohort_day
        |  GROUP BY 1, 2)
        |SELECT cohort_day, week_offset, n_purchases, week_cents,
        |  CAST(sum(week_cents) OVER (PARTITION BY cohort_day
        |    ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents
        |FROM wk
        |ORDER BY cohort_day, week_offset""".stripMargin

    val streakActiveDays: String =
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |s AS (
        |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(max(len) AS BIGINT) AS longest_streak
        |FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin

    val secondOrderTransitions: String =
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |t AS (
        |  SELECT
        |    lag(event_type, 2) OVER w AS prev2,
        |    lag(event_type, 1) OVER w AS prev1,
        |    event_type AS next_type
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |c AS (
        |  SELECT prev2, prev1, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE prev2 IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |SELECT prev2, prev1, next_type, n,
        |  CAST(sum(n) OVER (PARTITION BY prev2, prev1) AS BIGINT) AS ctx_total,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY prev2, prev1) AS DOUBLE) AS prob
        |FROM c
        |ORDER BY prev2, prev1, next_type""".stripMargin

    val timeToFirstPurchase: String =
      """WITH fa AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
        |fb AS (
        |  SELECT user_id, min(epoch_us(ts)) AS tp FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |h AS (
        |  SELECT (tp - t0) // 86400000000 AS days_to_purchase,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM fb JOIN fa USING (user_id)
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_converted FROM h)
        |SELECT days_to_purchase, n_users, t.n_converted,
        |  CAST(n_users AS DOUBLE) / CAST(t.n_converted AS DOUBLE) AS user_share
        |FROM h, t
        |ORDER BY days_to_purchase""".stripMargin

    val ksPurchaseClick: String =
      """WITH v AS (
        |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1),
        |c AS (
        |  SELECT
        |    CAST(sum(a) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_a,
        |    CAST(sum(b) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_b
        |  FROM v),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2
        |      FROM v)
        |SELECT t.n1, t.n2,
        |  CAST(max(abs(t.n2 * c.cum_a - t.n1 * c.cum_b)) AS BIGINT) AS d_num,
        |  CAST(max(abs(t.n2 * c.cum_a - t.n1 * c.cum_b)) AS DOUBLE)
        |    / CAST(t.n1 * t.n2 AS DOUBLE) AS d_stat
        |FROM c, t
        |GROUP BY t.n1, t.n2""".stripMargin

    private val daily: String =
      """SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1""".stripMargin

    val spearmanDaily: String =
      s"""WITH d AS ($daily),
        |r AS (
        |  SELECT
        |    row_number() OVER (ORDER BY x, day)
        |      - row_number() OVER (ORDER BY y, day) AS dd
        |  FROM d),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(dd * dd) AS BIGINT) AS sum_d2
        |  FROM r)
        |SELECT n_days, sum_d2,
        |  CAST(n_days * (n_days * n_days - 1) - 6 * sum_d2 AS DOUBLE)
        |    / CAST(n_days * (n_days * n_days - 1) AS DOUBLE) AS rho
        |FROM s""".stripMargin

    val kendallTauDaily: String =
      s"""WITH d AS ($daily)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN (l.x < r.x AND l.y < r.y)
        |    OR (l.x > r.x AND l.y > r.y) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS concordant,
        |  CAST(sum(CASE WHEN (l.x < r.x AND l.y > r.y)
        |    OR (l.x > r.x AND l.y < r.y) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS discordant,
        |  CAST(sum(CASE WHEN (l.x < r.x AND l.y < r.y)
        |      OR (l.x > r.x AND l.y > r.y) THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN (l.x < r.x AND l.y > r.y)
        |      OR (l.x > r.x AND l.y < r.y) THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS tau
        |FROM d l JOIN d r ON l.day < r.day""".stripMargin

    val qualityFilterFunnel: String =
      """WITH f AS (
        |  SELECT
        |    CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END AS f_len,
        |    CASE WHEN length(regexp_replace(text, '[^a-z ]', '', 'g')) * 10
        |      >= length(text) * 5 THEN 1 ELSE 0 END AS f_alpha,
        |    CASE WHEN len(list_filter(string_split(text, ' '),
        |      x -> len(x) > 0)) >= 20 THEN 1 ELSE 0 END AS f_words,
        |    CASE WHEN row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS f_uniq
        |  FROM documents),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS s0,
        |    CAST(sum(f_len) AS BIGINT) AS s1,
        |    CAST(sum(f_len * f_alpha) AS BIGINT) AS s2,
        |    CAST(sum(f_len * f_alpha * f_words) AS BIGINT) AS s3,
        |    CAST(sum(f_len * f_alpha * f_words * f_uniq) AS BIGINT) AS s4
        |  FROM f),
        |u AS (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'all_docs' AS stage_name,
        |    s0 AS n_docs, s0 FROM a
        |  UNION ALL SELECT CAST(1 AS BIGINT), 'len_ge_100', s1, s0 FROM a
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'alpha_ge_50pct', s2, s0 FROM a
        |  UNION ALL SELECT CAST(3 AS BIGINT), 'words_ge_20', s3, s0 FROM a
        |  UNION ALL SELECT CAST(4 AS BIGINT), 'exact_dedup', s4, s0 FROM a)
        |SELECT stage, stage_name, n_docs,
        |  CAST(n_docs AS DOUBLE) / CAST(s0 AS DOUBLE) AS retained_share
        |FROM u
        |ORDER BY stage""".stripMargin

    val dedupYieldSource: String =
      """WITH k AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |      AS BIGINT) AS n_words,
        |    CASE WHEN row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS keep
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(keep) AS BIGINT) AS n_kept,
        |  CAST(sum(n_words) AS BIGINT) AS raw_tokens,
        |  CAST(sum(keep * n_words) AS BIGINT) AS kept_tokens,
        |  CAST(sum(keep * n_words) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
        |    AS yield_share
        |FROM k GROUP BY source
        |ORDER BY source""".stripMargin

    val dedupClusterSizes: String =
      """WITH c AS (
        |  SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM documents GROUP BY 1),
        |h AS (
        |  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(cluster_size * n_clusters) AS BIGINT) AS n_total
        |      FROM h)
        |SELECT cluster_size, n_clusters,
        |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
        |  CAST(cluster_size * n_clusters AS DOUBLE) / CAST(t.n_total AS DOUBLE)
        |    AS doc_share
        |FROM h, t
        |ORDER BY cluster_size""".stripMargin

    val hhiConcentration: String =
      """WITH l AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY lang),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY source),
        |la AS (
        |  SELECT 'lang' AS dimension, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
        |    CAST(sum(cnt) AS BIGINT) AS n_total FROM l),
        |sa AS (
        |  SELECT 'source' AS dimension, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
        |    CAST(sum(cnt) AS BIGINT) AS n_total FROM s),
        |u AS (SELECT * FROM la UNION ALL SELECT * FROM sa)
        |SELECT dimension, n_groups, sum_sq, n_total,
        |  CAST(sum_sq AS DOUBLE) / CAST(n_total * n_total AS DOUBLE) AS hhi,
        |  CAST(n_total * n_total AS DOUBLE) / CAST(sum_sq AS DOUBLE)
        |    AS effective_n
        |FROM u
        |ORDER BY dimension""".stripMargin

    val curriculumDeciles: String =
      """WITH sc AS (
        |  SELECT
        |    CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT) * 2
        |      + CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |        AS BIGINT) AS score,
        |    doc_id, n_chars
        |  FROM documents),
        |r AS (
        |  SELECT score, n_chars,
        |    CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |      AS decile
        |  FROM sc)
        |SELECT decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM r GROUP BY decile
        |ORDER BY decile""".stripMargin

    val mixtureEpochsPlan: String =
      """WITH p AS (
        |  SELECT source,
        |    CAST(sum(CAST(len(list_filter(string_split(text, ' '),
        |      x -> len(x) > 0)) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM p),
        |e AS (
        |  SELECT source, n_tokens,
        |    2000000 // n.n_sources AS target_tokens,
        |    least(4000, ((2000000 // n.n_sources) * 1000) // n_tokens)
        |      AS epochs_milli
        |  FROM p, n)
        |SELECT source, n_tokens,
        |  CAST(target_tokens AS BIGINT) AS target_tokens,
        |  CAST(epochs_milli AS BIGINT) AS epochs_milli,
        |  CAST((n_tokens * epochs_milli) // 1000 AS BIGINT) AS planned_tokens,
        |  CAST((n_tokens * epochs_milli) // 1000 AS DOUBLE) / 2000000.0
        |    AS budget_share
        |FROM e
        |ORDER BY source""".stripMargin

    val localClusteringDocs: String =
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |directed AS (
        |  SELECT doc_id AS src, n_chars % n.n AS dst FROM documents, n
        |  UNION ALL
        |  SELECT doc_id AS src, (n_chars * 31 + doc_id) % n.n AS dst
        |  FROM documents, n),
        |edges AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM directed WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        |  FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
        |  WHERE EXISTS (SELECT 1 FROM edges e3
        |    WHERE e3.a = e1.b AND e3.b = e2.b)),
        |corners AS (
        |  SELECT ta AS node FROM tri
        |  UNION ALL SELECT tb FROM tri
        |  UNION ALL SELECT tc FROM tri),
        |tpn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |  FROM corners GROUP BY 1),
        |ends AS (
        |  SELECT a AS node FROM edges UNION ALL SELECT b FROM edges),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM ends GROUP BY 1)
        |SELECT deg.node, deg.deg,
        |  CAST(coalesce(tpn.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(coalesce(tpn.n_tri, 0) * 2 AS DOUBLE)
        |    / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) AS lcc
        |FROM deg LEFT JOIN tpn ON deg.node = tpn.node
        |WHERE deg.deg >= 2
        |ORDER BY n_tri DESC, deg.deg, deg.node
        |LIMIT 100""".stripMargin
  }
}
