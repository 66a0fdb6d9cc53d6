package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.operators.{EventOps, Relational, TpchOps, VectorOps}

/** Regression guards for the scale-critical physical-plan properties the
  * engine's 100 TB posture depends on (SURVEY.md §4.2, SCALING.md). These
  * assert the PLAN, not the result: a correct-but-cartesian cos_topk or a
  * q5 that stopped broadcasting its dims would pass every oracle and still
  * be unusable at scale.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q5: dimension joins broadcast, no cartesian anywhere") {
    val p = plan(Relational.q5LocalSupplier(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scan_project_filter: predicates reach the parquet scan") {
    val p = plan(Relational.scanProjectFilter(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_discount.*"), p)
  }

  test("win_topk_parts: rank limit pushed into WindowGroupLimit (no full-window materialize)") {
    val p = plan(EventOps.winTopkParts(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("cos_topk: the only nested-loop join is the intentional query-vector broadcast") {
    val p = plan(VectorOps.cosTopk(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_docs_minhash: banded join is an equi hash/merge join, never nested-loop") {
    val p = plan(graft.operators.TextOps.dedupDocsMinhash(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bucketed_join_orders: co-bucketed SMJ, zero Exchange AND zero Sort under the join") {
    val p = plan(Relational.bucketedJoinOrders(spark, sf0001))
    assert(p.contains("SortMergeJoin"), p)
    // the join's subtree (everything printed after the SMJ node) must read
    // the bucketed files directly — no shuffle on either side, and no
    // re-sort either: Spark only trusts the written sortBy order when
    // each bucket is ONE file, which the staged write guarantees by
    // repartitioning on the bucket column first (r15 — multi-file
    // buckets silently re-added a per-task Sort under the SMJ, wasting
    // the sorted layout; see Materialize.bucketedTable).
    val subtree = p.substring(p.indexOf("SortMergeJoin"))
    assert(!subtree.contains("Exchange"), subtree)
    assert(!subtree.contains("Sort "), subtree)
  }

  test("stats_broadcast_join: column stats flip the join to broadcast; without them it stays SMJ") {
    // WITH ANALYZE'd column stats (CBO on, AQE off, 4 KB threshold): the
    // p_size = 1 filter is estimated at ~rowCount/ndv rows -> broadcast.
    val withStats = plan(Relational.statsJoin(spark, sf0001, analyzed = true))
    assert(withStats.contains("BroadcastHashJoin"), withStats)
    // WITHOUT stats the only estimate is the table's file bytes (> 4 KB on
    // every fixture) -> the same query plans as a shuffled sort-merge join.
    val noStats = plan(Relational.statsJoin(spark, sf0001, analyzed = false))
    assert(noStats.contains("SortMergeJoin") && !noStats.contains("BroadcastHashJoin"), noStats)
  }

  test("skew_join_zipf: AQE splits the zipf-hot partition (skew=true in the executed join)") {
    val df = EventOps.skewJoinZipf(spark, sf0001)
    df.collect() // AQE decides at runtime; inspect the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), p)
  }

  test("outer_join_orders: full-outer stays an equi join (no nested loop/cartesian)") {
    val p = plan(Relational.outerJoinOrders(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("partitioned_events_purchases: filter prunes partitions, not rows") {
    val p = plan(EventOps.partitionedEventsPurchases(spark, sf0001))
    // the event_type predicate must be a PartitionFilter on the scan
    // (directory pruning), never a post-scan data filter
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]*purchase[^\\]]*\\].*"), p)
  }

  test("q1: aggregation is partial+final hash aggregate (map-side combine)") {
    val p = plan(Relational.q1PricingSummary(spark, sf0001))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("contamination_check: only 8-byte gram hashes ride the exchanges, join stays equi") {
    val p = plan(graft.operators.TextOps.contaminationCheck(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // every shuffle's rows must already be (doc, hash): the ~50-byte gram
    // string is projected away BEFORE any exchange (the point of hashing
    // before the distinct+join at corpus scale). An exchange's rows are its
    // child's output — the tree line right below it must carry no gram#.
    val lines = p.linesIterator.toVector
    val shuffles = lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
    assert(shuffles.nonEmpty, p)
    shuffles.foreach { case (_, i) =>
      assert(!lines.lift(i + 1).exists(_.contains("gram#")),
        s"gram string on exchange:\n${lines.slice(i, i + 2).mkString("\n")}")
    }
  }

  test("doc_chunks: map-side only — the sole exchange is the presentation sort") {
    val p = plan(graft.operators.TextOps.docChunks(spark, sf0001))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
  }

  test("doc_commonness: vocab counts broadcast back onto the token scan") {
    // the catalog-style aggregate (small vocab) must be the broadcast side
    // of the join — never a shuffle of every exploded token row per side
    val p = plan(graft.operators.TextOps.docCommonness(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // and the join key is the 8-byte xxhash64 pre-hash, not the raw token
    // string — an exchange/broadcast carrying tok# would ship token text
    assert(!p.linesIterator.exists(l =>
      (l.contains("Exchange") || l.contains("BroadcastExchange")) && l.contains("tok#")), p)
  }

  test("doc_repetition: map-side only — the sole exchange is the presentation sort") {
    // repetition is a per-document property: transform/array_distinct/size
    // run inside the scan's partition, no shingle ever rides a shuffle
    val p = plan(graft.operators.TextOps.docRepetition(spark, sf0001))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
  }

  test("variant_props: VARIANT probe aggregates partial+final off one scan") {
    val p = plan(graft.operators.EventOps.variantProps(spark, sf0001))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert("Scan ".r.findAllIn(p).length == 1, p) // parse once, no re-scan
  }

  test("image_resize_dims: binary payloads never ride an exchange") {
    // codec work happens per-partition; only (id, dims, mean) leave it —
    // every exchange's input row (the tree line below it) must be free of
    // the binary content column
    val p = plan(graft.operators.MultimodalOps.imageResizeDims(spark, sf0001))
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange")).foreach { case (_, i) =>
      assert(!lines.lift(i + 1).exists(_.contains("content#")),
        s"binary content on exchange:\n${lines.slice(i, i + 2).mkString("\n")}")
    }
  }

  test("vector_source_agg: count/min/max pushed into the DSv2 scan with the range clamp") {
    val df = graft.operators.VectorOps.vectorSourceAgg(spark, sf0001)
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(fmt.contains("PushedAggregates: [COUNT(*), MIN(vec_id), MAX(vec_id)]"), fmt)
    assert(fmt.contains("IdRange: [100, 40000100)"), fmt)
  }

  test("vector_source_scan: vec_id range pushed into the DSv2 scan, embedding pruned") {
    val df = graft.operators.VectorOps.vectorSourceScan(spark, sf0001)
    // range pushdown: the scan plans only [1000, 1500) of the 10⁷-row id
    // space (Scan.description surfaces in formatted explain)
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(fmt.contains("IdRange: [1000, 1500)"), fmt)
    // column pruning: an id/label projection must never mention embedding
    // anywhere in the executed plan — no gaussian generation per row.
    // (No residual Filter node exists: vec_id comparisons are fully
    // consumed by the scan — the clamp's exactness is what
    // VectorSourceSpec's range/MaxValue/aggregate tests pin.)
    val p = plan(df)
    assert(!p.contains("embedding"), p)
  }

  test("dedup_incremental: catalog anti-join is broadcast, equi, fingerprint-keyed") {
    val p = plan(graft.operators.TextOps.dedupIncremental(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_bloom_prune: bloom probe filters the catalog BELOW the exact anti-join") {
    val df = graft.operators.TextOps.dedupBloomPrune(spark, sf0001)
    val p = plan(df)
    // The runtime filter must sit on the catalog side as a plain Filter
    // (pre-exchange at scale), and the exact join must stay an equi
    // anti-join — no cartesian fallback.
    assert(p.contains("bloom_might_contain"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("heavy_hitters_tokens: candidate recount is a broadcast semi-join, no vocab-wide plan") {
    val p = plan(graft.operators.TextOps.heavyHittersTokens(spark, sf0001))
    // candidates (≤ k × partitions) broadcast back onto the token stream;
    // the exact recount must not fall back to a shuffled or nested-loop
    // join. The single BroadcastNestedLoopJoin is the intentional 1-row
    // scalar combine gluing n_total onto the counts (the engine's
    // standard scalar-crossJoin pattern), not a data join.
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
  }

  test("bitmap_distinct_users: bitmap aggregation is partial+final, no Expand") {
    val p = plan(Relational.bitmapDistinctUsers(spark, sf0001))
    // fixed-size bitmap states combine map-side; the expand-based
    // count(DISTINCT) shape must not appear
    assert(p.contains("bitmap_construct_agg"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Expand"), p)
  }

  test("table_profile_approx: HLL profile aggregates without Expand; exact twin keeps it") {
    // the 100 TB profile form: 8 columns × (count, HLL-NDV, min, max) in one
    // partial+final aggregate — no Expand multiplication of the fact scan
    val pa = plan(Relational.tableProfileApprox(spark, sf0001))
    assert(!pa.contains("Expand"), pa)
    assert(pa.contains("approx_count_distinct"), pa)
    assert(pa.contains("partial_"), pa)
    // the exact audit twin pays Expand by construction (documented 9× cost)
    val pe = plan(Relational.tableProfileLineitem(spark, sf0001))
    assert(pe.contains("Expand"), pe)
  }

  test("zorder_events_box: raw range predicates push to the staged clustered scan") {
    val p = plan(graft.operators.EventOps.zorderEventsBox(spark, sf0001))
    // pruning rides the pushed min/max filters on the RAW columns — the
    // z-code itself is layout-only and must not appear in the query
    // (PushedFilters prints truncated, so assert the head of the pushed
    // list plus both range ends in the Filter condition)
    assert(p.contains("GreaterThanOrEqual(user_id"), p)
    assert(p.contains("user_id") && p.contains("ts_us"), p)
    assert(!p.contains("shiftright"), p)
  }

  test("pack_token_bins: exactly one data shuffle — the shard exchange under the window") {
    val p = plan(graft.operators.TextOps.packTokenBins(spark, sf0001))
    // hashpartitioning(shard) feeds the per-shard running-sum window; the
    // only other exchange is the presentation sort's range partitioning
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    assert(p.contains("Window"), p)
  }

  test("scd2_users: change-detect and interval windows share ONE (user_id) exchange") {
    val p = plan(graft.operators.EventOps.scd2Users(spark, sf0001))
    // the lag window and the lead/row_number window both partition by
    // user_id — Catalyst must plan them over a single hash exchange; a
    // second one would mean the change-filter broke partitioning reuse
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    // snapshot bound arrives as a broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("bpe_pair_stats: pairs are built map-side — no window, count agg is the only hash exchange") {
    val p = plan(graft.operators.TextOps.bpePairStats(spark, sf0001))
    assert(!p.contains("Window"), s"positional transform must not plan a window:\n$p")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected only the pair-count exchange, plan:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("agg_incremental_users: base and delta partial-aggregate before any exchange") {
    val p = plan(graft.operators.EventOps.aggIncrementalUsers(spark, sf0001))
    // two partial_ aggregates (base side staged + delta side) and the
    // final merge — a plan that shuffled raw events would miss partials
    assert(p.linesIterator.count(l => l.contains("HashAggregate") &&
      l.contains("partial_")) >= 2, s"expected partial aggregates, plan:\n$p")
  }

  test("modality_coverage: embedding side joins as an 8-byte id — payload pruned") {
    val p = plan(graft.operators.VectorOps.modalityCoverage(spark, sf0001))
    // the embeddings scan must read vec_id ONLY (never the 64-float array)
    assert(p.contains("ReadSchema: struct<vec_id:bigint>"),
      s"embedding payload must be pruned from the coverage join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  test("dedup_incremental_minhash: candidate join is equi on (band, sig); no catalog×catalog") {
    val p = plan(graft.operators.TextOps.dedupIncrementalMinhash(spark, sf0001))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"banded candidates must come from equi joins only:\n$p")
    // both sides of the band join filter on the batch/catalog predicate —
    // the incremental property is visible as the %5 filters in the plan
    assert(p.contains("% 5) = 4") && p.contains("% 5) = 4) = false") ||
      (p.contains("% 5) = 4") && p.contains("NOT")),
      s"expected batch (=4) and catalog (<>4) slice filters in the plan:\n$p")
  }

  test("ngram_counts: all three orders ride ONE corpus scan; top-k is a group limit") {
    val p = plan(graft.operators.TextOps.ngramCounts(spark, sf0001))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single corpus scan, got $scans:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-order top-10 must push a group limit, not sort the vocabulary:\n$p")
  }

  test("null_skew_join: null keys bypass the join; no Window in stable_row_ids") {
    val p = plan(graft.operators.EventOps.nullSkewJoin(spark, sf0001))
    // the join subtree must see only non-null keys (the explicit split),
    // and the null slice must come back via a Union, not the join
    assert(p.contains("Union"), s"expected the null-slice union:\n$p")
    // Catalyst pushes the isNotNull(k) split filter through the CASE
    // projection down to the scan, so the join's fact side reads
    // `... ELSE isnotnull(user_id) END` and the null slice the isnull dual.
    assert(p.toLowerCase.contains("else isnotnull(user_id"),
      s"expected the pushed-down non-null split filter under the join:\n$p")
    assert(p.toLowerCase.contains("isnull(user_id"),
      s"expected the null-slice scan filter:\n$p")
    // stable_row_ids must NOT plan a global (single-partition) window
    val p2 = plan(graft.operators.Relational.stableRowIds(spark, sf0001))
    assert(!p2.contains("Window"),
      s"global row numbering must avoid the one-partition window:\n$p2")
  }

  test("token_cooccurrence: pairs generated map-side, not via a doc_id self-join") {
    val p = plan(graft.operators.TextOps.tokenCooccurrence(spark, sf0001))
    // exactly one join (the tok-keyed DF band); a doc_id self-join of the
    // token table would add a second
    val joins = "(?i)(broadcasthashjoin|sortmergejoin|shuffledhashjoin)".r
      .findAllIn(p).size
    assert(joins == 1, s"expected ONE join (the DF band), got $joins:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // pair emission is an explode (Generate) over the per-doc array
    assert(p.contains("Generate"), s"expected map-side pair explode:\n$p")
  }

  test("equi_depth_buckets: no global-window ntile; one range exchange") {
    val p = plan(graft.operators.Relational.equiDepthBuckets(spark, sf0001))
    assert(!p.contains("Window"),
      s"distributed ntile must avoid the one-partition window:\n$p")
  }

  test("band_join_binned: the keyless band join runs as an equi join, not BNLJ") {
    val p = plan(graft.operators.EventOps.bandJoinBinned(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binning must manufacture an equi key — no nested-loop join:\n$p")
    assert(p.toLowerCase.contains("hashjoin") || p.contains("SortMergeJoin"),
      s"expected a hash/sort-merge equi join on the bin:\n$p")
  }

  test("dpp_events_join: fact scan carries a dynamic-pruning partition filter") {
    val df = graft.operators.EventOps.dppEventsJoin(spark, sf0001)
    df.collect() // DPP subquery is finalized at execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected dynamicpruningexpression in the fact scan's PartitionFilters:\n$p")
  }

  test("compact_small_files: >=8x file reduction via a shuffle-free rewrite") {
    val (frag, compacted) = graft.operators.EventOps.compactionStages(spark, sf0001)
    val before = frag.inputFiles.length
    val after = compacted.inputFiles.length
    assert(before >= 32, s"fragmented stage should be many small files, got $before")
    assert(after * 8 <= before, s"compaction must merge >=8x: $before -> $after")
    // identity: compaction changes layout only
    assert(frag.count() == compacted.count())
    // the rewrite plan must be Coalesce-only — a shuffle would make
    // compaction a data-movement job instead of a file-merge pass
    val rewrite = frag.coalesce(after).queryExecution.executedPlan.toString
    assert(!rewrite.contains("Exchange"), s"compaction must not shuffle:\n$rewrite")
  }

  test("embedding_near_dup: map-side in-bucket rescore behind the pre-shuffle bucket fence") {
    val p = plan(VectorOps.embeddingNearDup(spark, sf0001))
    // r13 shape: buckets carry (id, vector) structs and emit scored,
    // threshold-filtered pairs inside the bucket explode — the rescore
    // joins are GONE (their pair-sized exchange filled 71 GB of shuffle
    // disk at the sf100 probe). r14 adds the degenerate-bucket fence: a
    // SLIM second scan (embedding column only — no ids, no payload)
    // counts per-bucket membership, and the [2, NearDupBucketCap] filter
    // joins the main side on (band, key) BEFORE the bucketing exchange —
    // so singleton and degenerate buckets never enter the corpus-scale
    // shuffle at all. At fixture scale AQE broadcasts the qualifying
    // keys; at corpus scale the same join falls back to shuffling on
    // (band, key), the partitioning the downstream collect_list needs
    // anyway — either way, no second corpus-scale exchange.
    val scanLines = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("embedding")).toSeq
    assert(scanLines.size == 2,
      s"expected the vector-carrying scan + the slim fence scan, got ${scanLines.size}:\n$p")
    assert(scanLines.exists(_.contains("ReadSchema: struct<embedding:array<float>>")),
      s"fence scan must read ONLY the embedding column:\n$p")
    assert(p.contains("n_bkt") && p.contains("4096"),
      s"bucket-cap fence missing from the plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the PAIR relation (everything above the flatten-explode emission)
    // must not re-join the vector table — joins may appear only below it,
    // on the (band, key) fence
    val lines = p.linesIterator.toSeq
    val gen = lines.indexWhere(_.contains("Generate explode(flatten"))
    assert(gen >= 0, s"expected the in-bucket pair emission explode:\n$p")
    assert(!lines.take(gen).exists(_.contains("Join")),
      s"pair relation must not re-join the vector table:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("triangle_count_docs: equi joins only; cartesians are the 1-row checksum combines") {
    val df = graft.operators.GraphOps.triangleCountDocs(spark, sf0001)
    val p = plan(df)
    // wedge + closing joins must be hash/merge equi joins on ids
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // nested-loop appearances must all be the intentional 1-row aggregate
    // cross-joins (the setop_all_parts checksum pattern): every BNLJ side
    // is an aggregate, never a base-table scan
    val bnlj = p.linesIterator.count(_.contains("CartesianProduct"))
    assert(bnlj <= 3, s"only the three 1-row combines may be cartesian:\n$p")
  }

  test("win_zscore_events: single scan, one hash exchange under the window") {
    val p = plan(EventOps.winZscoreEvents(spark, sf0001))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"z-score must be the single-scan window plan, got $scans scans:\n$p")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange (event_type), plan:\n$p")
  }

  test("fuzzy_name_match: blocking tokens are frequency-capped before the candidate join") {
    val df = graft.operators.TextAnalysisOps.fuzzyNameMatch(spark, sf0001)
    // The DF-cap filter must sit in the plan (worst-case block is then
    // bounded at FuzzyBlockCap²/2 pairs per token) …
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains(s"<= ${graft.operators.TextAnalysisOps.FuzzyBlockCap}"),
      s"expected the DF cap filter in the plan:\n$analyzed")
    // … and at the 64-name fixture domain the cap must NOT bind: the
    // declared output is byte-identical to the uncapped r8 semantics.
    val p = plan(df)
    assert(p.contains("count(distinct"), s"expected a distinct-DF aggregate, plan:\n$p")
  }

  test("q4: EXISTS decorrelates to one semi join, no re-executed subquery") {
    val p = plan(Relational.q4PriorityExists(spark, sf0001))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q6: all three predicates reach the parquet scan as pushed filters") {
    // the default 100-char metadata elision truncates this scan's filter
    // list mid-entry — lengthen it so the assert sees every pushed filter
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val p = try plan(Relational.q6ForecastRevenue(spark, sf0001))
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_discount[^\\]]*\\].*"), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(l_quantity[^\\]]*\\].*"), p)
    // partial+final agg: the only hash exchange is the single-row final
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q7: both nation dims broadcast; pair residual never forces a nested loop") {
    val p = plan(Relational.q7VolumeShipping(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q10/q18: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p10 = plan(Relational.q10ReturnedItems(spark, sf0001))
    assert(p10.contains("TakeOrderedAndProject"), p10)
    val p18 = plan(Relational.q18LargeOrders(spark, sf0001))
    assert(p18.contains("TakeOrderedAndProject"), p18)
  }

  test("skyline_parts: bucketed local frontier before the single-partition pass") {
    val p = plan(Relational.skylineParts(spark, sf0001))
    // phase 1 runs under a hash exchange on the bucket; only its survivors
    // reach the one SinglePartition exchange of the global pass
    assert("Window".r.findAllIn(p).length >= 2, p)
    assert(p.contains("Exchange hashpartitioning"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("asof_join_tolerance: user-keyed equi join with time residuals, rank-1 limited") {
    val p = plan(EventOps.asofJoinTolerance(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the rn=1 filter must push into WindowGroupLimit (per-purchase top-1,
    // no full candidate-list materialization)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q19: implied brand IN-list and quantity cap pushed to both scans") {
    val p = plan(Relational.q19Disjunctive(spark, sf0001))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(p_brand[^\\]]*\\].*"), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThanOrEqual\\(l_quantity,40[^\\]]*\\].*"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q2: correlated-min as ONE per-part window; bounded dims broadcast; no cartesian") {
    val p = plan(TpchOps.q2MinCostSupplier(spark, sf0001))
    assert("Window".r.findAllIn(p).length == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q13: join-condition filter keeps the join LEFT OUTER (a WHERE would make it inner)") {
    val p = plan(TpchOps.q13CustomerDistribution(spark, sf0001))
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q16: NOT IN planned as a broadcast anti join; distinct-count via Expand, no self-join") {
    val p = plan(TpchOps.q16SupplierCounts(spark, sf0001))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Expand") || p.contains("count(distinct"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q21: the double correlation is one semi + one anti join, all on orderkey") {
    val p = plan(TpchOps.q21WaitingSupplier(spark, sf0001))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bm25_topk: query side broadcasts; rank limit pushes into WindowGroupLimit; no cartesian") {
    val p = plan(graft.operators.TextAnalysisOps.bm25Topk(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("auc_event_scores: pure window formulation — one histogram pass, zero joins") {
    val p = plan(graft.operators.EvalOps.aucEventScores(spark, sf0001))
    assert(!p.contains("Join"), p) // every quantity is a window over ONE aggregate
    assert(p.contains("Window"), p)
    // exactly one data shuffle (the histogram) + the bounded single-partition
    // window stage + the final ordering — never a per-row global sort of events
    val exchanges = "Exchange (hash|range|Single)".r.findAllIn(p).size
    assert(exchanges <= 3, s"$exchanges exchanges:\n$p")
  }

  test("gini_revenue_segments: dim broadcast; rank window partitioned by segment") {
    val p = plan(graft.operators.EvalOps.giniRevenueSegments(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the row_number spec must carry the segment partition key — a global
    // (unpartitioned) rank would serialize the whole customer set
    assert(p.contains("windowspecdefinition(c_mktsegment"), p)
  }

  test("rank_eval_bm25: broadcast qrels/weights; ideal ranking top-10 via WindowGroupLimit") {
    val p = plan(graft.operators.EvalOps.rankEvalBm25(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // the rnk <= 10 filter over the per-query ideal window must push into
    // the sort — the ideal ranking never materializes beyond the top slice
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("cusum_changepoint: peak pick is a WindowGroupLimit, series windows per type") {
    val p = plan(EventOps.cusumChangepoint(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("windowspecdefinition(event_type"), p)
    assert(!p.contains("Join"), p) // one rollup + windows, join-free
  }

  test("acf_daily_events: join-free — one daily rollup, per-type windows, stack unpivot") {
    val p = plan(EventOps.acfDailyEvents(spark, sf0001))
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p) // the stack() unpivot
    assert(p.contains("windowspecdefinition(event_type"), p)
  }

  test("sliding_distinct_users: fan-out joins only the broadcast day spine") {
    val p = plan(EventOps.slidingDistinctUsers(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // the range condition against the tiny spine is the ONLY nested loop,
    // and it must be the broadcast side
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // exact distinct = two-level aggregate (partial keys, then count) —
    // a single-distinct groupBy plans without Expand, as two HashAggregate
    // pairs over (type, wday, user)
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 4, s"$aggs HashAggregates:\n$p")
  }

  test("image_ahash_near_dup: the codec map runs ONCE; candidates from grouped buckets, no self-join") {
    val p = plan(graft.operators.MultimodalOps.imageAhashNearDup(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // one MapElements = one encode→decode pass over the images; the
    // banded pair generation must not re-execute the codec subtree
    val codecPasses = "MapElements".r.findAllIn(p).size
    assert(codecPasses == 1, s"$codecPasses codec passes:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("target_encode_oof: one fold aggregate, complement via window — join-free") {
    val p = plan(EventOps.targetEncodeOof(spark, sf0001))
    assert(!p.contains("Join"), p)
    assert(p.contains("windowspecdefinition(event_type"), p)
  }

  test("jaccard_join_exact: candidate and verify joins are hash/merge equi joins, no nested loop") {
    val p = plan(graft.operators.TextOps.jaccardJoinExact(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bootstrap_ci_daily: expansion happens AFTER the daily rollup, never on the fact scan") {
    val df = EventOps.bootstrapCiDaily(spark, sf0001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the Generate (sequence explode) must sit ABOVE a HashAggregate —
    // replicas expand the bounded series table, not raw events
    val gen = p.indexOf("Generate")
    assert(gen >= 0, p)
    assert(p.indexOf("HashAggregate", gen) >= 0, p) // rollup below the explode
  }

  test("q11/q22: the scalar-subquery totals ride 1-row broadcasts, never a shuffle") {
    // the crossJoin(broadcast(1-row agg)) pattern plans as a broadcast
    // nested loop — intentional: the inner side is exactly one row
    val p11 = plan(TpchOps.q11ImportantStock(spark, sf0001))
    assert(p11.contains("BroadcastNestedLoopJoin"), p11)
    assert(!p11.contains("CartesianProduct"), p11)
    val p22 = plan(TpchOps.q22DormantCustomers(spark, sf0001))
    assert(p22.contains("BroadcastNestedLoopJoin"), p22)
    assert(p22.contains("LeftAnti"), p22)
    assert(!p22.contains("CartesianProduct"), p22)
  }

  test("assoc_rules_brands: dim join broadcasts, pair fan-out is map-side (no cartesian)") {
    val p = plan(graft.operators.MiningOps.assocRulesBrands(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the pair expansion is a Generate over the per-order set, not a join
    assert(p.contains("Generate"), p)
  }

  test("cosine_tf_pairs: blocked self-join and dot re-join are equi joins, never all-pairs") {
    val p = plan(graft.operators.MiningOps.cosineTfPairs(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("forget_user_cascade: every cascade hop is a broadcast semi join") {
    val p = plan(graft.operators.MiningOps.forgetUserCascade(spark, sf0001))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // no fact-to-fact shuffle join anywhere in the cascade: the only
    // joins are broadcast (id lists / 1-row totals)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("ols_trend_user / time_weighted_avg_user: one user_id exchange reused by window+agg") {
    for (df <- Seq(graft.operators.MiningOps.olsTrendUser(spark, sf0001),
        graft.operators.MiningOps.timeWeightedAvgUser(spark, sf0001))) {
      val p = plan(df)
      // hashpartitioning(user_id) appears for the window; the groupBy on
      // the same key must NOT introduce a second user_id exchange
      val hits = "hashpartitioning\\(user_id".r.findAllIn(p).length
      assert(hits == 1, s"expected 1 user_id exchange, got $hits:\n$p")
    }
  }

  test("width_bucket_hist / chi2_event_dow: partial+final hash aggregate (map-side combine)") {
    for (df <- Seq(graft.operators.MiningOps.widthBucketHist(spark, sf0001),
        graft.operators.MiningOps.chi2EventDow(spark, sf0001))) {
      val p = plan(df)
      assert("HashAggregate".r.findAllIn(p).length >= 2, p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("basket_freq_pairs: in-basket pair generation — no join, no nested loop") {
    val p = plan(graft.operators.BasketOps.basketFreqPairs(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("open_orders_weekly: one hash exchange per side feeds the sweep, no day×order join") {
    val p = plan(TpchOps.openOrdersWeekly(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the ±1 delta union aggregates map-side before the day-grid window
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("ship_latency_percentiles: the only fact join is equi on orderkey") {
    val p = plan(TpchOps.shipLatencyPercentiles(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // at most ONE sort-merge join is allowed — the fact⋈fact
    // lineitem⋈orders equi on orderkey; the three rank picks join
    // ≤|priorities|-row grid slices and must all broadcast
    assert("SortMergeJoin".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("basket_rules_lift: dim counts broadcast; the only nested loop is the 1-row total") {
    val p = plan(graft.operators.BasketOps.basketRulesLift(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("cuped_adjusted_ab / winsorized_stats: scalar broadcasts only, no cartesian") {
    // cuped's nested loops are the 1-row mid/pooled-moments broadcasts
    // (bounded by construction); winsorized runs entirely on equi joins
    // over the per-type bounds.
    val pc = plan(graft.operators.CausalOps.cupedAdjustedAb(spark, sf0001))
    assert(!pc.contains("CartesianProduct"), pc)
    assert(pc.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 3, pc)
    val pw = plan(graft.operators.CausalOps.winsorizedStats(spark, sf0001))
    assert(!pw.contains("CartesianProduct") && !pw.contains("BroadcastNestedLoopJoin"), pw)
  }

  test("phrase_search_pos: term filters before any exchange, equi joins only") {
    val p = plan(graft.operators.CurationOps.phraseSearchPositional(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the per-term predicate must sit under Generate (on the exploded map
    // side), so only the queried terms' postings reach the join exchange
    assert(p.contains("Filter"), p)
  }

  test("gopher_rules_source: map-side rules, exactly the per-source rollup exchange") {
    val p = plan(graft.operators.CurationOps.gopherRulesSource(spark, sf0001))
    assert(!p.contains("Join"), p) // no join of any kind — pure scan+agg
    // partial+final aggregate around ONE shuffle (plus the presentation sort)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("dup_token_coverage: gram exchanges carry the 8-byte hash, never gram text") {
    val p = plan(graft.operators.CurationOps.dupTokenCoverage(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // every hash exchange is keyed on the xxhash64 gram or doc_id — the
    // gram STRING column must not appear in any Exchange's partitioning
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("gram"), l)
    }
  }

  test("semdedup_decisions / ann_recall_ivf: no cartesian anywhere in the eval paths") {
    val ps = plan(graft.operators.VectorOps.semdedupDecisions(spark, sf0001))
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"), ps)
    val pa = plan(graft.operators.VectorOps.annRecallIvf(spark, sf0001))
    assert(!pa.contains("CartesianProduct"), pa)
    // cos_topk's query side broadcasts by design; the only nested loop is
    // that bounded 50-query broadcast
    assert(pa.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, pa)
  }

  test("hybrid_rrf_topk: query terms broadcast into both rankers, fusion is an equi join") {
    val p = plan(graft.operators.RetrievalOps.hybridRrfTopk(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop is bm25's intentional 1-row corpus-stats
    // broadcast (N, avgdl) — bounded by construction
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    // the postings joins against the query-term literal must broadcast —
    // the corpus-side tf/term relations never shuffle FOR the query join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("mmr_rerank_k8: pair generation is within-qid equi, no cartesian, no corpus-scale pairs") {
    val p = plan(graft.operators.RetrievalOps.mmrRerankK8(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // the bm25 candidate subtree appears in several branches (cands, pair
    // sides, sizes), each carrying its 1-row corpus-stats cross broadcast
    // — every nested loop must be exactly that bounded Cross, nothing
    // condition-less at corpus scale
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), l)
    }
    // the candidate-pair self-join is equi on (qid, term); da<db is a
    // post-join filter of a key-partitioned join, never a nested loop
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("epoch_shuffle_manifest: head limit pushes into WindowGroupLimit, window keyed by shard") {
    val p = plan(graft.operators.CurationOps.epochShuffleManifest(spark, sf0001))
    // position<=25 must prune inside each (epoch, shard) partition — no
    // shard's full order is ever materialized
    assert(p.contains("WindowGroupLimit"), p)
    // the window is PARTITIONED (epoch, shard) — a global single-partition
    // window would print 'Window [...]' with an empty partition spec;
    // assert the partition keys are present on the Window operator
    val winLine = p.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(winLine.contains("epoch") && winLine.contains("shard"), winLine)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cms_token_counts: the top-20 branch reuses the token-count exchange in the final plan") {
    val df = graft.operators.TextAnalysisOps.cmsTokenCounts(spark, sf0001)
    df.collect() // AQE reuses a stage only while it runs the query
    val p = plan(df)
    assert(p.contains("ReusedExchange"), p)
  }
}
