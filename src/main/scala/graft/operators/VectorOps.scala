package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.diversity.{Gmm, Metric}
import graft.sources.Tables

/** Similarity search over the embedding column (SURVEY.md §2.2 group V).
  *
  * Scale posture: the query side (50 vectors) is **broadcast** against the
  * target table — each executor scans its slice of targets once against the
  * in-memory query set; no shuffle of the big side, no unpartitioned
  * crossJoin. At 100 TB with a large query set, the same kernel runs behind
  * an LSH/IVF bucket join (bucket targets and queries by a coarse hash of
  * the vector, join on bucket, then exact-score within bucket) — the
  * banded-join pattern of [[TextOps.dedupDocsMinhash]].
  */
object VectorOps {

  /** Every search here answers the same query set: the vectors with
    * `vec_id` below this bound.
    */
  private val NQueries = 50

  /** Each search below generates (query, target) candidate pairs — columns
    * `q_id`, `q_emb`, `t_id`, `t_emb` — and ends in the two steps that
    * follow: [[exactSim]] scores every candidate, [[topK]] keeps the best
    * k per query. Those two steps are the only place the ranking rule of
    * SURVEY.md §7.4 is written, which the DuckDB oracles of `cos_topk`,
    * `stream_ann_topk`, `cos_topk_ivf`, `knn_label_vote` and
    * `ann_recall_ivf` hash.
    *
    * The score is the exact double dot product rounded to 6 dp for the
    * cross-engine protocol. The dot product is the native codegen
    * expression [[graft.functions.DotProductF32]] — identical semantics to
    * [[graft.functions.VectorFunctions.dotD]] (the pure-built-in fallback)
    * but without the per-row intermediate array of `zip_with`.
    */
  private def exactSim(pairs: DataFrame): DataFrame =
    pairs.withColumn("sim", round(expr("dot_f32(q_emb, t_emb)"), 6))

  /** The top `k` of scored pairs per `q_id`, ranked on the **rounded**
    * similarity descending with ascending `t_id` breaking ties, so both
    * engines rank identically: `(q_id, rank bigint, t_id, sim)` plus the
    * `carry` columns. Output is UNORDERED; callers order.
    */
  private def topK(scored: DataFrame, k: Int, carry: String*): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("t_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("q_id"), col("rank").cast("long").as("rank"), col("t_id"), col("sim")) ++
        carry.map(col): _*)
  }

  /** Every (query, target) pair of `queries` (`vec_id`, `embedding`)
    * against the whole corpus but itself: the query side is broadcast, the
    * corpus is scanned once and never shuffled.
    */
  private def allPairs(spark: SparkSession, sfDir: String, queries: DataFrame): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"), col("label").as("t_label"))
      .crossJoin(broadcast(
        queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
      .filter(col("t_id") =!= col("q_id"))

  /** The query set's (`vec_id`, `embedding`) rows. */
  private def queryVectors(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding"))

  /** V: exact top-5 most-similar vectors for each query vector. */
  def cosTopk(spark: SparkSession, sfDir: String): DataFrame =
    topkForQueries(spark, sfDir, queryVectors(spark, sfDir)).orderBy(col("q_id"), col("rank"))

  /** Exact top-5 for an ARBITRARY batch of query vectors against the
    * corpus — the per-micro-batch kernel of the streaming ANN ingest entry
    * (`stream_ann_topk`): broadcast the (small) arriving batch, one corpus
    * scan per batch, codegen dot products, per-query rank. Identical
    * ranking protocol to [[cosTopk]], so a query's answer is independent
    * of which batch carried it. Output is UNORDERED; callers order.
    */
  private[graft] def topkForQueries(
      spark: SparkSession, sfDir: String, queries: DataFrame): DataFrame =
    topK(exactSim(allPairs(spark, sfDir, queries)), 5)

  /** Sign-LSH coarse bucket: 4 sign bits of the first 4 dimensions →
    * 16 buckets. Exact float-vs-zero comparisons are engine-portable.
    */
  private val bucketSql =
    "(CASE WHEN element_at(embedding, 1) > 0 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN element_at(embedding, 2) > 0 THEN 2 ELSE 0 END) + " +
      "(CASE WHEN element_at(embedding, 3) > 0 THEN 4 ELSE 0 END) + " +
      "(CASE WHEN element_at(embedding, 4) > 0 THEN 8 ELSE 0 END)"

  /** Adaptive LSH width: B = clamp(⌊log₂ n⌋ − 6, 4, 14) sign bits, so the
    * expected bucket occupancy n/2^B is pinned near 2^6 — candidate pairs
    * per band ≈ n·2^5 grow LINEARLY with n, where the r8 fixed-4-bit cell
    * grew n²/16 (measured super-linear at sf1, the one scale-killer in the
    * suite). `63 − numberOfLeadingZeros` is exact ⌊log₂⌋; the oracle
    * computes the identical value as `length(bin(n)) − 1` — integer-exact
    * in both engines, no libm log.
    */
  private[operators] def nearDupBits(n: Long): Int =
    math.max(4, math.min(16, (63 - java.lang.Long.numberOfLeadingZeros(n)) - 6))

  /** Degenerate-bucket fence for the in-bucket rescore: an LSH bucket
    * with more members than this (64× the ~2^6 occupancy [[nearDupBits]]
    * pins) is excluded from pair emission — it can only arise from
    * mass-identical/near-zero vectors, which are exact-dedup's job
    * upstream, and without the fence one such bucket buffers all member
    * vectors in a single aggregation row (unbounded) and emits O(m²)
    * pairs. 4096 members ≈ 1 MB/row buffered, ≤ 8.4 M map-side pairs.
    */
  private[operators] val NearDupBucketCap = 4096L

  /** 64-char sign signature of all dims — each band's join key is a B-char
    * substring of its 16-char slice. Exact float-vs-zero comparisons are
    * engine-portable (no arithmetic), and building the whole signature in
    * ONE projection means the 64 CASE branches evaluate once per row.
    */
  private def signSig64: org.apache.spark.sql.Column =
    concat((1 to 64).map(j =>
      when(expr(s"element_at(embedding, $j) > 0"), lit("1"))
        .otherwise(lit("0"))): _*)

  /** V+: embedding-cosine near-duplicate pairs via banded sign-LSH with a
    * SIZE-ADAPTIVE key width (the r9 fix for the one measured super-linear
    * operator): L=4 bands over disjoint 16-dim slices, each keyed on the
    * first [[nearDupBits]] sign bits of its slice. Candidates are formed by
    * ONE shuffle on (band, key): each bucket's sorted id list emits its
    * pairs map-side (the token_cooccurrence pattern) — never a crossJoin,
    * and never the self-join that would compute the signature projection
    * twice (the r9 plan scanned + signed the table once per join side; this
    * one does it once total, r10). Since r13, the exact rescore also
    * happens INSIDE the bucket emission: buckets carry (id, vector)
    * structs, the dot computes map-side, sub-threshold pairs die before
    * any exchange — the r13 sf100 probe measured the old rescore-join
    * shape (pair relation × vector table, ~2·n·occupancy pairs each
    * carrying two 64-float vectors) filling 71 GB of shuffle disk at 2 M
    * vectors. Survivor pairs are deduped across bands. Recall per the
    * rplsh (L,B) calculus: a pair at angle θ agrees per bit w.p. 1 − θ/π,
    * so union-over-4-bands recall at the fixture's B=4 is ≈ 1 − (1 − p⁴)⁴
    * (spec-pinned floor 0.30 vs the brute-force oracle); B grows with n,
    * concentrating the budget on the high-sim pairs a near-dup pass is
    * for. Scale posture: n comes from parquet footer metadata
    * ([[Tables.rowCount]] — no sizing job), bucket occupancy is pinned
    * near 2^6 by [[nearDupBits]] up to the 16-bit slice-entropy limit,
    * and the ONLY corpus-scale exchange is the (band, key) bucketing —
    * 4 rows per vector, linear in n.
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame =
    nearDupScoredPairs(spark, sfDir).orderBy(col("v1"), col("v2"))

  /** The banded-LSH bucket + in-bucket exact-rescore stage of
    * [[embeddingNearDup]] without the presentation sort: (v1 < v2,
    * sim ≥ 0.3) pairs. Shared with [[semdedupDecisions]], which consumes
    * the pair relation rather than presenting it.
    */
  private[operators] def nearDupScoredPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val bBits = nearDupBits(Tables.rowCount(spark, sfDir, "embeddings"))
    val keys = emb
      .select(col("vec_id"), col("embedding"), signSig64.as("sig"))
      .select(col("vec_id"), col("embedding"), explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          substring(col("sig"), i * 16 + 1, bBits).as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Pairs AND their exact rescore are emitted map-side inside the bucket
    // explode: each bucket's sorted (id, vector) list computes the dot for
    // its own pairs and drops sub-threshold ones before anything reaches
    // an exchange. The ONLY corpus-scale shuffle is therefore the (band,
    // key) bucketing — 4 rows per vector, linear in n — and pair-sized
    // data never ships. (The previous shape exchanged the candidate-pair
    // relation through two SHUFFLE_HASH rescore joins — linear-in-PAIRS,
    // which the r13 sf100 probe measured filling 71 GB of shuffle disk at
    // 2 M vectors: with bucket occupancy pinned ~2^6 by nearDupBits, pairs
    // ≈ 2·n·occupancy, and each pair carried two 64-float vectors. The
    // vector table must still never broadcast; now it never re-joins at
    // all.) A pair colliding in k ≤ 4 bands computes its dot k times
    // map-side — cheaper than exchanging it even once — and the final
    // distinct() dedups survivors only. Skew fence (r14): a bucket of
    // identical vectors would hold its members' vectors in one
    // aggregation row (~264 B each) and emit O(m²) pairs — so buckets
    // over NearDupBucketCap (64× the ~2^6 design occupancy; caps the
    // buffer at ~1 MB/row) are EXCLUDED before the collect_list, by a
    // count over the same (band, key) grouping. The fence is priced as a
    // SLIM second pass: Catalyst plans the count side as its own
    // embedding-only FileScan (the signature columns derive from
    // `embedding` alone, so vec_id is pruned) + a partial-agg count whose
    // (band, key) rows are tiny, joined to the list-aggregate side BEFORE
    // its bucketing exchange — PlanAuditSpec pins exactly this shape (two
    // FileScans, fence join upstream of the pair exchange). Measured at
    // sf100 the fence is a net 1.66× WIN (95.3 → 57.4 s) because skipping
    // degenerate buckets saves more than the slim rescan costs; at fixture
    // SFs it costs ~1 s of duplicate signature work (EXPERIMENTS.md r14).
    // The same [2, 4096] cap lives in the DuckDB oracle's kc CTE
    // (SparkEntry), so capped inputs stay oracle-exact. Mass-identical clusters
    // belong to exact dedup upstream (dedup_docs_exact's contract), and
    // the size-adaptive key keeps honest occupancy ~2^6 — the cap is the
    // FuzzyBlockCap-style degenerate-input fence, not a tuning knob.
    keys
      .join(
        keys.groupBy(col("band"), col("key")).agg(count(lit(1)).as("n_bkt")),
        Seq("band", "key"))
      .filter(col("n_bkt").between(2, NearDupBucketCap))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("xs"))
      .select(explode(expr(
        "flatten(transform(xs, (x, i) -> " +
          "filter(transform(slice(xs, i + 2, size(xs)), y -> " +
          "struct(x.vec_id AS v1, y.vec_id AS v2, " +
          "round(dot_f32(x.embedding, y.embedding), 6) AS sim)), " +
          "p -> p.sim >= 0.3)))"))
        .as("p"))
      .select(col("p.v1").as("v1"), col("p.v2").as("v2"), col("p.sim").as("sim"))
      .distinct()
  }

  /** V+: SemDeDup-style keep/drop DECISIONS over the [[embeddingNearDup]]
    * pair relation — the pipeline-facing motion: every vector gets a
    * verdict, not just the near-dup pairs a human would audit. The rule is
    * min-id-survivor on the pair relation: vector v is DROPPED iff some
    * kept-or-not earlier vector u < v is a banded near-dup of v (sim ≥
    * 0.3); its `dominated_by` is the strongest such u (max sim, then min
    * id) — deterministic, single-pass, and exactly the semantics of
    * [[TextOps.dedupDocsExact]]'s min-doc_id survivor lifted to the
    * approximate relation. (Deliberately NOT the greedy transitive chain —
    * that is sequential by construction; the ∃-earlier-neighbor rule is a
    * parallel one-join decision with the same catalog-style contract as
    * [[TextOps.dedupIncremental]].) Plan: the pair relation's window picks
    * each v's dominator (shuffle keyed by v2, bounded by the candidate
    * pairs, NOT the corpus), then one left join marks the full id set.
    */
  def semdedupDecisions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("v2")).orderBy(col("sim").desc, col("v1"))
    val dom = nearDupScoredPairs(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("v2").as("vec_id"), col("v1").as("dominated_by"),
        col("sim").as("dom_sim"))
    Tables.embeddings(spark, sfDir).select(col("vec_id"))
      .join(dom.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("dominated_by").isNull.as("kept"),
        col("dominated_by"),
        col("dom_sim"))
      .orderBy(col("vec_id"))
  }

  /** V+: IVF-style approximate top-k — probe the query's sign-LSH bucket
    * plus the 4 buckets at Hamming distance 1 (5 of 16 cells), exact-score
    * only the candidates, rank within them. Same output shape as
    * [[cosTopk]]; the scale path when the target side is too large to scan
    * per query. Deterministic: bucketing, probing and ranking are all
    * exact-integer or 6-dp-rounded.
    */
  def cosTopkIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val q = queryVectors(spark, sfDir)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), expr(bucketSql).as("qb"))
      .withColumn("probe", explode(expr("array(qb, qb ^ 1, qb ^ 2, qb ^ 4, qb ^ 8)")))
    val t = Tables.embeddings(spark, sfDir).select(
      col("vec_id").as("t_id"), col("embedding").as("t_emb"), expr(bucketSql).as("tb"))
    topK(exactSim(
      t.join(broadcast(q), col("tb") === col("probe") && col("t_id") =!= col("q_id"))), 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** V+: per-query ANN RECALL EVAL — the index-quality audit as a declared
    * query: recall@5 of [[cosTopkIvf]] against the exact [[cosTopk]],
    * joined on (q_id, t_id). Both sides are fully deterministic (6-dp
    * rounding, id tie-breaks), so the recall itself is exact and
    * DuckDB-oracle-able — unlike the trained-component variants
    * (ivf_kmeans/pq/rplsh) whose recall is spec-measured instead
    * (PipelineOpsSpec floors, EXPERIMENTS.md curves). This is the query a
    * pipeline runs after (re)building an index and before swapping it into
    * serving. Cost is the two bounded query-side plans plus a 250-row
    * join — evaluation, not serving.
    */
  def annRecallIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = cosTopk(spark, sfDir).select(col("q_id"), col("t_id"))
    val approx = cosTopkIvf(spark, sfDir).select(col("q_id"), col("t_id"))
      .withColumn("hit", lit(1L))
    exact.join(approx, Seq("q_id", "t_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(
        col("q_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"))
      .orderBy(col("q_id"))
  }

  /** V+: IVF with a LEARNED coarse quantizer — the composition SCALING.md
    * promises: the 16 cells are GMM (farthest-point, k-center 2-approx)
    * centers selected over the composable coreset, i.e. the diversity core
    * supplies the quantizer for the ANN index. Assignment and probing are
    * broadcast map-side passes (N×16 dots, no shuffle of the target table);
    * each query probes its 4 nearest cells, exact-rescores only those
    * candidates. Deterministic (6-dp-rounded dots, cell-index tie-breaks)
    * but not SQL-expressible — declared rows-only, recall-tested vs
    * [[cosTopk]] in PipelineOpsSpec.
    */
  def cosTopkIvfKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cDf = DiversityOps.selectDiverse(spark, sfDir, 16)
      .zipWithIndex
      .map { case (p, i) => (i, p.vec) }
      .toDF("cell", "c_emb")
    // nearest cell = argmax dot (unit-norm vectors): max over a (dot, -cell)
    // struct gives the highest-dot cell with ties to the lowest index
    def assign(df: DataFrame, idCol: String, keep: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(cDf))
        .withColumn("d", round(expr("dot_f32(embedding, c_emb)"), 6))
      if (keep == 1)
        scored.groupBy(col(idCol), col("embedding"))
          .agg(max(struct(col("d"), (-col("cell")).as("nc"))).as("m"))
          .select(col(idCol), col("embedding"), (-col("m.nc")).as("cell"))
      else {
        val w = Window.partitionBy(col(idCol)).orderBy(col("d").desc, col("cell"))
        scored.withColumn("r", row_number().over(w)).filter(col("r") <= keep)
          .select(col(idCol), col("embedding"), col("cell"))
      }
    }
    val t = assign(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")), "vec_id", 1)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"), col("cell"))
    val q = assign(queryVectors(spark, sfDir), "vec_id", 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("cell"))
    topK(exactSim(t.join(broadcast(q), Seq("cell")).filter(col("t_id") =!= col("q_id"))), 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The RP-LSH sizing point the r12 multiprobe grid chose (EXPERIMENTS.md):
    * [[cosTopkRplsh]] hashes with RplshTables tables of RplshBits sign bits
    * each and probes the pair flips of each table's RplshPairBits
    * lowest-margin bits.
    */
  private val RplshTables = 6
  private val RplshBits = 9
  private val RplshPairBits = 7

  /** V+: RANDOM-HYPERPLANE (sign) LSH ANN — the DATA-INDEPENDENT
    * complement of the IVF variants: L=6 hash tables of B=9 sign bits each
    * (the SimHash family for cosine distance) with QUERY-DIRECTED
    * MULTIPROBE, hyperplane components drawn deterministically from a
    * seeded integer hash of (table, bit, dim), so the index needs NO
    * training pass over the corpus — the property that matters when the
    * corpus drifts and re-clustering is expensive. Signatures are computed
    * MAP-SIDE (L·B dot products per row); each of the 50 queries probes,
    * per table, its own signature PLUS the B single-bit flips PLUS all
    * C(7,2)=21 pair flips of the 7 bits whose hyperplane margin |dot| is
    * smallest — the Lv et al. multiprobe idea: a true neighbor that landed
    * in another bucket most plausibly differs on the LOW-MARGIN bits, so
    * the directed hamming-≤2 shell buys most of the recall of more tables
    * at zero corpus-side cost (probe rows live on the tiny broadcast
    * side; the corpus computes exactly L signatures and never shuffles).
    * Candidate generation stays one broadcast hash join on
    * (table, signature).
    *
    * (L, B, probes) is the collision calculus: one band collides with
    * probability p^B where p = 1−θ/π; probing lifts the per-table hit
    * rate toward P(hamming(sig_q, sig_t) ≤ 2 on directed bits), and L
    * tables OR to recall ≈ 1−(1−hit)^L, while random-pair candidate
    * volume is ≈ L·probes·n/2^B (probes = 31 here → ~0.3·n at fixture
    * scale, vs ~0.22·n for the old (8, 5) single-probe sizing). Measured
    * (EXPERIMENTS.md r12 grid): recall@5 0.692 / 0.784 / 0.868 at
    * sf0.001 / sf0.1 / sf1 vs 0.468 / 0.576 / 0.636 for the old sizing —
    * the floor is pinned ≥ 0.5 in PipelineOpsSpec. Candidate pairs dedup
    * (a pair can collide in several tables/probes), then exact-rescore +
    * rank: same output shape as [[cosTopk]]. Rows-only (the hyperplane
    * draws are not SQL-expressible).
    *
    * At-scale contract (r14, MEASURED on the 2 M-vector sf100 grid —
    * EXPERIMENTS.md; supersedes the r12 grow-B-with-log₂(n) guidance):
    * this is the INDEX-FREE form, not the router. The corpus-scale cost
    * is the L·B-signature pass itself — growing B per the occupancy rule
    * moved wall time <12% and cost recall 0.96 → 0.43 on a weak-neighbor
    * corpus — and that pass AMORTIZES across query batches (10× the
    * queries for +7% wall; sec/query 17.2 → 1.84). [[cosTopkIvf]]'s plan
    * is the at-scale router (10.3 s vs 957 s for the same 50-query
    * workload); run rplsh while an index (re)builds, for one-shot
    * batches, or when its higher recall (0.96 vs 0.68 untrained-probe
    * IVF) is worth the corpus pass.
    */
  def cosTopkRplsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val dims = emb.select(size(col("embedding")).as("d")).first().getInt(0)
    // Hyperplane component in (-1, 1): fixed across sessions/partitions.
    def comp(l: Int, j: Int, d: Int): Float = {
      val h = scala.util.hashing.MurmurHash3.productHash(("rplsh", l, j, d))
      (h.toDouble / Int.MaxValue).toFloat
    }
    // All L×B planes as ONE literal, ordered (l·B + j) — consumed by the
    // native rplsh_sigs / rplsh_dots kernels (graft.functions.RplshPlanes).
    // The pre-r15 form inlined 54 `when(dot_f32(emb, <64-float lit>) > 0,
    // 1<<j)` expressions; fused into one Generate the generated method
    // blew Janino's 64 KB limit, so EVERY bench pass paid a doomed
    // multi-second compile and then ran interpreted. The kernels compute
    // the identical double-accumulated dots (bit-identical signatures,
    // margins and probes; checked against the inline form in r15) from one
    // reference object, and whole-stage codegen compiles again.
    val planesLit = typedLit(
      for (l <- 0 until RplshTables; j <- 0 until RplshBits)
        yield (0 until dims).map(d => comp(l, j, d)))
    val t = emb.select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
      posexplode(call_function("rplsh_sigs", col("embedding"), planesLit, lit(RplshBits)))
        .as(Seq("tbl", "sig")))
    // query side: per (query, table) keep the raw per-bit dots so the
    // probe set can be QUERY-DIRECTED — broadcast-side rows only, the
    // corpus side computes exactly L signatures and never shuffles
    val allDots = call_function("rplsh_dots", col("q_emb"), planesLit)
    val perTbl = array((0 until RplshTables).map { l =>
      val dots = slice(allDots, l * RplshBits + 1, RplshBits)
      struct(
        (0 until RplshBits).map(j =>
          when(element_at(dots, j + 1) > 0, lit(1 << j)).otherwise(lit(0)))
          .reduce(_ + _).as("sig"),
        dots.as("dots"))
    }: _*)
    // probes = own signature + every single-bit flip + the pair flips of
    // the RplshPairBits lowest-|margin| bits (all C(RplshPairBits, 2)
    // combinations: the directed slice of the hamming-2 shell). The struct
    // sort orders by (|dot|, bit), so ties are deterministic.
    val pairFlips = for {
      i <- 1 to RplshPairBits; j <- (i + 1) to RplshPairBits
    } yield s"CAST(sd.sig ^ shiftleft(1, element_at(low, $i))" +
      s" ^ shiftleft(1, element_at(low, $j)) AS INT)"
    val q = queryVectors(spark, sfDir)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .select(col("q_id"), col("q_emb"), posexplode(perTbl).as(Seq("tbl", "sd")))
      // bit indexes ranked by |margin| ascending (ties -> lower bit)
      .withColumn("low", expr(
        "transform(array_sort(transform(sd.dots, (d, j) -> struct(abs(d) AS a, j AS j))), s -> s.j)"))
      .withColumn("probes", expr(
        s"""concat(array(sd.sig),
           |  transform(low, jj -> CAST(sd.sig ^ shiftleft(1, jj) AS INT)),
           |  array(${pairFlips.mkString(", ")}))""".stripMargin))
      .select(col("q_id"), col("q_emb"), col("tbl"), explode(col("probes")).as("sig"))
    // Score BEFORE the cross-table dedup: sim is deterministic per pair, so
    // duplicates carry equal values and dropDuplicates exchanges only
    // (q_id, t_id, sim) — 24 bytes — instead of both 64-float embeddings
    // (the r9 shape shipped ~520 B/candidate through the exchange). The
    // re-scored table-collision duplicates are a few codegen dots map-side.
    topK(exactSim(
      t.join(broadcast(q), Seq("tbl", "sig")).filter(col("t_id") =!= col("q_id")))
      .select(col("q_id"), col("t_id"), col("sim"))
      .dropDuplicates("q_id", "t_id"), 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** V/R8: the DECLARED read through the `graft-vectors` DataSource V2
    * table ([[graft.sources.VectorSource]]) — a 10-million-row synthetic
    * vector table scanned with a vec_id range predicate and an id/label
    * projection. Both V2 pushdowns are load-bearing here and plan-asserted
    * in PlanAuditSpec: the range filter clamps the generated id span at
    * PLANNING time (500 rows materialize, not 10⁷), and column pruning
    * drops `embedding`, so no gaussian vector is ever generated. The
    * oracle recomputes the source's splitmix64 label kernel closed-form in
    * SQL, so a wrong hash step, signed-mod, or range bound hash-mismatches.
    * `sfDir` is unused: the source is parameter-deterministic, the same
    * table at every SF.
    */
  def vectorSourceScan(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-vectors")
      .option("n", 10000000).option("dim", 32).option("seed", 42).option("partitions", 8)
      .load()
      .filter(col("vec_id") >= 1000 && col("vec_id") < 1500)
      // label is int32 in the source schema; outputs surface BIGINT per
      // the output-type protocol (COVERAGE.md)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .orderBy(col("vec_id"))

  /** V/R8: DECLARED aggregate-pushdown read of the `graft-vectors` DSv2
    * source — COUNT(*)/MIN/MAX over a 40-million-id range answered in O(1)
    * per partition from the planned bounds ([[graft.sources.VectorSource]]
    * SupportsPushDownAggregates): no row is generated, which is the whole
    * point — a catalog/stats-style query over a 10⁹-row synthetic table
    * costs planning time, not scan time. Requires the vec_id range filter
    * to be fully consumed by the scan (Spark refuses aggregate pushdown
    * over residual filters) — both pushdowns are plan-asserted.
    */
  def vectorSourceAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-vectors")
      .option("n", 50000000).option("dim", 32).option("seed", 42).option("partitions", 8)
      .load()
      .filter(col("vec_id") >= 100 && col("vec_id") < 40000100)
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_id"),
        max(col("vec_id")).as("max_id"))

  /** V: 10-NN majority label vote per query vector (ties → smallest label). */
  def knnLabelVote(spark: SparkSession, sfDir: String): DataFrame = {
    val wVote = Window.partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("t_label"))
    topK(exactSim(allPairs(spark, sfDir, queryVectors(spark, sfDir))), 10, "t_label")
      .groupBy(col("q_id"), col("t_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vote_rank", row_number().over(wVote))
      .filter(col("vote_rank") === 1)
      .select(col("q_id"), col("t_label").cast("long").as("pred_label"), col("n_votes"))
      .orderBy(col("q_id"))
  }

  /** V+: PRODUCT-QUANTIZATION ANN (IVFADC family, asymmetric-distance
    * variant) — the MEMORY-COMPRESSION member of the ANN suite: each
    * target vector is encoded as m=8 one-byte codes (one 16-codeword
    * codebook per 8-dim subspace), a 32× compression of the 64-float
    * payload, and candidate scoring touches ONLY the codes. Per query the
    * m×16 subspace dot products are precomputed into a flat LUT
    * (broadcast with the query), so the approximate score is m array
    * lookups per target — no floating-point vector math on the scan side.
    * The top-32 by approximate score then exact-rescore via the codegen
    * dot over the raw vectors (only 32 rows per query ever fetch the
    * 256-byte payload — the asymmetric re-rank). Codebooks are trained
    * with the deterministic farthest-first kernel ([[graft.diversity.Gmm]]
    * — the diversity core again supplying the quantizer, as in
    * [[cosTopkIvfKmeans]]) on a capped modulo-sample: PQ training is
    * sample-based at ANY corpus size, so the collect is bounded derived
    * state (≤ 4096 rows), never the corpus. Deterministic throughout
    * (min-id seeds, low-index argmin ties, 6-dp re-rank) but the training
    * kernel is not SQL-expressible — declared rows-only, recall-pinned vs
    * [[cosTopk]] in PipelineOpsSpec.
    */
  def cosTopkPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val dims = emb.select(size(col("embedding")).as("d")).first().getInt(0)
    val m = 8
    val sub = dims / m
    val k = 16

    val train = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(4096)
      .as[(Long, Array[Float])].collect()
    // One codebook per subspace: farthest-first (k-center) over the
    // sampled sub-vectors — deterministic per the Gmm protocol.
    val books: Array[Array[Array[Float]]] = Array.tabulate(m) { j =>
      Gmm.selectBy(
        train.toSeq.map { case (id, v) => (id, v.slice(j * sub, j * sub + sub)) }, k)(Metric.sqDist)
        .map(_._2).toArray
    }
    val bBooks = spark.sparkContext.broadcast(books)

    def encode(v: Array[Float]): Array[Int] = Array.tabulate(m) { j =>
      val s = v.slice(j * sub, j * sub + sub)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val d = Metric.sqDist(s, bBooks.value(j)(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    def lut(q: Array[Float]): Array[Double] = {
      val out = new Array[Double](m * k)
      var j = 0
      while (j < m) {
        val s = q.slice(j * sub, j * sub + sub)
        var c = 0
        while (c < k) {
          var dot = 0.0; var i = 0
          while (i < sub) { dot += s(i).toDouble * bBooks.value(j)(c)(i).toDouble; i += 1 }
          out(j * k + c) = dot
          c += 1
        }
        j += 1
      }
      out
    }

    val codes = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, encode(v)) }
      .toDF("t_id", "codes")
    val qLut = queryVectors(spark, sfDir)
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, lut(v)) }
      .toDF("q_id", "lut")

    // ADC scan: approx = Σ_j lut[j·16 + codes[j]] — m array lookups per
    // (target, query), on the 8-byte codes only. 12-dp rounding + id
    // tie-break keep the candidate cut deterministic. Re-rank depth (the
    // IVFADC "refine" knob) grows as √n from footer metadata: the LUT's
    // quantization resolution is fixed, so the approximate-rank position
    // of the true top-5 drifts down as the corpus densifies — a fixed
    // depth-32 cut measured recall 0.36→0.14 from sf0.1→sf1, √n-depth
    // restores it (EXPERIMENTS.md "ANN recall"); √n keeps re-rank cost
    // per query sub-linear at any corpus size.
    val n = Tables.rowCount(spark, sfDir, "embeddings")
    val rerankDepth = math.max(32L, math.min(1024L,
      32L * math.round(math.sqrt(n / 2000.0)))).toInt
    val wApprox = Window.partitionBy(col("q_id")).orderBy(col("approx").desc, col("t_id"))
    val cand = codes.join(broadcast(qLut), col("t_id") =!= col("q_id"))
      .withColumn("approx",
        round(expr(s"aggregate(sequence(0, ${m - 1}), 0D, (acc, j) -> acc + lut[j * $k + codes[j]])"), 12))
      .withColumn("r", row_number().over(wApprox))
      .filter(col("r") <= rerankDepth)
      .select(col("q_id"), col("t_id"))

    // Asymmetric re-rank: only the surviving candidates fetch raw vectors.
    topK(exactSim(cand
      .join(emb.select(col("vec_id").as("t_id"), col("embedding").as("t_emb")), "t_id")
      .join(broadcast(queryVectors(spark, sfDir)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))), "q_id")), 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** V+: MODALITY COVERAGE audit — per language, how many documents carry
    * a paired embedding row (doc_id = vec_id) and the coverage ratio: the
    * data-quality gate a multimodal pipeline runs before training (a
    * modality silently missing for one language skews the mixture). Plan
    * shape for 100 TB: the embedding side is projected to its 8-byte id
    * BEFORE the equi join (never the 64-float payload), the join output
    * partial-aggregates to |langs| rows. Coverage is the raw IEEE
    * quotient of exact counts (oracle-parity convention class 2 — no
    * round()).
    */
  def modalityCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    docs.join(emb, docs("doc_id") === emb("vec_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("vec_id")).as("n_with_embedding"),
        (count(col("vec_id")).cast("double") / count(lit(1)).cast("double"))
          .as("coverage"))
      .orderBy(col("lang"))
  }

  /** V+: PER-LABEL CENTROIDS through the typed-`Aggregator` UDAF
    * [[graft.functions.LabelCentroidAgg]] — the class-prototype table
    * (per-class mean embedding) clustering, drift monitoring, and
    * nearest-class-mean classification all start from. The aggregation is
    * ONE pass with array-valued partial state: the exchange carries one
    * (8·d + 8)-byte state per (label × partition) — NOT the d-fold
    * exploded fact table the naive `posexplode → groupBy(label, dim)`
    * plan shuffles (64× here, 768+× at production dims). The explode to
    * (label, dim) rows happens after the merge, on |labels| rows.
    * Dimension sums are exact BIGINT micro-units, so the result is
    * bit-stable under any partitioning (spec-pinned) and the centroid is
    * a class-2 raw quotient of exact integers — oracled against DuckDB's
    * unnest recomputation.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val dims = emb.select(size(col("embedding")).as("d")).first().getInt(0)
    val agg = new graft.functions.LabelCentroidAgg(dims)
    emb.select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("state"))
      .toDF("label", "state")
      .select(col("label"), col("state.n").as("n_rows"),
        posexplode(col("state.sums")).as(Seq("dim", "sum_q")))
      .select(
        col("label").cast("long").as("label"), col("dim").cast("long").as("dim"),
        col("n_rows"), col("sum_q"),
        (col("sum_q").cast("double") /
          (col("n_rows") * lit(1000000L)).cast("double")).as("centroid"))
      .orderBy(col("label"), col("dim"))
  }

  /** V+: LLOYD'S K-MEANS (k=8, 3 refinement iterations) — the canonical
    * iterative-ML kernel on the DataFrame runtime, composing the diversity
    * core one step further than [[cosTopkIvfKmeans]]: GMM farthest-first
    * over the composable coreset SEEDS the cells (the k-means++ role —
    * Gonzalez init carries a provable spread guarantee), Lloyd refines
    * them. Each iteration is ONE scan + ONE k-group exchange: assignment
    * is a closure-broadcast argmin computed map-side in a typed map
    * (ascending-dim fold, ties → lowest cell: deterministic), the update
    * rides [[graft.functions.KmeansCellAgg]]'s exact micro-unit state, and
    * the next centroid is `floor(sum/n + 0.5)` micro-units — one IEEE
    * division of exact integers, so the whole trajectory is bit-stable
    * under any partitioning (spec-pinned, as is the Lloyd guarantee that
    * the objective never increases). Iterations are driver-looped over
    * bounded derived state (k centroids), the MLlib shape; only the 24-row
    * (iter × cell) history crosses to the driver. Per-point d² is
    * quantized to BIGINT micro-units so the objective sum is exact — at
    * extreme scale (≳10¹² rows × large d²) that sum's headroom would need
    * DECIMAL(38) or a two-level split, noted here once. Not
    * SQL-expressible (iterative fixpoint) → rows-only, invariant-tested.
    */
  def kmeansLloyd(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 8
    val iters = 3
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val dim = Tables.embeddings(spark, sfDir)
      .select(size(col("embedding")).as("d")).first().getInt(0)
    // seed on the micro grid so iteration 0 is already exactly representable
    var centers: Array[Array[Double]] = DiversityOps.selectDiverse(spark, sfDir, k)
      .map(_.vec.map(f => math.floor(f.toDouble * 1e6 + 0.5) / 1e6).toArray).toArray
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val agg = new graft.functions.KmeansCellAgg(dim)
    for (it <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centers)
      val stats = emb
        .map { case (_, v) =>
          val cs = bc.value
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            val cv = cs(c)
            var d = 0.0
            var i = 0
            while (i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = c } // strict <: ties keep lowest cell
            c += 1
          }
          (best, v, math.floor(bd * 1e6 + 0.5).toLong)
        }
        .groupByKey(_._1)
        .agg(agg.toColumn.name("state"))
        .collect()
        .toMap
      centers = centers.zipWithIndex.map { case (old, c) =>
        stats.get(c) match {
          case Some(st) if st.n > 0 =>
            st.sums.map(s => math.floor(s.toDouble / st.n + 0.5) / 1e6)
          case _ => old // empty cell keeps its centroid (no reseeding: determinism)
        }
      }
      (0 until k).foreach { c =>
        val st = stats.get(c)
        history += ((it.toLong, c.toLong,
          st.map(_.n).getOrElse(0L), st.map(_.wcssMicro).getOrElse(0L)))
      }
      bc.destroy()
    }
    history.toSeq.toDF("iter", "cell", "n_points", "wcss_micro")
      .orderBy(col("iter"), col("cell"))
  }

  /** V+: EMBEDDING NORM PROFILE — per label: count and min/max/mean of
    * the squared L2 norm, the embedding-health audit (unnormalized or
    * collapsed vectors are the classic silent ANN killer). Each vector's
    * ǀǀvǀǀ² is a FIXED left fold over the 64 dims (Spark `aggregate`,
    * DuckDB `list_reduce` over the same transformed list — identical
    * IEEE chain), then QUANTIZED to integer micro-units before any
    * cross-row aggregation, so the per-label sums are exact BIGINTs (the
    * integer-cents protocol applied to vector space); the mean is ONE
    * division. sqrt stays banned — squared norms carry the same signal.
    *
    * Scale: one scan, map-side fold per row, ≤ǀlabelsǀ-key aggregate.
    */
  def norm2ProfileLabel(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        expr("CAST(floor(aggregate(embedding, CAST(0.0 AS DOUBLE)," +
          " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1000000" +
          " + 0.5) AS BIGINT)").as("n2_micro"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        min(col("n2_micro")).as("min_n2_micro"),
        max(col("n2_micro")).as("max_n2_micro"),
        sum(col("n2_micro")).as("sum_n2_micro"))
      .select(col("label"), col("n"), col("min_n2_micro"), col("max_n2_micro"),
        (col("sum_n2_micro").cast("double") / col("n").cast("double"))
          .as("mean_n2_micro"))
      .orderBy(col("label"))
  }

}
