package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Retrieval-serving compositions over the corpus: rank FUSION of two
  * independent retrieval systems (the RAG pattern of merging a lexical
  * and a second ranker's candidate lists) and MMR DIVERSIFICATION of a
  * candidate list (the de-redundancy re-rank between retrieval and the
  * context window). Both reuse [[TextAnalysisOps.bm25Topk]] as the
  * lexical ranker, so the candidate-generation plan (postings join,
  * broadcast query terms, never corpus × queries) is shared.
  *
  * Determinism contract (house rules): every score is quantized to
  * BIGINT micro-units from ONE fixed IEEE expression evaluated with
  * identical text on both engines; all orderings carry a `doc_id`
  * tie-break; RRF contributions are exact integer divisions
  * (`1000000 DIV (60 + rank)`), so fused scores are exact integers.
  */
object RetrievalOps {

  /** The fixed keyword workload shared with bm25_topk — delegated to the
    * single source of truth [[TextAnalysisOps.queryWorkload]] so the BM25
    * and Jaccard sides of the fusion can never desynchronize.
    */
  private def queryTerms(spark: SparkSession): DataFrame =
    TextAnalysisOps.queryTerms(spark)

  /** English docs → (doc_id, term) with per-doc DISTINCT terms — the
    * set-semantics token view both Jaccard sides use. Deduplicated
    * MAP-SIDE with `array_distinct` before the explode (r16): global
    * distinct over (doc_id, term) pairs IS per-doc distinct because
    * doc_id is part of the pair, so the pre-r16 corpus-wide `.distinct()`
    * exchange of every exploded token row bought nothing a per-row
    * array op doesn't (guide §2.4 — remove shuffles outright). One
    * corpus scan, zero exchanges.
    */
  private def docTermSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .select(col("doc_id"),
        explode(expr("array_distinct(filter(split(text, ' '), x -> length(x) > 0))")).as("term"))

  /** V+: HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION — the standard way
    * production RAG merges candidate lists from two systems that score
    * on incomparable scales (Cormack et al., SIGIR'09: rrf(d) = Σ_r
    * 1/(k + rank_r(d)), k=60). Ranker A = BM25 top-10 (the lexical
    * system); ranker B = query-term-set Jaccard top-10 (a set-overlap
    * system with a different normalization — favors short docs where
    * BM25's tf-saturation favors term repetition). A doc absent from a
    * ranker's top-k contributes 0 from that ranker, exactly the fusion
    * semantics of merging truncated candidate lists.
    *
    * Scale posture: each ranker is a postings-shaped plan (equi-join on
    * `term` against broadcast query terms; the only fact-scale exchange
    * is the per-ranker groupBy), each emits ≤k rows per query, and the
    * fusion itself is a FULL OUTER equi-join on (qid, doc_id) of two
    * k-bounded lists — at 10⁶ queries that is a co-partitioned join of
    * two 10·|Q|-row tables, never anything corpus-scale.
    */
  def hybridRrfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val bm = TextAnalysisOps.bm25Topk(spark, sfDir)
      .select(col("qid"), col("doc_id"), col("rank").as("bm25_rank"))

    // The Jaccard side in ONE corpus pass (r16): |doc set| is a per-row
    // array op (size ∘ array_distinct) carried THROUGH the explode as a
    // grouping column, so the pre-r16 plan's second corpus aggregate
    // (n_set) and its join back on doc_id disappear — the only exchange
    // left is the tiny (qid, doc) intersection groupBy (guide §2.4).
    // n_set is functionally dependent on doc_id, so grouping by both is
    // the same grouping.
    val q = queryTerms(spark)
    val nQ = q.groupBy(col("qid")).agg(count(lit(1)).as("n_q"))
    val inter = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .select(col("doc_id"),
        expr("array_distinct(filter(split(text, ' '), x -> length(x) > 0))").as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_set"),
        explode(col("ts")).as("term"))
      .join(broadcast(q), col("term") === col("q_term"))
      .groupBy(col("qid"), col("doc_id"), col("n_set"))
      .agg(count(lit(1)).as("n_inter"))
    val wJ = Window.partitionBy(col("qid"))
      .orderBy(col("jac_micro").desc, col("doc_id"))
    val jc = inter
      .join(broadcast(nQ), Seq("qid"))
      // identical expression text to the oracle: (1e6 · |∩|) / |∪|
      .withColumn("jac_micro", expr(
        "CAST(floor(1000000.0 * n_inter / (n_set + n_q - n_inter) + 0.5) AS BIGINT)"))
      .withColumn("jacc_rank", row_number().over(wJ).cast("long"))
      .filter(col("jacc_rank") <= 10)
      .select(col("qid"), col("doc_id"), col("jacc_rank"))

    val wF = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    bm.join(jc, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_micro", expr(
        "coalesce(1000000 DIV (60 + bm25_rank), 0L) + " +
          "coalesce(1000000 DIV (60 + jacc_rank), 0L)"))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf_micro"),
        col("bm25_rank"), col("jacc_rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** V+: MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein,
    * SIGIR'98) — greedy de-redundancy of the BM25 top-10 down to k=8:
    * pick the most relevant candidate, then repeatedly the candidate
    * maximizing `rel_micro − max_{s∈selected} jaccard_micro(c, s)`,
    * ties → low doc_id. The emitted `mmr_micro` is this UNWEIGHTED
    * rel−sim margin (both terms on the same micro scale) — 2× the λ=½
    * MMR value, so the argmax (and therefore the selection order) is
    * identical to λ=½ while every score stays an exact integer.
    * The step between "retrieval found 10 near-duplicates" and "the
    * context window holds 8 DISTINCT passages".
    *
    * The greedy loop is inherently sequential IN k but embarrassingly
    * parallel ACROSS queries, so the distribution axis is qid: both the
    * candidate lists and the candidate-pair similarity matrix are built
    * as bounded DataFrames (≤k and ≤k² rows per query — the pair join is
    * candidates×candidates WITHIN a qid, never corpus²), grouped to one
    * array-valued row per query, and the O(k²) selection runs inside
    * `mapGroups` on the executor holding that query. At 10⁶ queries
    * that is 10⁶ independent 10-candidate groups; no driver state, no
    * global sort. Oracle parity: DuckDB replays the identical greedy
    * via a recursive CTE + LATERAL argmax (see its Oracle in
    * SparkEntry.queries) — both engines walk the same integer lattice,
    * so the selection is hash-exact, not approximately similar.
    */
  def mmrRerankK8(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // The candidate relation feeds FIVE plan branches (list, pair sides,
    // set sizes); without a lineage cut each branch would re-run the full
    // BM25 postings plan. Both checkpoints are CANDIDATE-scale, never
    // corpus-scale — ≤k rows/query and ≤k·dl tokens/query — and
    // localCheckpoint stores MEMORY_AND_DISK on the executors, so the
    // memory contract is bounded by the query workload, not the corpus.
    val cand = TextAnalysisOps.bm25Topk(spark, sfDir)
      .select(col("qid"), col("doc_id"), col("score_micro").as("rel_micro"))
      .localCheckpoint(true)

    // candidate-pair Jaccard, within-query only: ≤ C(k,2) rows per qid.
    // cand is ≤ k·|Q| rows (and already checkpointed), so BROADCAST it
    // into the corpus-side term stream: with docTermSets now map-side
    // (no distinct exchange, r16) the candidate filter runs inside the
    // scan pass and ctok never shuffles corpus-scale rows.
    val ctok = docTermSets(spark, sfDir)
      .join(broadcast(cand.select(col("qid"), col("doc_id"))), Seq("doc_id"))
      .select(col("qid"), col("doc_id"), col("term"))
      .localCheckpoint(true)
    val csz = ctok.groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("n_set"))
    val a = ctok.toDF("qid", "da", "term")
    val b = ctok.toDF("qid", "db", "term")
    val pairs = a.join(b, Seq("qid", "term"))
      .filter(col("da") < col("db"))
      .groupBy(col("qid"), col("da"), col("db"))
      .agg(count(lit(1)).as("cnt"))
      .join(csz.toDF("qid", "da", "sa"), Seq("qid", "da"))
      .join(csz.toDF("qid", "db", "sb"), Seq("qid", "db"))
      // identical expression text to the oracle
      .withColumn("jac_micro", expr(
        "CAST(floor(1000000.0 * cnt / (sa + sb - cnt) + 0.5) AS BIGINT)"))
      .select(col("qid"), col("da"), col("db"), col("jac_micro"))

    val candArr = cand.groupBy(col("qid"))
      .agg(collect_list(struct(col("doc_id"), col("rel_micro"))).as("cands"))
    val simArr = pairs.groupBy(col("qid"))
      .agg(collect_list(struct(col("da"), col("db"), col("jac_micro"))).as("sims"))

    candArr.join(simArr, Seq("qid"), "left_outer")
      .select(col("qid"),
        col("cands").as("cands"),
        coalesce(col("sims"), array()).as("sims"))
      .as[(Long, Seq[(Long, Long)], Seq[(Long, Long, Long)])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        // one row per qid by construction; state is k + k²/2 longs
        val (_, cands, simsRaw) = rows.next()
        val sim = collection.mutable.Map.empty[(Long, Long), Long]
        simsRaw.foreach { case (da, db, j) => sim((da, db)) = j; sim((db, da)) = j }
        val remaining = collection.mutable.Map(cands.map { case (d, r) => d -> r }: _*)
        val selected = collection.mutable.ArrayBuffer.empty[Long]
        val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        while (selected.size < 8 && remaining.nonEmpty) {
          // argmax of (mmr score, then LOW doc_id); first step has no
          // selected set, so mmr == rel — identical to the oracle's seed
          val (bestDoc, bestScore) = remaining.iterator.map { case (d, rel) =>
            val maxJ = selected.iterator.map(s => sim.getOrElse((d, s), 0L))
              .foldLeft(0L)(math.max)
            (d, rel - maxJ)
          }.reduceLeft { (x, y) =>
            if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x
          }
          selected += bestDoc
          remaining.remove(bestDoc)
          out += ((qid, selected.size.toLong, bestDoc, bestScore))
        }
        out.iterator
      }
      .toDF("qid", "rank", "doc_id", "mmr_micro")
      .orderBy(col("qid"), col("rank"))
  }
}
