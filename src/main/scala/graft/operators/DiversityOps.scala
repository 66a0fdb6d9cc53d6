package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Materialize, Tables}
import graft.diversity._

/** DataFrame-facing diversity operators (SURVEY.md §2.2 group W — the
  * reference's own surface, re-expressed Spark-first).
  *
  * Execution shape ([VLDB17] §4, SURVEY.md §3.1): exactly one deliberate
  * shuffle ([[byResidue]]: partition r holds exactly residue class
  * vec_id % p = r) into the [[graft.plans.CoresetPlan]] node + one
  * executor→driver crossing (`collect()` of the p·k′-point coreset). The
  * driver-side heuristics then run on ≤ a few hundred points. Raw
  * embeddings are never collected — the coreset IS the scalability
  * argument, at 100 TB exactly as at sf0.001.
  *
  * Determinism (SURVEY.md §7.3.4): partition = vec_id % p (not round-robin),
  * local GMM seeded at partition-min id, global GMM seeded at coreset-min
  * id, argmax ties to the lowest id, a delegate equidistant from two
  * centers to the earlier-selected one, distance comparisons on
  * 12-dp-rounded squared values. p scales with the session's executor
  * parallelism (the 100 TB posture: more executors → more, smaller local GMM problems); the
  * pmod key keeps the assignment deterministic GIVEN p, and the composable
  * coreset bound holds for every p ([VLDB17] §4), so results are
  * reproducible per cluster size — invariance ACROSS p is only exact when
  * the local coresets cover their partitions (CoresetSpec anchor prop).
  * k′=64 fixed (coreset size per partition — a quality knob, not a
  * parallelism knob).
  */
object DiversityOps {

  /** Coreset fan-out: one local GMM per slot, floor of 8 so tiny sessions
    * still exercise multi-partition composition. Driver-side collect stays
    * p·k′ points — at 1000 executors that is 64k points, still trivial.
    */
  def coresetParallelism(spark: SparkSession): Int =
    math.max(8, spark.sparkContext.defaultParallelism)

  val KPrime = 64

  /** Driver-side heuristic budget for [[remoteCliqueDiv]]: the collected
    * union coreset is p·k′ points — it GROWS with cluster parallelism, so
    * feeding it straight to the O(iters·k·n) local search / O(k·n²)
    * matching heuristics would make driver wall-clock scale with cluster
    * size (minutes at p=1000). Instead the union is re-coreset down to a
    * fixed 8·k-point budget by one more GMM pass (a coreset of the coreset
    * — the composable-coreset theorem [VLDB17] §4 is closed under exactly
    * this composition, so the approximation bound is preserved). The GMM
    * pre-step is O(budget·p·k′) cheap distance evals; the heuristics then
    * run on ≤ budget points, making their cost O(1) in cluster size.
    */
  val HeuristicBudget = 8 * 32

  private def r6(x: Double) = math.rint(x * 1e6) / 1e6

  /** The heuristics' pool: the coreset points bounded to
    * [[HeuristicBudget]] by one more GMM pass when they exceed it.
    */
  private def heuristicPool(cs: IndexedSeq[Pt]): IndexedSeq[Pt] =
    if (cs.size <= HeuristicBudget) cs else Gmm.select(cs, HeuristicBudget)

  /** A selection as (rank, id) rows, rank 1 first. */
  private def ranked(spark: SparkSession, ids: Seq[Long], idCol: String): DataFrame = {
    import spark.implicits._
    ids.zipWithIndex.map { case (id, i) => ((i + 1).toLong, id) }.toDF("rank", idCol)
  }

  /** The distributed coreset: one exact `id % p` exchange → per-partition
    * GMM(k′) with delegate weights → coreset-only collect, sorted by id.
    */
  def coreset(spark: SparkSession, sfDir: String): IndexedSeq[WeightedPt] =
    coresetAt(spark, sfDir, coresetParallelism(spark))

  /** [[coreset]] at an explicit fan-out — the seam PipelineOpsSpec uses to
    * pin p-invariance at fixture scale (p=1 vs p=32 yield the same k=32
    * selection end-to-end, through the shuffle/collect serialization
    * boundary, because local coresets COVER their ≤ n/p-sized partitions).
    */
  private[graft] def coresetAt(spark: SparkSession, sfDir: String, p: Int): IndexedSeq[WeightedPt] = {
    import spark.implicits._
    kernelRows(spark, sfDir, p)
      .as[(Long, Array[Float], Long)]
      .collect()
      .map { case (id, center, weight) => WeightedPt(id, center, weight) }
      .sortBy(_.id)
      .toIndexedSeq
  }

  /** Spark's own exact residue exchange, a `ShuffleExchangeExec` that
    * EXPLAIN shows: partition r holds exactly the rows with key % p = r. A
    * `repartition(p, pmod(key, p))` instead HASHES the residue and lumps
    * classes (the r8 defect), which breaks the covering condition the
    * coreset's p-invariance rests on.
    */
  private def byResidue[T](ds: Dataset[T], key: Column, p: Int): Dataset[T] =
    ds.repartitionById(p, pmod(key, lit(p.toLong)).cast("int"))

  /** The coreset's kernel rows `(id, center, weight)`: the embeddings go
    * through [[byResidue]] into [[graft.plans.CoresetPlan]] →
    * `CoresetStrategy` → `CoresetExec`, which folds each residue class with
    * [[MapReduceCoreset.localCoreset]].
    */
  private def kernelRows(spark: SparkSession, sfDir: String, p: Int): DataFrame = {
    val child = byResidue(
      Tables.embeddings(spark, sfDir).select(col("vec_id").as("id"), col("embedding")),
      col("id"), p)
    org.apache.spark.sql.graftbridge.GraftPlanBridge.ofRows(
      spark, graft.plans.CoresetPlan(child.queryExecution.analyzed, KPrime, p))
  }

  private def coresetPoints(spark: SparkSession, sfDir: String): IndexedSeq[Pt] =
    coreset(spark, sfDir).map(w => Pt(w.id, w.vec))

  /** GMM selection of k from the composable coreset. */
  def selectDiverse(spark: SparkSession, sfDir: String, k: Int): IndexedSeq[Pt] =
    Gmm.select(coresetPoints(spark, sfDir), k)

  /** The k ∈ {8, 16, 32} sweep: GMM is prefix-greedy, so the k=8/16 sets
    * are prefixes of the k=32 run.
    */
  private def prefixSweep(spark: SparkSession, sfDir: String): Seq[(Long, IndexedSeq[Pt])] = {
    val sel32 = selectDiverse(spark, sfDir, 32)
    Seq(8, 16, 32).map(k => (k.toLong, sel32.take(k)))
  }

  /** W+: the coreset's kernel rows as a query — the same
    * [[graft.plans.CoresetPlan]] rows [[coreset]] collects, so the operator
    * is visible to EXPLAIN and the planner instead of hiding in a
    * mapPartitions closure. Declared rows-only (the kernel is not
    * SQL-expressible); CoresetPlanSpec asserts it against an RDD replica of
    * the exact residue partitioning, and weight-mass conservation. Output
    * summarizes each kernel row reproducibly: (id, weight, 6-dp center
    * norm). The p·k′ rows are sorted on one partition, as
    * [[diverseByLabel]]'s are: a range `orderBy` samples its input in a
    * job of its own, which would run every local GMM(k′) twice, and
    * `coalesce(1)` would put every residue class in one task.
    */
  def coresetExecK64(spark: SparkSession, sfDir: String): DataFrame =
    kernelRows(spark, sfDir, coresetParallelism(spark))
      .select(
        col("id"), col("weight"),
        round(sqrt(expr(
          "aggregate(center, 0D, (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 6)
          .as("c_norm"))
      .repartition(1)
      .sortWithinPartitions(col("id"))

  /** W: deterministic GMM k=32 → (rank, vec_id). No oracle (not
    * SQL-expressible); invariants are property-tested in scalatest.
    */
  def gmmDiverseK32(spark: SparkSession, sfDir: String): DataFrame =
    ranked(spark, selectDiverse(spark, sfDir, 32).map(_.id), "vec_id")

  /** W: the R2 LOCAL-SEARCH heuristic declared directly (previously only
    * reachable through [[remoteCliqueDiv]]'s objective comparison): same
    * coreset path as [[gmmDiverseK32]], [[HeuristicBudget]]-bounded pool,
    * swap-improvement selection of k=32. Rows-only (not SQL-expressible);
    * determinism is spec-pinned.
    */
  def localSearchK32(spark: SparkSession, sfDir: String): DataFrame =
    ranked(spark, Heuristics.localSearch(heuristicPool(coresetPoints(spark, sfDir)), 32).map(_.id),
      "vec_id")

  /** W: the R3 MATCHING heuristic (greedy farthest pairs) declared
    * directly — same pool as [[localSearchK32]].
    */
  def matchingK32(spark: SparkSession, sfDir: String): DataFrame =
    ranked(spark, Heuristics.matching(heuristicPool(coresetPoints(spark, sfDir)), 32).map(_.id),
      "vec_id")

  /** W: remote-edge (plus star/tree) objective values of the chosen k=32. */
  def remoteEdgeDiv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sel = selectDiverse(spark, sfDir, 32)
    Seq((
      sel.size.toLong,
      r6(Diversity.remoteEdge(sel)),
      r6(Diversity.remoteStar(sel)),
      r6(Diversity.remoteTree(sel))
    )).toDF("k", "remote_edge", "remote_star", "remote_tree")
  }

  /** W: the R4 remote-star evaluator as its own declared query — min over
    * centers c of Σ d(c, v) for the chosen GMM k=32 set, with the k-sweep
    * (8/16/32) a reference experiment reports. Values for the same set are
    * also carried as a column of [[remoteEdgeDiv]]; this entry makes the
    * evaluator itself first-class (driver-checked rows, not just a column
    * ride-along). Rows-only: the kernel selection is not SQL-expressible.
    */
  def remoteStarDiv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    prefixSweep(spark, sfDir)
      .map { case (k, sel) => (k, r6(Diversity.remoteStar(sel))) }
      .toDF("k", "remote_star")
  }

  /** W: the R4 remote-tree (MST weight) evaluator declared directly —
    * same prefix k-sweep as [[remoteStarDiv]]. The MST invariants
    * (tree ≥ (k−1)·edge, tree ≤ clique) are spec-pinned through this
    * declared path in DiversityOpsSpec.
    */
  def remoteTreeDiv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    prefixSweep(spark, sfDir)
      .map { case (k, sel) => (k, r6(Diversity.remoteTree(sel))) }
      .toDF("k", "remote_tree")
  }

  /** W: the R4 bipartition (greedy max-cut heuristic) and cycle
    * (nearest-neighbor TSP approximation) evaluators declared directly —
    * same prefix k-sweep as [[remoteStarDiv]]. With these two, every R4
    * evaluator in Diversity.scala is a driver-checked query (edge/clique/
    * star/tree exact, bipartition/cycle the documented heuristics); their
    * values also ride [[remoteCliqueDiv]]'s k=32 row, which pins
    * cross-entry consistency through the specs.
    */
  def remoteBipartitionCycleDiv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    prefixSweep(spark, sfDir)
      .map { case (k, sel) =>
        (k, r6(Diversity.remoteBipartitionGreedy(sel)), r6(Diversity.remoteCycleApprox(sel)))
      }
      .toDF("k", "remote_bipartition", "remote_cycle")
  }

  /** W: remote-clique objectives — GMM set vs matching-heuristic set vs
    * local-search set, plus heuristic bipartition/cycle values.
    *
    * The union coreset is first bounded to [[HeuristicBudget]] points (see
    * there) so driver-side heuristic cost is independent of p. GMM is
    * prefix-greedy with a deterministic tie-break, so
    * `Gmm.select(bounded, 32)` equals `Gmm.select(cs, 32)` exactly — the
    * re-coreset changes only the swap/pair pool the heuristics search.
    */
  def remoteCliqueDiv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wcs = coreset(spark, sfDir)
    val bounded = heuristicPool(wcs.map(w => Pt(w.id, w.vec)))
    // weight-carrying bound for the weighted search: re-coreset with mass
    // conservation (Gmm.weightedMass), not count-reset delegate weighting
    val boundedW = if (wcs.size <= HeuristicBudget) wcs else Gmm.weightedMass(wcs, bounded)
    val gmmSet = Gmm.select(bounded, 32)
    val matchSet = Heuristics.matching(bounded, 32)
    val lsSet = Heuristics.localSearch(bounded, 32)
    val lsWSet = Heuristics.localSearchWeighted(boundedW, 32)
    Seq((
      32L,
      r6(Diversity.remoteClique(gmmSet)),
      r6(Diversity.remoteClique(matchSet)),
      r6(Diversity.remoteClique(lsSet)),
      r6(Diversity.remoteClique(lsWSet)),
      r6(Diversity.remoteBipartitionGreedy(gmmSet)),
      r6(Diversity.remoteCycleApprox(gmmSet))
    )).toDF("k", "clique_gmm", "clique_matching", "clique_localsearch",
      "clique_localsearch_weighted", "bipartition_greedy", "cycle_mst2approx")
  }

  /** Diverse bag-of-words selection over `(doc_id, text)` rows (the
    * doc-path analogue of [[coreset]]): bag-of-words per doc, the exact
    * `doc_id % p` exchange ([[byResidue]]) → per-partition GMM(32) under
    * generalized Jaccard → coreset-only collect, sorted by id → GMM k=16,
    * as (rank, doc_id). p from [[coresetParallelism]] — same scale posture
    * as the embedding path; raw text/bags beyond the coreset never reach
    * the driver.
    */
  private def diverseDocs(spark: SparkSession, docs: Dataset[(Long, String)]): DataFrame = {
    import spark.implicits._
    val bags = docs.map { case (id, text) =>
      (id, Distance.bagOfWords(text.split(' ').toSeq.filter(_.nonEmpty)))
    }
    val cs = byResidue(bags, col("_1"), coresetParallelism(spark))
      .mapPartitions { it =>
        val pts = it.toVector
        if (pts.isEmpty) Iterator.empty
        else Gmm.selectBy(pts, 32)(Distance.generalizedJaccardDist).iterator
      }(bags.encoder)
      .collect()
      .sortBy(_._1)
      .toSeq
    ranked(spark, Gmm.selectBy(cs, 16)(Distance.generalizedJaccardDist).map(_._1), "doc_id")
  }

  /** W+: diverse DOCUMENT selection — the reference's algorithm applied to
    * the sparse text model: bag-of-words per doc, generalized-Jaccard
    * distance, composable-coreset path (per-partition GMM(32) via
    * [[Gmm.selectBy]], coreset-only collect, final GMM k=16). This is the
    * diversity-sampling step of a training-data curation pipeline: pick
    * maximally-unlike documents, never collecting raw text beyond the
    * coreset. No oracle (not SQL-expressible); determinism as §7.3.4.
    */
  def diverseDocsK16(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    diverseDocs(spark,
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")).as[(Long, String)])
  }

  /** Quality-gated docs (doc_id, text): the map-side-only stage of the
    * curation pipeline — type-token ratio × doc length, pure codegen'd
    * expressions, no shuffle.
    */
  private def gatedDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("ttr", size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      // quality gate: enough tokens and vocabulary actually varies
      .filter(col("n_tokens") >= 8 && col("ttr") >= 0.3)
      .select(col("doc_id"), col("text"))

  /** Exact-dedup survivors of the gated docs, via the same content
    * FINGERPRINT key as [[TextOps.dedupDocsExact]]: the dedup shuffle moves
    * (length, xxhash64, md5) ≈ 24 bytes/row, never the text payload. The
    * survivor TEXT is then recovered by a doc_id semi-join in which the
    * survivor-id side is bounded derived state (min-per-fingerprint ids):
    * under the threshold it is collected + broadcast, so NO exchange in the
    * whole subplan carries raw text (asserted in PipelineOpsSpec); above it
    * a distributed semi-join on the 8-byte doc_id key takes over — still
    * cheaper than the old groupBy(text), whose hash key WAS the payload.
    */
  private[operators] def curateSurvivorDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gate = gatedDocs(spark, sfDir)
    val survivorIds = Materialize.stage(spark, s"curate_survivors_$sfDir", sfDir) {
      gate
        .select(
          col("doc_id"),
          length(col("text")).as("fp_len"),
          xxhash64(col("text")).as("fp_x"),
          md5(col("text")).as("fp_m"))
        .groupBy(col("fp_len"), col("fp_x"), col("fp_m"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
    }
    val nSurvivors = survivorIds.count() // cheap: count over the staged file
    val idSide =
      if (nSurvivors <= 1000000L)
        broadcast(survivorIds.as[Long].collect().toSeq.toDF("doc_id"))
      else survivorIds
    gate.join(idSide, Seq("doc_id"), "left_semi")
  }

  /** W+: end-to-end corpus curation — the composed training-data pipeline
    * run as ONE query: (1) quality gate (type-token ratio × doc length,
    * pure codegen'd expressions), (2) exact dedup keeping the min-doc_id
    * survivor via a content-fingerprint shuffle ([[curateSurvivorDocs]] —
    * raw text never rides an exchange), (3) diversity sampling k=16 via the
    * bag-of-words Jaccard coreset path of [[diverseDocsK16]]. Shows the
    * engine's operators compose: at 100 TB each stage keeps its own scale
    * posture (map-side filters → fingerprint shuffle → coreset-only
    * collect). Deterministic; rows-only (diversity selection is not
    * SQL-expressible).
    */
  def curateCorpusK16(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    diverseDocs(spark, curateSurvivorDocs(spark, sfDir).as[(Long, String)])
  }

  /** W: one-pass streaming coreset (kernel budget 64) over the embeddings in
    * ascending vec_id order → (vec_id, weight) kernels. The streaming model
    * is sequential by definition ([VLDB17] §5), so the fold is one task;
    * `coalesce(1)` makes it the scan task itself: the points are read,
    * sorted by id and folded where they are read, with no exchange and no
    * serialization round trip in between. The scale path is per-partition
    * coresets composed by [[coreset]].
    */
  def coresetStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .as[Pt]
      .coalesce(1)
      .sortWithinPartitions(col("id"))
      .mapPartitions { it =>
        val sc = new StreamingCoreset(64)
        it.foreach(sc.update)
        sc.result().iterator
      }
      .select(col("id").as("vec_id"), col("weight"))
      .orderBy(col("vec_id"))
  }

  /** W+: GROUPED diversity — one bounded streaming coreset PER LABEL: the
    * class-balanced diverse-sampling op (pick ≤ m spread-out
    * representatives from every class, with delegate weights), i.e. the
    * R6 doubling coreset applied per group instead of per partition.
    *
    * One label shuffle: `repartition(label)`, a spill-safe secondary sort
    * by (label, vec_id), and one [[StreamingCoreset.foldGroups]] per
    * partition, which folds each label's points in ascending id and emits
    * on label change. So each label's kernels are exactly the sequential
    * per-label fold, whatever p or the scheduling, with no precondition.
    * No partial coresets per (label, id range) come first: a partial
    * smaller than m keeps every point, so the merge would refold every
    * point on one task per label (this plan's parallelism) after a second
    * shuffle and sort of the whole table; a partial larger than m
    * summarizes, and then the output is only an approximation of the
    * per-label fold. The ≤ m kernel rows per label are sorted on one
    * partition, because a range `orderBy` samples its input in a job of
    * its own, which would read the label shuffle and run the fold twice.
    * Rows-only (kernel selection is not SQL-expressible);
    * determinism/mass/budget are spec-pinned.
    */
  def diverseByLabel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = 16
    Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .repartition(col("label"))
      .sortWithinPartitions(col("label"), col("vec_id"))
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        StreamingCoreset.foldGroups(it.map { case (l, id, emb) => (l, Pt(id, emb), 1L) }, m)
          .map { case (l, k) => (l, k.id, k.weight) }
      }
      .toDF("label", "vec_id", "weight")
      .repartition(1)
      .sortWithinPartitions(col("label"), col("vec_id"))
  }
}
