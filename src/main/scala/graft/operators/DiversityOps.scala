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

  private def points(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => Pt(id, v) }
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

  /** GMM selection of k from the composable coreset. */
  def selectDiverse(spark: SparkSession, sfDir: String, k: Int): IndexedSeq[Pt] =
    Gmm.select(coreset(spark, sfDir).map(w => Pt(w.id, w.vec)), k)

  /** W+: the coreset's kernel rows as a query — the same
    * [[graft.plans.CoresetPlan]] rows [[coreset]] collects, so the operator
    * is visible to EXPLAIN and the planner instead of hiding in a
    * mapPartitions closure. Declared rows-only (the kernel is not
    * SQL-expressible); CoresetPlanSpec asserts it against an RDD replica of
    * the exact residue partitioning, and weight-mass conservation. Output
    * summarizes each kernel row reproducibly: (id, weight, 6-dp center
    * norm).
    */
  def coresetExecK64(spark: SparkSession, sfDir: String): DataFrame =
    kernelRows(spark, sfDir, coresetParallelism(spark))
      .select(
        col("id"), col("weight"),
        round(sqrt(expr(
          "aggregate(center, 0D, (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 6)
          .as("c_norm"))
      .orderBy(col("id"))

  /** W: deterministic GMM k=32 → (rank, vec_id). No oracle (not
    * SQL-expressible); invariants are property-tested in scalatest.
    */
  def gmmDiverseK32(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sel = selectDiverse(spark, sfDir, 32)
    sel.zipWithIndex
      .map { case (p, i) => ((i + 1).toLong, p.id) }
      .toDF("rank", "vec_id")
  }

  /** W: the R2 LOCAL-SEARCH heuristic declared directly (previously only
    * reachable through [[remoteCliqueDiv]]'s objective comparison): same
    * coreset path as [[gmmDiverseK32]], [[HeuristicBudget]]-bounded pool,
    * swap-improvement selection of k=32. Rows-only (not SQL-expressible);
    * determinism is spec-pinned.
    */
  def localSearchK32(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cs = coreset(spark, sfDir).map(w => Pt(w.id, w.vec))
    val bounded = if (cs.size <= HeuristicBudget) cs else Gmm.select(cs, HeuristicBudget)
    Heuristics.localSearch(bounded, 32).zipWithIndex
      .map { case (p, i) => ((i + 1).toLong, p.id) }
      .toDF("rank", "vec_id")
  }

  /** W: the R3 MATCHING heuristic (greedy farthest pairs) declared
    * directly — same pool as [[localSearchK32]].
    */
  def matchingK32(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cs = coreset(spark, sfDir).map(w => Pt(w.id, w.vec))
    val bounded = if (cs.size <= HeuristicBudget) cs else Gmm.select(cs, HeuristicBudget)
    Heuristics.matching(bounded, 32).zipWithIndex
      .map { case (p, i) => ((i + 1).toLong, p.id) }
      .toDF("rank", "vec_id")
  }

  /** W: remote-edge (plus star/tree) objective values of the chosen k=32. */
  def remoteEdgeDiv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sel = selectDiverse(spark, sfDir, 32)
    Seq((
      sel.size.toLong,
      math.rint(Diversity.remoteEdge(sel) * 1e6) / 1e6,
      math.rint(Diversity.remoteStar(sel) * 1e6) / 1e6,
      math.rint(Diversity.remoteTree(sel) * 1e6) / 1e6
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
    val sel32 = selectDiverse(spark, sfDir, 32)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // GMM is prefix-greedy: the k=8/16 sets are prefixes of the k=32 run.
    Seq(8, 16, 32).map { k =>
      val sel = sel32.take(k)
      (k.toLong, r6(Diversity.remoteStar(sel)))
    }.toDF("k", "remote_star")
  }

  /** W: the R4 remote-tree (MST weight) evaluator declared directly —
    * same prefix k-sweep as [[remoteStarDiv]]. The MST invariants
    * (tree ≥ (k−1)·edge, tree ≤ clique) are spec-pinned through this
    * declared path in DiversityOpsSpec.
    */
  def remoteTreeDiv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sel32 = selectDiverse(spark, sfDir, 32)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    Seq(8, 16, 32).map { k =>
      val sel = sel32.take(k)
      (k.toLong, r6(Diversity.remoteTree(sel)))
    }.toDF("k", "remote_tree")
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
    val sel32 = selectDiverse(spark, sfDir, 32)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    Seq(8, 16, 32).map { k =>
      val sel = sel32.take(k)
      (k.toLong, r6(Diversity.remoteBipartitionGreedy(sel)), r6(Diversity.remoteCycleApprox(sel)))
    }.toDF("k", "remote_bipartition", "remote_cycle")
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
    val cs = wcs.map(w => Pt(w.id, w.vec))
    val bounded = if (cs.size <= HeuristicBudget) cs else Gmm.select(cs, HeuristicBudget)
    // weight-carrying bound for the weighted search: re-coreset with mass
    // conservation (Gmm.weightedMass), not count-reset delegate weighting
    val boundedW =
      if (wcs.size <= HeuristicBudget) wcs
      else Gmm.weightedMass(wcs, Gmm.select(cs, HeuristicBudget))
    val gmmSet = Gmm.select(bounded, 32)
    val matchSet = Heuristics.matching(bounded, 32)
    val lsSet = Heuristics.localSearch(bounded, 32)
    val lsWSet = Heuristics.localSearchWeighted(boundedW, 32)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
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

  /** Composable bag-of-words coreset (the doc-path analogue of
    * [[coreset]]): the exact `doc_id % p` exchange ([[byResidue]]) →
    * per-partition GMM(32) under generalized Jaccard → coreset-only
    * collect, sorted by id.
    * p from [[coresetParallelism]] — same scale posture as the embedding
    * path; raw text/bags beyond the coreset never reach the driver.
    */
  private def docCoreset(
      spark: SparkSession,
      docs: org.apache.spark.sql.Dataset[(Long, Map[String, Int])])
      : Seq[(Long, Map[String, Int])] = {
    val p = coresetParallelism(spark)
    byResidue(docs, col("_1"), p)
      .mapPartitions { it =>
        val pts = it.toVector
        if (pts.isEmpty) Iterator.empty
        else Gmm.selectBy(pts, 32)(Distance.generalizedJaccardDist).iterator
      }(docs.encoder)
      .collect()
      .sortBy(_._1)
      .toSeq
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
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, Distance.bagOfWords(text.split(' ').toSeq.filter(_.nonEmpty)))
      }
    val sel = Gmm.selectBy(docCoreset(spark, docs), 16)(Distance.generalizedJaccardDist)
    sel.zipWithIndex
      .map { case ((id, _), i) => ((i + 1).toLong, id) }
      .toDF("rank", "doc_id")
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
    val docs = curateSurvivorDocs(spark, sfDir)
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, Distance.bagOfWords(text.split(' ').toSeq.filter(_.nonEmpty)))
      }
    val sel = Gmm.selectBy(docCoreset(spark, docs), 16)(Distance.generalizedJaccardDist)
    sel.zipWithIndex
      .map { case ((id, _), i) => ((i + 1).toLong, id) }
      .toDF("rank", "doc_id")
  }

  /** W: one-pass streaming coreset (kernel budget 64) over the embeddings in
    * ascending vec_id order → (vec_id, weight) kernels. Single-partition
    * fold — the streaming model is sequential by definition ([VLDB17] §5);
    * the scale path is per-partition streaming coresets composed by
    * [[coreset]].
    */
  def coresetStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    points(spark, sfDir)
      .repartition(1)
      .sortWithinPartitions(col("id"))
      .mapPartitions { it =>
        val sc = new StreamingCoreset(64)
        it.foreach(sc.update)
        sc.result().iterator
      }
      .select(col("id").as("vec_id"), col("weight"))
      .orderBy(col("vec_id"))
  }

  /** Contiguous id-range width for [[diverseByLabel]]'s map-side partial
    * coresets. Sized so a per-(label, range) group stays ≤ the kernel
    * budget m=16 on every fixture (measured max 10 at sf0.001…sf1) — then
    * a partial COVERS its group (no summarization, δ=0, unit weights) and
    * replaying partials in range order is EXACTLY the sequential per-label
    * fold (the same covering argument the p-invariance spec rests on).
    * Where a group exceeds m (a pathological id-label correlation), the
    * partial summarizes and the merge degrades gracefully to the
    * composable-coreset approximation — deterministic either way, since
    * range boundaries are data-independent.
    */
  private[graft] val DiverseByLabelRangeWidth = 32L

  /** W+: GROUPED diversity — one bounded streaming coreset PER LABEL: the
    * class-balanced diverse-sampling op (pick ≤ m spread-out
    * representatives from every class, with delegate weights), i.e. the
    * R6 doubling coreset applied per group instead of per partition.
    *
    * Two-stage partial merge (r9 — removes the r8 layout's parallelism
    * bound of ONE task per label): stage 1 folds a partial coreset per
    * (label, contiguous ⌊id/W⌋ range) — |labels| · n/W independent tasks
    * own the O(n·m) scan work; stage 2 re-shuffles only the ≤ m kernel
    * rows per partial and folds them per label in (range, id) order —
    * O(kernels·m) on the label task, not O(n·m). Determinism without a
    * driver loop at BOTH stages: hash routing of the group key is
    * deterministic, `sortWithinPartitions` is the spill-safe secondary
    * sort, and each fold emits on group-key change, so kernel sets depend
    * only on their own sorted inputs, never on p or scheduling. With the
    * [[DiverseByLabelRangeWidth]] cover condition the output is
    * bit-identical to the single-pass per-label fold (spec-pinned
    * merge == fold). At 100 TB: few-label corpora no longer serialize —
    * the scan stage fans out with n; per-task state is ONE live coreset
    * (O(m)). Rows-only (kernel selection is not SQL-expressible);
    * determinism/mass/budget are spec-pinned.
    */
  def diverseByLabel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = 16
    val w = DiverseByLabelRangeWidth
    val partials = Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        floor(col("vec_id") / w).cast("long").as("rng"),
        col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .repartition(col("label"), col("rng"))
      .sortWithinPartitions(col("label"), col("rng"), col("vec_id"))
      .as[(Long, Long, Long, Array[Float])]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Array[Float], Long)]()
        var curL = 0L; var curR = 0L
        var cs: StreamingCoreset = null
        def flush(): Unit =
          if (cs != null) cs.result().foreach(k => out += ((curL, curR, k.id, k.vec, k.weight)))
        it.foreach { case (l, r, id, emb) =>
          if (cs == null || l != curL || r != curR) {
            flush(); curL = l; curR = r; cs = new StreamingCoreset(m)
          }
          cs.update(Pt(id, emb))
        }
        flush()
        out.iterator
      }
    partials
      .toDF("label", "rng", "vec_id", "embedding", "weight")
      .repartition(col("label"))
      .sortWithinPartitions(col("label"), col("rng"), col("vec_id"))
      .as[(Long, Long, Long, Array[Float], Long)]
      .mapPartitions { it =>
        val res = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        var cur = 0L
        var cs: StreamingCoreset = null
        def flush(): Unit =
          if (cs != null) cs.result().foreach(k => res += ((cur, k.id, k.weight)))
        it.foreach { case (l, _, id, emb, kw) =>
          if (cs == null || l != cur) { flush(); cur = l; cs = new StreamingCoreset(m) }
          cs.updateWeighted(Pt(id, emb), kw)
        }
        flush()
        res.iterator
      }
      .toDF("label", "vec_id", "weight")
      .orderBy(col("label"), col("vec_id"))
  }
}
