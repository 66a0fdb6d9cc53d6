package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.diversity.{Diversity, Gmm, Heuristics, Pt, WeightedPt}
import graft.operators.DiversityOps
import graft.streaming.StreamingEntry

final case class Check(name: String, ok: Boolean, detail: String)

/** One closed-loop workload: a single driver thread issues the next
  * operation only after the previous one completes.
  */
trait Workload {
  /** Operation kinds of one pass, in order. */
  def pass: IndexedSeq[String]

  /** Warm-up: runs every operation kind at least once, untimed, records the
    * reference outputs and returns the run-level output checks.
    */
  def setUp(): Seq[Check]

  /** One timed operation. The returned thunk checks its output; the caller
    * runs it outside the timed region. `Some(problem)` is a failed check.
    */
  def run(kind: String): () => Option[String]

  /** Layer metrics that only this workload can attribute (stage roles). */
  def layerMetrics(kind: String, t: OpTrace): Map[String, Double]

  /** Quality of the program's output on this input, computed once per run
    * outside the timed operations: `remote_edge`, `remote_clique` and the
    * `coresetStream` kernel ids from which the runner computes
    * `stream_cover_radius`.
    */
  def quality(): Map[String, Any]
}

object Workload {
  val K = 32

  /** Every workload-specific layer metric, so each traced run reports all. */
  val specificMetrics: Seq[String] = Seq(
    "diversity.coreset_task_s", "diversity.coreset_points", "diversity.gmm_dist_evals",
    "diversity.stream_fold_task_s")

  def apply(name: String, spark: SparkSession, dir: String, n: Long, t: Tracer): Workload = name match {
    case "coreset_select" => new CoresetSelect(spark, dir, n, t)
    case "coreset_stream" => new CoresetStream(spark, dir, n, t)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's MapReduce pipeline as one operation, made of public calls:
  * the composable coreset (one `id % p` shuffle, local GMM(k′) with
  * delegate weights, collect of p·k′ points), the GMM re-coreset to the
  * heuristic budget, and the driver-side heuristics and objectives.
  */
final case class Selection(
    coreset: IndexedSeq[WeightedPt], gmm: IndexedSeq[Pt], localSearch: IndexedSeq[Pt],
    matching: IndexedSeq[Pt], remoteEdge: Double, remoteClique: Double) {
  def ids: Seq[Seq[Long]] = Seq(gmm, localSearch, matching).map(_.map(_.id))
}

object Selection {
  def run(spark: SparkSession, dir: String, t: Tracer): Selection = {
    val cs = t.span("operators", "DiversityOps.coreset")(DiversityOps.coreset(spark, dir))
    t.count("diversity.coreset_points", cs.size.toDouble)
    val pts = cs.map(w => Pt(w.id, w.vec))
    val bounded =
      if (pts.size <= DiversityOps.HeuristicBudget) pts
      else t.span("diversity", "Gmm.select")(Gmm.select(pts, DiversityOps.HeuristicBudget))
    val gmm = t.span("diversity", "Gmm.select")(Gmm.select(bounded, Workload.K))
    val ls = t.span("diversity", "Heuristics.localSearch")(Heuristics.localSearch(bounded, Workload.K))
    val mt = t.span("diversity", "Heuristics.matching")(Heuristics.matching(bounded, Workload.K))
    val edge = t.span("diversity", "Diversity.remoteEdge")(Diversity.remoteEdge(gmm))
    val clique = t.span("diversity", "Diversity.remoteClique")(Diversity.remoteClique(ls))
    Selection(cs, gmm, ls, mt, edge, clique)
  }

  /** Output check of one operation; `None` when it passes. */
  def problem(s: Selection, n: Long, p: Int): Option[String] = {
    val mass = s.coreset.map(_.weight).sum
    val sizes = s.ids.map(ids => (ids.size, ids.distinct.size, ids.forall(i => i >= 0 && i < n)))
    if (mass != n) Some(s"coreset weights sum to $mass, expected $n")
    else if (s.coreset.size != p * DiversityOps.KPrime)
      Some(s"coreset has ${s.coreset.size} points, expected ${p * DiversityOps.KPrime}")
    else if (!sizes.forall(_ == ((Workload.K, Workload.K, true))))
      Some(s"a selection is not ${Workload.K} distinct input ids: $sizes")
    else None
  }
}

final class CoresetSelect(spark: SparkSession, dir: String, n: Long, t: Tracer) extends Workload {
  private val p = DiversityOps.coresetParallelism(spark)
  private var ref: Selection = _

  val pass: IndexedSeq[String] = IndexedSeq("select")

  def setUp(): Seq[Check] = {
    ref = Selection.run(spark, dir, t)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def clique(s: Seq[Pt]) = r6(Diversity.remoteClique(s))
    // The composition above must agree with the engine's own declared
    // diversity queries on the same input.
    val row = DiversityOps.remoteCliqueDiv(spark, dir).collect().head
    val declared = Seq("clique_gmm", "clique_matching", "clique_localsearch").map(c => row.getAs[Double](c))
    val composed = Seq(clique(ref.gmm), clique(ref.matching), clique(ref.localSearch))
    val gmmIds = DiversityOps.gmmDiverseK32(spark, dir).collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
    val problem = Selection.problem(ref, n, p)
    Seq(
      Check("selection", problem.isEmpty, problem.getOrElse("")),
      Check("remoteCliqueDiv equals the composition", declared == composed, s"declared $declared composed $composed"),
      Check("gmmDiverseK32 ids equal the composition", gmmIds == ref.gmm.map(_.id), s"declared $gmmIds"))
  }

  def run(kind: String): () => Option[String] = {
    val s = Selection.run(spark, dir, t)
    () => Selection.problem(s, n, p).orElse(
      if (s.ids == ref.ids && s.remoteEdge == ref.remoteEdge && s.remoteClique == ref.remoteClique) None
      else Some("selection differs from the warm-up selection"))
  }

  def layerMetrics(kind: String, tr: OpTrace): Map[String, Double] = {
    // The stage that reads the id % p shuffle runs MapReduceCoreset.localCoreset
    // on each partition; its tasks' shuffle-read rows are the partition sizes.
    val tasks = tr.stagesUnder("DiversityOps.coreset").map(tr.tasksOf)
      .maxByOption(_.map(_.shuffleReadRows).sum).getOrElse(IndexedSeq.empty)
    Map(
      "diversity.coreset_task_s" -> tasks.map(_.runMs).sum / 1e3,
      "diversity.gmm_dist_evals" -> tasks.map(_.shuffleReadRows * (2L * DiversityOps.KPrime - 1)).sum.toDouble)
  }

  def quality(): Map[String, Any] = Map(
    "remote_edge" -> ref.remoteEdge,
    "remote_clique" -> ref.remoteClique,
    "stream_kernel_ids" -> DiversityOps.coresetStream(spark, dir).collect().map(_.getLong(0)).toSeq)
}

/** The streaming side of the paper on the same input: a one-pass coreset,
  * a coreset per label, and the per-key coreset on the two stateful
  * streaming APIs. Each operation writes its result to the noop sink; an
  * observed digest (row count, weight sum, xor of row hashes) taken in the
  * same action is compared with the warm-up output, whose rows are checked
  * in full.
  */
final class CoresetStream(spark: SparkSession, dir: String, n: Long, t: Tracer) extends Workload {
  import CoresetStream._

  private val keyPoints = math.min(n, StreamKeyPoints)
  private val ops: IndexedSeq[Op] = IndexedSeq(
    Op("coresetStream", "DiversityOps.coresetStream", DiversityOps.coresetStream, None, 64, n, 1),
    Op("diverseByLabel", "DiversityOps.diverseByLabel", DiversityOps.diverseByLabel, Some("label"), 16, n, 10),
    Op("streamCoresetKeys", "StreamingEntry.streamCoresetKeys", StreamingEntry.streamCoresetKeys, Some("key"), 16,
      keyPoints, 4),
    Op("streamCoresetTws", "StreamingEntry.streamCoresetTws", StreamingEntry.streamCoresetTws, Some("key"), 16,
      keyPoints, 4))
  private val byKind = ops.map(o => o.kind -> o).toMap
  private val refDigest = mutable.Map[String, Seq[Any]]()
  private val refRows = mutable.Map[String, Seq[(Long, Long, Long)]]()

  val pass: IndexedSeq[String] = ops.map(_.kind)

  def setUp(): Seq[Check] = {
    val checks = ops.map { o =>
      val df = o.build(spark, dir)
      val obs = Observation()
      val rows = observed(df, obs).collect()
        .map(r => (o.group.map(g => r.getAs[Any](g).toString.toLong).getOrElse(0L), r.getAs[Long]("vec_id"), r.getAs[Long]("weight")))
        .toSeq
      refDigest(o.kind) = digest(obs)
      refRows(o.kind) = rows
      val problem = groupProblem(o, rows)
      Check(s"${o.kind} kernels", problem.isEmpty, problem.getOrElse(s"${rows.size} kernels"))
    }
    val same = refRows("streamCoresetKeys") == refRows("streamCoresetTws")
    checks :+ Check("flatMapGroupsWithState equals transformWithState", same, "")
  }

  /** Weights per group sum to the points that group consumed; no group has
    * more than m kernels; every kernel is an input point of its group.
    */
  private def groupProblem(o: Op, rows: Seq[(Long, Long, Long)]): Option[String] = {
    val expected = (0L until o.groups).map(g => g -> (o.points / o.groups + (if (g < o.points % o.groups) 1 else 0))).toMap
    val got = rows.groupBy(_._1)
    val mass = got.map { case (g, ks) => g -> ks.map(_._3).sum }
    if (mass != expected) Some(s"weights per group $mass, expected $expected")
    else if (got.exists(_._2.size > o.m)) Some(s"a group has more than ${o.m} kernels")
    else if (!rows.forall { case (g, id, _) => id >= 0 && id < o.points && id % o.groups == g })
      Some("a kernel is not one of its group's input points")
    else None
  }

  def run(kind: String): () => Option[String] = {
    val o = byKind(kind)
    val df = t.span("operators", o.builder)(o.build(spark, dir))
    val obs = Observation()
    t.span("exec", "noop write")(observed(df, obs).write.format("noop").mode("overwrite").save())
    () => {
      val d = digest(obs)
      if (d == refDigest(kind)) None else Some(s"output digest $d differs from the warm-up ${refDigest(kind)}")
    }
  }

  def layerMetrics(kind: String, tr: OpTrace): Map[String, Double] =
    if (kind != "coresetStream") Map.empty
    else {
      // The fold runs as the one single-task stage that does real work.
      val single = tr.stageTasks.collect { case (st, 1) => tr.tasksOf(st).map(_.runMs).sum }
      Map("diversity.stream_fold_task_s" -> (if (single.isEmpty) 0.0 else single.max / 1e3))
    }

  def quality(): Map[String, Any] = {
    val s = Selection.run(spark, dir, t)
    Map(
      "remote_edge" -> s.remoteEdge,
      "remote_clique" -> s.remoteClique,
      "stream_kernel_ids" -> refRows("coresetStream").map(_._2))
  }
}

object CoresetStream {
  /** `StreamingEntry` feeds the first 1024 points, by vec_id, to its stream. */
  val StreamKeyPoints = 1024L

  /** One operation kind. Its input is the first `points` points by vec_id,
    * grouped by `vec_id % groups` (output column `group`), with at most `m`
    * kernels per group.
    */
  final case class Op(kind: String, builder: String, build: (SparkSession, String) => DataFrame,
      group: Option[String], m: Int, points: Long, groups: Int)

  /** `df` with its output digest attached: row count, weight sum and the
    * xor of the row hashes, computed in whatever action runs it.
    */
  private def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("rows"), sum(col("weight")).as("weight"),
      bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)).as("hash"))

  private def digest(obs: Observation): Seq[Any] = {
    val m = obs.get
    Seq(m("rows"), m("weight"), m("hash"))
  }
}
