package graft

import graft.diversity._
import graft.operators.DiversityOps

/** Experiment runner in the reference's style (operator R9): sweep k over
  * the embedding fixture, run GMM / local-search / matching over the
  * distributed coreset, and report objective values + timings — the
  * approximation-quality story the reference's paper tables tell.
  * Usage: runMain graft.Experiments [sfDir]
  */
object Experiments {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (coreset, tCoreset) = timed(DiversityOps.coreset(spark, sfDir))
    val pts = coreset.map(w => Pt(w.id, w.vec))
    println(f"coreset: p=${DiversityOps.coresetParallelism(spark)} k'=${DiversityOps.KPrime} " +
      f"size=${coreset.size} mass=${coreset.map(_.weight).sum} build=${tCoreset}%.2fs")
    println(f"${"k"}%4s ${"algo"}%-12s ${"remote_edge"}%12s ${"remote_clique"}%14s ${"time_s"}%8s")
    for (k <- Seq(8, 32, 128)) {
      val (gmmSel, tG) = timed(Gmm.select(pts, k))
      val (lsSel, tL) = timed(Heuristics.localSearch(pts, k))
      val (mSel, tM) = timed(Heuristics.matching(pts, k))
      for ((name, sel, t) <- Seq(("gmm", gmmSel, tG), ("local-search", lsSel, tL), ("matching", mSel, tM))) {
        println(f"$k%4d $name%-12s ${Diversity.remoteEdge(sel)}%12.4f " +
          f"${Diversity.remoteClique(sel)}%14.2f $t%8.3f")
      }
    }

    // A/B for the remoteCliqueDiv driver-cost bound: heuristics over the
    // FULL p-scaled union coreset (grows with cluster size) vs over the
    // fixed HeuristicBudget re-coreset (O(1) in cluster size). Shows the
    // wall-clock delta AND that the remote-clique quality is preserved.
    val (bounded, tBound) = timed(
      if (pts.size <= DiversityOps.HeuristicBudget) pts
      else Gmm.select(pts, DiversityOps.HeuristicBudget))
    println(f"%nheuristic pool A/B at k=32 (union=${pts.size}, budget=${bounded.size}, re-coreset ${tBound}%.3fs):")
    for ((name, heuristic) <- Seq[(String, Seq[Pt] => IndexedSeq[Pt])](
        ("local-search", Heuristics.localSearch(_, 32)),
        ("matching", Heuristics.matching(_, 32)))) {
      val (fSel, tF) = timed(heuristic(pts))
      val (bSel, tB) = timed(heuristic(bounded))
      println(f"  $name%-12s full=${tF}%7.3fs clique=${Diversity.remoteClique(fSel)}%10.2f | " +
        f"bounded=${tB}%7.3fs clique=${Diversity.remoteClique(bSel)}%10.2f")
    }
    // ANN quality: recall@5 of the two IVF variants against the exact
    // cosine top-k at this SF — the approximation-vs-speed trade the scale
    // path rests on (EXPERIMENTS.md "ANN recall").
    val exact = graft.operators.VectorOps.cosTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    for ((name, df) <- Seq(
        "ivf_sign_lsh" -> graft.operators.VectorOps.cosTopkIvf(spark, sfDir),
        "ivf_kmeans" -> graft.operators.VectorOps.cosTopkIvfKmeans(spark, sfDir),
        "rplsh" -> graft.operators.VectorOps.cosTopkRplsh(spark, sfDir),
        "pq" -> graft.operators.VectorOps.cosTopkPq(spark, sfDir))) {
      val rows = df.collect()
      // fail loudly on an empty variant: NaN recall over 0 results could be
      // transcribed into EXPERIMENTS.md as a silent non-measurement
      require(rows.nonEmpty, s"ann $name returned 0 rows — recall undefined")
      val hits = rows.count(r => exact.contains((r.getLong(0), r.getLong(2))))
      println(f"ann $name%-12s recall@5=${hits.toDouble / rows.length}%.3f over ${rows.length} results")
    }

    // Per-label grouped streaming coreset (diverse_by_label) vs the
    // sequential exact baseline: for each label, remote-edge of the m=16
    // streamed kernel ids against GMM(16) run sequentially on the label's
    // FULL point set — the approximation ratio the doubling-coreset theory
    // bounds, measured instead of assumed.
    {
      import spark.implicits._
      val kernels = DiversityOps.diverseByLabel(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      val byLabel = graft.sources.Tables.embeddings(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("label").cast("long"),
          org.apache.spark.sql.functions.col("vec_id").cast("long"),
          org.apache.spark.sql.functions.col("embedding"))
        .as[(Long, Long, Array[Float])].collect().groupBy(_._1)
      val ratios = byLabel.toSeq.sortBy(_._1).map { case (label, rows) =>
        val pts = rows.map { case (_, id, emb) => Pt(id, emb) }.toIndexedSeq
        val ptById = pts.map(p => p.id -> p).toMap
        val streamed = kernels(label).map { case (_, id) => ptById(id) }.toIndexedSeq
        val seqSel = Gmm.select(pts, streamed.length)
        val ratio = Diversity.remoteEdge(streamed) / Diversity.remoteEdge(seqSel)
        println(f"diverse_by_label label=$label%2d n=${pts.length}%6d kernels=${streamed.length}%3d " +
          f"edge_stream=${Diversity.remoteEdge(streamed)}%8.4f edge_gmm=${Diversity.remoteEdge(seqSel)}%8.4f ratio=$ratio%6.3f")
        ratio
      }
      println(f"diverse_by_label edge-ratio min=${ratios.min}%.3f mean=${ratios.sum / ratios.size}%.3f over ${ratios.size} labels")
    }
    spark.stop()
  }
}
