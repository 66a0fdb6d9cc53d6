package graft.diversity

import scala.collection.mutable.ArrayBuffer

/** The dense GMM kernels as they were before the fused farthest-first loop
  * ([[Gmm.traverse]]) replaced them, kept verbatim as the reference the
  * specs compare the loop against: a separate selection pass
  * ([[select]]/[[selectBy]]), a separate nearest-center weighting pass
  * ([[weighted]]), and a local search that recomputes every distance
  * ([[localSearch]], whose GMM start calls this object's [[select]]).
  * Only the tie-rule comments of [[weighted]] are corrected: its centers
  * arrive in selection order, so a tie goes to the earliest-selected
  * center, not to the lowest center id.
  */
object Reference {

  /** Select k points; O(k·n) time, O(n) space. Input order is irrelevant —
    * the points are re-sorted by id internally. Dense-euclidean fast path;
    * see [[selectBy]] for the metric-generic form.
    */
  def select(points: Seq[Pt], k: Int): IndexedSeq[Pt] =
    selectBy[Array[Float]](points.map(p => (p.id, p.vec)), k)(Metric.sqDist)
      .map { case (id, v) => Pt(id, v) }

  /** Metric-generic farthest-first (the reference passes distances as
    * first-class functions — SURVEY.md §1.1): `dist` is any symmetric
    * dissimilarity, e.g. [[Distance.euclideanSq]],
    * [[Distance.cosineDist]], or [[Distance.generalizedJaccardDist]] for
    * bag-of-words. Same determinism protocol: min-id seed, ascending-id
    * scan, 12-dp-rounded comparisons, lowest-id ties.
    */
  def selectBy[T](points: Seq[(Long, T)], k: Int)(dist: (T, T) => Double): IndexedSeq[(Long, T)] = {
    if (points.isEmpty || k <= 0) return Vector.empty
    val pts = points.toArray.sortBy(_._1)
    val n = pts.length
    val kk = math.min(k, n)
    val chosen = new ArrayBuffer[(Long, T)](kk)
    val minSq = Array.fill(n)(Double.PositiveInfinity)
    var last = pts(0) // seed: global min id
    chosen += last
    val taken = Array.fill(n)(false)
    taken(0) = true
    while (chosen.size < kk) {
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val d = Metric.r12(dist(pts(i)._2, last._2))
          if (d < minSq(i)) minSq(i) = d
          if (minSq(i) > bestD) { bestD = minSq(i); best = i }
        }
        i += 1
      }
      taken(best) = true
      last = pts(best)
      chosen += last
    }
    chosen.toIndexedSeq
  }

  /** Assign every point to its nearest center (ties → the earliest center
    * in `centers`, i.e. the earliest-selected for GMM output);
    * returns the centers with delegate counts. This is the weighting step of
    * the composable coreset ([VLDB17] §4).
    */
  def weighted(points: Seq[Pt], centers: IndexedSeq[Pt]): IndexedSeq[WeightedPt] = {
    val counts = Array.fill(centers.length)(0L)
    points.foreach { p =>
      var best = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < centers.length) {
        val d = Metric.r12(Metric.sqDist(p.vec, centers(j).vec))
        if (d < bestD) { bestD = d; best = j } // strict < in centers order → first-wins = earliest-selected
        j += 1
      }
      counts(best) += 1
    }
    centers.zipWithIndex.map { case (c, j) => WeightedPt(c.id, c.vec, counts(j)) }
  }

  /** Local search (R2): start from GMM's k-set, repeatedly swap a chosen
    * point for an unchosen one if it improves remote-clique by more than
    * eps; deterministic scan order (ascending ids), first-improvement.
    */
  def localSearch(points: Seq[Pt], k: Int, eps: Double = 1e-9, maxIter: Int = 100): IndexedSeq[Pt] = {
    val pts = points.toArray.sortBy(_.id)
    if (pts.isEmpty || k <= 0) return Vector.empty
    var current = select(pts.toIndexedSeq, k).toArray
    val currentIds = scala.collection.mutable.Set(current.map(_.id): _*)
    var improved = true
    var iter = 0
    while (improved && iter < maxIter) {
      improved = false
      iter += 1
      var ci = 0
      while (!improved && ci < current.length) {
        // clique contribution of current(ci) to the rest
        val contrib = current.indices.filter(_ != ci)
          .map(j => Metric.dist(current(ci).vec, current(j).vec)).sum
        var pi = 0
        while (!improved && pi < pts.length) {
          val cand = pts(pi)
          if (!currentIds.contains(cand.id)) {
            val candContrib = current.indices.filter(_ != ci)
              .map(j => Metric.dist(cand.vec, current(j).vec)).sum
            if (candContrib > contrib + eps) {
              currentIds -= current(ci).id
              currentIds += cand.id
              current(ci) = cand
              improved = true
            }
          }
          pi += 1
        }
        ci += 1
      }
    }
    current.toIndexedSeq.sortBy(_.id)
  }
}
