package graft.diversity

/** GMM / farthest-first traversal (Gonzalez): greedily pick k points, each
  * maximizing the minimum distance to the already-picked set. 2-approximation
  * for remote-edge diversity ([VLDB17] §3; reference operator R1,
  * SURVEY.md §2.1 [P core/.../FarthestPointHeuristic.scala]).
  *
  * Deterministic protocol (SURVEY.md §7.3.4):
  *  - seed = the point with the minimum id;
  *  - candidates scanned in ascending id order;
  *  - distances compared after rounding to 12 dp (squared distances);
  *  - argmax ties resolved to the lowest id (strict `>` over an
  *    ascending-id scan);
  *  - a point equidistant from several centers belongs to the
  *    earliest-selected one (strict `<` over the centers in selection
  *    order), whatever the centers' ids.
  */
object Gmm {

  /** Selected centers, as point indices in selection order, and each
    * point's nearest center, as an index into `centers`.
    */
  final case class Traversal(centers: IndexedSeq[Int], owner: Array[Int])

  /** The one farthest-first loop, over points `0 until n` already in
    * ascending-id order. `distancesTo(c, out)` sets `out(i)` to the
    * dissimilarity of points `i` and `c` for every `i` (a squared distance
    * for the dense path; any symmetric dissimilarity otherwise). Each pass
    * measures every point against the newest center and updates its
    * nearest distance and owner together; the pass after the last center
    * finishes the assignment. That is n·min(k, n) distance evaluations:
    * selection and delegate weighting in one scan, where a separate
    * weighting pass would cost another n·(k−1). A pass hands the kernel a
    * whole row of distances, so a dense kernel can run points in SIMD lanes.
    */
  def traverse(n: Int, k: Int)(distancesTo: (Int, Array[Double]) => Unit): Traversal = {
    if (n == 0 || k <= 0) return Traversal(Vector.empty, Array.emptyIntArray)
    val kk = math.min(k, n)
    val centers = new Array[Int](kk)
    val minD = Array.fill(n)(Double.PositiveInfinity)
    val owner = new Array[Int](n)
    val taken = new Array[Boolean](n)
    val row = new Array[Double](n)
    taken(0) = true // seed: the min id
    var c = 0
    while (c < kk) {
      distancesTo(centers(c), row)
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < n) {
        val d = Metric.r12(row(i))
        if (d < minD(i)) { minD(i) = d; owner(i) = c }
        if (!taken(i) && minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      c += 1
      if (c < kk) {
        taken(best) = true
        centers(c) = best
      }
    }
    Traversal(centers.toIndexedSeq, owner)
  }

  /** Select k points; O(k·n) time, O(n) space. Input order is irrelevant —
    * the points are re-sorted by id internally. Dense-euclidean fast path;
    * see [[selectBy]] for the metric-generic form.
    */
  def select(points: Seq[Pt], k: Int): IndexedSeq[Pt] = {
    val pts = points.toArray.sortBy(_.id)
    val b = PointBlock(pts) // already sorted: block index i is pts(i)
    traverse(b.size, k)(b.sqDistsTo).centers.map(pts(_))
  }

  /** Metric-generic farthest-first (the reference passes distances as
    * first-class functions — SURVEY.md §1.1): `dist` is any symmetric
    * dissimilarity, e.g. [[Distance.euclideanSq]],
    * [[Distance.cosineDist]], or [[Distance.generalizedJaccardDist]] for
    * bag-of-words. Same determinism protocol and the same loop as
    * [[select]].
    */
  def selectBy[T](points: Seq[(Long, T)], k: Int)(dist: (T, T) => Double): IndexedSeq[(Long, T)] = {
    val pts = points.toArray.sortBy(_._1)
    traverse(pts.length, k) { (c, out) =>
      var i = 0
      while (i < pts.length) { out(i) = dist(pts(i)._2, pts(c)._2); i += 1 }
    }.centers.map(pts(_))
  }

  /** Weight-preserving re-coreset step: assign every already-weighted point
    * to its nearest center (ties to the earliest center in `centers`) and
    * SUM the delegate masses, where the coreset's own weighting counts each
    * raw point as 1. This is what a second coreset level needs —
    * re-coresetting a union of weighted coresets must conserve total mass,
    * not reset it to point counts.
    */
  def weightedMass(points: Seq[WeightedPt], centers: IndexedSeq[Pt]): IndexedSeq[WeightedPt] = {
    val mass = Array.fill(centers.length)(0L)
    val kernels = KernelSet(centers.map(_.vec))
    points.foreach(p => mass(kernels.nearest(p.vec)._1) += p.weight)
    centers.zipWithIndex.map { case (c, j) => WeightedPt(c.id, c.vec, mass(j)) }
  }
}
