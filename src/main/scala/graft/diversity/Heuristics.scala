package graft.diversity

import scala.collection.mutable.ArrayBuffer

/** Sequential remote-clique heuristics (reference operators R2/R3,
  * SURVEY.md §2.1 [P core/.../LocalSearch.scala, MatchingHeuristic.scala]).
  * Both run driver-side over a coreset, never over raw data.
  *
  * Delegate weights (composable-coreset theory, [VLDB17] §4): a coreset
  * point with weight w stands for w input points at (approximately) its
  * location, so the final heuristic solves the MULTISET problem — a point
  * may be selected up to w times, and co-located copies contribute zero
  * pairwise distance. Where that matters by objective:
  *  - remote-edge (GMM): never — a second copy makes the min edge 0, so no
  *    optimal (or greedy farthest-first) solution takes one while distinct
  *    points remain; unweighted-on-delegates is exactly equivalent.
  *  - matching (R3): never picks a zero-distance pair while a positive one
  *    exists, so weights only matter in the degenerate k > #distinct case.
  *  - remote-clique local search (R2): weights DO matter — a second copy of
  *    a far point adds its full distance to the rest of the set, which can
  *    beat adding a distinct middling point (the skewed-multiplicity case is
  *    spec-pinned in HeuristicsWeightSpec). R2 is one capped search,
  *    [[localSearchWeighted]]: each point may fill at most its weight of
  *    the k slots, and with every weight 1 it is the set search
  *    [[localSearch]].
  */
object Heuristics {

  private val Eps = 1e-9 // a swap must gain more than this
  private val MaxIter = 100 // improving passes before the search stops

  /** Local search (R2) over a weighted coreset: k slots, each point capped
    * at its weight, maximizing remote-clique (copies of a point add 0 to
    * each other). Start: GMM over the distinct points; if k exceeds them,
    * fill slot by slot with the point below its cap whose distances to the
    * filled slots sum highest (lowest id on ties), up to the total mass.
    * Then first-improvement swaps: for each slot, scan the points in
    * ascending id and move the slot to the first one below its cap (an
    * extra copy of a chosen point included) whose sum over the other slots
    * beats the slot's own by more than `Eps`. Sums run in slot order over
    * one distance matrix. Returns the multiset sorted by id, with repeats.
    */
  def localSearchWeighted(points: Seq[WeightedPt], k: Int): IndexedSeq[Pt] = {
    val sorted = points.toArray.sortBy(_.id)
    val pts = sorted.map(w => Pt(w.id, w.vec))
    val cap = sorted.map(_.weight)
    val n = pts.length
    if (n == 0 || k <= 0) return Vector.empty
    val kk = math.min(k.toLong, cap.sum).toInt
    val block = PointBlock(pts) // already sorted: block index i is pts(i)
    val dist = distMatrix(pts.map(_.vec))
    val slots = new Array[Int](kk)
    val count = new Array[Long](n)
    var filled = 0
    def take(i: Int): Unit = { slots(filled) = i; count(i) += 1; filled += 1 }
    // Σ over the filled slots other than s of dist(i, ·), in slot order
    def sumToOthers(i: Int, s: Int): Double = {
      var sum = 0.0
      var j = 0
      while (j < filled) {
        if (j != s) sum += dist(i)(slots(j))
        j += 1
      }
      sum
    }
    Gmm.traverse(n, kk)(block.sqDistsTo).centers.foreach(take)
    while (filled < kk) {
      var best = -1; var bestGain = -1.0
      var i = 0
      while (i < n) {
        if (count(i) < cap(i)) {
          val g = sumToOthers(i, -1)
          if (g > bestGain) { bestGain = g; best = i }
        }
        i += 1
      }
      take(best)
    }
    var improved = true
    var iter = 0
    while (improved && iter < MaxIter) {
      improved = false
      iter += 1
      var s = 0
      while (!improved && s < kk) {
        val ci = slots(s)
        val contrib = sumToOthers(ci, s)
        var pi = 0
        while (!improved && pi < n) {
          if (pi != ci && count(pi) < cap(pi) && sumToOthers(pi, s) > contrib + Eps) {
            count(ci) -= 1
            count(pi) += 1
            slots(s) = pi
            improved = true
          }
          pi += 1
        }
        s += 1
      }
    }
    slots.toIndexedSeq.map(pts(_)).sortBy(_.id)
  }

  /** Matching heuristic (R3): greedily add the farthest remaining *pair*
    * until k points are chosen. Deterministic: pair ties resolved by
    * (lower id, lower id).
    *
    * Approximation: Hassin, Rubinstein & Tamir (1997) prove factor 2 for
    * remote-clique when the pairs form a MAXIMUM-weight matching. This
    * greedy variant is a 2-approximation only where the triangle
    * inequality argument covers it, k ∈ {2, 4} (asserted against brute
    * force in ApproxBoundsSpec); no factor is claimed at other k,
    * `matching_k32` included.
    *
    * Weights (see the object doc): unweighted-on-delegates is exactly
    * equivalent here, same argument as remote-edge — a weight-w point's
    * extra copies only add zero-distance pairs (a copy paired with
    * itself), and a FARTHEST-pair greedy never selects a zero pair while
    * any positive-distance pair of unused points remains; so as long as
    * k ≤ #distinct coreset points, the weighted multiset run picks the
    * identical pairs. Weights matter only in the degenerate k > #distinct
    * case, which the coreset construction (k′ ≥ k distinct kernels)
    * rules out.
    *
    * The r12-rounded squared distance of every pair is computed once, row
    * `i` of the flat matrix holding pairs (i, j > i); each round scans it.
    */
  def matching(points: Seq[Pt], k: Int): IndexedSeq[Pt] = {
    val pts = points.toArray.sortBy(_.id)
    val n = pts.length
    if (n == 0 || k <= 0) return Vector.empty
    val kk = math.min(k, n)
    val sq = new Array[Double](n * n)
    for (i <- 0 until n; j <- i + 1 until n) sq(i * n + j) = Metric.r12(Metric.sqDist(pts(i).vec, pts(j).vec))
    val used = Array.fill(n)(false)
    val out = new ArrayBuffer[Pt](kk)
    while (out.size + 1 < kk) {
      var bi = -1; var bj = -1; var bd = -1.0
      var i = 0
      while (i < n) {
        if (!used(i)) {
          var j = i + 1
          while (j < n) {
            if (!used(j)) {
              val d = sq(i * n + j)
              if (d > bd) { bd = d; bi = i; bj = j } // strict > + ascending scan = lowest-id ties
            }
            j += 1
          }
        }
        i += 1
      }
      used(bi) = true; used(bj) = true
      out += pts(bi) += pts(bj)
    }
    if (out.size < kk) { // odd k: add the lowest-id unused point
      val i = pts.indices.find(!used(_)).get
      out += pts(i)
    }
    out.toIndexedSeq
  }

  /** Local search (R2) over a set: [[localSearchWeighted]] with every
    * weight 1, so no point is selected twice.
    */
  def localSearch(points: Seq[Pt], k: Int): IndexedSeq[Pt] =
    localSearchWeighted(points.map(p => WeightedPt(p.id, p.vec, 1L)), k)

  /** Pairwise [[Metric.dist]] of `vecs`, 0 on the diagonal. Computed for
    * i < j and mirrored: `Metric.sqDist` is exactly symmetric.
    */
  private def distMatrix(vecs: Array[Array[Float]]): Array[Array[Double]] = {
    val n = vecs.length
    val d = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- i + 1 until n) {
      d(i)(j) = Metric.dist(vecs(i), vecs(j))
      d(j)(i) = d(i)(j)
    }
    d
  }
}
