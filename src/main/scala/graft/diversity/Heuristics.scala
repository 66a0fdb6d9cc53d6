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
  *    beat adding a distinct middling point ([[localSearchWeighted]]; the
  *    skewed-multiplicity case is spec-pinned in HeuristicsWeightSpec).
  */
object Heuristics {

  /** Weight-aware local search (R2 on a weighted coreset): selects a
    * multiset of k copies, each point capped at its delegate weight, to
    * maximize remote-clique (copies of the same point contribute 0 to each
    * other). Start = GMM over the distinct points (optimal never duplicates
    * before k exceeds the distinct count — see object doc), greedily filled
    * with best-marginal-gain copies if k > #distinct; then deterministic
    * first-improvement swaps (ascending-id scans, strict improvement > eps)
    * where a move replaces one chosen copy with one copy of any point below
    * its cap. With all weights = 1 this degenerates to [[localSearch]]
    * (spec-pinned). Returns the multiset as a sorted Seq with repeats, so
    * [[Diversity.remoteClique]] evaluates it directly.
    */
  def localSearchWeighted(points: Seq[WeightedPt], k: Int, eps: Double = 1e-9,
      maxIter: Int = 100): IndexedSeq[Pt] = {
    val pts = points.toArray.sortBy(_.id)
    val n = pts.length
    if (n == 0 || k <= 0) return Vector.empty
    val totalMass = pts.map(_.weight).sum
    val kk = math.min(k.toLong, totalMass).toInt
    val dist = distMatrix(pts.map(_.vec))
    val count = Array.fill(n)(0L)
    // seed: GMM over distinct points; `slots` holds the chosen copies in
    // SELECTION order — the same slot-replacement scan [[localSearch]] uses,
    // so weight-1 inputs walk an identical first-improvement trajectory.
    val idxOf = pts.iterator.zipWithIndex.map { case (w, i) => w.id -> i }.toMap
    val seed = Gmm.select(pts.map(w => Pt(w.id, w.vec)).toIndexedSeq, math.min(kk, n))
    val slots = scala.collection.mutable.ArrayBuffer[Int]()
    seed.foreach { p => val i = idxOf(p.id); count(i) += 1; slots += i }
    // fill beyond the distinct count: repeatedly add the capacity-feasible
    // copy with the best marginal gain Σ d(x, ·)·count (lowest id on ties)
    while (slots.length < kk) {
      var best = -1; var bestGain = -1.0
      var i = 0
      while (i < n) {
        if (count(i) < pts(i).weight) {
          var g = 0.0
          var j = 0
          while (j < n) { g += dist(i)(j) * count(j); j += 1 }
          if (g > bestGain) { bestGain = g; best = i }
        }
        i += 1
      }
      count(best) += 1
      slots += best
    }
    // first-improvement swaps: replace the copy in slot s with one copy of
    // any point below its cap (a point already in the multiset is a valid
    // candidate for an EXTRA copy — that's the multiplicity move)
    var improved = true
    var iter = 0
    while (improved && iter < maxIter) {
      improved = false
      iter += 1
      var s = 0
      while (!improved && s < slots.length) {
        val ci = slots(s)
        // contribution of this copy: distances to the rest of the multiset
        // (other copies of the same point contribute 0)
        var contrib = 0.0
        var j = 0
        while (j < n) { contrib += dist(ci)(j) * count(j); j += 1 }
        var pi = 0
        while (!improved && pi < n) {
          if (pi != ci && count(pi) < pts(pi).weight) {
            // candidate copy's contribution to (multiset − this slot's copy)
            var cand = 0.0
            var j2 = 0
            while (j2 < n) { cand += dist(pi)(j2) * count(j2); j2 += 1 }
            cand -= dist(pi)(ci) // the removed copy
            if (cand > contrib + eps) {
              count(ci) -= 1
              count(pi) += 1
              slots(s) = pi
              improved = true
            }
          }
          pi += 1
        }
        s += 1
      }
    }
    slots.toIndexedSeq.map(i => Pt(pts(i).id, pts(i).vec)).sortBy(_.id)
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

  /** Local search (R2): start from GMM's k-set, repeatedly swap a chosen
    * point for an unchosen one if it improves remote-clique by more than
    * eps; deterministic scan order (ascending ids), first-improvement. A
    * slot's contribution is summed over the other slots in slot order from
    * one pairwise distance matrix, computed once.
    */
  def localSearch(points: Seq[Pt], k: Int, eps: Double = 1e-9, maxIter: Int = 100): IndexedSeq[Pt] = {
    val pts = points.toArray.sortBy(_.id)
    if (pts.isEmpty || k <= 0) return Vector.empty
    val block = PointBlock(pts) // already sorted: block index i is pts(i)
    val slots = Gmm.traverse(block.size, k)(block.sqDistsTo).centers.toArray
    val dist = distMatrix(pts.map(_.vec))
    val chosenIds = scala.collection.mutable.Set(slots.map(pts(_).id): _*)
    // Σ over the slots other than s of dist(i, ·), in slot order
    def sumToOthers(i: Int, s: Int): Double = {
      var sum = 0.0
      var j = 0
      while (j < slots.length) {
        if (j != s) sum += dist(i)(slots(j))
        j += 1
      }
      sum
    }
    var improved = true
    var iter = 0
    while (improved && iter < maxIter) {
      improved = false
      iter += 1
      var s = 0
      while (!improved && s < slots.length) {
        val contrib = sumToOthers(slots(s), s)
        var pi = 0
        while (!improved && pi < pts.length) {
          if (!chosenIds.contains(pts(pi).id) && sumToOthers(pi, s) > contrib + eps) {
            chosenIds -= pts(slots(s)).id
            chosenIds += pts(pi).id
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
