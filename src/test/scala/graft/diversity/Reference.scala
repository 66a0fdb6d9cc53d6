package graft.diversity

import scala.collection.mutable.ArrayBuffer

/** The dense GMM kernels as they were before the fused farthest-first loop
  * ([[Gmm.traverse]]) replaced them, kept verbatim as the reference the
  * specs compare the loop against: a separate selection pass
  * ([[select]]/[[selectBy]]), a separate nearest-center weighting pass
  * ([[weighted]]), and a local search that recomputes every distance
  * ([[localSearch]], whose GMM start calls this object's [[select]]).
  * Next, the multiset [[localSearchWeighted]] is the reference for the
  * capped search that replaced both local searches. Below them, the kernel-by-kernel [[nearest]] and [[StreamingCoreset]]
  * are the reference for [[KernelSet]].
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

  // The multiset local search as it was before [[Heuristics.localSearch]]
  // and [[Heuristics.localSearchWeighted]] became one capped search,
  // verbatim, with the pairwise matrix it reads copied from [[Heuristics]].
  // It sums each candidate over all n points times their counts, where the
  // capped search sums over the slots.

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

  // The nearest-kernel loop and the streaming coreset as they were before
  // the batched scan ([[KernelSet.nearest]]) replaced them, verbatim
  // except that `Metric.` qualifies `r12`/`sqDist` and the class calls
  // `Reference.nearest` where it called `Metric.nearest`.

  /** The kernel nearest to `v`: its index in `kernels` and its r12-rounded
    * squared distance. Strict `<` over the kernels in order, so the earliest
    * of equally near kernels wins; (−1, +∞) when there are none.
    */
  def nearest(v: Array[Float], kernels: collection.IndexedSeq[Array[Float]]): (Int, Double) = {
    var best = -1
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < kernels.length) {
      val d = Metric.r12(Metric.sqDist(v, kernels(j)))
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    (best, bestD)
  }

  /** One-pass bounded-memory streaming coreset via the doubling technique
    * ([VLDB17] §5; reference operator R6, SURVEY.md §2.1
    * [P core/.../StreamingCoreset.scala]).
    *
    * Maintains at most `m` kernels that are pairwise farther than a threshold
    * δ. A new point farther than δ from every kernel becomes a kernel; when
    * the budget overflows, δ grows to the current minimum pairwise kernel
    * distance and the kernel set is greedily re-thinned (insertion order,
    * keep-if-far), with dropped kernels' delegate counts folded into their
    * nearest survivor.
    *
    * Threshold growth note: the textbook doubling rule (δ ← 2δ) gives
    * O(log Δ) merge phases but can overshoot badly on concentrated data —
    * 64-d random unit vectors have all pairwise distances within a ~1.4×
    * band, so one doubling can collapse m kernels to 1. Growing δ to the
    * min pairwise kernel distance instead merges at least one pair per
    * phase (guaranteed progress), keeps the kernel budget fully used, and
    * preserves the same anticover invariants; the cost is O(m²) per phase,
    * which is fine for the small per-partition budgets this engine uses.
    *
    * Invariants (property-tested in GmmProps and CoresetSpec):
    *  - kernel count ≤ m at all times after an update completes;
    *  - surviving kernels are pairwise > δ/2 apart (distances on r12-rounded
    *    squared values);
    *  - Σ weights = number of points consumed.
    *
    * Deterministic for a fixed input order (the engine feeds points in
    * ascending id order — SURVEY.md §7.3.4).
    */
  final class StreamingCoreset(m: Int) {
    require(m >= 2, "kernel budget must be >= 2")

    private[diversity] val ids = new ArrayBuffer[Long]
    private[diversity] val vecs = new ArrayBuffer[Array[Float]]
    private[diversity] val weights = new ArrayBuffer[Long]
    private[diversity] var deltaSq = 0.0 // squared threshold; 0 until first overflow
    private[diversity] var consumed = 0L

    def size: Int = ids.length
    def thresholdSq: Double = deltaSq
    def pointsConsumed: Long = consumed

    def update(p: Pt): Unit = updateWeighted(p, 1L)

    /** Insert a point that already represents `w` delegates (used when
      * merging coresets: a foreign kernel re-enters with its accumulated
      * weight).
      */
    def updateWeighted(p: Pt, w: Long): Unit = {
      consumed += w
      val (nearest, dSq) = Reference.nearest(p.vec, vecs)
      if (dSq > deltaSq) {
        ids += p.id; vecs += p.vec; weights += w
        if (ids.length > m) overflow()
      } else {
        weights(nearest) += w
      }
    }

    /** Grow δ and greedily thin: scan kernels in insertion order, keep those
      * farther than the new δ from every kept kernel; fold dropped delegate
      * counts into the nearest kept kernel. Each phase merges at least the
      * closest pair, so the loop terminates in ≤ m phases per overflow.
      */
    private def overflow(): Unit = {
      do {
        deltaSq = math.max(deltaSq, minPairwiseSq())
        val keep = new ArrayBuffer[Int]
        var i = 0
        while (i < ids.length) {
          var far = true
          var j = 0
          while (far && j < keep.length) {
            if (Metric.r12(Metric.sqDist(vecs(i), vecs(keep(j)))) <= deltaSq) far = false
            j += 1
          }
          if (far) keep += i
          i += 1
        }
        val keptIds = keep.map(ids)
        val keptVecs = keep.map(vecs)
        val keptW = Array.fill(keep.length)(0L)
        i = 0
        while (i < ids.length) {
          keptW(Reference.nearest(vecs(i), keptVecs)._1) += weights(i)
          i += 1
        }
        ids.clear(); ids ++= keptIds
        vecs.clear(); vecs ++= keptVecs
        weights.clear(); weights ++= keptW
      } while (ids.length > m)
    }

    /** Minimum pairwise squared distance among current kernels (the smallest
      * threshold that merges at least one pair).
      */
    private def minPairwiseSq(): Double = {
      var mn = Double.PositiveInfinity
      var i = 0
      while (i < ids.length) {
        var j = i + 1
        while (j < ids.length) {
          val d = Metric.r12(Metric.sqDist(vecs(i), vecs(j)))
          if (d < mn) mn = d
          j += 1
        }
        i += 1
      }
      mn
    }

    def result(): IndexedSeq[WeightedPt] = {
      (0 until ids.length).map(i => WeightedPt(ids(i), vecs(i), weights(i)))
    }

    /** Serializable snapshot for checkpointed streaming state
      * ([[graft.streaming.StatefulCoreset]]).
      */
    def snapshot: StreamingCoreset.State = StreamingCoreset.State(
      ids.toArray, vecs.toArray, weights.toArray, deltaSq, consumed)
  }
}
