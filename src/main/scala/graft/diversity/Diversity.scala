package graft.diversity

/** Diversity objective evaluators (reference operator R4, SURVEY.md §2.1
  * [P core/.../Diversity.scala]). All run driver-side over a chosen k-set
  * (k is small by construction — these are O(k²)/O(k³) on ≤ a few hundred
  * points, never on raw data).
  *
  * Exact: remote-edge, remote-clique, remote-star, remote-tree (MST).
  * Heuristic (the exact objectives are NP-hard): remote-bipartition (greedy
  * balanced split), remote-cycle (MST preorder walk, the classic 2-approx
  * TSP heuristic) — documented as such, matching the evaluator role they
  * play in the reference's experiment reports.
  */
object Diversity {

  private def d(a: Pt, b: Pt): Double = Metric.dist(a.vec, b.vec)

  /** min pairwise distance. */
  def remoteEdge(s: Seq[Pt]): Double = {
    val a = s.toIndexedSeq
    var mn = Double.PositiveInfinity
    for (i <- a.indices; j <- i + 1 until a.length) mn = math.min(mn, d(a(i), a(j)))
    if (mn.isInfinity) 0.0 else mn
  }

  /** sum of pairwise distances over unordered pairs. */
  def remoteClique(s: Seq[Pt]): Double = {
    val a = s.toIndexedSeq
    var sum = 0.0
    for (i <- a.indices; j <- i + 1 until a.length) sum += d(a(i), a(j))
    sum
  }

  /** min over centers c of Σ_{v≠c} d(c,v). */
  def remoteStar(s: Seq[Pt]): Double = {
    val a = s.toIndexedSeq
    if (a.length < 2) return 0.0
    a.indices.map(i => a.indices.filter(_ != i).map(j => d(a(i), a(j))).sum).min
  }

  /** Prim's MST over `a` from point 0, O(k²): each point's tree parent
    * (−1 at the root) and the tree weight, summed in the order points join.
    * The next point is the lowest index among the nearest to the tree.
    */
  private def prim(a: IndexedSeq[Pt]): (Array[Int], Double) = {
    val parent = Array.fill(a.length)(-1)
    val inTree = Array.fill(a.length)(false)
    val best = Array.fill(a.length)(Double.PositiveInfinity)
    inTree(0) = true
    for (j <- a.indices if j != 0) { best(j) = d(a(0), a(j)); parent(j) = 0 }
    var total = 0.0
    for (_ <- 1 until a.length) {
      var pick = -1
      for (j <- a.indices if !inTree(j) && (pick == -1 || best(j) < best(pick))) pick = j
      inTree(pick) = true
      total += best(pick)
      for (j <- a.indices if !inTree(j)) {
        val dj = d(a(pick), a(j))
        if (dj < best(j)) { best(j) = dj; parent(j) = pick }
      }
    }
    (parent, total)
  }

  /** MST weight (Prim's, O(k²)), over the points in their given order. */
  def remoteTree(s: Seq[Pt]): Double = {
    val a = s.toIndexedSeq
    if (a.length < 2) 0.0 else prim(a)._2
  }

  /** Greedy balanced bipartition maximizing the cross-cut sum (the exact
    * objective — min over balanced bipartitions is used in some variants;
    * here we report the greedy max-cut value as the reference experiments
    * report heuristic objective values). Points assigned in id order to the
    * side that currently gains more cross-distance, capacity ⌈k/2⌉ per side.
    */
  def remoteBipartitionGreedy(s: Seq[Pt]): Double = {
    val a = s.toIndexedSeq.sortBy(_.id)
    if (a.length < 2) return 0.0
    val cap = (a.length + 1) / 2
    val left = scala.collection.mutable.ArrayBuffer[Pt]()
    val right = scala.collection.mutable.ArrayBuffer[Pt]()
    a.foreach { p =>
      val gainL = right.map(d(p, _)).sum // joining left gains edges to right
      val gainR = left.map(d(p, _)).sum
      if ((gainL >= gainR && left.length < cap) || right.length >= cap) left += p
      else right += p
    }
    (for (l <- left; r <- right) yield d(l, r)).sum
  }

  /** TSP tour length via MST preorder walk (2-approx for metric TSP), over
    * the points in id order.
    */
  def remoteCycleApprox(s: Seq[Pt]): Double = {
    val a = s.toIndexedSeq.sortBy(_.id)
    if (a.length < 2) return 0.0
    if (a.length == 2) return 2 * d(a(0), a(1))
    val (parent, _) = prim(a)
    val children = Array.fill(a.length)(List.empty[Int])
    for (j <- a.indices if parent(j) >= 0)
      children(parent(j)) = j :: children(parent(j))
    val order = scala.collection.mutable.ArrayBuffer[Int]()
    def walk(i: Int): Unit = { order += i; children(i).sorted.foreach(walk) }
    walk(0)
    (order :+ 0).sliding(2).map { w => d(a(w(0)), a(w(1))) }.sum
  }
}
