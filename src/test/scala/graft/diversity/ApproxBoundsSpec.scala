package graft.diversity

import org.scalatest.funsuite.AnyFunSuite

/** The heuristics' approximation factors, asserted against the exhaustive
  * optimum over every k-subset of n ≤ 12 random unit vectors (2-d, where
  * the points crowd, and 8-d), 60 seeds per size. Each factor is one that
  * is proven for the variant implemented here; the comments name the
  * theorem and why it applies.
  */
class ApproxBoundsSpec extends AnyFunSuite {

  private val cases: Seq[(Vector[Pt], String)] =
    for (seed <- 0 until 60; n <- Seq(5, 8, 12)) yield {
      val dim = if (seed % 2 == 0) 2 else 8
      (TestPoints.randomPoints(n, dim, 1000L + seed), s"seed=$seed n=$n dim=$dim")
    }

  private def opt(pts: Vector[Pt], k: Int)(f: Seq[Pt] => Double): Double =
    pts.combinations(k).map(f).max

  test("GMM selection is a 2-approximation of remote-edge, k = 2, 3, 4") {
    // Tamir (1991), "Obnoxious facility location on graphs", and Ravi,
    // Rosenkrantz & Tayi (1994), "Heuristic and special case algorithms for
    // dispersion problems": farthest-first traversal from any start point
    // is a 2-approximation of max-min dispersion. Let r be the distance of
    // the k-th pick to the first k−1; every point lies within r of them, so
    // two of the optimum's k points share a nearest pick and OPT ≤ 2r,
    // while the picks are pairwise ≥ r apart.
    for ((pts, at) <- cases; k <- Seq(2, 3, 4)) {
      val got = Diversity.remoteEdge(Gmm.select(pts, k))
      val best = opt(pts, k)(Diversity.remoteEdge)
      assert(2 * got >= best, s"$at k=$k: GMM $got < OPT $best / 2")
    }
  }

  test("the greedy farthest-pair matching is a 2-approximation of remote-clique, k = 2, 4") {
    // Hassin, Rubinstein & Tamir (1997), "Approximation algorithms for
    // maximum dispersion", prove factor 2 for a MAXIMUM-weight matching;
    // Heuristics.matching takes pairs greedily, so only the cases the
    // triangle inequality settles directly are asserted. k = 2: the first
    // pair is the diameter D, which is the optimum. k = 4: with pairs
    // (a, b) of length D and (c, d), d(a,c) + d(c,b) ≥ D and
    // d(a,d) + d(d,b) ≥ D, so the set scores ≥ 3D, while any 4 points
    // score ≤ 6D.
    for ((pts, at) <- cases; k <- Seq(2, 4)) {
      val got = Diversity.remoteClique(Heuristics.matching(pts, k))
      val best = opt(pts, k)(Diversity.remoteClique)
      assert(2 * got >= best, s"$at k=$k: matching $got < OPT $best / 2")
    }
  }

  test("local search ends at a swap-local optimum, a 2-approximation of remote-clique, k = 2, 3, 4") {
    // Abbassi, Mirrokni & Thakur (2013), "Diversity maximization under
    // matroid constraints": a set no single swap improves is a
    // 2-approximation of max-sum dispersion under a matroid constraint;
    // k-subsets are the uniform matroid. Heuristics.localSearch stops when
    // no swap gains more than its eps or after maxIter rounds, so the
    // theorem's premise is checked first: no swap gains anything.
    def sumTo(p: Pt, s: Seq[Pt]) = s.map(q => Metric.dist(p.vec, q.vec)).sum
    for ((pts, at) <- cases; k <- Seq(2, 3, 4)) {
      val sel = Heuristics.localSearch(pts, k)
      for (out <- sel; in <- pts if !sel.exists(_.id == in.id)) {
        val rest = sel.filterNot(_.id == out.id)
        assert(sumTo(in, rest) <= sumTo(out, rest),
          s"$at k=$k: swapping ${out.id} for ${in.id} still improves")
      }
      val got = Diversity.remoteClique(sel)
      val best = opt(pts, k)(Diversity.remoteClique)
      assert(2 * got >= best, s"$at k=$k: local search $got < OPT $best / 2")
    }
  }
}
