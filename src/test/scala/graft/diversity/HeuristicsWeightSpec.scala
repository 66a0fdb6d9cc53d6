package graft.diversity

import org.scalatest.funsuite.AnyFunSuite

/** Delegate-weight behavior of the final heuristics (composable-coreset
  * theory: the coreset point's weight is its delegate multiplicity, and the
  * final remote-clique step solves the multiset problem).
  */
class HeuristicsWeightSpec extends AnyFunSuite {

  // Skewed-multiplicity line fixture: two heavy far endpoints, two light
  // near-endpoint points. The distinct-only optimum {A,B,C,D} scores 39.6;
  // the multiset optimum {A,A,B,B} scores 40 — only reachable with weights.
  private val skewed = Vector(
    WeightedPt(1, Array(0f, 0f), 10L),   // A
    WeightedPt(2, Array(10f, 0f), 10L),  // B
    WeightedPt(3, Array(0.2f, 0f), 1L),  // C
    WeightedPt(4, Array(9.8f, 0f), 1L))  // D

  test("weighted local search exploits multiplicity on the skewed fixture") {
    val sel = Heuristics.localSearchWeighted(skewed, 4)
    assert(sel.length == 4)
    assert(sel.map(_.id).sorted == Seq(1L, 1L, 2L, 2L),
      "the multiset optimum duplicates the two heavy far points")
    val weightedObj = Diversity.remoteClique(sel)
    assert(math.abs(weightedObj - 40.0) < 1e-6)
    // the unweighted search is capped at distinct points and scores lower
    val unweighted = Heuristics.localSearch(skewed.map(w => Pt(w.id, w.vec)), 4)
    assert(Diversity.remoteClique(unweighted) < weightedObj - 1e-6)
  }

  test("all weights 1: weighted search degenerates to the unweighted search") {
    for (seed <- 0 until 5) {
      val pts = TestPoints.randomPoints(40, 6, seed)
      val w1 = pts.map(p => WeightedPt(p.id, p.vec, 1L))
      val a = Heuristics.localSearchWeighted(w1, 8).map(_.id)
      val b = Heuristics.localSearch(pts, 8).map(_.id)
      assert(a == b, s"seed $seed: weight-1 multiset search must equal the set search")
    }
  }

  test("k beyond total mass returns exactly the total mass of copies") {
    val tiny = Vector(WeightedPt(1, Array(0f), 2L), WeightedPt(2, Array(5f), 1L))
    val sel = Heuristics.localSearchWeighted(tiny, 10)
    assert(sel.length == 3)
    assert(sel.map(_.id).sorted == Seq(1L, 1L, 2L))
  }

  test("weightedMass re-coreset conserves total delegate mass") {
    val pts = TestPoints.randomPoints(50, 4, 9)
    val weighted = pts.zipWithIndex.map { case (p, i) => WeightedPt(p.id, p.vec, (i % 7) + 1L) }
    val centers = Gmm.select(pts, 10)
    val re = Gmm.weightedMass(weighted, centers)
    assert(re.map(_.weight).sum == weighted.map(_.weight).sum)
    assert(re.length == 10)
    // count-based weighting would have reset the mass to the point count
    assert(MapReduceCoreset.localCoreset(PointBlock(pts), 10).map(_.weight).sum == 50L)
  }
}
