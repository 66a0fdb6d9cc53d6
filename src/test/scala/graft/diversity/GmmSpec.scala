package graft.diversity

import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the GMM farthest-first kernel — the reference's own
  * test style (SURVEY.md §5.1): anticover, determinism, tie protocol.
  * Cases are generated from fixed seeds (no scalatestplus bridge in the
  * offline cache) — see also [[GmmProps]] for the scalacheck variants.
  */
class GmmSpec extends AnyFunSuite {

  test("selects exactly min(k, n) points, all distinct ids, seeded at min id") {
    for (seed <- 0 until 20) {
      val n = 5 + (seed * 37) % 200
      val k = 1 + seed % 20
      val pts = TestPoints.randomPoints(n, 8, seed)
      val sel = Gmm.select(pts, k)
      assert(sel.length == math.min(k, n))
      assert(sel.map(_.id).distinct.length == sel.length)
      assert(sel.head.id == pts.map(_.id).min)
    }
  }

  test("anticover: every point within the final insertion radius of some center") {
    for (seed <- 0 until 20) {
      val n = 10 + (seed * 53) % 150
      val k = 2 + seed % 15
      val pts = TestPoints.randomPoints(n, 8, seed)
      val sel = Gmm.select(pts, k)
      val last = sel.last
      val r = sel.init.map(c => Metric.dist(c.vec, last.vec)).min
      pts.foreach { p =>
        val d = sel.map(c => Metric.dist(c.vec, p.vec)).min
        assert(d <= r + 1e-9, s"point ${p.id} at distance $d > radius $r (seed $seed)")
      }
      for (i <- sel.indices; j <- i + 1 until sel.length)
        assert(Metric.dist(sel(i).vec, sel(j).vec) >= r - 1e-9)
    }
  }

  test("deterministic: input order never matters") {
    for (seed <- 0 until 20) {
      val pts = TestPoints.randomPoints(50 + seed, 8, seed)
      val k = 2 + seed % 10
      val rnd = new scala.util.Random(seed)
      val sel1 = Gmm.select(pts, k).map(_.id)
      val sel2 = Gmm.select(rnd.shuffle(pts), k).map(_.id)
      val sel3 = Gmm.select(pts.reverse, k).map(_.id)
      assert(sel1 == sel2 && sel1 == sel3)
    }
  }

  test("ties break to the lowest id (square corners)") {
    // seed is id 0; after picking the opposite corner, ids 1 and 2 tie —
    // the protocol must pick the lower id first.
    val pts = Vector(
      Pt(0, Array(0f, 0f)), Pt(1, Array(1f, 0f)),
      Pt(2, Array(0f, 1f)), Pt(3, Array(1f, 1f)))
    val sel = Gmm.select(pts, 4).map(_.id)
    assert(sel == Vector(0L, 3L, 1L, 2L))
  }

  test("prefix consistency: GMM of a GMM re-coreset equals GMM of the full set") {
    // the invariant DiversityOps.remoteCliqueDiv's bounded-budget step
    // relies on: farthest-first is prefix-greedy, so selecting k from the
    // budget-point re-coreset equals selecting k directly — for ANY input
    // size (the heuristic pool shrinks, the GMM answer does not move)
    for (seed <- 0 until 10) {
      val pts = TestPoints.randomPoints(300 + seed * 17, 8, seed)
      val budget = 64
      val k = 2 + seed % 16
      val bounded = Gmm.select(pts, budget)
      assert(Gmm.select(bounded, k).map(_.id) == Gmm.select(pts, k).map(_.id))
    }
  }

  test("weighted assignment conserves mass") {
    for (seed <- 0 until 20) {
      val n = 20 + (seed * 31) % 100
      val pts = TestPoints.randomPoints(n, 8, seed)
      val k = 1 + seed % 12
      val w = MapReduceCoreset.localCoreset(PointBlock(pts), k)
      assert(w.map(_.id) == Gmm.select(pts, k).map(_.id))
      assert(w.map(_.weight).sum == n.toLong)
    }
  }

  test("a delegate equidistant from two centers counts toward the earlier-selected one") {
    // Selection order is 0, 2, 1: id 2 is farthest from the seed, then
    // id 1. Point 3 is at squared distance 13 from both id 2 and id 1, so
    // it goes to id 2 (selected second), not to the lower id 1.
    val pts = Vector(
      Pt(0, Array(0f, 0f)), Pt(1, Array(6f, 6f)),
      Pt(2, Array(10f, 0f)), Pt(3, Array(8f, 3f)))
    val w = MapReduceCoreset.localCoreset(PointBlock(pts), 3)
    assert(w.map(c => (c.id, c.weight)) == Vector((0L, 1L), (2L, 2L), (1L, 1L)))
    assert(w.map(_.id) == Reference.select(pts, 3).map(_.id))
    assert(w.map(_.weight) == Reference.weighted(pts, Reference.select(pts, 3)).map(_.weight))
  }

  test("the point block rejects a null embedding and a length mismatch, naming the vec_id") {
    val nul = intercept[IllegalArgumentException](
      PointBlock(Vector(Pt(1, Array(0f, 0f)), Pt(7, null))))
    assert(nul.getMessage.contains("vec_id 7 has a null embedding"), nul.getMessage)
    for (bad <- Seq(Array(1f), Array(1f, 2f, 3f))) {
      val e = intercept[IllegalArgumentException](
        Gmm.select(Vector(Pt(1, Array(0f, 0f)), Pt(7, bad)), 2))
      assert(e.getMessage.contains(
        s"vec_id 7 has an embedding of length ${bad.length}, but vec_id 1 has length 2"), e.getMessage)
    }
  }
}

object TestPoints {
  def unitVec(dim: Int, seed: Long): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  def randomPoints(n: Int, dim: Int, seed: Long): Vector[Pt] =
    (0 until n).map(i => Pt(i.toLong, unitVec(dim, seed * 10007 + i))).toVector
}
