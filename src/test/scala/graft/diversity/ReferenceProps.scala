package graft.diversity

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** The fused farthest-first loop and the local search against
  * [[Reference]], the kernels they replaced: same centers in the same
  * order, same delegate weights, same swaps.
  */
object ReferenceProps extends Properties("Reference") {

  /** Points on a small integer grid (many duplicate vectors and exact
    * distance ties) or random unit vectors, with shuffled distinct ids in
    * shuffled order; n = 1 and k ≥ n are both in range.
    */
  private val genCase: Gen[(Vector[Pt], Int)] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 9 -> Gen.choose(2, 60))
    k <- Gen.choose(1, 70)
    grid <- Gen.oneOf(true, false)
    seed <- Gen.choose(0L, 10000L)
  } yield {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 4L * n).toVector).take(n)
    val vecs =
      if (grid) Vector.fill(n)(Array.fill(3)(rnd.nextInt(3).toFloat))
      else Vector.tabulate(n)(i => TestPoints.unitVec(6, seed * 7919 + i))
    (ids.zip(vecs).map { case (id, v) => Pt(id, v) }, k)
  }

  property("loop centers and weights equal select + weighted") = forAll(genCase) { case (pts, k) =>
    val loop = MapReduceCoreset.localCoreset(PointBlock(pts), k)
    val ref = Reference.weighted(pts, Reference.select(pts, k))
    loop.map(w => (w.id, w.weight, w.vec.toSeq)) == ref.map(w => (w.id, w.weight, w.vec.toSeq)) &&
      Gmm.select(pts, k).map(_.id) == ref.map(_.id) &&
      Gmm.selectBy(pts.map(p => (p.id, p.vec)), k)(Metric.sqDist).map(_._1) == ref.map(_.id)
  }

  property("matrix local search equals the recomputing one") = forAll(genCase) { case (pts, k) =>
    Heuristics.localSearch(pts, k).map(_.id) == Reference.localSearch(pts, k).map(_.id)
  }

  /** Weighted pools of random unit vectors, in three shapes:
    *  - n 1–40, k 1–60, caps 1–5: k above the distinct count runs the fill
    *    phase;
    *  - n 1–6, k 1–30, caps 1–3: k is mostly above the total mass;
    *  - the declared pool, 256 64-d points at k = 32, caps 1–30.
    * The fill phase sums its gains in another order than the reference, so
    * vectors with exactly tied sums (as on an integer grid) could break a
    * tie the other way; random unit vectors have none.
    */
  private val genWeighted: Gen[(Vector[WeightedPt], Int)] = for {
    (n, dim, k, maxCap) <- Gen.frequency(
      3 -> Gen.zip(Gen.choose(1, 40), Gen.const(6), Gen.choose(1, 60), Gen.choose(1L, 5L)),
      1 -> Gen.zip(Gen.choose(1, 6), Gen.const(6), Gen.choose(1, 30), Gen.choose(1L, 3L)),
      1 -> Gen.zip(Gen.const(256), Gen.const(64), Gen.const(32), Gen.const(30L)))
    seed <- Gen.choose(0L, 10000L)
  } yield {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 4L * n).toVector).take(n)
    (Vector.tabulate(n)(i => WeightedPt(ids(i), TestPoints.unitVec(dim, seed * 7919 + i), 1L + rnd.nextLong(maxCap))), k)
  }

  property("capped local search equals the multiset reference") = forAllNoShrink(genWeighted) { case (pts, k) =>
    Heuristics.localSearchWeighted(pts, k).map(_.id) == Reference.localSearchWeighted(pts, k).map(_.id)
  }
}
