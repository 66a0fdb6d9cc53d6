package graft.diversity

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** The fused farthest-first loop and the matrix local search against
  * [[Reference]], the separate-pass kernels they replaced: same centers in
  * the same order, same delegate weights, same swaps.
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
}
