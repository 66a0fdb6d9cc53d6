package graft.diversity

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** The four-kernel scan ([[KernelSet.nearest]]) and the streaming coreset
  * built on it against [[Reference]], the kernel-by-kernel loop they
  * replaced: the same index and the same r12 distance bit for bit, and
  * the same fold.
  */
object StreamingCoresetProps extends Properties("StreamingCoreset") {

  /** `n` vectors, either on the {0,1,2}^dim grid (duplicates and exact
    * distance ties) or random unit vectors.
    */
  private def genVecs(n: Int): Gen[Vector[Array[Float]]] = for {
    grid <- Gen.oneOf(true, false)
    dim <- if (grid) Gen.choose(1, 3) else Gen.choose(1, 9)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rnd = new scala.util.Random(seed)
    if (grid) Vector.fill(n)(Array.fill(dim)(rnd.nextInt(3).toFloat))
    else Vector.tabulate(n)(i => TestPoints.unitVec(dim, seed * 7919 + i))
  }

  /** A point, 0–9 kernels (every remainder of the four-wide loop) and a
    * first kernel to scan from.
    */
  private val genScan: Gen[(Array[Float], Vector[Array[Float]], Int)] = for {
    nk <- Gen.choose(0, 9)
    vs <- genVecs(nk + 1)
    from <- Gen.choose(0, nk)
  } yield (vs.head, vs.tail, from)

  /** Points with distinct ascending ids, about a third of them weighted,
    * a budget m ∈ [2, 9] (so kernel counts 0 to 10 occur) and a split.
    */
  private val genFold: Gen[(Vector[(Pt, Long)], Int, Int)] = for {
    n <- Gen.choose(0, 120)
    vs <- genVecs(n)
    ws <- Gen.listOfN(n, Gen.frequency(2 -> Gen.const(1L), 1 -> Gen.choose(2L, 5L)))
    m <- Gen.choose(2, 9)
    split <- Gen.choose(0, n)
  } yield (vs.zip(ws).zipWithIndex.map { case ((v, w), i) => (Pt(i.toLong * 3, v), w) }, m, split)

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  private def kernels(r: IndexedSeq[WeightedPt]) = r.map(w => (w.id, w.weight, w.vec.toSeq))

  private def fold(pts: Seq[(Pt, Long)], m: Int): StreamingCoreset = {
    val sc = new StreamingCoreset(m)
    pts.foreach { case (p, w) => sc.updateWeighted(p, w) }
    sc
  }

  property("four-kernel scan returns the reference index and r12 distance") =
    forAll(genScan) { case (x, ks, from) =>
      val (i, d) = KernelSet(ks).nearest(x, from)
      val (ri, rd) = Reference.nearest(x, ks.drop(from))
      i == (if (ri < 0) -1 else ri + from) && bits(d) == bits(rd)
    }

  property("weighted fold equals the reference fold") = forAll(genFold) { case (pts, m, _) =>
    val sc = fold(pts, m)
    val ref = new Reference.StreamingCoreset(m)
    pts.foreach { case (p, w) => ref.updateWeighted(p, w) }
    kernels(sc.result()) == kernels(ref.result()) &&
      bits(sc.thresholdSq) == bits(ref.thresholdSq) &&
      sc.pointsConsumed == ref.pointsConsumed
  }

  property("a fold split through snapshot/fromState equals the unsplit fold") =
    forAll(genFold) { case (pts, m, split) =>
      val whole = fold(pts, m)
      val resumed = StreamingCoreset.fromState(m, fold(pts.take(split), m).snapshot)
      pts.drop(split).foreach { case (p, w) => resumed.updateWeighted(p, w) }
      kernels(resumed.result()) == kernels(whole.result()) &&
        bits(resumed.thresholdSq) == bits(whole.thresholdSq) &&
        resumed.pointsConsumed == whole.pointsConsumed
    }
}
