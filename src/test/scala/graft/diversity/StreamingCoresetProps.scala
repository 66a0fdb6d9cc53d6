package graft.diversity

import org.apache.spark.unsafe.Platform
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** The lane scans ([[KernelSet.nearest]], [[PointBlock.sqDistsTo]]) and
  * what is built on them against [[Reference]], the scalar loops they
  * replaced: the same index and the same distance bit for bit, the same
  * fold and the same traversal. The lane cases cover every tile remainder
  * of the platform's lane count L, two tiles and one more.
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

  /** A point, 0–9 kernels (every remainder of a four-kernel loop) and a
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

  private val L = VectorLanes.width

  /** `n` vectors of a dimension in {1, 3, 64, 67} (one lane's worth of
    * terms, a few, a multiple of 8 and not), on the {0,1,2}^dim grid or
    * random unit vectors.
    */
  private def genLaneVecs(n: Int): Gen[Vector[Array[Float]]] = for {
    grid <- Gen.oneOf(true, false)
    dim <- Gen.oneOf(1, 3, 64, 67)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rnd = new scala.util.Random(seed)
    if (grid) Vector.fill(n)(Array.fill(dim)(rnd.nextInt(3).toFloat))
    else Vector.tabulate(n)(i => TestPoints.unitVec(dim, seed * 7919 + i))
  }

  /** 0 to 2L+1 points with distinct ids in a shuffled order. */
  private val genBlock: Gen[Vector[Pt]] = for {
    n <- Gen.choose(0, 2 * L + 1)
    vs <- genLaneVecs(n)
    seed <- Gen.choose(0L, 100000L)
  } yield vs.zip(new scala.util.Random(seed).shuffle(Vector.tabulate(n)(_ * 3L))).map {
    case (v, id) => Pt(id, v)
  }

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  property("lane block holds the points in id order and measures Metric.sqDist's bits") =
    forAllNoShrink(genBlock) { pts =>
      val sorted = pts.sortBy(_.id)
      val b = PointBlock(pts)
      val out = new Array[Double](b.size)
      b.ids.toSeq == sorted.map(_.id) &&
        sorted.indices.forall(i => b.vec(i).sameElements(sorted(i).vec)) &&
        sorted.indices.forall { c =>
          b.sqDistsTo(c, out)
          sorted.indices.forall(i => bits(out(i)) == bits(Metric.sqDist(sorted(i).vec, sorted(c).vec)))
        }
    }

  property("a block built from bulk slices equals the block built point by point") =
    forAllNoShrink(for {
      pts <- genBlock
      cuts <- Gen.listOf(Gen.choose(0, pts.size))
    } yield (pts, (0 +: cuts.sorted :+ pts.size).distinct)) { case (pts, bounds) =>
      val bulk = new PointBlock.Builder
      bounds.zip(bounds.tail).foreach { case (from, until) =>
        // The slice as one byte array: its ids, then its coordinates.
        val (ids, vecs) = (pts.slice(from, until).map(_.id), pts.slice(from, until).flatMap(_.vec))
        val bytes = new Array[Byte](8 * ids.size + 4 * vecs.size)
        val at = Platform.BYTE_ARRAY_OFFSET
        ids.indices.foreach(i => Platform.putLong(bytes, at + 8L * i, ids(i)))
        vecs.indices.foreach(i => Platform.putFloat(bytes, at + 8L * ids.size + 4L * i, vecs(i)))
        bulk.add(bytes, at, 8 * ids.size, at + 8L * ids.size, 4 * vecs.size)
      }
      val (b, one) = (bulk.result(), PointBlock(pts))
      b.ids.toSeq == one.ids.toSeq && pts.indices.forall(i => b.vec(i).sameElements(one.vec(i)))
    }

  property("lane scan from any kernel returns the reference index and r12 distance") =
    forAllNoShrink(for {
      nk <- Gen.choose(0, 2 * L + 1)
      vs <- genLaneVecs(nk + 1)
      from <- Gen.choose(0, nk)
    } yield (vs.head, vs.tail, from)) { case (x, ks, from) =>
      val (i, d) = KernelSet(ks).nearest(x, from)
      val (ri, rd) = Reference.nearest(x, ks.drop(from))
      i == (if (ri < 0) -1 else ri + from) && bits(d) == bits(rd)
    }

  property("Gmm.traverse over a lane block equals Reference.select and weighted") =
    forAllNoShrink(for {
      pts <- genBlock
      k <- Gen.choose(1, pts.size + 2)
    } yield (pts, k)) { case (pts, k) =>
      val b = PointBlock(pts)
      val t = Gmm.traverse(b.size, k)(b.sqDistsTo)
      val centers = t.centers.map(i => Pt(b.ids(i), b.vec(i)))
      val counts = t.centers.indices.map(c => t.owner.count(_ == c).toLong)
      val ref = Reference.select(pts, k)
      centers.map(_.id) == ref.map(_.id) &&
        counts == Reference.weighted(pts, ref).map(_.weight)
    }

  private def kernels(r: IndexedSeq[WeightedPt]) = r.map(w => (w.id, w.weight, w.vec.toSeq))

  private def fold(pts: Seq[(Pt, Long)], m: Int): StreamingCoreset = {
    val sc = new StreamingCoreset(m)
    pts.foreach { case (p, w) => sc.updateWeighted(p, w) }
    sc
  }

  property("four-kernel scan returns the reference index and r12 distance") =
    forAllNoShrink(genScan) { case (x, ks, from) =>
      val (i, d) = KernelSet(ks).nearest(x, from)
      val (ri, rd) = Reference.nearest(x, ks.drop(from))
      i == (if (ri < 0) -1 else ri + from) && bits(d) == bits(rd)
    }

  property("weighted fold equals the reference fold") = forAllNoShrink(genFold) { case (pts, m, _) =>
    val sc = fold(pts, m)
    val ref = new Reference.StreamingCoreset(m)
    pts.foreach { case (p, w) => ref.updateWeighted(p, w) }
    kernels(sc.result()) == kernels(ref.result()) &&
      bits(sc.thresholdSq) == bits(ref.thresholdSq) &&
      sc.pointsConsumed == ref.pointsConsumed
  }

  property("a fold split through snapshot/fromState equals the unsplit fold") =
    forAllNoShrink(genFold) { case (pts, m, split) =>
      val whole = fold(pts, m)
      val resumed = StreamingCoreset.fromState(m, fold(pts.take(split), m).snapshot)
      pts.drop(split).foreach { case (p, w) => resumed.updateWeighted(p, w) }
      kernels(resumed.result()) == kernels(whole.result()) &&
        bits(resumed.thresholdSq) == bits(whole.thresholdSq) &&
        resumed.pointsConsumed == whole.pointsConsumed
    }
}
