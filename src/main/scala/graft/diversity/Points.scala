package graft.diversity

/** A point in the metric space: the reference's sole data abstraction
  * (SURVEY.md §1.1 — dense vector + id). `id` is the determinism anchor:
  * seeds, tie-breaks and scan orders are all by ascending id (§7.3.4).
  */
final case class Pt(id: Long, vec: Array[Float])

/** A coreset element: a kernel point plus the number of input points it
  * represents (delegate multiplicity — SURVEY.md §1.1 "weighted/proxy
  * points", [VLDB17] §4).
  */
final case class WeightedPt(id: Long, vec: Array[Float], weight: Long)

/** Euclidean metric kernels. Distances are computed in double and — when
  * used for comparisons that must be reproducible across partitionings and
  * engines — rounded to 12 dp first (SURVEY.md §7.3.4). [[sqDist]] defines
  * the sum; the scans [[PointBlock.sqDistsTo]] and [[KernelSet.nearest]]
  * run four of them at a time and return the same values, bit for bit.
  */
object Metric {
  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = a.length
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  def dist(a: Array[Float], b: Array[Float]): Double = math.sqrt(sqDist(a, b))

  /** Round to 12 dp for order/tie decisions. Values here are ≤ ~8 (squared
    * distances of unit vectors), so `x*1e12` stays far below 2^53 and the
    * rounding is exact.
    */
  def r12(x: Double): Double = math.rint(x * 1e12) / 1e12
}

/** The kernels a streaming coreset compares each new point with, in
  * insertion order: each kernel's float coordinates as given, and a double
  * copy made once when it is added, so a scan converts only the point.
  * [[nearest]] is the one nearest-kernel loop. Scans share one buffer for
  * the point, so a set serves one thread.
  */
final class KernelSet {
  private var floats = new Array[Array[Float]](8)
  private var doubles = new Array[Array[Double]](8)
  private var n = 0
  private var x = Array.emptyDoubleArray // the point being scanned, in doubles

  def size: Int = n
  def apply(j: Int): Array[Float] = floats(j)

  def add(v: Array[Float]): Unit = {
    if (n == floats.length) {
      floats = java.util.Arrays.copyOf(floats, 2 * n)
      doubles = java.util.Arrays.copyOf(doubles, 2 * n)
    }
    floats(n) = v
    doubles(n) = v.map(_.toDouble)
    n += 1
  }

  /** The kernel nearest to `v` among kernels `from until size`: its index
    * and its r12-rounded squared distance. Strict `<` over the kernels in
    * order, so the earliest of equally near kernels wins; (−1, +∞) when
    * there are none. Each distance is [[Metric.sqDist]]'s sum, term for
    * term in the same order, so index and distance are bit-identical to
    * a kernel-by-kernel loop over it. Four kernels run interleaved, as
    * four independent sums, so their additions overlap.
    */
  def nearest(v: Array[Float], from: Int = 0): (Int, Double) = {
    val dim = v.length
    if (x.length != dim) x = new Array[Double](dim)
    var t = 0
    while (t < dim) { x(t) = v(t).toDouble; t += 1 }
    var best = -1
    var bestD = Double.PositiveInfinity
    var j = from
    while (j + 3 < n) {
      val k0 = doubles(j); val k1 = doubles(j + 1); val k2 = doubles(j + 2); val k3 = doubles(j + 3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      t = 0
      while (t < dim) {
        val xt = x(t)
        val d0 = xt - k0(t); s0 += d0 * d0
        val d1 = xt - k1(t); s1 += d1 * d1
        val d2 = xt - k2(t); s2 += d2 * d2
        val d3 = xt - k3(t); s3 += d3 * d3
        t += 1
      }
      val r0 = Metric.r12(s0); if (r0 < bestD) { bestD = r0; best = j }
      val r1 = Metric.r12(s1); if (r1 < bestD) { bestD = r1; best = j + 1 }
      val r2 = Metric.r12(s2); if (r2 < bestD) { bestD = r2; best = j + 2 }
      val r3 = Metric.r12(s3); if (r3 < bestD) { bestD = r3; best = j + 3 }
      j += 4
    }
    while (j < n) {
      val k = doubles(j)
      var s = 0.0
      t = 0
      while (t < dim) {
        val d = x(t) - k(t)
        s += d * d
        t += 1
      }
      val r = Metric.r12(s); if (r < bestD) { bestD = r; best = j }
      j += 1
    }
    (best, bestD)
  }
}

object KernelSet {
  def apply(vecs: Iterable[Array[Float]]): KernelSet = {
    val ks = new KernelSet
    vecs.foreach(ks.add)
    ks
  }
}

/** Points of one dimension packed row-major into one contiguous float
  * array, sorted by id (stable, so equal ids keep their arrival order).
  * Point `i` is `ids(i)` with coordinates `data(i·dim until (i+1)·dim)`;
  * the dense kernels address points by this index.
  */
final class PointBlock private (val ids: Array[Long], data: Array[Float], dim: Int) {
  def size: Int = ids.length

  /** Sets `out(i)` to [[Metric.sqDist]] of point `i` and point `c`, for
    * every point: the same arithmetic in the same order, so each value is
    * bit-identical. Four points run interleaved, as four independent sums,
    * so their additions overlap instead of waiting on one another.
    */
  def sqDistsTo(c: Int, out: Array[Double]): Unit = {
    val cb = c * dim
    val n = size
    var i = 0
    while (i + 3 < n) {
      val a = i * dim
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var t = 0
      while (t < dim) {
        val cv = data(cb + t).toDouble
        val d0 = data(a + t).toDouble - cv; s0 += d0 * d0
        val d1 = data(a + dim + t).toDouble - cv; s1 += d1 * d1
        val d2 = data(a + 2 * dim + t).toDouble - cv; s2 += d2 * d2
        val d3 = data(a + 3 * dim + t).toDouble - cv; s3 += d3 * d3
        t += 1
      }
      out(i) = s0; out(i + 1) = s1; out(i + 2) = s2; out(i + 3) = s3
      i += 4
    }
    while (i < n) {
      val a = i * dim
      var s = 0.0
      var t = 0
      while (t < dim) {
        val d = data(a + t).toDouble - data(cb + t).toDouble
        s += d * d
        t += 1
      }
      out(i) = s
      i += 1
    }
  }

  def vec(i: Int): Array[Float] = java.util.Arrays.copyOfRange(data, i * dim, (i + 1) * dim)
}

object PointBlock {
  def apply(pts: Seq[Pt]): PointBlock = {
    val b = new Builder
    pts.foreach(p => b.add(p.id, p.vec))
    b.result()
  }

  /** Collects points in any order. Every point must have the dimension of
    * the first one: a null or ragged embedding fails here, naming its
    * vec_id, instead of surfacing later as an NPE, an index error or a
    * silently truncated distance.
    */
  final class Builder {
    private var ids = new Array[Long](64)
    private var data = new Array[Float](0)
    private var n = 0
    private var dim = -1
    private var firstId = 0L

    def add(id: Long, vec: Array[Float]): Unit = {
      require(vec != null, s"vec_id $id has a null embedding")
      if (dim < 0) {
        dim = vec.length
        firstId = id
        data = new Array[Float](64 * dim)
      }
      require(vec.length == dim,
        s"vec_id $id has an embedding of length ${vec.length}, but vec_id $firstId has length $dim")
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        data = java.util.Arrays.copyOf(data, 2 * n * dim)
      }
      ids(n) = id
      System.arraycopy(vec, 0, data, n * dim, dim)
      n += 1
    }

    def result(): PointBlock = {
      val d = math.max(dim, 0)
      val order = (0 until n).sortBy(i => ids(i)).toArray
      val sorted = new Array[Float](n * d)
      var i = 0
      while (i < n) {
        System.arraycopy(data, order(i) * d, sorted, i * d, d)
        i += 1
      }
      new PointBlock(order.map(i => ids(i)), sorted, d)
    }
  }
}
