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
  * engines — rounded to 12 dp first (SURVEY.md §7.3.4).
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
