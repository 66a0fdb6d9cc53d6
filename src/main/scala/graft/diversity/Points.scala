package graft.diversity

import jdk.incubator.vector.{DoubleVector, FloatVector, VectorOperators}
import org.apache.spark.unsafe.Platform

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
  * run it in SIMD lanes and return the same values, bit for bit.
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

/** The lane count L of the dense scans, [[PointBlock]] and [[KernelSet]]:
  * the doubles in one vector of the platform's preferred shape ([[Lanes]]).
  * The scans are written on `jdk.incubator.vector`, which a JVM resolves
  * only when started with `--add-modules=jdk.incubator.vector`. Both
  * classes are built only through [[width]], and this object holds no
  * vector code itself, so a JVM without the module fails here, on every
  * attempt and naming the flag, rather than with a bare
  * `NoClassDefFoundError` when a scan's class is loaded.
  */
private[diversity] object VectorLanes {
  private val present = ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent

  def width: Int = {
    if (!present) throw new UnsupportedOperationException(
      "graft's distance kernels need the JDK vector module: start the JVM with " +
        "--add-modules=jdk.incubator.vector (on a cluster, in spark.driver.extraJavaOptions " +
        "and spark.executor.extraJavaOptions)")
    Lanes.L
  }

  /** Where item `i` of a tiled array of `dim`-long items starts: its
    * coordinate t is at `offset(i, dim) + t·L` (the layout is
    * [[PointBlock]]'s).
    */
  def offset(i: Int, dim: Int): Int = i / Lanes.L * Lanes.L * dim + i % Lanes.L
}

/** The kernels a streaming coreset compares each new point with, in
  * insertion order: each kernel's float coordinates as given, and a double
  * copy made once when it is added, so a scan converts only the point. The
  * copies are stored as tiles of L kernels (see [[PointBlock]] for the
  * layout), so [[nearest]] measures L kernels per vector operation. Scans
  * share one buffer for their sums, so a set serves one thread. Build one
  * with [[KernelSet.apply]].
  */
final class KernelSet private () {
  private var floats = new Array[Array[Float]](Lanes.L) // capacity: a multiple of L
  private var tiles = Array.emptyDoubleArray
  private var sums = new Array[Double](Lanes.L) // nearest's squared distances, by kernel
  private var n = 0
  private var dim = -1

  def size: Int = n
  def apply(j: Int): Array[Float] = floats(j)

  def add(v: Array[Float]): Unit = {
    if (dim < 0) {
      dim = v.length
      tiles = new Array[Double](floats.length * dim)
    }
    require(v.length == dim, s"a kernel of length ${v.length} in a set of length $dim")
    if (n == floats.length) {
      floats = java.util.Arrays.copyOf(floats, 2 * n)
      tiles = java.util.Arrays.copyOf(tiles, 2 * n * dim)
      sums = java.util.Arrays.copyOf(sums, 2 * n)
    }
    floats(n) = v
    val at = VectorLanes.offset(n, dim)
    var t = 0
    while (t < dim) { tiles(at + t * Lanes.L) = v(t).toDouble; t += 1 }
    n += 1
  }

  /** The kernel nearest to `v` among kernels `from until size`: its index
    * and its r12-rounded squared distance. Strict `<` over the kernels in
    * order, so the earliest of equally near kernels wins; (−1, +∞) when
    * there are none. Each lane sums [[Metric.sqDist]]'s terms in its
    * order, with a separate multiply and add, so index and distance are
    * bit-identical to a kernel-by-kernel loop over it. The tiles from the
    * one holding `from` to the last are summed two at a time; the
    * rounding and the comparison then run over the sums in kernel order.
    */
  def nearest(v: Array[Float], from: Int = 0): (Int, Double) = {
    if (from >= n) return (-1, Double.PositiveInfinity)
    require(v.length == dim, s"a point of length ${v.length} against kernels of length $dim")
    val L = Lanes.L
    val D = Lanes.D
    val stride = L * dim
    val end = (n + L - 1) / L
    var tile = from / L
    while (tile < end) {
      val a = tile * stride
      val pair = tile + 1 < end
      val b = if (pair) a + stride else a // a lone last tile runs in both sums
      var s0 = DoubleVector.zero(D)
      var s1 = DoubleVector.zero(D)
      var t = 0
      while (t < dim) {
        val x = DoubleVector.broadcast(D, v(t).toDouble)
        val d0 = x.sub(DoubleVector.fromArray(D, tiles, a + t * L)); s0 = s0.add(d0.mul(d0))
        val d1 = x.sub(DoubleVector.fromArray(D, tiles, b + t * L)); s1 = s1.add(d1.mul(d1))
        t += 1
      }
      s0.intoArray(sums, tile * L)
      if (pair) s1.intoArray(sums, tile * L + L)
      tile += 2
    }
    var best = -1
    var bestD = Double.PositiveInfinity
    var j = from
    while (j < n) {
      val r = Metric.r12(sums(j))
      if (r < bestD) { bestD = r; best = j }
      j += 1
    }
    (best, bestD)
  }
}

object KernelSet {
  def apply(vecs: Iterable[Array[Float]] = Nil): KernelSet = {
    VectorLanes.width
    val ks = new KernelSet
    vecs.foreach(ks.add)
    ks
  }
}

/** Points of one dimension packed into one contiguous float array, sorted
  * by id (stable, so equal ids keep their arrival order); the dense
  * kernels address points by this index. The points are stored as tiles
  * of L ([[VectorLanes]]): coordinate t of point `tile·L + lane` is
  * `data(tile·L·dim + t·L + lane)`, so one vector load reads coordinate t
  * of L consecutive points. The last tile is padded with zeros.
  */
final class PointBlock private (val ids: Array[Long], data: Array[Float], dim: Int) {
  def size: Int = ids.length

  /** Sets `out(i)` to [[Metric.sqDist]] of point `i` and point `c`, for
    * every point. Each lane converts its floats to doubles and sums the
    * terms in [[Metric.sqDist]]'s order, with a separate multiply and add,
    * so each value is bit-identical on any vector width. Two tiles run at
    * once, as independent sums, so their additions overlap.
    */
  def sqDistsTo(c: Int, out: Array[Double]): Unit = {
    val L = Lanes.L
    val D = Lanes.D
    val F = Lanes.F
    val n = size
    val stride = L * dim
    val center = new Array[Double](dim)
    val cb = VectorLanes.offset(c, dim)
    var t = 0
    while (t < dim) { center(t) = data(cb + t * L).toDouble; t += 1 }
    val end = (n + L - 1) / L
    var tile = 0
    while (tile < end) {
      val a = tile * stride
      val pair = tile + 1 < end
      val b = if (pair) a + stride else a // a lone last tile runs in both sums
      var s0 = DoubleVector.zero(D)
      var s1 = DoubleVector.zero(D)
      t = 0
      while (t < dim) {
        val cv = DoubleVector.broadcast(D, center(t))
        val p0 = FloatVector.fromArray(F, data, a + t * L).convertShape(VectorOperators.F2D, D, 0)
        val p1 = FloatVector.fromArray(F, data, b + t * L).convertShape(VectorOperators.F2D, D, 0)
        val d0 = p0.sub(cv); s0 = s0.add(d0.mul(d0))
        val d1 = p1.sub(cv); s1 = s1.add(d1.mul(d1))
        t += 1
      }
      store(s0, out, tile * L, n)
      if (pair) store(s1, out, tile * L + L, n)
      tile += 2
    }
  }

  /** Writes the lanes of `s` that hold points, `base until n`, to `out`. */
  private def store(s: DoubleVector, out: Array[Double], base: Int, n: Int): Unit =
    if (base + Lanes.L <= n) s.intoArray(out, base)
    else System.arraycopy(s.toArray, 0, out, base, n - base)

  def vec(i: Int): Array[Float] = {
    val at = VectorLanes.offset(i, dim)
    Array.tabulate(dim)(t => data(at + t * Lanes.L))
  }
}

object PointBlock {
  def apply(pts: Seq[Pt]): PointBlock = {
    val b = new Builder
    pts.foreach(p => b.add(p.id, p.vec))
    b.result()
  }

  /** Collects points in any order, one at a time or a block at a time.
    * Every point must have the dimension of the first one: a null or
    * ragged embedding fails here, naming its vec_id, instead of surfacing
    * later as an NPE, an index error or a silently truncated distance.
    */
  final class Builder {
    private var ids = new Array[Long](64)
    private var data = new Array[Float](0)
    private var n = 0
    private var dim = -1
    private var firstId = 0L

    def add(id: Long, vec: Array[Float]): Unit = {
      require(vec != null, s"vec_id $id has a null embedding")
      checkDim(id, vec.length)
      reserve(1)
      ids(n) = id
      System.arraycopy(vec, 0, data, n * dim, dim)
      n += 1
    }

    /** Adds a block of points with one bulk copy of its ids and one of its
      * coordinates, from memory as [[Platform]] addresses it (an
      * `UnsafeRow`'s binary fields): `idBytes` bytes of 8-byte ids at
      * `idsAt` and `vecBytes` bytes of float32 coordinates, row-major, at
      * `vecsAt`, both in `base`. A block of another dimension fails naming
      * its first vec_id.
      */
    def add(base: AnyRef, idsAt: Long, idBytes: Int, vecsAt: Long, vecBytes: Int): Unit =
      if (idBytes > 0) {
        val m = idBytes / 8
        require(8 * m == idBytes && vecBytes % (4 * m) == 0,
          s"a block of $idBytes id bytes holds $vecBytes coordinate bytes")
        val (first, d) = (Platform.getLong(base, idsAt), vecBytes / 4 / m)
        checkDim(first, d)
        reserve(m)
        Platform.copyMemory(base, idsAt, ids, Platform.LONG_ARRAY_OFFSET + 8L * n, idBytes)
        Platform.copyMemory(base, vecsAt, data, Platform.FLOAT_ARRAY_OFFSET + 4L * n * dim, vecBytes)
        n += m
      }

    private def checkDim(id: Long, d: Int): Unit = {
      if (dim < 0) {
        dim = d
        firstId = id
        data = new Array[Float](ids.length * dim)
      }
      require(d == dim,
        s"vec_id $id has an embedding of length $d, but vec_id $firstId has length $dim")
    }

    private def reserve(more: Int): Unit = if (n + more > ids.length) {
      val capacity = math.max(2 * ids.length, n + more)
      ids = java.util.Arrays.copyOf(ids, capacity)
      data = java.util.Arrays.copyOf(data, capacity * dim)
    }

    /** The block: the points sorted by id, in tiles of L. */
    def result(): PointBlock = {
      val L = VectorLanes.width
      val d = math.max(dim, 0)
      val order = (0 until n).sortBy(i => ids(i)).toArray
      val tiled = new Array[Float]((n + L - 1) / L * L * d)
      var i = 0
      while (i < n) {
        val from = order(i) * d
        val at = VectorLanes.offset(i, d)
        var t = 0
        while (t < d) { tiled(at + t * L) = data(from + t); t += 1 }
        i += 1
      }
      new PointBlock(order.map(i => ids(i)), tiled, d)
    }
  }
}
