package graft.diversity

import scala.collection.mutable.ArrayBuffer

/** One-pass bounded-memory streaming coreset via the doubling technique
  * ([VLDB17] §5; reference operator R6, SURVEY.md §2.1
  * [P core/.../StreamingCoreset.scala]).
  *
  * Maintains at most `m` kernels that are pairwise farther than a threshold
  * δ. A new point farther than δ from every kernel becomes a kernel; when
  * the budget overflows, δ grows to the current minimum pairwise kernel
  * distance and the kernel set is greedily re-thinned (insertion order,
  * keep-if-far), with dropped kernels' delegate counts folded into their
  * nearest survivor.
  *
  * Threshold growth note: the textbook doubling rule (δ ← 2δ) gives
  * O(log Δ) merge phases but can overshoot badly on concentrated data —
  * 64-d random unit vectors have all pairwise distances within a ~1.4×
  * band, so one doubling can collapse m kernels to 1. Growing δ to the
  * min pairwise kernel distance instead merges at least one pair per
  * phase (guaranteed progress), keeps the kernel budget fully used, and
  * preserves the same anticover invariants; the cost is O(m²) per phase,
  * which is fine for the small per-partition budgets this engine uses.
  *
  * Every comparison — insertion, re-thinning, reassignment of dropped
  * delegates and the minimum pairwise distance — is one
  * [[KernelSet.nearest]] scan, so a point is read once per update and
  * compared with L kernels per vector operation. The kernels keep a
  * double copy beside their floats; a [[StreamingCoreset.State]] holds
  * only the floats, and [[StreamingCoreset.fromState]] rebuilds the
  * copies.
  *
  * Invariants (property-tested in GmmProps and CoresetSpec; equality with
  * the kernel-by-kernel fold it replaced in StreamingCoresetProps):
  *  - kernel count ≤ m at all times after an update completes;
  *  - surviving kernels are pairwise > δ/2 apart (distances on r12-rounded
  *    squared values);
  *  - Σ weights = number of points consumed.
  *
  * Deterministic for a fixed input order (the engine feeds points in
  * ascending id order — SURVEY.md §7.3.4).
  */
final class StreamingCoreset(m: Int) {
  require(m >= 2, "kernel budget must be >= 2")

  private[diversity] val ids = new ArrayBuffer[Long]
  private[diversity] var kernels = KernelSet()
  private[diversity] val weights = new ArrayBuffer[Long]
  private[diversity] var deltaSq = 0.0 // squared threshold; 0 until first overflow
  private[diversity] var consumed = 0L

  def size: Int = ids.length
  def thresholdSq: Double = deltaSq
  def pointsConsumed: Long = consumed

  def update(p: Pt): Unit = updateWeighted(p, 1L)

  /** Insert a point that already represents `w` delegates (used when
    * merging coresets: a foreign kernel re-enters with its accumulated
    * weight).
    */
  def updateWeighted(p: Pt, w: Long): Unit = {
    consumed += w
    val (nearest, dSq) = kernels.nearest(p.vec)
    if (dSq > deltaSq) {
      ids += p.id; kernels.add(p.vec); weights += w
      if (ids.length > m) overflow()
    } else {
      weights(nearest) += w
    }
  }

  /** Grow δ and greedily thin: scan kernels in insertion order, keep those
    * farther than the new δ from every kept kernel (their nearest kept
    * kernel is beyond δ); fold dropped delegate counts into the nearest
    * kept kernel. Each phase merges at least the closest pair, so the loop
    * terminates in ≤ m phases per overflow.
    */
  private def overflow(): Unit = {
    do {
      deltaSq = math.max(deltaSq, minPairwiseSq())
      val kept = KernelSet()
      val keptIds = new ArrayBuffer[Long]
      var i = 0
      while (i < ids.length) {
        if (kept.nearest(kernels(i))._2 > deltaSq) { kept.add(kernels(i)); keptIds += ids(i) }
        i += 1
      }
      val keptW = new Array[Long](kept.size)
      i = 0
      while (i < ids.length) {
        keptW(kept.nearest(kernels(i))._1) += weights(i)
        i += 1
      }
      ids.clear(); ids ++= keptIds
      kernels = kept
      weights.clear(); weights ++= keptW
    } while (ids.length > m)
  }

  /** Minimum pairwise squared distance among current kernels (the smallest
    * threshold that merges at least one pair): each kernel's nearest among
    * the kernels after it.
    */
  private def minPairwiseSq(): Double = {
    var mn = Double.PositiveInfinity
    var i = 0
    while (i < ids.length) {
      val d = kernels.nearest(kernels(i), i + 1)._2
      if (d < mn) mn = d
      i += 1
    }
    mn
  }

  def result(): IndexedSeq[WeightedPt] = {
    (0 until ids.length).map(i => WeightedPt(ids(i), kernels(i), weights(i)))
  }

  /** Serializable snapshot for checkpointed streaming state
    * ([[graft.streaming.StatefulCoreset]]): the float kernels only.
    */
  def snapshot: StreamingCoreset.State = StreamingCoreset.State(
    ids.toArray, Array.tabulate(kernels.size)(kernels(_)), weights.toArray, deltaSq, consumed)
}

object StreamingCoreset {
  /** Encoder-friendly state: plain arrays + scalars. */
  final case class State(
      ids: Array[Long],
      vecs: Array[Array[Float]],
      weights: Array[Long],
      deltaSq: Double,
      consumed: Long)

  /** The grouped fold: one coreset of budget `m` per run of equal keys in
    * `rows`, each point re-entering with its weight, in input order. A run
    * is emitted as `(key, kernel)` rows when its key changes, so only one
    * coreset is live and the kernels depend only on the run's own rows.
    * Feed it key-sorted rows; a key that appears in two runs gets two
    * coresets.
    */
  def foldGroups[K](rows: Iterator[(K, Pt, Long)], m: Int): Iterator[(K, WeightedPt)] = {
    val it = rows.buffered
    Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
      val key = it.head._1
      val sc = new StreamingCoreset(m)
      while (it.hasNext && it.head._1 == key) {
        val (_, p, w) = it.next()
        sc.updateWeighted(p, w)
      }
      sc.result().iterator.map(k => (key, k))
    }
  }

  def fromState(m: Int, s: State): StreamingCoreset = {
    val sc = new StreamingCoreset(m)
    sc.ids ++= s.ids
    s.vecs.foreach(sc.kernels.add) // rebuilds the double copies
    sc.weights ++= s.weights
    sc.deltaSq = s.deltaSq
    sc.consumed = s.consumed
    sc
  }
}
