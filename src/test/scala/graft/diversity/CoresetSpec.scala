package graft.diversity

import org.scalatest.funsuite.AnyFunSuite

class CoresetSpec extends AnyFunSuite {

  test("streaming coreset: kernel budget, mass conservation, separation invariant") {
    for (seed <- 0 until 10) {
      val n = 100 + seed * 40
      val m = 16
      val pts = TestPoints.randomPoints(n, 8, seed)
      val sc = new StreamingCoreset(m)
      pts.sortBy(_.id).foreach(sc.update)
      val res = sc.result()
      assert(res.length <= m)
      assert(res.map(_.weight).sum == n.toLong)
      // surviving kernels are pairwise farther than the final threshold
      val dSq = sc.thresholdSq
      for (i <- res.indices; j <- i + 1 until res.length) {
        val d = Metric.r12(Metric.sqDist(res(i).vec, res(j).vec))
        assert(d > dSq, s"kernels ${res(i).id},${res(j).id} at sqdist $d <= threshold $dSq")
      }
    }
  }

  test("streaming coreset: deterministic for a fixed input order") {
    val pts = TestPoints.randomPoints(300, 8, 7)
    def run(): Seq[(Long, Long)] = {
      val sc = new StreamingCoreset(16)
      pts.sortBy(_.id).foreach(sc.update)
      sc.result().map(w => (w.id, w.weight))
    }
    assert(run() == run())
  }

  test("grouped fold: summarizing partials replay their weights into one bounded coreset per group") {
    // diverseByLabel's two stages on groups larger than the budget: stage 1
    // folds each (label, id range) group, which here holds ~11 points for
    // m = 4, so the partials summarize; stage 2 replays their kernels per
    // label with the accumulated weights.
    val m = 4
    val pts = TestPoints.randomPoints(600, 8, 17)
    def label(id: Long) = id % 3
    val stage1 = pts.sortBy(p => (label(p.id), p.id / 32, p.id))
      .iterator.map(p => ((label(p.id), p.id / 32), p, 1L))
    val partials = StreamingCoreset.foldGroups(stage1, m).toVector
    assert(partials.exists(_._2.weight > 1), "no stage-1 partial summarized its group")
    val stage2 = partials.sortBy { case ((l, r), k) => (l, r, k.id) }
      .iterator.map { case ((l, _), k) => (l, Pt(k.id, k.vec), k.weight) }
    val byLabel = StreamingCoreset.foldGroups(stage2, m).toVector.groupBy(_._1)
    val groups = pts.groupBy(p => label(p.id))
    assert(byLabel.keySet == groups.keySet, "every group gets a coreset")
    byLabel.foreach { case (l, out) =>
      val ks = out.map(_._2)
      assert(ks.length <= m, s"group $l kernel budget exceeded: ${ks.length}")
      assert(ks.map(_.weight).sum == groups(l).length.toLong, s"group $l mass not conserved")
      assert(ks.forall(k => label(k.id) == l), s"group $l holds a kernel from another group")
      assert(ks.map(_.id).distinct.length == ks.length, s"group $l repeats a kernel")
    }
  }

  test("MapReduce coreset: local coresets conserve mass and include the partition-min id") {
    val pts = TestPoints.randomPoints(200, 8, 11)
    val parts = pts.groupBy(_.id % 4).values.toVector
    val coresets = parts.map(p => MapReduceCoreset.localCoreset(PointBlock(p), 16))
    coresets.zip(parts).foreach { case (cs, part) =>
      assert(cs.map(_.weight).sum == part.length.toLong)
      assert(cs.exists(_.id == part.map(_.id).min), "local GMM seed (partition-min id) must survive")
    }
    // composability: union coreset has p*k' points max, covering all mass
    val union = coresets.flatten
    assert(union.map(_.weight).sum == 200L)
    assert(union.length <= 4 * 16)
  }

  test("composed selection is stable across partition counts when coresets cover") {
    // With k' >= n/p the local coreset degenerates to "all points" and the
    // final GMM must be identical for any p — the determinism-under-p
    // anchor case (SURVEY.md §7.3.4).
    val pts = TestPoints.randomPoints(60, 8, 13)
    def selectWithP(p: Int): Seq[Long] = {
      val parts = pts.groupBy(x => x.id % p).values.toVector
      val union = parts.flatMap(part =>
        MapReduceCoreset.localCoreset(PointBlock(part), 60))
      Gmm.select(union.map(w => Pt(w.id, w.vec)), 8).map(_.id)
    }
    assert(selectWithP(1) == selectWithP(2))
    assert(selectWithP(1) == selectWithP(4))
    assert(selectWithP(1) == selectWithP(8))
  }

  test("bounded re-coreset path is stable across partition counts when coresets cover") {
    // Same anchor case, through remoteCliqueDiv's budgeted pipeline: union
    // coreset → GMM re-coreset to a fixed budget → heuristics pool. When
    // local coresets cover their partitions the union is p-invariant, so
    // the re-coreset and everything selected from it must be too.
    val pts = TestPoints.randomPoints(80, 8, 17)
    def boundedWithP(p: Int): (Seq[Long], Seq[Long]) = {
      val parts = pts.groupBy(x => x.id % p).values.toVector
      val union = parts.flatMap(part =>
        MapReduceCoreset.localCoreset(PointBlock(part), 80))
        .map(w => Pt(w.id, w.vec)).sortBy(_.id)
      val bounded = Gmm.select(union, 24)
      (bounded.map(_.id), Heuristics.matching(bounded, 8).map(_.id))
    }
    assert(boundedWithP(1) == boundedWithP(2))
    assert(boundedWithP(1) == boundedWithP(4))
    assert(boundedWithP(1) == boundedWithP(8))
  }
}
