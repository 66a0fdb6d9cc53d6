package graft.diversity

/** Composable MapReduce coreset ([VLDB17] §4; reference operator R5,
  * SURVEY.md §2.1 [P core/.../MapReduceCoreset.scala]).
  *
  * Partition the input into p parts (here the exact residue classes
  * `id % p`); in each part run GMM to k′ ≥ k centers and weight them by
  * delegate counts; the union of the p coresets (p·k′ points ≪ N) is a
  * composable coreset on which the sequential heuristics run driver-side.
  * One shuffle + one coreset-sized collect is the entire distributed
  * footprint — this is what makes the diversity ops 100 TB-safe
  * (SURVEY.md §7.3.5): the driver never sees raw data.
  */
object MapReduceCoreset {

  /** Per-partition map task: local GMM(k′) + delegate weighting in one
    * farthest-first loop ([[Gmm.traverse]], n·k′ distance evaluations).
    * Each point counts toward its nearest center; a point equidistant from
    * two centers counts toward the earlier-selected one. Centers come out
    * in selection order. Deterministic for a fixed partition content
    * (local seed = partition-min id, so the global-min-id point is always in
    * some partition's coreset).
    */
  def localCoreset(block: PointBlock, kPrime: Int): IndexedSeq[WeightedPt] = {
    val t = Gmm.traverse(block.size, kPrime)(block.sqDistsTo)
    val counts = new Array[Long](t.centers.length)
    t.owner.foreach(c => counts(c) += 1)
    t.centers.zipWithIndex.map { case (i, c) => WeightedPt(block.ids(i), block.vec(i), counts(c)) }
  }
}
