package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.diversity.{Pt, StreamingCoreset, WeightedPt}

/** Event-time streaming coreset: the reference's one-pass doubling coreset
  * (R6, [VLDB17] §5) as an arbitrary-stateful Structured Streaming operator
  * (`flatMapGroupsWithState`), per SURVEY.md §2.1 R6's "event-time variant".
  *
  * Each group key maintains one [[StreamingCoreset]] as checkpointable
  * state (plain-array snapshot — survives state-store round-trips). After
  * every micro-batch the operator emits the group's current kernels tagged
  * with `consumed`, so downstream consumers can pick the latest snapshot.
  *
  * Scale posture: state per key is O(m) kernels regardless of stream
  * length — the whole point of the coreset; keys partition the stream so
  * state is shuffle-distributed. Batch parity is asserted in
  * StatefulCoresetSpec against the sequential fold.
  */
object StatefulCoreset {

  final case class VecEvent(key: Int, vec_id: Long, vec: Array[Float])
  final case class KernelOut(key: Int, vec_id: Long, weight: Long, consumed: Long)

  /** The one R6 batch step both state APIs run: restore the key's coreset
    * from its state (or start one), fold the batch in ascending vec_id —
    * micro-batch iterator order is not guaranteed, and [[batchFold]] uses
    * the same order — and return the new snapshot with the kernels to
    * emit, each tagged with the points consumed so far.
    */
  def step(
      m: Int,
      key: Int,
      events: Iterator[VecEvent],
      state: Option[StreamingCoreset.State]): (StreamingCoreset.State, Iterator[KernelOut]) = {
    val sc = state.fold(new StreamingCoreset(m))(StreamingCoreset.fromState(m, _))
    events.toArray.sortBy(_.vec_id).foreach(e => sc.update(Pt(e.vec_id, e.vec)))
    val consumed = sc.pointsConsumed
    (sc.snapshot, sc.result().iterator.map(w => KernelOut(key, w.id, w.weight, consumed)))
  }

  def updateGroup(m: Int)(
      key: Int,
      events: Iterator[VecEvent],
      state: GroupState[StreamingCoreset.State]): Iterator[KernelOut] = {
    val (next, out) = step(m, key, events, state.getOption)
    state.update(next)
    out
  }

  /** Wire the operator onto a stream of [[VecEvent]]. */
  def kernels(events: Dataset[VecEvent], m: Int = 64): Dataset[KernelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[StreamingCoreset.State, KernelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(updateGroup(m))
  }

  /** Batch reference fold for parity tests. */
  def batchFold(points: Seq[Pt], m: Int): IndexedSeq[WeightedPt] = {
    val sc = new StreamingCoreset(m)
    points.sortBy(_.id).foreach(sc.update)
    sc.result()
  }

  /** The SAME operator on Spark 4's `transformWithState` API — the
    * successor to flatMapGroupsWithState: typed named state
    * ([[ValueState]]) resolved from a [[StatefulProcessorHandle]] in
    * `init`, RocksDB-backed (the API requires the RocksDB provider —
    * see [[graft.streaming.StreamingEntry.streamCoresetTws]] for the
    * session pin), with TTL and timers available per state. One
    * ValueState holds the O(m) coreset snapshot per key; both forms run
    * [[step]], and StatefulCoresetSpec asserts the two APIs' final kernels
    * are equal.
    */
  class CoresetProcessor(m: Int) extends StatefulProcessor[Int, VecEvent, KernelOut] {
    @transient private var kernels: ValueState[StreamingCoreset.State] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      kernels = getHandle.getValueState[StreamingCoreset.State](
        "coreset", Encoders.product[StreamingCoreset.State], TTLConfig.NONE)

    override def handleInputRows(
        key: Int,
        rows: Iterator[VecEvent],
        timerValues: TimerValues): Iterator[KernelOut] = {
      val (next, out) = step(m, key, rows, Option.when(kernels.exists())(kernels.get()))
      kernels.update(next)
      out
    }
  }

  /** Wire the transformWithState form onto a stream of [[VecEvent]]. */
  def kernelsTws(events: Dataset[VecEvent], m: Int = 64): Dataset[KernelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.key)
      .transformWithState(new CoresetProcessor(m), TimeMode.None(), OutputMode.Update())
  }
}
