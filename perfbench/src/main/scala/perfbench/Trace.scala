package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary, in epoch microseconds. `parent` is
  * -1 only for an operation's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

final case class TaskRec(
    stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    resultBytes: Long, peakMem: Long, spillBytes: Long, inBytes: Long, inRows: Long,
    shuffleWrite: Long, shuffleRead: Long, shuffleReadRows: Long, fetchWaitMs: Long)

final case class BatchRec(queryId: String, batchId: Long, startMs: Long, durations: Map[String, Long],
    stateRows: Long, stateMemBytes: Long)

/** What one traced operation produced: its span tree (driver spans plus
  * the job, stage, planning-phase and micro-batch spans the listeners saw)
  * and the task and batch records behind the counters.
  */
final case class OpTrace(
    spans: IndexedSeq[Span], stageJob: Map[Int, Int], stageTasks: Map[Int, Int],
    tasks: IndexedSeq[TaskRec], batches: IndexedSeq[BatchRec], executions: Int,
    counts: Map[String, Double]) {

  def wallS: Double = spans.find(_.parent == -1).map(_.durUs / 1e6).getOrElse(0.0)
  def named(name: String): IndexedSeq[Span] = spans.filter(_.name == name)
  def sumS(pred: Span => Boolean): Double = spans.filter(pred).map(_.durUs).sum / 1e6
  def children(s: Span): IndexedSeq[Span] = spans.filter(_.parent == s.id)
  def tasksOf(stageId: Int): IndexedSeq[TaskRec] = tasks.filter(_.stageId == stageId)

  /** Span duration minus the part of it that its child spans cover. */
  def selfUs(s: Span): Long =
    s.durUs - Tracer.covered(children(s).map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))

  /** Stages of the jobs whose nearest enclosing driver span is `spanName`. */
  def stagesUnder(spanName: String): IndexedSeq[Int] = {
    val under = named(spanName).map(_.id).toSet
    val jobs = spans.filter(s => s.layer == "exec.job" && under(s.parent)).map(_.name.stripPrefix("job ").toInt).toSet
    stageJob.collect { case (st, j) if jobs(j) => st }.toIndexedSeq.sorted
  }
}

/** Layer spans and counters for one run, recorded from the benchmark's own
  * code: direct timing of each call into a layer, plus a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener` that are
  * registered only while a traced operation runs. Spans stay in memory; the
  * caller writes them out when the run ends. Untraced operations pay for a
  * clock read and nothing else.
  */
final class Tracer(spark: SparkSession) {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val lock = new Object
  @volatile private var recording = false
  private var opId = -1
  private var nextSpan = 0
  private val driverSpans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private val counts = mutable.Map[String, Double]()

  // Filled on the listener thread under `lock`, read after a drain.
  private val jobStart = mutable.Map[Int, Long]()
  private val jobEnd = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTimes = mutable.Map[Int, (Long, Long, Int)]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val batches = ArrayBuffer[BatchRec]()
  private val phases = ArrayBuffer[(String, Long, Long)]()
  private var executions = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) lock.synchronized {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) lock.synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) lock.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageTimes(i.stageId) = (s, c, i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      val r = TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.resultSize, m.peakExecutionMemory, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.fetchWaitTime)
      lock.synchronized(tasks += r)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (recording) lock.synchronized {
      executions += 1
      qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (recording) {
      val p = e.progress
      val r = BatchRec(p.id.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      lock.synchronized(batches += r)
    }
  }

  /** Time `body` as a child span of the innermost open span. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!recording) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val s = nowUs
      try body
      finally {
        open = open.tail
        driverSpans += Span(id, parent, opId, layer, name, s, nowUs)
      }
    }

  /** Add to a per-operation count taken on the driver (no-op untraced). */
  def count(name: String, v: Double): Unit = if (recording) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Run one operation. Its wall time covers `body` only: listener
    * registration and the drain of the listener bus happen outside it.
    */
  def op[A](id: Int, kind: String, traced: Boolean)(body: => A): (scala.util.Try[A], Double, Option[OpTrace]) = {
    if (traced) start(id)
    val t0 = System.nanoTime()
    val r = scala.util.Try(span("op", kind)(body))
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, if (traced) Some(finish()) else None)
  }

  private def start(id: Int): Unit = {
    lock.synchronized {
      Seq(jobStart, jobEnd, stageJob, stageTimes).foreach(_.clear())
      tasks.clear(); batches.clear(); phases.clear(); executions = 0
    }
    driverSpans.clear(); counts.clear(); open = Nil; opId = id
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    recording = true
  }

  private def finish(): OpTrace = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    recording = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    lock.synchronized {
      val spans = ArrayBuffer[Span]() ++= driverSpans
      def add(layer: String, name: String, s: Long, e: Long): Int = {
        val id = nextSpan; nextSpan += 1
        spans += Span(id, -2, opId, layer, name, s, e); id
      }
      val jobSpan = jobStart.toSeq.sortBy(_._1).map { case (j, s) =>
        j -> add("exec.job", s"job $j", s * 1000, jobEnd.getOrElse(j, s) * 1000)
      }.toMap
      val batchIds = batches.map { b =>
        add("streaming.batch", s"batch ${b.batchId} ${b.queryId.take(8)}", b.startMs * 1000,
          (b.startMs + b.durations.getOrElse("triggerExecution", 0L)) * 1000)
      }.toSet
      phases.foreach { case (n, s, e) => add("catalyst", n, s * 1000, e * 1000) }
      val stageIds = stageTimes.toSeq.sortBy(_._1).flatMap { case (st, (s, e, _)) =>
        stageJob.get(st).flatMap(jobSpan.get).map(j => (add("exec.stage", s"stage $st", s * 1000, e * 1000), j))
      }.toMap
      // Stages nest under their job. Micro-batches nest under the smallest
      // driver span containing their start; jobs and planning phases under
      // the smallest driver or micro-batch span. Listener clocks tick in
      // milliseconds, hence the 1 ms slack.
      val driverHosts = spans.filter(_.parent != -2).toIndexedSeq
      val batchHosts = spans.filter(s => batchIds(s.id)).toIndexedSeq
      val root = spans.find(_.parent == -1).map(_.id).getOrElse(-1)
      val placed = spans.map { s =>
        if (s.parent != -2) s
        else stageIds.get(s.id) match {
          case Some(j) => s.copy(parent = j)
          case None =>
            val hosts = if (batchIds(s.id)) driverHosts else driverHosts ++ batchHosts
            val host = hosts.filter(h => h.startUs <= s.startUs + 1000 && h.endUs >= s.startUs).sortBy(_.durUs).headOption
            s.copy(parent = host.map(_.id).getOrElse(root))
        }
      }
      OpTrace(placed.toIndexedSeq, stageJob.toMap, stageTimes.map { case (k, v) => k -> v._3 }.toMap,
        tasks.toIndexedSeq, batches.toIndexedSeq, executions, counts.toMap)
    }
  }
}

object Tracer {
  /** Total length of the union of the given intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The layer metrics every workload reports for one traced operation. */
  def layerMetrics(t: OpTrace, nproc: Int): Map[String, Double] = {
    val wall = t.wallS
    val ts = t.tasks
    def sumL(f: TaskRec => Long): Double = ts.map(f).sum.toDouble
    def dur(name: String) = t.sumS(_.name == name)
    val busyUs = covered(ts.map(r => (r.launchMs * 1000, r.finishMs * 1000)))
    val phase = (p: String) => t.sumS(s => s.layer == "catalyst" && s.name == p)
    val last = t.batches.groupBy(_.queryId).values.map(_.maxBy(_.batchId))
    val selfBy = t.spans.groupBy(_.layer).map { case (l, ss) =>
      s"self.${l.replace('.', '_')}_s" -> ss.map(t.selfUs).sum / 1e6
    }
    val selfAll = Seq("op", "operators", "exec", "diversity", "catalyst", "exec.job", "exec.stage", "streaming.batch")
      .map(l => s"self.${l.replace('.', '_')}_s" -> 0.0).toMap ++ selfBy
    Map(
      "operators.build_s" -> t.sumS(_.layer == "operators"),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.executions" -> t.executions.toDouble,
      "exec.jobs" -> t.spans.count(_.layer == "exec.job").toDouble,
      "exec.stages" -> t.spans.count(_.layer == "exec.stage").toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_s" -> sumL(_.runMs) / 1e3,
      "exec.task_cpu_s" -> sumL(_.cpuNs) / 1e9,
      "exec.gc_s" -> sumL(_.gcMs) / 1e3,
      "exec.busy_frac" -> (if (wall > 0) sumL(_.runMs) / 1e3 / (wall * nproc) else 0.0),
      "exec.outside_tasks_s" -> math.max(0.0, wall - busyUs / 1e6),
      "exec.peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / (1024.0 * 1024.0)),
      "exec.spill_bytes" -> sumL(_.spillBytes),
      "exec.result_bytes" -> sumL(_.resultBytes),
      "shuffle.write_bytes" -> sumL(_.shuffleWrite),
      "shuffle.read_bytes" -> sumL(_.shuffleRead),
      "shuffle.fetch_wait_s" -> sumL(_.fetchWaitMs) / 1e3,
      "sources.input_bytes" -> sumL(_.inBytes),
      "sources.input_rows" -> sumL(_.inRows),
      "diversity.driver_gmm_s" -> dur("Gmm.select"),
      "diversity.local_search_s" -> dur("Heuristics.localSearch"),
      "diversity.matching_s" -> dur("Heuristics.matching"),
      "diversity.eval_s" -> (dur("Diversity.remoteEdge") + dur("Diversity.remoteClique")),
      "streaming.batches" -> t.batches.size.toDouble,
      "streaming.trigger_s" -> t.batches.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3,
      "streaming.add_batch_s" -> t.batches.map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3,
      "streaming.wal_commit_s" -> t.batches.map(_.durations.getOrElse("walCommit", 0L)).sum / 1e3,
      "streaming.query_planning_s" -> t.batches.map(_.durations.getOrElse("queryPlanning", 0L)).sum / 1e3,
      "streaming.state_rows" -> last.map(_.stateRows).sum.toDouble,
      "streaming.state_mem_bytes" -> last.map(_.stateMemBytes).sum.toDouble,
    ) ++ selfAll ++ t.counts
  }
}
