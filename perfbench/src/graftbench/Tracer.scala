package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed query's boundaries, in epoch milliseconds. */
final case class Window(qid: Int, name: String, start: Double,
    buildEnd: Double, end: Double)

/** A span of the trace tree. Spans of one query share `qid`. */
final case class Span(id: Int, parent: Int, qid: Int, name: String,
    start: Double, end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

/** Listeners on Spark's public listener APIs.
  *
  * Always installed: a QueryExecutionListener that records, in
  * arrival order, the operator counts of every noop-write plan (the
  * plan-parity check). With tracing on, it also records every action
  * with its Catalyst phases, and a SparkListener and a
  * StreamingQueryListener record jobs, stages, task metrics and
  * micro-batches. Listener events arrive asynchronously; everything is
  * kept in memory and attributed to query windows by time after the
  * timed phase.
  */
final class Tracer(spark: SparkSession, scratchRoot: String,
    val traceOn: Boolean) {

  final case class Action(start: Double, end: Double, noop: Boolean,
      scratchWrite: Boolean, phases: Seq[(String, Double, Double)])
  final case class Job(start: Double, end: Double, stages: Seq[Int])
  final case class Stage(id: Int, start: Double, end: Double)
  final case class Task(finish: Double, cpuNs: Long, runMs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      inBytes: Long, inRows: Long, failed: Boolean)
  final case class Batch(start: Double, triggerMs: Long, commitMs: Long,
      inputRows: Long, stateRows: Long, stateCommitMs: Long,
      stateBytes: Long)

  val noopCounts = new ConcurrentLinkedQueue[Map[String, Int]]()
  private val actions = new ConcurrentLinkedQueue[Action]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[
    Int, (Double, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val events = new AtomicLong(0)

  private def phaseSpans(qe: QueryExecution): Seq[(String, Double, Double)] =
    qe.tracker.phases.toSeq.map { case (k, p) =>
      (k, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }.sortBy(_._2)

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val noop = Plans.isNoopWrite(qe)
      if (noop) noopCounts.add(Plans.opCounts(qe.optimizedPlan))
      if (traceOn) {
        val ph = phaseSpans(qe)
        val end = System.currentTimeMillis().toDouble
        val start = ph.headOption.map(_._2)
          .getOrElse(end - durationNs / 1e6)
        val stop = ph.lastOption.map(_._3 + durationNs / 1e6)
          .getOrElse(end)
        actions.add(Action(start, math.max(start, stop), noop,
          Plans.writePath(qe).exists(_.contains(scratchRoot)), ph))
        events.incrementAndGet(): Unit
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  })

  if (traceOn) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStarts.put(e.jobId, (e.time.toDouble, e.stageIds))
        events.incrementAndGet(): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t0, st) = Option(jobStarts.remove(e.jobId))
          .getOrElse((e.time.toDouble, Seq.empty[Int]))
        jobs.add(Job(t0, e.time.toDouble, st))
        events.incrementAndGet(): Unit
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val end = i.completionTime.getOrElse(System.currentTimeMillis())
        stages.add(Stage(i.stageId, i.submissionTime.getOrElse(end).toDouble,
          end.toDouble))
        events.incrementAndGet(): Unit
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) tasks.add(Task(info.finishTime.toDouble,
          m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          info.failed))
        events.incrementAndGet(): Unit
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val ops = p.stateOperators
        batches.add(Batch(
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d.getOrElse("triggerExecution", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
          p.numInputRows, ops.map(_.numRowsTotal).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.memoryUsedBytes).sum))
        events.incrementAndGet(): Unit
      }
    })
  }

  /** Waits until `expectedNoops` noop writes have been seen and, with
    * tracing on, until no listener event arrived for 200 ms (10 s cap).
    */
  def drain(expectedNoops: Int): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (noopCounts.size < expectedNoops && System.nanoTime() < deadline)
      Thread.sleep(5)
    if (traceOn) {
      var prev = -1L
      while (prev != events.get() && System.nanoTime() < deadline) {
        prev = events.get(); Thread.sleep(200)
      }
    }
  }

  private def in(w: Window, t: Double): Boolean =
    t >= w.start - 1 && t <= w.end + 1

  /** Per-layer totals over the given windows, keyed by metric name. */
  def layerTotals(ws: Seq[Window]): Map[String, Double] = {
    def owned[A](xs: Iterable[A])(t: A => Double): Seq[A] =
      xs.filter(x => ws.exists(w => in(w, t(x)))).toSeq
    // an action's start (its first Catalyst phase) is exact; its end is
    // reconstructed, so actions belong to the window they start in
    val acts = owned(actions.asScala)(_.start)
    val inner = acts.filter(a => !a.noop &&
      ws.exists(w => a.start >= w.start - 1 && a.start <= w.buildEnd + 1))
    val allPhases = acts.flatMap(_.phases)
    def phase(n: String) = allPhases.filter(_._1 == n)
      .map(p => p._3 - p._2).sum / 1e3
    val ts = owned(tasks.asScala)(_.finish)
    val bs = owned(batches.asScala)(_.start)
    val mb = 1048576.0
    val batchMs = bs.map(_.triggerMs.toDouble).sorted
    Map(
      "ops.inner_actions" -> inner.size.toDouble,
      "ops.inner_action_s" -> inner.map(a => a.end - a.start).sum / 1e3,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.plans" -> acts.size.toDouble,
      "exec.jobs" -> owned(jobs.asScala)(_.end).size.toDouble,
      "exec.stages" -> owned(stages.asScala)(_.end).size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> ts.map(_.spill).sum / mb,
      "exec.failed_tasks" -> ts.count(_.failed).toDouble,
      "sources.scan_mb" -> ts.map(_.inBytes).sum / mb,
      "sources.scan_rows" -> ts.map(_.inRows).sum.toDouble,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.input_rows" -> bs.map(_.inputRows).sum.toDouble,
      "streaming.batch_p50_ms" ->
        (if (batchMs.isEmpty) 0.0 else batchMs(batchMs.size / 2)),
      "streaming.commit_ms" -> bs.map(_.commitMs).sum.toDouble,
      "streaming.state_rows_peak" ->
        bs.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "streaming.state_commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble,
      "streaming.state_mb_peak" ->
        bs.map(_.stateBytes).maxOption.getOrElse(0L) / mb)
  }

  /** The span tree of each window: query → ops.build / exec, and
    * under them by time containment the actions (with their Catalyst
    * phases), micro-batches, jobs and stages. `dfAnalysis` holds the
    * analysis phase of each returned DataFrame, by query id.
    */
  def spans(ws: Seq[Window], dfAnalysis: Map[Int, (Double, Double)])
      : Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 0
    def add(parent: Int, qid: Int, name: String, s: Double, e: Double)
        : Int = {
      next += 1
      out += Span(next, parent, qid, name, s, math.max(s, e))
      next
    }
    val acts = actions.asScala.toSeq
    val js = jobs.asScala.toSeq
    val sts = stages.asScala.map(s => s.id -> s).toMap
    val bs = batches.asScala.toSeq
    ws.foreach { w =>
      val root = add(0, w.qid, "query", w.start, w.end)
      val build = add(root, w.qid, "ops.build", w.start, w.buildEnd)
      val exec = add(root, w.qid, "exec", w.buildEnd, w.end)
      dfAnalysis.get(w.qid).foreach { case (s, e) =>
        add(build, w.qid, "catalyst.analysis", s, e) }
      // containers that a job can nest under, innermost last
      val containers = mutable.ArrayBuffer[(Int, Double, Double)](
        (build, w.start, w.buildEnd), (exec, w.buildEnd, w.end))
      def parentOf(s: Double, e: Double): Int =
        containers.filter(c => s >= c._2 - 1 && e <= c._3 + 1)
          .maxByOption(c => c._2 - c._3).map(_._1)
          .getOrElse(if (s < w.buildEnd) build else exec)
      bs.filter(b => in(w, b.start)).foreach { b =>
        val id = add(parentOf(b.start, b.start + b.triggerMs), w.qid,
          "streaming.batch", b.start, b.start + b.triggerMs)
        containers += ((id, b.start, b.start + b.triggerMs))
      }
      acts.filter(a => in(w, a.start)).foreach { a =>
        val name =
          if (a.noop) "exec.noop_write"
          else if (a.scratchWrite) "scratchindex.build"
          else "ops.inner_action"
        val end = math.min(a.end, w.end)
        val id = add(parentOf(a.start, end), w.qid, name, a.start, end)
        a.phases.foreach { case (p, s, e) =>
          add(id, w.qid, s"catalyst.$p", s, e) }
        containers += ((id, a.start, end))
      }
      js.filter(j => in(w, j.end)).foreach { j =>
        val id = add(parentOf(j.start, j.end), w.qid, "exec.job",
          j.start, j.end)
        j.stages.flatMap(sts.get).foreach { s =>
          add(id, w.qid, "exec.stage", s.start, s.end) }
      }
    }
    out.toSeq
  }
}

object Spans {

  /** Self time of each span: its duration minus the part of its
    * interval that its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0.0
      var cs = Double.NegativeInfinity
      var ce = Double.NegativeInfinity
      iv.foreach { case (a, b) =>
        if (a > ce) {
          if (ce > cs) covered += ce - cs
          cs = a; ce = b
        } else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  val Names: Seq[String] = Seq("query", "ops.build", "ops.inner_action",
    "scratchindex.build", "catalyst.analysis", "catalyst.optimization",
    "catalyst.planning", "exec", "exec.noop_write", "exec.job",
    "exec.stage", "streaming.batch")
}
