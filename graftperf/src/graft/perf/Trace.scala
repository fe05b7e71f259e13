package graft.perf

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` names the graft layer the span's self time
  * is charged to; `parent` is the id of the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Per-stage totals taken from the scheduler's own task metrics. */
final case class StageRec(stageId: Int, jobId: Int, name: String,
    startMs: Long, endMs: Long, tasks: Int, failedTasks: Int, maxTaskMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

final case class JobRec(jobId: Int, group: String, startMs: Long, var endMs: Long)

/** (analysis, optimization, planning) as recorded by `qe.tracker.phases`. */
final case class PlanRec(func: String, phases: Map[String, (Long, Long)])

/** Wall-clock span recorder plus the three listeners of the traced run: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (Catalyst
  * phase times) and a StreamingQueryListener (micro-batch progress). All
  * are attached only while tracing; the untraced run never constructs one.
  * Events are kept in memory and written as JSONL when the run ends. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile var attached = false

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Run `body` as span `name` and return its result. */
  def span[T](name: String, layer: String, parent: Long, attrs: Map[String, Any])(body: => T): T = {
    val t0 = Clock.nowMs
    val r = body
    spans.add(Span(nextId(), parent, name, layer, t0, Clock.nowMs, attrs))
    r
  }

  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskMax = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val taskFailed = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = JobRec(e.jobId, group, e.time, -1L)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      openJobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { j => j.endMs = e.time; jobs.add(j) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = (e.stageId, e.stageAttemptId)
      taskMax.merge(k, e.taskInfo.duration, (a: Long, b: Long) => math.max(a, b))
      if (e.reason != Success) taskFailed.merge(k, 1, (a: Int, b: Int) => a + b)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val k = (si.stageId, si.attemptNumber())
      stages.add(StageRec(si.stageId, stageJob.getOrDefault(si.stageId, -1),
        si.name, si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks, taskFailed.getOrDefault(k, 0), taskMax.getOrDefault(k, 0L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(func: String, qe: QueryExecution): Unit =
      plans.add(PlanRec(func, qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }))
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = rec(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = rec(func, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** The listener buses deliver asynchronously; wait until every job that
    * started has ended and no new event arrived for `quietMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        (!openJobs.isEmpty || System.currentTimeMillis() - quietSince < quietMs)) {
      val n = jobs.size + stages.size + plans.size + progress.size
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  /** Job, stage and plan-phase spans, each parented to the innermost
    * harness span of its job group (jobs, stages) or interval (plans). */
  def derivedSpans(): Seq[Span] = {
    val harness = allSpans
    def innermost(startMs: Double, cands: Seq[Span]): Long = {
      val c = cands.filter(s => s.startMs <= startMs && startMs <= s.endMs)
      if (c.isEmpty) 0L else c.minBy(_.durMs).id
    }
    val byGroup = harness.groupBy(s => s.attrs.getOrElse("group", "").toString)
    val jobSpanId = mutable.Map.empty[Int, Long]
    val jobSpans = jobs.asScala.toSeq.map { j =>
      val id = nextId(); jobSpanId(j.jobId) = id
      val scope = byGroup.getOrElse(j.group, harness)
      Span(id, innermost(j.startMs.toDouble, scope), "job", "exec", j.startMs, j.endMs,
        Map("job" -> j.jobId, "group" -> j.group))
    }
    val stageSpans = stages.asScala.toSeq.map { s =>
      Span(nextId(), jobSpanId.getOrElse(s.jobId, 0L), s"stage ${s.stageId}", "exec.stage",
        s.startMs, s.endMs, Map("tasks" -> s.tasks, "run_ms" -> s.runMs, "name" -> s.name))
    }
    val planSpans = plans.asScala.toSeq.flatMap { p =>
      p.phases.toSeq.map { case (ph, (a, b)) =>
        Span(nextId(), innermost(a.toDouble, harness), s"plan.$ph", "plan", a, b,
          Map("func" -> p.func))
      }
    }
    jobSpans ++ stageSpans ++ planSpans
  }

  def writeJsonl(path: java.nio.file.Path, extra: Seq[Span]): Unit = {
    val lines = (allSpans ++ extra).sortBy(_.startMs).map { s =>
      Main.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Clock {
  /** Epoch milliseconds with sub-millisecond resolution, comparable to the
    * epoch-millisecond stamps in Spark's listener events. */
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = base + System.nanoTime() / 1e6
}
