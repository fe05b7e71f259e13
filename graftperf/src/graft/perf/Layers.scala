package graft.perf

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run. Every run reports every name in
  * [[Layers.names]]; a layer the workload does not exercise reports 0. */
object Layers {
  val execNames: Seq[String] = Seq("run_s", "jobs", "stages", "tasks", "single_task_stages",
    "executor_run_s", "executor_cpu_s", "gc_s", "busy_ratio", "max_task_s", "input_mb",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks").map("exec." + _)

  val streamNames: Seq[String] = Seq("batches", "rows_per_batch", "trigger_ms", "add_batch_ms",
    "query_planning_ms", "latest_offset_ms", "get_batch_ms", "wal_commit_ms", "commit_offsets_ms",
    "state_rows", "state_mem_mb", "state_commit_ms", "state_rows_evicted", "rows_dropped_late",
    "sink_files", "sink_mb", "backlog_rows").map("stream." + _)

  val names: Seq[String] =
    Seq("core.session_s", "core.stage_builds", "llm.build_s", "build.jobs") ++
      Workloads.llm.flatMap(q => Seq(s"llm.$q.build_s", s"llm.$q.run_s")) ++
      Seq("plan.analysis_s", "plan.optimization_s", "plan.planning_s") ++ execNames ++
      Kernels.names ++ streamNames ++ Seq("trace.overhead_s", "trace.overhead_frac")

  def complete(m: Map[String, Double]): Map[String, Double] =
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap

  private def mb(b: Long): Double = b / (1024.0 * 1024.0)

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((acc, end), (a, b)) =>
      if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
    }._1

  /** Catalyst phases and Spark execution over the given intervals, summed
    * and divided by `units` (laps or micro-batches). */
  def planAndExec(t: Tracer, cores: Int, units: Int, within: Seq[(Double, Double)],
      groups: Option[Set[String]]): Map[String, Double] = {
    def inside(ms: Double) = within.exists { case (a, b) => a <= ms && ms <= b }
    val jobs = t.jobs.asScala.toSeq.filter(j =>
      groups.fold(inside(j.startMs.toDouble))(_.contains(j.group)))
    val jobIds = jobs.map(_.jobId).toSet
    val stages = t.stages.asScala.toSeq.filter(s => jobIds.contains(s.jobId))
    val plans = t.plans.asScala.toSeq.filter(p =>
      p.phases.get("analysis").orElse(p.phases.values.headOption).exists(x => inside(x._1.toDouble)))
    def phase(n: String) = plans.flatMap(_.phases.get(n)).map(x => (x._2 - x._1) / 1000.0).sum / units
    val wallS = within.map(x => x._2 - x._1).sum / 1000
    val runS = stages.map(_.runMs).sum / 1000.0
    Map(
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "exec.run_s" -> covered(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1000 / units,
      "exec.jobs" -> jobs.size.toDouble / units,
      "exec.stages" -> stages.size.toDouble / units,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble / units,
      "exec.single_task_stages" -> stages.count(_.tasks == 1).toDouble / units,
      "exec.executor_run_s" -> runS / units,
      "exec.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / units,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / units,
      "exec.busy_ratio" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "exec.max_task_s" -> (if (stages.isEmpty) 0.0 else stages.map(_.maxTaskMs).max / 1000.0),
      "exec.input_mb" -> mb(stages.map(_.inputBytes).sum) / units,
      "exec.shuffle_read_mb" -> mb(stages.map(_.shuffleReadBytes).sum) / units,
      "exec.shuffle_write_mb" -> mb(stages.map(_.shuffleWriteBytes).sum) / units,
      "exec.spill_mb" -> mb(stages.map(_.spillBytes).sum) / units,
      "exec.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble / units)
  }

  def overhead(traced: Seq[Double], untraced: Seq[Double]): Map[String, Double] = {
    val d = Stats.median(traced) - Stats.median(untraced)
    Map("trace.overhead_s" -> d,
      "trace.overhead_frac" -> (if (untraced.isEmpty) 0.0 else d / Stats.median(untraced)))
  }

  /** The batch workload: means per traced measured lap. */
  def batch(t: Tracer, cores: Int, execs: Seq[Exec],
      laps: Seq[Lap]): Map[String, Double] = {
    val (traced, untraced) = laps.filter(_.n >= BatchWorkload.FirstWarmLap).partition(_.traced)
    val lapSet = traced.map(_.n).toSet
    val n = math.max(traced.size, 1)
    val te = execs.filter(e => lapSet.contains(e.lap))
    val groups = te.map(e => s"lap${e.lap}/${e.name}").toSet
    val builds = t.allSpans.filter(s => s.name == "build" && groups.contains(s.attrs("group").toString))
    val buildJobs = t.jobs.asScala.count(j => builds.exists(b =>
      b.attrs("group") == j.group && b.startMs <= j.startMs && j.startMs <= b.endMs))
    val perQuery = te.groupBy(_.name).flatMap { case (q, es) =>
      Seq(s"llm.$q.build_s" -> Stats.median(es.map(_.buildS)),
        s"llm.$q.run_s" -> Stats.median(es.map(_.runS)))
    }
    planAndExec(t, cores, n, traced.map(l => (l.startMs, l.endMs)), Some(groups)) ++ perQuery ++
      overhead(traced.map(_.seconds), untraced.map(_.seconds)) ++ Map(
      "llm.build_s" -> te.map(_.buildS).sum / n,
      "build.jobs" -> buildJobs.toDouble / n)
  }

  /** The stream: medians of the per-batch progress of the measured
    * closed-loop batches. */
  def stream(ps: Seq[StreamingQueryProgress], sinkFiles: Long, sinkBytes: Long,
      backlogRows: Double): Map[String, Double] = {
    def d(k: String) = Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ps.map(p => p.stateOperators.map(f).sum.toDouble)
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.rows_per_batch" -> Stats.median(ps.map(_.numInputRows.toDouble)),
      "stream.trigger_ms" -> d("triggerExecution"),
      "stream.add_batch_ms" -> d("addBatch"),
      "stream.query_planning_ms" -> d("queryPlanning"),
      "stream.latest_offset_ms" -> d("latestOffset"),
      "stream.get_batch_ms" -> d("getBatch"),
      "stream.wal_commit_ms" -> d("walCommit"),
      "stream.commit_offsets_ms" -> d("commitOffsets"),
      "stream.state_rows" -> Stats.median(st(_.numRowsTotal)),
      "stream.state_mem_mb" -> Stats.median(st(_.memoryUsedBytes)) / (1024 * 1024),
      "stream.state_commit_ms" -> Stats.median(st(_.commitTimeMs)),
      "stream.state_rows_evicted" -> st(_.numRowsRemoved).sum,
      "stream.rows_dropped_late" -> st(_.numRowsDroppedByWatermark).sum,
      "stream.sink_files" -> sinkFiles.toDouble,
      "stream.sink_mb" -> mb(sinkBytes),
      "stream.backlog_rows" -> backlogRows)
  }
}
