package pipebench

import org.apache.spark.sql.DataFrame

/** One traced query split at the module boundaries. The five spans
  * `open + build + plan + exec + sink` add up to the query's wall time:
  *
  *  - open: schema-read jobs of `sources.Tables` during the build;
  *  - build: the rest of the query function that returns the DataFrame
  *    (eager operator jobs included), minus the final plan's analysis;
  *  - plan: analysis of the returned DataFrame plus the sink command's
  *    analysis, optimization and physical planning (tracker phases);
  *  - exec: the rest of the sink call, i.e. the executed jobs;
  *  - sink: for file sinks, the commit after the last job has ended.
  */
final case class Layer(
    openS: Double, openJobs: Long,
    buildS: Double, buildJobs: Long, buildCpuS: Double,
    analyzeS: Double, optimizeS: Double, planningS: Double,
    exchanges: Long, broadcasts: Long,
    execS: Double, exec: Meter.Counters,
    sinkS: Double, sinkBytes: Long, sinkFiles: Long) {

  def planS: Double = analyzeS + optimizeS + planningS
  def wallS: Double = openS + buildS + planS + execS + sinkS

  def record: Map[String, Any] = Map(
    "open_s" -> openS, "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
    "sink_s" -> sinkS, "analyze_s" -> analyzeS, "optimize_s" -> optimizeS,
    "planning_s" -> planningS, "open_jobs" -> openJobs, "build_jobs" -> buildJobs,
    "exec_jobs" -> exec.jobs, "jobs" -> (openJobs + buildJobs + exec.jobs),
    "tasks" -> exec.tasks, "cpu_s" -> (buildCpuS + exec.cpuNs / 1e9),
    "shuffle_write_mb" -> Layer.mb(exec.shuffleWriteBytes),
    "shuffle_read_mb" -> Layer.mb(exec.shuffleReadBytes),
    "spill_mb" -> Layer.mb(exec.spillBytes), "exchanges" -> exchanges,
    "broadcasts" -> broadcasts, "sink_mb" -> Layer.mb(sinkBytes), "sink_files" -> sinkFiles)
}

object Layer {
  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  val failed: Layer = Layer(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, new Meter.Counters, 0, 0, 0)

  /** Splits one query. `tag` is its `pass|query|` meter prefix; `t1Ms`
    * and `t2Ms` are the wall clock at the end of the build and of the
    * sink call; `events` are the plan events seen during the query.
    */
  def of(meter: Meter, events: Seq[PlanEvent], tag: String, df: DataFrame,
      buildNs: Long, writeNs: Long, t1Ms: Long, t2Ms: Long, fileSink: Boolean): Layer = {
    val open = meter.get(tag + "open")
    val build = meter.get(tag + "build")
    val exec = meter.get(tag + "exec")
    val sinkEvents = events.filter(_.startMs >= t1Ms)
    def phase(name: String): Double = sinkEvents.map(_.phaseMs(name)).sum / 1e3
    val dfAnalyzeS = df.queryExecution.tracker.phases.get("analysis")
      .fold(0L)(p => p.endTimeMs - p.startTimeMs) / 1e3
    val openS = open.jobMs / 1e3
    val sinkS =
      if (fileSink && exec.lastJobEndMs > 0) math.max(0L, t2Ms - exec.lastJobEndMs) / 1e3 else 0.0
    val (analyze, optimize, planning) = (phase("analysis"), phase("optimization"), phase("planning"))
    Layer(
      openS, open.jobs,
      buildNs / 1e9 - openS - dfAnalyzeS, build.jobs, build.cpuNs / 1e9,
      dfAnalyzeS + analyze, optimize, planning,
      sinkEvents.map(_.exchanges.toLong).sum, sinkEvents.map(_.broadcasts.toLong).sum,
      writeNs / 1e9 - analyze - optimize - planning - sinkS, exec,
      sinkS, if (fileSink) exec.outputBytes else 0L, sinkEvents.map(_.filesWritten).sum)
  }

  /** Per-layer metrics of one traced pass: sums over its queries. */
  def perPass(ls: Seq[Layer], passWallS: Double): Map[String, Double] = {
    def sum(f: Layer => Double): Double = ls.map(f).sum
    val layerSum = sum(_.wallS)
    Map(
      "sources.open_s" -> sum(_.openS),
      "sources.open_jobs" -> sum(_.openJobs.toDouble),
      "sources.sink_s" -> sum(_.sinkS),
      "sources.sink_mb" -> sum(l => mb(l.sinkBytes)),
      "sources.sink_files" -> sum(_.sinkFiles.toDouble),
      "operators.build_s" -> sum(_.buildS),
      "operators.build_jobs" -> sum(_.buildJobs.toDouble),
      "operators.build_cpu_s" -> sum(_.buildCpuS),
      "plans.analyze_s" -> sum(_.analyzeS),
      "plans.optimize_s" -> sum(_.optimizeS),
      "plans.plan_s" -> sum(_.planningS),
      "plans.exchanges" -> sum(_.exchanges.toDouble),
      "plans.broadcasts" -> sum(_.broadcasts.toDouble),
      "exec.run_s" -> sum(_.execS),
      "exec.jobs" -> sum(_.exec.jobs.toDouble),
      "exec.stages" -> sum(_.exec.stages.toDouble),
      "exec.tasks" -> sum(_.exec.tasks.toDouble),
      "exec.cpu_s" -> sum(_.exec.cpuNs / 1e9),
      "exec.task_wait_s" -> sum(_.exec.waitMs / 1e3),
      "exec.gc_s" -> sum(_.exec.gcMs / 1e3),
      "exec.shuffle_write_mb" -> sum(l => mb(l.exec.shuffleWriteBytes)),
      "exec.shuffle_read_mb" -> sum(l => mb(l.exec.shuffleReadBytes)),
      "exec.spill_mb" -> sum(l => mb(l.exec.spillBytes)),
      "trace.layer_sum_s" -> layerSum,
      "trace.unattributed_s" -> (passWallS - layerSum))
  }
}
