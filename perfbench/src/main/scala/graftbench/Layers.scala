package graftbench

/** The per-layer metrics of the traced run. Every traced run reports
  * every name; a layer the workload does not exercise reads 0 (no work
  * was done there), so the same table can be compared across workloads.
  */
object Layers {
  private val entries = Seq("curate", "index_pq", "index_graph")

  val Units: Map[String, String] = (Seq(
    "bulk.scan_rps" -> "1/s", "bulk.parse_rps" -> "1/s", "bulk.route_parsed_rps" -> "1/s",
    "bulk.route_rps" -> "1/s", "bulk.observe_overhead_s" -> "s", "bulk.forwarded_ratio" -> "ratio",
    "bulk.parse_errors" -> "count", "bulk.deletes_dropped" -> "count", "bulk.rps_1core" -> "1/s",
    "bulk.speedup_ncore" -> "ratio",
    "mb.count" -> "count", "mb.rows_p50" -> "count", "mb.addBatch_ms_p50" -> "ms",
    "mb.queryPlanning_ms_p50" -> "ms", "mb.walCommit_ms_p50" -> "ms",
    "mb.commitOffsets_ms_p50" -> "ms", "mb.latestOffset_ms_p50" -> "ms",
    "mb.triggerExecution_ms_p50" -> "ms", "mb.fixed_ms_p50" -> "ms", "gen.late_ms_max" -> "ms",
    "mb.backlog_rows_end" -> "count", "stream.lat_p99_ms" -> "ms",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.tasks_per_stage" -> "ratio", "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.task_gc_s" -> "s", "engine.task_deser_s" -> "s", "engine.sched_delay_s" -> "s",
    "engine.plan_s" -> "s", "engine.shuffle_read_mb" -> "MB", "engine.shuffle_write_mb" -> "MB",
    "engine.spill_mb" -> "MB", "engine.core_util" -> "ratio",
    "curate.dedup_pairs" -> "count", "curate.kept_ratio" -> "ratio",
    "trace.overhead_pct" -> "%") ++
    entries.flatMap(e => Seq(s"$e.wall_s" -> "s", s"$e.jobs" -> "count",
      s"$e.job_wall_s" -> "s", s"$e.driver_s" -> "s", s"$e.task_run_s" -> "s"))).toMap

  /** Spark engine totals over the latest span `name`. */
  def engine(r: Result, tr: Tracer, name: String, cores: Int): Unit = {
    val c = tr.totals(name)
    val wall = tr.seconds(name)
    r.layer("engine.jobs", c.jobs.toDouble, "count")
    r.layer("engine.stages", c.stages.toDouble, "count")
    r.layer("engine.tasks", c.tasks.toDouble, "count")
    r.layer("engine.tasks_per_stage", c.tasks.toDouble / math.max(1L, c.stages), "ratio")
    r.layer("engine.task_run_s", c.taskRunMs / 1e3, "s")
    r.layer("engine.task_cpu_s", c.taskCpuNs / 1e9, "s")
    r.layer("engine.task_gc_s", c.taskGcMs / 1e3, "s")
    r.layer("engine.task_deser_s", c.taskDeserMs / 1e3, "s")
    r.layer("engine.sched_delay_s", c.schedDelayMs / 1e3, "s")
    r.layer("engine.plan_s", c.planMs / 1e3, "s")
    r.layer("engine.shuffle_read_mb", c.shuffleReadB / 1048576.0, "MB")
    r.layer("engine.shuffle_write_mb", c.shuffleWriteB / 1048576.0, "MB")
    r.layer("engine.spill_mb", c.spillB / 1048576.0, "MB")
    r.layer("engine.core_util", c.taskRunMs / 1e3 / (wall * cores), "ratio")
  }

  /** Job count, job time, driver-only time and task time of the latest
    * span `name` (one training entrypoint call).
    */
  def entry(r: Result, tr: Tracer, name: String): Unit = {
    val c = tr.totals(name)
    val s = tr.all(name).last
    val wall = (s.endMs - s.startMs) / 1e3
    val driver = tr.uncoveredMs(s, c.jobIntervals.toSeq) / 1e3
    r.layer(s"$name.wall_s", wall, "s")
    r.layer(s"$name.jobs", c.jobs.toDouble, "count")
    r.layer(s"$name.job_wall_s", wall - driver, "s")
    r.layer(s"$name.driver_s", driver, "s")
    r.layer(s"$name.task_run_s", c.taskRunMs / 1e3, "s")
  }
}
