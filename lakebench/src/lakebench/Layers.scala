package lakebench

/** Per-layer metric names the workloads fill in a traced run, with their
  * units. A metric a workload does not exercise reads 0 there. The
  * layer → end-to-end mapping these feed is written up in
  * `lakebench/DESIGN.md`.
  */
object Layers {
  val stages: Seq[String] = Seq("bronze", "silver", "gold")

  val stageMetrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "task_s" -> "s",
    "task_wait_s" -> "s", "input_mb" -> "MB", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "output_mb" -> "MB", "files_written" -> "count", "failed_tasks" -> "count")

  val goldBuckets: Seq[String] = Seq("dims", "fact", "maint")

  val tableLogOps: Seq[String] = Seq(
    "append", "upsert", "delete", "delete_dv", "compact", "read", "read_asof", "changes")

  val all: Seq[(String, String)] =
    stages.flatMap(st => stageMetrics.map { case (m, u) => s"$st.$m" -> u }) ++
    stages.map(st => s"initial.$st.wall_s" -> "s") ++
    goldBuckets.flatMap(b => Seq(s"gold.$b.jobs" -> "count", s"gold.$b.task_s" -> "s")) ++
    Seq("gold.write_amp" -> "ratio",
      "analytics.plan_ms" -> "ms", "analytics.exec_ms" -> "ms",
      "analytics.jobs_per_report" -> "count", "analytics.input_mb_per_report" -> "MB",
      "analytics.rows_read_per_row_out" -> "ratio", "analytics.task_wait_ms" -> "ms",
      "catalog.lookup_ms" -> "ms") ++
    tableLogOps.flatMap(op => Seq(s"table_log.$op.ms" -> "ms",
      s"table_log.$op.jobs" -> "count", s"table_log.$op.driver_ms" -> "ms")) ++
    Seq("table_log.read.rows_read_per_row_out" -> "ratio",
      "table_log.commit.bytes_written_per_row" -> "B/row",
      "table_log.log_files" -> "count", "table_log.data_files" -> "count")

  /** Task-metric counters of a span, in the units `stageMetrics` names. */
  def spanMetrics(s: Span): Map[String, Double] = {
    val mb = 1048576.0
    Map("wall_s" -> s.ms / 1e3, "driver_s" -> s.driverMs / 1e3,
      "jobs" -> s.allJobs.size.toDouble, "task_s" -> s.total("task_s"),
      "task_wait_s" -> s.total("task_wait_s"), "input_mb" -> s.total("input_bytes") / mb,
      "shuffle_mb" -> s.total("shuffle_bytes") / mb, "spill_mb" -> s.total("spill_bytes") / mb,
      "output_mb" -> s.total("output_bytes") / mb, "files_written" -> s.total("files_written"),
      "failed_tasks" -> s.total("failed_tasks"))
  }
}
