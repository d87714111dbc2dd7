package perfbench

/** The per-layer figures a traced run prints, with their units. Every
  * workload prints all of them; a layer the workload does not reach reads
  * 0. Each value is the median over the run's passes. */
object Layers {
  val metrics: Seq[(String, String)] = Seq(
    "engine.compile_ms" -> "ms", "engine.nodes" -> "count", "engine.edges" -> "count",
    "engine.node_sum_ms" -> "ms", "engine.critical_path_ms" -> "ms",
    "engine.slack_ms" -> "ms", "engine.parallelism" -> "ratio",
    "engine.full_build_ms" -> "ms", "engine.incremental_build_ms" -> "ms",
    "engine.nodes_failed" -> "count", "engine.nodes_skipped" -> "count") ++
    Seq("view", "table", "incremental", "snapshot", "test").flatMap(k =>
      Seq(s"materialize.${k}_ms" -> "ms", s"materialize.${k}_count" -> "count")) ++ Seq(
    "catalog.events" -> "count", "catalog.create_table" -> "count",
    "catalog.drop_table" -> "count", "catalog.alter_table" -> "count",
    "queries.build_ms" -> "ms", "queries.action_ms" -> "ms",
    "catalyst.executions" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.model_jobs" -> "count",
    "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.tasks_per_job" -> "ratio", "scheduler.in_jobs_ms" -> "ms",
    "scheduler.outside_jobs_ms" -> "ms",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms", "executor.cpu_share" -> "ratio",
    "executor.gc_ms" -> "ms", "executor.shuffle_read_bytes" -> "bytes",
    "executor.shuffle_write_bytes" -> "bytes", "executor.spill_bytes" -> "bytes",
    "executor.records_written" -> "count", "executor.output_bytes" -> "bytes",
    "streaming.runs" -> "count", "streaming.batches" -> "count",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.lifecycle_ms" -> "ms",
    "trace.pass_s" -> "s", "host.steal_pct" -> "%", "host.load_avg" -> "load")

  /** Counters that do not depend on timing: two passes with the same seed
    * must agree on them exactly (`SelfTest` checks this). */
  val deterministic: Seq[String] = Seq("scheduler.jobs", "scheduler.stages",
    "scheduler.tasks", "executor.records_written", "catalog.events")

  def report(passes: Seq[PassRecord]): Seq[(String, Double, String)] = {
    def per(p: PassRecord): Map[String, Double] = p.layers ++ Map(
      "trace.pass_s" -> p.wallS, "host.steal_pct" -> p.host.stealPct,
      "host.load_avg" -> p.host.load)
    val rows = passes.map(per)
    metrics.map { case (k, unit) =>
      (k, Stats.median(rows.map(_.getOrElse(k, 0.0))), unit)
    }
  }

  /** Deterministic counters whose values differ between passes. */
  def unrepeated(passes: Seq[PassRecord]): Seq[(String, Seq[Double])] =
    deterministic.map(k => k -> passes.map(_.layers.getOrElse(k, 0.0)))
      .filter(_._2.distinct.size > 1)
}
