package graftbench

import graftbench.Trace.Counter

/** The traced run's per-layer metrics. Every workload prints the same
  * names; a layer a workload does not reach reads 0. Counters and span
  * self times cover the first warm unit of the timed region (the window):
  * one warm pass, one ETL round or one gate compaction cycle.
  */
object Layers {

  /** Names and units, in print order. */
  val Names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_failures" -> "count",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_frac" -> "ratio",
    "catalyst.executions" -> "count", "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "sources.jdbc_write_s" -> "s", "sources.jdbc_rows" -> "count",
    "sources.jdbc_readback_s" -> "s",
    "etl.split_cache_s" -> "s", "media.canned_plan_ms" -> "ms", "media.canned_exec_ms" -> "ms",
    "query.engine_ms" -> "ms", "operators.named_s" -> "s",
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s", "stream.query_planning_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.jobs_per_batch" -> "count",
    "segstore.bytes_written" -> "B", "segstore.segments_active" -> "count",
    "segstore.compaction_s" -> "s",
    "unit_wall_s" -> "s", "unit_cpu_s" -> "s", "etl_rows_per_s" -> "rows/s", "canned_p50_ms" -> "ms",
    "light_median_ms" -> "ms", "light_cold_ms" -> "ms",
    "gate_batch_s" -> "s", "store_bytes_per_input_byte" -> "ratio",
    "bench.generate_s" -> "s", "bench.trace_overhead_frac" -> "ratio",
    "bench.failed_ops_frac" -> "ratio")

  /** Everything but the three bench.* entries, which Main adds. */
  def metrics(r: Result, ctx: Ctx): Seq[(String, Double, String)] = {
    val w = r.window
    val self = Trace.selfTimes(ctx.trace.get.spanList, s => s.start >= r.windowFrom && s.end <= r.windowTo)
    val batches = w(Counter.StreamBatches).max(1).toDouble
    val known = Map[String, Double](
      "spark.jobs" -> w(Counter.Jobs), "spark.stages" -> w(Counter.Stages),
      "spark.tasks" -> w(Counter.Tasks), "spark.task_failures" -> w(Counter.TaskFailures),
      "spark.shuffle_write_bytes" -> w(Counter.ShuffleWriteBytes),
      "spark.shuffle_read_bytes" -> w(Counter.ShuffleReadBytes),
      "spark.spill_bytes" -> w(Counter.SpillBytes), "spark.input_bytes" -> w(Counter.InputBytes),
      "spark.executor_cpu_s" -> w(Counter.ExecutorCpuNanos) / 1e9,
      "spark.executor_run_s" -> w(Counter.ExecutorRunMs) / 1e3,
      "spark.gc_s" -> w(Counter.GcMs) / 1e3,
      "spark.busy_frac" -> w(Counter.ExecutorRunMs) / 1e3 / (w.at / 1e9 * Session.cores),
      "catalyst.executions" -> w(Counter.Executions),
      "catalyst.analysis_s" -> w(Counter.AnalysisMs) / 1e3,
      "catalyst.optimization_s" -> w(Counter.OptimizationMs) / 1e3,
      "catalyst.planning_s" -> w(Counter.PlanningMs) / 1e3,
      "codegen.compiles" -> w.compiles, "codegen.compile_s" -> w.compileNanos / 1e9,
      "sources.jdbc_write_s" -> self.getOrElse("sources.jdbc_write", 0.0),
      "stream.trigger_s" -> w(Counter.TriggerMs) / 1e3 / batches,
      "stream.add_batch_s" -> w(Counter.AddBatchMs) / 1e3 / batches,
      "stream.query_planning_s" -> w(Counter.QueryPlanningMs) / 1e3 / batches,
      "stream.wal_commit_s" -> w(Counter.WalCommitMs) / 1e3 / batches,
      "stream.jobs_per_batch" -> (if (w(Counter.StreamBatches) == 0) 0.0 else w(Counter.Jobs) / batches),
      "operators.named_s" -> self.getOrElse("operators.named", 0.0),
      "unit_wall_s" -> Stats.median(r.warmUnitWall),
      "unit_cpu_s" -> Stats.median(r.warmUnitCpu))
    Names.filterNot(_._1.startsWith("bench.")).map { case (n, u) =>
      (n, r.layer.get(n).orElse(known.get(n)).getOrElse(0.0), u)
    }
  }
}
