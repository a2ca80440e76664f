package perfbench

/** One reported metric. `count` marks a per-layer metric that is a count of
  * work (jobs, tasks, rows): those are taken from the first cycle of calls,
  * so they repeat exactly for a fixed seed; the other per-layer metrics are
  * medians over every traced cycle.
  */
final case class Metric(name: String, unit: String, better: String,
                        count: Boolean = false)

/** The metric catalogue. BENCHMARK.json lists the same names, units and
  * directions; the benchmark's tests check that the two agree.
  */
object Metrics {
  private def lower(n: String, u: String) = Metric(n, u, "lower")
  private def cnt(n: String) = Metric(n, "count", "lower", count = true)

  /** Printed with tracing off, on every workload. */
  val endToEnd: Seq[Metric] = Seq(
    lower("setup_s", "s"),
    lower("call_p50_s", "s"),
    Metric("throughput_qps", "1/s", "higher"),
    lower("cpu_s_per_kq", "s"),
    Metric("ok_share", "ratio", "higher"),
    lower("index_mem_mb", "MB"))

  /** Printed with tracing on, on every workload (0 for a layer the
    * workload never calls).
    */
  val perLayer: Seq[Metric] = Seq(
    lower("index.build_s", "s"),
    lower("index.materialize_s", "s"),
    lower("index.build_cpu_s", "s"),
    cnt("index.build_jobs"),
    lower("index.build_shuffle_mb", "MB"),
    cnt("index.postings_rows"),
    cnt("index.features_rows"),
    cnt("index.tile_features_rows"),
    cnt("index.cand_rows"),
    cnt("index.cached_tables"),
    lower("forward.subqueries_s", "s"),
    cnt("forward.subqueries_rows"),
    lower("forward.phrasematch_s", "s"),
    lower("forward.pm_join_s", "s"),
    lower("forward.spatialmatch_s", "s"),
    lower("forward.verifymatch_s", "s"),
    lower("forward.context_rank_s", "s"),
    cnt("forward.pm_join_rows"),
    cnt("forward.spatialmatch_rows"),
    cnt("forward.verifymatch_rows"),
    cnt("forward.results_rows"),
    Metric("forward.results_per_pm_row", "ratio", "higher", count = true),
    lower("reverse.candidates_s", "s"),
    cnt("reverse.candidate_rows"),
    Metric("reverse.rows_per_point", "ratio", "lower", count = true),
    cnt("spark.jobs_per_call"),
    cnt("spark.stages_per_call"),
    cnt("spark.tasks_per_call"),
    lower("spark.task_run_s", "s"),
    lower("spark.cpu_s", "s"),
    lower("spark.gc_s", "s"),
    lower("spark.shuffle_read_mb", "MB"),
    lower("spark.shuffle_write_mb", "MB"),
    lower("spark.spill_mb", "MB"),
    lower("spark.peak_exec_mb", "MB"),
    cnt("spark.failed_tasks"),
    lower("spark.slot_idle_share", "ratio"),
    lower("catalyst.plan_s", "s"),
    cnt("catalyst.actions_per_call"),
    lower("driver.nonjob_s", "s"),
    lower("trace.overhead_share", "ratio"),
    lower("trace.call_overhead_share", "ratio"),
    lower("trace.stats_overhead_share", "ratio"),
    lower("trace.listener_share", "ratio"))

  def byName(name: String): Metric =
    (endToEnd ++ perLayer).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown metric $name"))

  /** The result line: exactly the keys correct, attempted, failed, metrics. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 values: Seq[(Metric, Double)]): String = {
    val ms = values.map { case (m, v) =>
      require(!v.isNaN && !v.isInfinite, s"${m.name} is not a number: $v")
      s""""${m.name}": {"value": ${fmt(v)}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** Full precision, no exponent for ordinary magnitudes. */
  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
