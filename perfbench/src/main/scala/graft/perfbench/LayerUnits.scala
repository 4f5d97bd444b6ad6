package graft.perfbench

/** The fixed per-layer metric set a traced run reports, with units. A
  * layer a workload leaves idle reports 0. Times and counts are per op (a
  * monthly run, a SQL statement or a near-dup query) unless the name says
  * otherwise. */
object LayerUnits {
  val neardupQueries: Seq[String] = Seq("q245_basket_neardup", "q60_neardup_clusters",
    "q78_containment_pairs", "q127_prefix_jaccard")

  val all: Seq[(String, String)] =
    Seq("pipeline.jobs_per_run" -> "count", "pipeline.driver_only_s" -> "s",
      "pipeline.core_busy_frac" -> "frac", "pipeline.retries" -> "count") ++
    Seq("stage_write", "bronze_write", "silver_merge", "gold_daily", "gold_monthly",
      "gold_zone", "gold_vendor", "gold_payment", "compact", "watermark", "ledger")
      .map(t => s"incremental.${t}_s" -> "s") ++
    Seq("incremental.files_written" -> "count", "incremental.files_per_partition" -> "count",
      "incremental.bytes_written_per_input_byte" -> "ratio") ++
    Seq("bronze_gate", "silver_gate", "gold_gate", "record").map(t => s"checks.${t}_s" -> "s") ++
    Seq("checks.rows_scanned_per_row_loaded" -> "ratio",
      "operators.plan_s" -> "s",
      "sources.read_s" -> "s", "sources.files_read_per_query" -> "count",
      "sources.rows_scanned_per_row_returned" -> "ratio",
      "sql.plan_ms" -> "ms", "sql.exec_ms" -> "ms", "sql.register_s" -> "s",
      "plans.rule_ms" -> "ms", "plans.rules_effective" -> "count") ++
    neardupQueries.map(q => s"llmdata.${q}_s" -> "s") ++
    Seq("llmdata.candidates_per_result" -> "ratio", "llmdata.shuffle_bytes" -> "B",
      "llmdata.spill_bytes" -> "B") ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.task_failures" -> "count",
      "spark.stage_retries" -> "count",
      "driver.no_job_frac" -> "frac",
      "trace.overhead_frac" -> "frac", "trace.spans_per_op" -> "count",
      "run.trips_per_s" -> "1/s", "run.lake_bytes_per_trip" -> "B",
      "run.failed_frac" -> "frac")

  private val units = all.toMap

  def of(name: String): String =
    units.getOrElse(name, sys.error(s"per-layer metric $name is not in LayerUnits.all"))

  /** Every metric of [[all]], with `measured` filling in what the workload
    * measured and 0 for the rest. */
  def complete(measured: Map[String, Double]): Map[String, Double] = {
    measured.keys.foreach(of)
    all.map { case (k, _) => k -> measured.getOrElse(k, 0.0) }.toMap
  }

  /** Per-op Spark totals over the given spans' subtrees, plus the share
    * of their wall time no Spark job covered. */
  def spark(view: TraceView, ops: Seq[Span]): Map[String, Double] = {
    val w = new SparkWork
    ops.foreach(s => w.add(view.workUnder(s)))
    val n = math.max(1, ops.size).toDouble
    val wall = ops.map(_.durNs).sum.toDouble
    Map("spark.jobs" -> w.jobs / n, "spark.stages" -> w.stages / n,
      "spark.tasks" -> w.tasks / n, "spark.executor_run_s" -> w.runMs / 1e3 / n,
      "spark.executor_cpu_s" -> w.cpuNs / 1e9 / n, "spark.gc_s" -> w.gcMs / 1e3 / n,
      "spark.shuffle_read_bytes" -> w.shuffleRead / n,
      "spark.shuffle_write_bytes" -> w.shuffleWrite / n,
      "spark.spill_bytes" -> w.spill / n, "spark.task_failures" -> w.taskFailures / n,
      "spark.stage_retries" -> w.stageRetries / n,
      "driver.no_job_frac" -> (if (wall > 0) ops.map(view.driverOnlyNs).sum / wall else 0.0))
  }

  /** Mean per op of the summed self time of spans called `name`. */
  def selfS(view: TraceView, spans: Seq[Span], name: String, ops: Int): Double =
    spans.filter(_.name == name).map(view.selfNs).sum / 1e9 / math.max(1, ops)
}
