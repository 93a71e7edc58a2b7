package perfbench

/** What every workload's traced run reports, and the span bookkeeping they
  * share.
  */
object Workload {

  val SpanNames: Seq[String] = Seq("workload", "trigger", "fanout.route", "fanout.sink",
    "query", "job", "stage")

  /** Every per-layer metric, in report order. A traced run reports each;
    * one its workload does not exercise reads 0.
    */
  val LayerMetrics: Seq[String] = Seq(
    "streaming.trigger_ms_p50", "streaming.addBatch_ms_p50", "streaming.walCommit_ms_p50",
    "streaming.commitOffsets_ms_p50", "streaming.queryPlanning_ms_p50",
    "streaming.latestOffset_ms_p50", "streaming.rows_per_trigger_mean", "streaming.triggers",
    "streaming.queue_wait_ms_p50",
    "fanout.route_ms_p50", "fanout.sink_ms_p50", "fanout.useful_parse_ratio",
    "messages.fast_us_per_msg_river", "messages.variant_us_per_msg_river",
    "messages.attach_ms_per_river", "messages.r1_cpu_us_per_msg", "messages.r8_cpu_us_per_msg",
    "messages.r1_attach_ms", "messages.r8_attach_ms",
    "messages.passed", "messages.precondition_failed", "messages.validation_failed",
    "messages.unparseable",
    "state.rows_total", "state.memory_mb", "state.commit_ms_p50",
    "spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks", "spark.tasks_failed",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.driver_only_s",
    "spark.executor_busy_ratio", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb") ++
    Ops.Queries.flatMap(q => Seq("wall_s", "jobs", "executor_cpu_s", "driver_only_s").map(m => s"query.$q.$m")) ++
    Seq("replay.single_core_msgs_per_s", "gen.late_ms_p99", "load.avg_start", "latency.samples") ++
    SpanNames.map(n => s"trace.self_s.$n") ++
    Seq("trace.spans") ++
    Seq("latency_p50_ms", "latency_p99_ms", "latency_geomean_ms", "ops_per_s").map(m => s"trace.overhead.$m")

  /** Records the traced window's root span `workload`, the workload's own
    * spans and the probe's job and stage spans.
    */
  def recordSpans(ctx: Ctx, p: Probe, w0: Double, w1: Double, own: Seq[Span]): Unit = {
    val tr = ctx.tracer
    tr.add(Span("workload", "workload", "", w0, w1))
    own.foreach(tr.add)
    p.spans("workload").foreach(tr.add)
  }

  /** Self time per layer, in seconds, plus the span count. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val by = Trace.selfSecondsByName(spans)
    SpanNames.map(n => s"trace.self_s.$n" -> by.getOrElse(n, 0.0)).toMap +
      ("trace.spans" -> spans.size.toDouble)
  }
}
