package perfbench

/** Turns the spans of one traced pass into per-layer metrics. */
object Layers {

  private def ms(spans: Seq[Span], name: String): Double =
    spans.find(_.name == name).map(_.ms).getOrElse(0.0)

  private def attrs(spans: Seq[Span], name: String): Map[String, Double] =
    spans.find(_.name == name).map(_.attrs).getOrElse(Map.empty)

  /** Job, plan and streaming counters of the span that ran the whole
    * workload once. */
  private def engine(a: Map[String, Double]): Map[String, Double] = {
    def g(k: String) = a.getOrElse(k, 0.0)
    Map(
      "plans.analysis_ms" -> g("analysis_ms"), "plans.optimization_ms" -> g("optimization_ms"),
      "plans.planning_ms" -> g("planning_ms"),
      "queries.jobs" -> g("jobs"), "queries.stages" -> g("stages"), "queries.tasks" -> g("tasks"),
      "queries.checkpoint_jobs" -> g("checkpoint_jobs"),
      "queries.scheduler_delay_ms" -> g("scheduler_delay_ms"),
      "queries.driver_gap_ms" -> g("driver_gap_ms"), "queries.task_run_ms" -> g("task_run_ms"),
      "queries.shuffle_write_bytes" -> g("shuffle_write_bytes"),
      "streaming.batches" -> g("batches"), "streaming.query_planning_ms" -> g("query_planning_ms"),
      "streaming.add_batch_ms" -> g("add_batch_ms"), "streaming.wal_commit_ms" -> g("wal_commit_ms"),
      "streaming.state_rows_total" -> g("state_rows_total"),
      "streaming.state_memory_bytes" -> g("state_memory_bytes"),
      "streaming.state_commit_ms" -> g("state_commit_ms"),
      "streaming.rows_dropped_by_watermark" -> g("rows_dropped_by_watermark"),
      "sources.get_batch_ms" -> g("get_batch_ms"))
  }

  def of(wl: Workload, spans: Seq[Span]): Map[String, Double] = wl match {
    case _: TripBatch =>
      // each span materialises the plan prefix ending at its layer
      val scan = ms(spans, "sources")
      val parse = ms(spans, "model")
      val sess = ms(spans, "operators.sessionize")
      val agg = ms(spans, "operators.aggregate")
      val write = ms(spans, "sinks")
      val a = attrs(spans, "operators.aggregate")
      // job and plan counters of the spans that run the pipeline once
      val once = Seq("operators.aggregate", "sinks").map(attrs(spans, _))
      val sum = once.flatMap(_.keys).distinct.map(k => k -> once.map(_.getOrElse(k, 0.0)).sum).toMap
      engine(sum) ++ Map(
        "sources.scan_ms" -> scan,
        "sources.bytes_read" -> attrs(spans, "sources").getOrElse("bytes_read", 0.0),
        "model.parse_ms" -> (parse - scan),
        "operators.sessionize_ms" -> (sess - parse),
        "operators.aggregate_ms" -> (agg - sess),
        "operators.shuffle_write_bytes" -> a.getOrElse("shuffle_write_bytes", 0.0),
        "operators.spill_bytes" -> a.getOrElse("spill_bytes", 0.0),
        "operators.max_task_skew" -> a.getOrElse("max_task_skew", 0.0),
        "sinks.write_ms" -> write,
        "sinks.rollbacks" -> attrs(spans, "sinks").getOrElse("failed_tasks", 0.0),
        // the full pipeline once plus the upsert: the work of an untraced pass
        "trace.pass_s" -> (agg + write) / 1e3)
    case s: TripStream =>
      val sinks = spans.filter(_.name == "sinks")
      val c = s.sinkCounters()
      s.resetSinkCounters()
      engine(attrs(spans, "pass")) ++ Map(
        "sinks.write_ms" -> (if (sinks.isEmpty) 0.0 else Stats.median(sinks.map(_.ms))),
        "sinks.rows_written" -> c("rows_written"), "sinks.inserts" -> c("inserts"),
        "sinks.updates" -> c("updates"), "sinks.fence_skips" -> c("fence_skips"),
        "sinks.rollbacks" -> sinks.map(_.attrs.getOrElse("failed_tasks", 0.0)).sum,
        "trace.pass_s" -> ms(spans, "pass") / 1e3)
    case _: QueryMix =>
      val queries = spans.filter(_.name.startsWith("query:"))
      engine(attrs(spans, "pass")) ++ Map(
        "queries.driver_gap_ms" -> queries.map(_.attrs.getOrElse("driver_gap_ms", 0.0)).sum,
        "trace.pass_s" -> ms(spans, "pass") / 1e3)
  }

  /** Parser and sink row counts of a trip workload. */
  def rows(r: Map[String, Double]): Map[String, Double] = {
    val lines = r("lines_in")
    val out = r("rows_out")
    Map("model.rows_out" -> out, "model.malformed_dropped" -> (lines - out),
      "model.valid_ratio" -> out / lines) ++
      r.get("rows_written").map(w => Map("sinks.rows_written" -> w, "sinks.inserts" -> w,
        "sinks.updates" -> 0.0)).getOrElse(Map.empty)
  }
}
