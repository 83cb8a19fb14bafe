package perfbench

/** The per-layer metrics of a traced run, from the spans and counters the
  * benchmark recorded around its calls into each layer and from the
  * Spark listener. Counts and times are per op of the kind that drives
  * the layer (write ops for the write path, the layer's own calls for
  * reads); times are self times. A layer the workload does not exercise
  * reads 0. */
object Layers {
  def metrics(run: Run, tr: Tracer, l: LayerListener, wall: Double,
      cores: Int): Seq[(String, Double, String)] = {
    val self = tr.selfSeconds.withDefaultValue(0.0)
    val roots = tr.rootSeconds
    def c(n: String) = tr.counter(n)
    def per(x: Double, n: Double) = if (n > 0) x / n else 0.0
    val writes = run.opsByKind.getOrElse("write", 0L).toDouble
    val ops = run.attempted.toDouble
    val maintains = c("merge_table.maintain_runs")
    val changed = c("merge_table.rows_matched") + c("merge_table.rows_inserted")
    val uncovered = roots.keys.map(self).sum
    Seq(
      ("sources.list_pages", per(c("sources.list_pages"), writes), "count"),
      ("sources.detail_requests", per(c("sources.detail_requests"), writes), "count"),
      ("sources.detail_failures", per(c("sources.detail_failures"), writes), "count"),
      ("sources.detail_busy_s", per(c("sources.detail_busy_s"), writes), "s"),
      ("ingest.fetch_s", per(self("ingest.fetch"), writes), "s"),
      ("ingest.bronze_hit_ratio",
        per(c("ingest.bronze_hits"), c("ingest.bronze_requested")), "ratio"),
      ("ingest.run_once_self_s", per(self("ingest.run_once"), writes), "s"),
      ("ingest.valid_rows", per(c("ingest.valid_rows"), writes), "rows"),
      ("ingest.invalid_rows", per(c("ingest.invalid_rows"), writes), "rows"),
      ("ingest.sink_files_written", per(c("ingest.sink_files_written"), writes), "count"),
      ("ingest.sink_bytes", per(c("ingest.sink_bytes"), writes), "bytes"),
      ("ingest.changefeed_s", per(self("ingest.changefeed"), writes), "s"),
      ("ingest.changefeed_rows", per(c("ingest.changefeed_rows"), writes), "rows"),
      ("ingest.ivm_apply_s", per(self("ingest.ivm_apply"), writes), "s"),
      ("merge_table.upsert_s", per(self("merge_table.upsert"), writes), "s"),
      ("merge_table.buckets_rewritten",
        per(c("merge_table.buckets_rewritten"), writes), "count"),
      ("merge_table.files_read", per(c("merge_table.files_read"), writes), "count"),
      ("merge_table.files_written", per(c("merge_table.files_written"), writes), "count"),
      ("merge_table.rows_matched", per(c("merge_table.rows_matched"), writes), "rows"),
      ("merge_table.rows_inserted", per(c("merge_table.rows_inserted"), writes), "rows"),
      ("merge_table.changed_rows_per_file_written",
        per(changed, c("merge_table.files_written")), "rows"),
      ("merge_table.commit_retries", c("merge_table.commit_retries"), "count"),
      ("merge_table.maintain_s", per(self("merge_table.maintain"), maintains), "s"),
      ("merge_table.maintain_files_rewritten",
        per(c("merge_table.maintain_files_written"), maintains), "count"),
      ("merge_table.live_files", c("merge_table.live_files"), "count"),
      ("merge_table.versions", c("merge_table.versions"), "count"),
      ("plans.plan_s", per(self("plans.plan"), c("plans.planned")), "s"),
      ("plans.lookup_s", per(self("plans.lookup"), c("plans.lookups")), "s"),
      ("plans.files_scanned_per_lookup",
        per(c("plans.lookup_files_scanned"), c("plans.lookups")), "count"),
      ("plans.files_scanned_ratio",
        per(c("plans.lookup_files_scanned"), c("plans.lookup_live_files")), "ratio"),
      ("plans.rows_scanned_per_row_returned",
        per(c("plans.rows_scanned"), c("plans.rows_returned")), "ratio"),
      ("plans.direct_query_s", per(self("plans.query"), c("plans.queries")), "s"),
      ("ivm.serve_s", per(self("ivm.serve"), c("ivm.serves")), "s"),
      ("dedup.exact_admit_s", per(self("dedup.exact_admit"), writes), "s"),
      ("dedup.text_admit_s", per(self("dedup.text_admit"), writes), "s"),
      ("dedup.vec_admit_s", per(self("dedup.vec_admit"), writes), "s"),
      ("dedup.index_files", c("dedup.index_files"), "count"),
      ("dedup.precision", per(c("dedup.true_rejects"), c("dedup.rejected")), "ratio"),
      ("dedup.recall", per(c("dedup.true_rejects"), c("dedup.planted")), "ratio"),
      ("ivfpq.add_s", per(self("ivfpq.add"), writes), "s"),
      ("ivfpq.search_s", per(self("ivfpq.search"), c("ivfpq.searches")), "s"),
      ("ivfpq.codes_scanned_per_query",
        per(c("ivfpq.codes_scanned"), c("ivfpq.queries")), "count"),
      ("ivfpq.index_files", c("ivfpq.index_files"), "count"),
      ("spark.jobs_per_op", per(l.jobs.get.toDouble, ops), "count"),
      ("spark.stages_per_op", per(l.stages.get.toDouble, ops), "count"),
      ("spark.tasks_per_op", per(l.tasks.get.toDouble, ops), "count"),
      ("spark.scheduler_wait_s", per(l.schedulerWaitMs.get / 1e3, ops), "s"),
      ("spark.task_busy_s", per(l.busyMs.get / 1e3, ops), "s"),
      ("spark.task_cpu_s", per(l.cpuNs.get / 1e9, ops), "s"),
      ("spark.core_utilization", per(l.busyMs.get / 1e3, wall * cores), "ratio"),
      ("spark.shuffle_write_bytes", per(l.shuffleWriteBytes.get.toDouble, ops), "bytes"),
      ("spark.shuffle_read_bytes", per(l.shuffleReadBytes.get.toDouble, ops), "bytes"),
      ("spark.spill_bytes", per(l.spillBytes.get.toDouble, ops), "bytes"),
      ("spark.gc_s", per(l.gcMs.get / 1e3, ops), "s"),
      ("spark.task_failures", l.taskFailures.get.toDouble, "count"),
      ("trace.uncovered_s", per(uncovered, ops), "s"),
      ("trace.uncovered_share", per(uncovered, roots.values.sum), "ratio"),
      ("trace.freshness_p50_s", run.freshness.p50, "s"),
      ("trace.read_p50_ms", run.reads.p50, "ms"),
      ("plans.analytics_p50_ms", zeroIfNaN(run.queries.p50), "ms"),
      ("trace.spans", tr.spanCount.toDouble, "count"),
      ("samples.writes", run.freshness.n.toDouble, "count"),
      ("samples.reads", run.reads.n.toDouble, "count"),
      ("samples.queries", run.queries.n.toDouble, "count"))
  }

  private def zeroIfNaN(v: Double): Double = if (v.isNaN) 0.0 else v
}
