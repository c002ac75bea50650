package perfbench

/** Every metric the benchmark declares, with its unit. Each run reports
  * all of them: a layer a workload leaves idle reads 0 there, which is
  * the "should not move" half of the predictions in DESIGN.md. */
object Layers {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_s" -> "s",
    "latency_tail_s" -> "s",
    "heap_live_mb" -> "MB")

  val CurateQueries: Seq[String] = Seq(
    "dedup_clusters", "text_langid_profile",
    "sim_kmeans_inertia", "sim_pq_codes", "dedup_phash_dups")

  val QueryClasses: Seq[String] =
    Seq("point", "range_agg", "join_topn", "time_travel", "metadata", "mor_read")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.latest_offset_s" -> "s",
    "sources.lines_scanned_per_event" -> "ratio",
    "sources.lag_events_p50" -> "events",
    "sources.lag_slope_eps" -> "1/s",
    "streaming.trigger_s" -> "s",
    "streaming.boundary_s" -> "s",
    "streaming.query_planning_s" -> "s",
    "streaming.wal_commit_s" -> "s",
    "streaming.commit_offsets_s" -> "s",
    "streaming.batches" -> "count",
    "streaming.events_per_batch_p50" -> "events",
    "streaming.batch_p50_s" -> "s",
    "ingest.decode_task_s_per_kevent" -> "s",
    "ingest.route_write_s" -> "s",
    "ingest.write_jobs_per_batch" -> "count",
    "ingest.merge_s" -> "s",
    "ingest.merge_jobs" -> "count",
    "ingest.probe_rows_per_delta_row" -> "ratio",
    "ingest.days_touched_p50" -> "count",
    "ingest.rewrite_rows_per_delta_row" -> "ratio",
    "lake.post_write_gap_s" -> "s",
    "lake.write_amp" -> "ratio",
    "lake.bytes_written" -> "bytes",
    "lake.bytes_live" -> "bytes",
    "lake.files_live" -> "count",
    "lake.manifest_entries" -> "count",
    "lake.snapshots" -> "count",
    "lake.delete_files_live" -> "count",
    "lake.resolve_s" -> "s",
    "lake.files_read_per_query" -> "count",
    "lake.pruned_frac" -> "ratio") ++
    QueryClasses.map(c => s"queries.${c}_p50_s" -> "s") ++ Seq(
    "queries.analysis_s" -> "s",
    "queries.optimization_s" -> "s",
    "queries.planning_s" -> "s",
    "queries.jobs_per_query" -> "count",
    "queries.tasks_per_query" -> "count",
    "reliability.dlq_rows" -> "count",
    "reliability.dlq_s" -> "s",
    "reliability.retries" -> "count") ++
    CurateQueries.map(q => s"extensions.${q}_s" -> "s") ++ Seq(
    "extensions.jobs" -> "count",
    "extensions.shuffle_mb" -> "MB",
    "extensions.spill_mb" -> "MB",
    "extensions.cache_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "trace.listener_s" -> "s",
    "trace.overhead_frac" -> "ratio",
    "trace.spans" -> "count")

  /** Fill every declared metric with 0 so a report always names them all. */
  def init(r: Report): Unit = {
    EndToEnd.foreach { case (k, u) => r.e2e(k) = (0.0, u) }
    PerLayer.foreach { case (k, u) => r.layer(k) = (0.0, u) }
  }

  def unit(name: String): String =
    (EndToEnd ++ PerLayer).find(_._1 == name).map(_._2)
      .getOrElse(sys.error(s"undeclared metric $name"))

  def set(r: Report, name: String, v: Double): Unit = {
    val u = unit(name)
    if (EndToEnd.exists(_._1 == name)) r.e2e(name) = (v, u) else r.layer(name) = (v, u)
  }
}
