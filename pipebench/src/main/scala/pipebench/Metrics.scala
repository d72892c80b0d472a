package pipebench

/** The metric names and units a run reports. Untraced runs report
  * [[EndToEnd]], traced runs [[PerLayer]]; a run whose output differs
  * from these lists fails its own check.
  */
object Metrics {
  val NamePattern = "[A-Za-z0-9_.-]+"

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "backfill_blocks_per_s" -> "blocks/s", "backfill_store_bytes_per_action" -> "B",
    "api_p50_ms" -> "ms", "api_p85_ms" -> "ms", "api_rps" -> "1/s", "heap_live_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "ship.frames" -> "count", "ship.bytes_in" -> "B", "ship.block_rows" -> "count",
    "ship.corrupt_rows" -> "count", "ship.busy_ms" -> "ms", "ship.mb_per_s" -> "MB/s",
    "ship.fatal_prefix_frames" -> "count", "history.batches" -> "count",
    "history.batch_ms_p50" -> "ms", "history.batch_ms_max" -> "ms", "history.bytes_written" -> "B",
    "history.busy_ms" -> "ms", "history.files_written" -> "count",
    "history.receipts_in" -> "count", "history.actions_out" -> "count",
    "history.merge_shuffle_bytes" -> "B", "state.batches" -> "count", "state.batch_ms_p50" -> "ms",
    "state.batch_ms_max" -> "ms", "state.bytes_written" -> "B", "state.busy_ms" -> "ms",
    "state.files_written" -> "count", "state.deltas_in" -> "count", "state.rows_live" -> "count",
    "state.buckets_touched_per_batch" -> "count", "state.prior_rows_read" -> "count",
    "state.write_amp" -> "ratio",
    "query.get_actions.p50_ms" -> "ms", "query.get_actions.plan_ms" -> "ms",
    "query.get_actions.exec_ms" -> "ms", "query.get_actions.rows_scanned_per_row" -> "ratio",
    "query.get_actions.bytes_read" -> "B", "query.get_actions.jobs" -> "count",
    "query.get_transaction.p50_ms" -> "ms", "query.get_transaction.plan_ms" -> "ms",
    "query.get_transaction.exec_ms" -> "ms",
    "query.get_transaction.rows_scanned_per_row" -> "ratio",
    "query.get_transaction.bytes_read" -> "B", "query.get_transaction.jobs" -> "count",
    "query.get_deltas.p50_ms" -> "ms", "query.get_deltas.plan_ms" -> "ms",
    "query.get_deltas.exec_ms" -> "ms", "query.get_deltas.rows_scanned_per_row" -> "ratio",
    "query.get_deltas.bytes_read" -> "B", "query.get_deltas.jobs" -> "count",
    "query.get_table_state.p50_ms" -> "ms", "query.get_table_state.plan_ms" -> "ms",
    "query.get_table_state.exec_ms" -> "ms",
    "query.get_table_state.rows_scanned_per_row" -> "ratio",
    "query.get_table_state.bytes_read" -> "B", "query.get_table_state.jobs" -> "count",
    "query.get_health.p50_ms" -> "ms", "query.get_health.plan_ms" -> "ms",
    "query.get_health.exec_ms" -> "ms", "query.get_health.rows_scanned_per_row" -> "ratio",
    "query.get_health.bytes_read" -> "B", "query.get_health.jobs" -> "count",
    "query.get_missed_blocks.p50_ms" -> "ms", "query.get_missed_blocks.plan_ms" -> "ms",
    "query.get_missed_blocks.exec_ms" -> "ms",
    "query.get_missed_blocks.rows_scanned_per_row" -> "ratio",
    "query.get_missed_blocks.bytes_read" -> "B", "query.get_missed_blocks.jobs" -> "count",
    "replay.rows" -> "count", "replay.pages" -> "count", "replay.p50_ms" -> "ms",
    "replay.rows_per_s" -> "1/s", "router.events_in" -> "count", "router.deliveries" -> "count",
    "router.match_ratio" -> "ratio", "router.batch_ms_p50" -> "ms", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.task_busy_ratio" -> "ratio", "spark.scheduler_delay_ms" -> "ms", "gen.self_ms" -> "ms",
    "ship.self_ms" -> "ms", "history.self_ms" -> "ms", "state.self_ms" -> "ms",
    "query.self_ms" -> "ms", "replay.self_ms" -> "ms", "router.self_ms" -> "ms",
    "bench.self_ms" -> "ms", "gen.busy_ms" -> "ms", "trace.spans" -> "count",
    "trace.overhead_backfill_pct" -> "%", "trace.overhead_api_p50_pct" -> "%",
    "fail_ratio" -> "ratio", "ship.parallel_speedup" -> "ratio",
    "history.parallel_speedup" -> "ratio", "state.parallel_speedup" -> "ratio",
    "backfill.parallel_speedup" -> "ratio")
}
