package perfbench

/** Every metric the benchmark reports, with its unit, in output order. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "run_p50_s" -> "s", "run_tail_s" -> "s", "rows_per_s" -> "1/s",
    "store_bytes_per_input_byte" -> "ratio", "serve_p50_ms" -> "ms")

  /** Suffixes of every pipeline layer span. */
  val SpanSuffixes: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "tasks" -> "count", "task_s" -> "s",
    "cpu_s" -> "s", "gc_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "written_bytes" -> "bytes", "written_files" -> "count")

  val PerLayer: Seq[(String, String)] =
    PipelineRun.Layers.flatMap(l => SpanSuffixes.map { case (s, u) => s"$l.$s" -> u }) ++
      Routes.Names.flatMap(r => Seq(s"serve.$r.p50_ms" -> "ms", s"serve.$r.jobs" -> "count", s"serve.$r.task_s" -> "s")) ++
      Seq("serve_p99_ms" -> "ms", "serve_max_rps" -> "1/s", "ingest.inserted_frac" -> "ratio", "marts.rows_written_per_inserted_row" -> "ratio",
        "invocation.unattributed_s" -> "s", "trace.overhead_s" -> "s", "failed_frac" -> "ratio",
        "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "host.probe_s" -> "s")
}
