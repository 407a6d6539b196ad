package perfbench

/** Every metric the benchmark prints, with its unit. `BENCHMARK.json`
  * lists the same names; the smoke test checks that the two agree.
  * Every workload prints every name; a layer a workload does not touch
  * reads 0.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s",
    "ops_per_s" -> "1/s",
    "live_heap_mb" -> "MB")

  /** End-to-end figures that are specific to one workload, can be 0,
    * rest on too few samples in one run to gate on (the op tail), or
    * happen once per JVM (session start and warm-up);
    * printed on the `# context` line of every run and with the
    * per-layer metrics of a traced run.
    */
  val context: Seq[(String, String)] = Seq(
    "ctx.setup_session_s" -> "s",
    "ctx.setup_warm_s" -> "s",
    "ctx.failed_frac" -> "ratio",
    "ctx.op_tail_s" -> "s",
    "ctx.op_tail_pct" -> "pct",
    "ctx.op_count" -> "count",
    "ctx.mr_input_mb_per_s" -> "MB/s",
    "ctx.query_p50_s" -> "s",
    "ctx.changelog_rows_per_s" -> "rows/s",
    "ctx.read_p50_s" -> "s",
    "ctx.purge_p50_s" -> "s",
    "ctx.write_amp" -> "ratio")

  val families: Seq[String] = Seq("dq", "rel", "text", "dedup", "sim", "stats", "graph",
    "multimodal", "pipeline", "stream", "source")

  val kernels: Seq[String] = Seq("graft_dot", "graft_dot_long", "graft_lut_sum",
    "graft_md5_prefix", "graft_rolling_hash_min", "graft_stopword_hits")

  val flavours: Seq[String] = Seq("sum", "minmax", "sketch")

  val perLayer: Seq[(String, String)] =
    Seq("tables.scan_bytes" -> "bytes") ++
    Seq(
      "engine.map_stage_s" -> "s", "engine.reduce_stage_s" -> "s",
      "engine.sink_stage_s" -> "s", "engine.plan_s" -> "s",
      "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_records" -> "count",
      "engine.spill_bytes" -> "bytes", "engine.output_bytes" -> "bytes",
      "engine.gc_s" -> "s", "engine.map_task_skew" -> "ratio", "engine.cpu_util" -> "ratio",
      "apps.tokenize_mb_per_s" -> "MB/s") ++
    families.map(f => s"queries.$f.p50_s" -> "s") ++
    Seq(
      "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
      "queries.jobs_per_query" -> "count", "queries.stages_per_query" -> "count",
      "queries.tasks_per_query" -> "count", "queries.driver_gap_s" -> "s",
      "queries.shuffle_bytes" -> "bytes", "queries.spill_bytes" -> "bytes",
      "queries.plancache_entries" -> "count") ++
    kernels.map(k => s"functions.$k.rows_per_s" -> "rows/s") ++
    flavours.flatMap(v => Seq(
      s"streaming.$v.trigger_p50_s" -> "s", s"streaming.$v.jobs_per_trigger" -> "count",
      s"streaming.$v.driver_gap_s" -> "s", s"streaming.$v.probe_s" -> "s",
      s"streaming.$v.fold_s" -> "s", s"streaming.$v.view_commit_s" -> "s",
      s"streaming.$v.snapshot_merge_s" -> "s", s"streaming.$v.store_scan_bytes" -> "bytes",
      s"streaming.$v.bytes_written_per_trigger" -> "bytes",
      s"streaming.$v.touched_buckets" -> "count", s"streaming.$v.purge_s" -> "s")) ++
    Seq(
      "streaming.pinned_read_s" -> "s", "streaming.view_read_s" -> "s",
      "streaming.labelled_frac" -> "ratio") ++
    context ++
    Seq(
      "trace.jobs" -> "count", "trace.jobs_outside_op" -> "count",
      "trace.unattributed_job_s" -> "s", "trace.overhead_p50_s" -> "s",
      "trace.overhead_frac" -> "ratio", "trace.self.op_s" -> "s",
      "trace.self.engine_s" -> "s", "trace.self.queries_s" -> "s",
      "trace.self.streaming_s" -> "s", "trace.self.job_s" -> "s",
      "trace.self.stage_s" -> "s")

  private lazy val units: Map[String, String] = (endToEnd ++ perLayer).toMap

  def unitOf(name: String): String = units(name)
}
