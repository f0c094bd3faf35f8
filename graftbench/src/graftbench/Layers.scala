package graftbench

/** Every per-layer metric a traced run reports, with its unit, in the
  * order of BENCHMARK.json's `per_layer` (the self-test checks the two
  * agree). Each workload reports all of them; a layer the workload does
  * not call reads 0. Figures are per op (request or batch) unless
  * the README says otherwise. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_wait_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "setup.session_s" -> "s", "setup.scale_s" -> "s", "setup.store_build_s" -> "s",
    "setup.index_build_s" -> "s", "setup.warmup_s" -> "s",
    "floor.one_job_ms" -> "ms",
    "sources.Tables.scan_ms" -> "ms", "sources.Tables.scan_bytes" -> "bytes",
    "sources.Tables.scan_rows" -> "count",
    "sources.MetricsStore.write_ms" -> "ms", "sources.MetricsStore.files_written" -> "count",
    "sources.MetricsStore.bytes_written" -> "bytes",
    "sources.MetricsStore.partitions_read" -> "count", "sources.MetricsStore.prune_ratio" -> "ratio",
    "sources.listing_jobs" -> "count", "sources.listing_ms" -> "ms",
    "functions.codegen_compiles" -> "count", "functions.codegen_ms" -> "ms") ++
    Kernels.Names.map(k => s"functions.$k.ns_per_row" -> "ns") ++
    Plan.MarketingKinds.flatMap(k => Seq(s"etl.$k.plan_ms" -> "ms", s"etl.$k.exec_ms" -> "ms",
      s"etl.$k.jobs" -> "count", s"etl.$k.rows_out" -> "count")) ++ Seq(
    "etl.Consolidate.agg_ms" -> "ms", "etl.Consolidate.rows_in" -> "count",
    "etl.Consolidate.rows_out" -> "count",
    "operators.Ivf.plan_ms" -> "ms", "operators.Ivf.exec_ms" -> "ms",
    "operators.Ivf.eager_jobs" -> "count", "operators.Ivf.cells_probed" -> "count",
    "operators.Ivf.candidate_rows" -> "count", "operators.Ivf.bytes_scanned" -> "bytes") ++
    CorpusArrival.OperatorFiles.flatMap(f =>
      Seq(s"operators.$f.jobs" -> "count", s"operators.$f.task_ms" -> "ms")) ++ Seq(
    "operators.Pipeline.corpusFull_s" -> "s",
    "streaming.jobs" -> "count", "streaming.unattributed_jobs" -> "count") ++
    CorpusArrival.StreamingFiles.map(f => s"streaming.$f.jobs" -> "count") ++ Seq(
    "streaming.store_read_bytes" -> "bytes", "streaming.store_write_bytes" -> "bytes",
    "streaming.store_files" -> "count", "streaming.store_bytes" -> "bytes",
    "streaming.accepted_ratio" -> "ratio",
    "streaming.train_ms" -> "ms",
    "trace.overhead.op_p50_ms" -> "ratio", "trace.overhead.ops_per_s" -> "ratio",
    "trace.spans" -> "count")
}
