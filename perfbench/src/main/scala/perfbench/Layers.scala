package perfbench

/** Per-layer metrics of traced runs. A layer a workload does not exercise
  * is reported as an explicit 0 (see [[idle]]); any other layer metric a
  * workload leaves out is reported missing by `run.py`. */
object Layers {
  /** Layers only the closed-loop batch workloads exercise. */
  val batchOnly: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs", "queries.build_frac",
    "write.noop_s", "write.jobs", "sources.scan_floor_s", "spark.speedup_1_to_n")

  /** Layers only the open-loop stream workloads exercise. */
  val streamOnly: Seq[String] = Seq(
    "streaming.trigger_s.p50", "streaming.planning_s.p50",
    "streaming.add_batch_s.p50", "streaming.commit_s.p50", "streaming.batches",
    "streaming.rows_per_batch.p50", "streaming.backlog_rows.max",
    "streaming.state_rows", "streaming.state_bytes",
    "streaming.dropped_by_watermark", "streaming.recv_total", "streaming.send_total",
    "gen.late_s.max")

  /** Layers only the dedup gate exercises. */
  val gateOnly: Seq[String] = Seq(
    "gate.state_build_s", "gate.step_s.p50", "gate.sink_s.p50",
    "gate.fold_files", "gate.fold_bytes", "gate.exact_pairs", "gate.near_pairs")

  def idle(names: Seq[String]): Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Micro-batch progress of the traced phase, and Spark counters per
    * micro-batch. */
  def streaming(tr: Tracer, jl: Tracer#Listener, bs: Seq[Tracer.Batch],
                cpus: Int): Map[String, Double] = {
    def p50(f: Tracer.Batch => Double) =
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    val nb = math.max(bs.size, 1).toDouble
    val wall = tr.durations("stream").sum
    def per(k: String) = tr.counter("", k) / nb
    Map(
      "streaming.trigger_s.p50" -> p50(_.trigger),
      "streaming.planning_s.p50" -> p50(_.planning),
      "streaming.add_batch_s.p50" -> p50(_.addBatch),
      "streaming.commit_s.p50" -> p50(_.commit),
      "streaming.batches" -> bs.size.toDouble,
      "streaming.rows_per_batch.p50" -> p50(_.rows.toDouble),
      "streaming.backlog_rows.max" -> bs.map(_.backlog.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_rows" -> bs.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_bytes" -> bs.map(_.stateBytes.toDouble).maxOption.getOrElse(0.0),
      "streaming.dropped_by_watermark" -> bs.map(_.dropped.toDouble).sum,
      "spark.core_busy_frac" -> (if (wall > 0) tr.counter("", "run_s") / (wall * cpus) else 0.0),
      "spark.jobs" -> per("jobs"), "spark.stages" -> per("stages"), "spark.tasks" -> per("tasks"),
      "sources.scan_rows" -> per("scan_rows"), "sources.scan_bytes" -> per("scan_bytes"),
      "exchange.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "exchange.shuffle_read_bytes" -> per("shuffle_read_bytes"),
      "exchange.shuffle_write_s" -> per("shuffle_write_s"),
      "exchange.fetch_wait_s" -> per("fetch_wait_s"),
      "exchange.skew_max" -> jl.skewMax,
      "spark.task_cpu_s" -> per("cpu_s"), "spark.gc_s" -> per("gc_s"),
      "spark.spill_bytes" -> per("spill_bytes"))
  }
}
