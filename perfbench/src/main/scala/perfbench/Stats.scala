package perfbench

/** Percentiles, the result line, and the provenance stamp. */
object Stats {
  /** Linear-interpolated percentile (`p` in 0..100); 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = r.floor.toInt; val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Unit of every metric the benchmark reports. */
  def unit(name: String): String = name match {
    case n if n.endsWith("_per_s") => "1/s"
    case n if n.endsWith("_ms") || n.endsWith("_ms_sum") || n.endsWith("_ms_p50") || n == "master.blocked_ms" => "ms"
    case n if n.endsWith("_us") || n.contains("_us_") => "us"
    case n if n.endsWith("_s") || n.startsWith("family.") => "s"
    case n if n.endsWith("_mb") => "MiB"
    case n if n.endsWith("frac") => "fraction"
    case "sink.bytes" => "bytes"
    case _ => "count"
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** End-to-end metrics: every workload reports each, with tracing off. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "throughput_per_s", "latency_p50_ms", "latency_p90_ms", "live_heap_peak_mb")

  /** Per-layer metrics of the traced runs. A layer a workload does not
    * exercise reports 0. */
  val PerLayer: Seq[String] = Seq(
    "mysql.decode_us_per_event", "sources.render_us_per_op", "source.ingest_ops_per_s",
    "master.blocked_ms", "master.late_p99_ms",
    "stream.batches", "stream.ops_per_batch_p50", "stream.trigger_ms_p50", "stream.latest_offset_ms_p50",
    "stream.wal_commit_ms_p50", "stream.planning_ms_p50", "stream.engine_overhead_ms",
    "stream.add_batch_ms_p50", "render.tasks", "render.task_ms_sum", "ordered.driver_ms_sum",
    "streaming.parse_us_per_op",
    "cdc.filter_us_per_op", "cdc.encode_us_per_op", "cdc.batch_us_per_trx", "cdc.ddl_apply_us",
    "ckp.saves", "ckp.save_ms_sum", "cdc.recovery_msgs_per_s", "recovery_s",
    "kafka.produces", "kafka.produce_us_p50", "sink.msgs", "sink.bytes", "sink.ops_per_msg",
    "sink.fragmented_msgs",
    "counters.trx_total", "counters.iud_total", "counters.ddl_total", "counters.ops_emitted_total",
    "counters.wire_messages_total",
    "analytics.build_s", "catalyst.plan_s", "plans.graft_nodes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.empty_tasks", "spark.task_s", "spark.cpu_s",
    "spark.gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.sched_floor_s",
    "setup.table_cache_s", "setup.warmup_pass_s") ++ "qectdsmp".map(f => s"family.${f}_s") ++ Seq(
    "trace.single_thread_ops_per_s", "trace.overhead_frac", "lag.samples", "failed_frac")

  /** The benchmark's last stdout line. A traced result carries every
    * per-layer metric; an untraced one every end-to-end metric. */
  def result(correct: Boolean, attempted: Long, failed: Long, measured: Map[String, Double],
      trace: Boolean): String = {
    val names = if (trace) PerLayer else EndToEnd
    val extra = measured.keySet -- names
    require(extra.isEmpty, s"metrics not declared: ${extra.mkString(", ")}")
    val metrics = names.map(n => n -> measured.getOrElse(n, 0.0))
    val m = metrics.map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${unit(k)}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {$m}}"""
  }
}
