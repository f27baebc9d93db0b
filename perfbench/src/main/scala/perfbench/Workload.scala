package perfbench

/** One benchmark workload. The harness runs `setup`, the fixed
  * untimed `warmup`, one timed window and `finish`; the workload turns
  * them into metrics. */
trait Workload {
  def name: String

  /** Input generation and the base builds the workload reads; checked
    * operations of set-up count into `ops`. */
  def setup(ops: Ops): Unit

  /** A fixed amount of untimed work, the same in every run. */
  def warmup(ops: Ops): Unit

  /** Run the timed loop for `seconds` into `ops`; `traced` when the
    * tracer records it. */
  def window(seconds: Double, ops: Ops, traced: Boolean): Unit

  /** End-of-run checks (counted as operations of the window). */
  def finish(ops: Ops): Unit = ()

  /** The contract's end-to-end metrics other than `setup_s` and
    * `live_heap_peak_mb`: `throughput_per_s` and `latency_ms`. */
  def endToEnd(ops: Ops): Seq[Metric]

  /** The workload's own named metrics, printed as report lines. */
  def report(setup: Ops, ops: Ops): Seq[Metric]

  /** Per-layer metrics from the traced set-up's and window's spans. */
  def layers(ops: Ops, idx: SpanIndex): Seq[Metric]
}

/** Shared per-layer metric shapes over named spans. */
object Layers {
  def ms(idx: SpanIndex, span: String): Double = Stats.median(idx.named(span).map(_.ms))

  def s(idx: SpanIndex, span: String): Double = ms(idx, span) / 1e3

  def perCall(idx: SpanIndex, span: String)(f: Span => Double): Double =
    Stats.mean(idx.named(span).map(f))

  def jobs(idx: SpanIndex, span: String): Double = perCall(idx, span)(s => idx.jobs(s).toDouble)

  def tasks(idx: SpanIndex, span: String): Double = perCall(idx, span)(s => idx.tasks(s).toDouble)

  /** `DedupIndex.query`: the call itself, before any result is
    * requested (`build`), and collecting its result (`exec`). */
  def dedupQuery(idx: SpanIndex): Seq[Metric] =
    Seq("build", "exec").flatMap { phase =>
      val span = s"dix.query.$phase"
      Seq(
        Metric(s"${span}_ms", ms(idx, span), "ms"),
        Metric(s"${span}_jobs", jobs(idx, span), "count"),
        Metric(s"${span}_tasks", tasks(idx, span), "count"))
    }

  /** Every per-layer metric the benchmark defines, with its unit; a
    * workload reports 0 for the layers it leaves idle. */
  val units: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s", "setup.build_s" -> "s",
    "dix.query.build_ms" -> "ms", "dix.query.build_jobs" -> "count",
    "dix.query.build_tasks" -> "count", "dix.query.exec_ms" -> "ms",
    "dix.query.exec_jobs" -> "count", "dix.query.exec_tasks" -> "count",
    "dix.segments" -> "count", "dix.append_ms" -> "ms", "dix.append_jobs" -> "count",
    "dix.delete_ms" -> "ms", "dix.compact_s" -> "s",
    "ann.ivf.topk_ms" -> "ms", "ann.ivf.topk_jobs" -> "count",
    "ann.pq.topk_ms" -> "ms", "ann.pq.topk_jobs" -> "count",
    "ann.pq.append_ms" -> "ms", "ann.pq.append_jobs" -> "count",
    "ann.pq.append_tasks" -> "count", "ann.delete_ms" -> "ms", "ann.compact_s" -> "s",
    "commit.versions_per_batch" -> "count", "commit.claims_lost" -> "count",
    "store.files" -> "count",
    "sql.analyze_ms" -> "ms", "sql.analyze_jobs" -> "count",
    "sql.exec_ms" -> "ms", "sql.exec_jobs" -> "count",
    "state.read_ms" -> "ms", "state.read_jobs" -> "count",
    "counter.op_ms" -> "ms", "counter.jobs_per_op" -> "count", "state.publish_s" -> "s",
    "plans.refresh.jobs" -> "count", "plans.refresh.task_cpu_s" -> "s",
    "plans.refresh.shuffle_write_mb" -> "MB", "plans.refresh.spill_mb" -> "MB",
    "plans.refresh.gap_s" -> "s",
    "llm.pipeline.jobs" -> "count", "llm.pipeline.stages" -> "count",
    "llm.pipeline.tasks" -> "count", "llm.pipeline.task_cpu_s" -> "s",
    "llm.pipeline.shuffle_write_mb" -> "MB", "llm.pipeline.spill_mb" -> "MB",
    "llm.pipeline.gc_s" -> "s", "llm.pipeline.in_jobs_s" -> "s", "llm.pipeline.gap_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.in_jobs_s" -> "s",
    "spark.gap_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.jobs_unattributed" -> "count", "trace.overhead_pct" -> "%")
}
