package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import graft.Engine

/** The benchmark's JVM: one Spark session from `graft.Engine.session`
  * at `local[<cores>]`, holding both the load generator and the engine.
  *
  * Usage: `perfbench.Main --workload serve|ingest[,...] --seed N
  *   --seconds S --trace 0|1 --work DIR [--tiny] [--spans DIR]`
  *
  * For each workload it runs set-up, a fixed warm-up and a timed
  * window; with `--trace 1` set-up and the window are traced.
  * It prints `report <workload> <name> <value> <unit>` lines, then one
  * `e2e <workload> <json>` line and, when traced, one
  * `layers <workload> <json>` line. */
object Main {
  private final case class Opts(
      workloads: Seq[String] = Nil, seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, work: String = "", tiny: Boolean = false,
      spans: Option[String] = None)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workloads = v.split(",").toSeq))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--spans" :: v :: rest => parse(rest, o.copy(spans = Some(v)))
    case "--tiny" :: rest => parse(rest, o.copy(tiny = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.workloads.nonEmpty && o.work.nonEmpty, "need --workload and --work")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = Engine.session(master = s"local[$cores]", appName = "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer(spark.sparkContext)
      val ctx = new Ctx(spark, tracer, new Gen(o.seed), o.work, o.tiny)
      o.workloads.foreach { name =>
        val w: Workload = name match {
          case "serve" => new Serve(ctx)
          case "ingest" => new Ingest(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        run(w, ctx, o, sessionS)
      }
    } finally spark.stop()
  }

  private def run(w: Workload, ctx: Ctx, o: Opts, sessionS: Double): Unit = {
    val sc = ctx.spark.sparkContext
    val listener = if (o.trace) Some(new JobListener) else None
    ctx.tracer.clear()
    // with --trace 1, set-up and the timed window run traced (the
    // warm-up does not); the listener's totals cover the latest stretch
    def tracing(body: => Unit): Unit = listener match {
      case None => body
      case Some(l) =>
        l.resetTotals()
        sc.addSparkListener(l)
        ctx.tracer.on = true
        try body
        finally {
          ctx.tracer.on = false
          org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
          sc.removeSparkListener(l)
        }
    }

    val setupOps = new Ops
    val t0 = System.nanoTime()
    tracing(Step(s"${w.name} set-up")(w.setup(setupOps)))
    val buildS = (System.nanoTime() - t0) / 1e9
    Heap.sample()
    val warm = new Ops
    Step(s"${w.name} warm-up")(w.warmup(warm))
    Heap.sample()
    def tracingNs: Long = ctx.tracer.overheadNs.get + listener.map(_.callbackNs.get).getOrElse(0L)
    val window = new Ops
    val cost0 = tracingNs
    tracing(w.window(o.seconds, window, o.trace))
    val costNs = tracingNs - cost0
    Heap.sample()
    Step(s"${w.name} finish")(w.finish(window))
    val phases = Seq(setupOps, warm, window)
    val attempted = phases.map(_.attempted.get).sum
    val failed = phases.map(_.failed.get).sum

    val e2e = Seq(Metric("setup_s", sessionS + buildS, "s"),
      Metric("live_heap_peak_mb", Heap.peakMb, "MB")) ++ w.endToEnd(window)
    val report = w.report(setupOps, window) :+
      Metric("error_rate", failed.toDouble / math.max(1, attempted), "ratio")
    (e2e ++ report).foreach(m => println(s"report ${w.name} ${m.name} ${m.value} ${m.unit}"))
    val measured = e2e.forall(m => !m.value.isNaN && !m.value.isInfinite)
    println(s"e2e ${w.name} ${json(measured && failed == 0, attempted, failed, e2e)}")

    listener.foreach { listener =>
      val spans = ctx.tracer.spans
      val idx = new SpanIndex(spans, listener)
      o.spans.foreach(dir => writeSpans(new File(dir, s"${w.name}-seed${o.seed}.jsonl"), spans, idx))
      val t = listener.total
      val inJobs = SpanIndex.covered(
        t.jobSpans.asScala.map { case (a, b) => (a.toDouble, b.toDouble) },
        ctx.tracer.epochMs(window.startNs), ctx.tracer.epochMs(window.endNs)) / 1e3
      val spark = Seq(
        Metric("engine.session_s", sessionS, "s"),
        Metric("setup.build_s", buildS, "s"),
        Metric("spark.jobs", t.jobs.get.toDouble, "count"),
        Metric("spark.tasks", t.tasks.get.toDouble, "count"),
        Metric("spark.in_jobs_s", inJobs, "s"),
        Metric("spark.gap_s", window.wallS - inJobs, "s"),
        Metric("spark.task_cpu_s", t.cpuNs.get / 1e9, "s"),
        Metric("spark.gc_s", t.gcMs.get / 1e3, "s"),
        Metric("spark.shuffle_write_mb", t.shuffleWriteBytes.get / 1e6, "MB"),
        Metric("spark.spill_mb", t.spillBytes.get / 1e6, "MB"),
        Metric("spark.jobs_unattributed", listener.unattributedJobs.get.toDouble, "count"),
        Metric("trace.overhead_pct", costNs / 1e7 / window.wallS, "%"))
      val measuredLayers = (spark ++ w.layers(window, idx)).map(m => m.name -> m).toMap
      // NaN (no call of that layer) prints as 0, like an idle layer
      val all = Layers.units.map { case (n, u) => measuredLayers.getOrElse(n, Metric(n, 0.0, u)) }
      println(s"layers ${w.name} ${json(failed == 0, attempted, failed, all)}")
    }
  }

  private def num(x: Double): String = if (x.isNaN || x.isInfinite) "0" else x.toString

  private def json(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"

  private def writeSpans(f: File, spans: Seq[Span], idx: SpanIndex): Unit = {
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f)
    try spans.sortBy(_.startMs).foreach { s =>
      out.println(
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "request": ${s.request}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "self_ms": ${idx.selfMs(s)}, """ +
          s""""jobs": ${idx.jobs(s)}, "stages": ${idx.stages(s)}, "tasks": ${idx.tasks(s)}}""")
    } finally out.close()
  }
}
