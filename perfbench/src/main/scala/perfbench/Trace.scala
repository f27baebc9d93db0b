package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into a layer. Times are epoch milliseconds (with
  * sub-millisecond precision) so they line up with Spark's job events. */
final case class Span(
    id: Long, parent: Long, name: String, request: Long, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark work attributed to one span (or to a whole traced window). */
final class Work {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** (start, end) epoch ms of each finished job. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
}

/** Spans around every call the benchmark makes into a layer, plus the
  * Spark work each call causes. The innermost open span's id rides a
  * Spark local property on the calling thread; [[JobListener]] reads it
  * from each job's properties, so jobs, stages and tasks are attributed
  * to the call that caused them without touching the engine. When the
  * tracer is off, [[span]] is a plain call. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  /** Time spent recording spans, on the calling threads. */
  val overheadNs = new AtomicLong

  private val nextId = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val requestId = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def nowMs: Double = epochMs(System.nanoTime())

  /** A `System.nanoTime` reading as epoch milliseconds. */
  def epochMs(nanoTime: Long): Double = epochOffsetMs + nanoTime / 1e6

  /** Run `body` as request `id`: spans opened inside carry the id. */
  def request[T](id: Long)(body: => T): T = {
    requestId.set(id)
    try body finally requestId.set(0L)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      val id = nextId.getAndIncrement()
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = nowMs
      overheadNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val end = nowMs
        val t1 = System.nanoTime()
        done.add(Span(id, parent, name, requestId.get(), start, end))
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanKey,
          if (parent == 0L) null else parent.toString)
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  def clear(): Unit = done.clear()
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Counts Spark jobs, stages and tasks per span, and in total. Jobs
  * submitted without a span property count as unattributed. */
final class JobListener extends SparkListener {
  @volatile var total = new Work
  @volatile var unattributedJobs = new AtomicLong
  /** Time spent in this listener's callbacks, on the listener bus. */
  val callbackNs = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }
  private val bySpan = new ConcurrentHashMap[Long, Work]
  private val jobSpan = new ConcurrentHashMap[Int, Long]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val stageSpan = new ConcurrentHashMap[Int, Long]

  /** Start new totals; per-span counts are kept. */
  def resetTotals(): Unit = {
    total = new Work
    unattributedJobs = new AtomicLong
  }

  def work(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)
  def spanWork(span: Long): Option[Work] = Option(bySpan.get(span))

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pr => Option(pr.getProperty(Tracer.SpanKey))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    total.jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
    spanOf(e.properties) match {
      case Some(s) =>
        jobSpan.put(e.jobId, s)
        work(s).jobs.incrementAndGet()
        e.stageIds.foreach(st => stageSpan.put(st, s))
      case None => unattributedJobs.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val start = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    total.jobSpans.add((start, e.time))
    Option(jobSpan.remove(e.jobId)).foreach(s => work(s).jobSpans.add((start, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    total.stages.incrementAndGet()
    spanOf(e.properties).orElse(Option(stageSpan.get(e.stageInfo.stageId)))
      .foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        work(s).stages.incrementAndGet()
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val targets = Seq(total) ++ Option(stageSpan.get(e.stageId)).map(work)
    val m = Option(e.taskMetrics)
    targets.foreach { w =>
      w.tasks.incrementAndGet()
      m.foreach { tm =>
        w.cpuNs.addAndGet(tm.executorCpuTime)
        w.gcMs.addAndGet(tm.jvmGCTime)
        w.shuffleWriteBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        w.spillBytes.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
      }
    }
  }
}

/** Per-span summaries for the traced run: subtree totals (a span's own
  * work plus its children's), self time, and time covered by jobs. */
final class SpanIndex(spans: Seq[Span], listener: JobListener) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  private def sum(s: Span)(f: Work => Long): Long =
    subtree(s).flatMap(x => listener.spanWork(x.id)).map(f).sum

  def jobs(s: Span): Long = sum(s)(_.jobs.get)
  def stages(s: Span): Long = sum(s)(_.stages.get)
  def tasks(s: Span): Long = sum(s)(_.tasks.get)
  def cpuS(s: Span): Double = sum(s)(_.cpuNs.get) / 1e9
  def gcS(s: Span): Double = sum(s)(_.gcMs.get) / 1e3
  def shuffleWriteMb(s: Span): Double = sum(s)(_.shuffleWriteBytes.get) / 1e6
  def spillMb(s: Span): Double = sum(s)(_.spillBytes.get) / 1e6

  /** Seconds of the span's wall time covered by at least one of its jobs. */
  def inJobsS(s: Span): Double = {
    val iv = subtree(s).flatMap(x => listener.spanWork(x.id))
      .flatMap(_.jobSpans.asScala).map { case (a, b) => (a.toDouble, b.toDouble) }
    SpanIndex.covered(iv, s.startMs, s.endMs) / 1e3
  }

  def gapS(s: Span): Double = s.ms / 1e3 - inJobsS(s)

  /** Span time minus the time its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - SpanIndex.covered(
      children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
}

object SpanIndex {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
