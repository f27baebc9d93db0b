package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload needs from the harness. `tiny` selects the
  * smoke-test sizes. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val gen: Gen,
    val work: String,
    val tiny: Boolean) {
  def size(full: Int, small: Int): Int = if (tiny) small else full
}

/** Operation outcomes and latencies of one timed window (or of a
  * warm-up). An operation fails when it throws or when any check on
  * its output does not hold. */
final class Ops {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val latencies = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]
  @volatile var startNs: Long = System.nanoTime()
  @volatile var endNs: Long = startNs

  def wallS: Double = (endNs - startNs) / 1e9

  def record(kind: String, ms: Double): Unit =
    latencies.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue[Double]).add(ms)

  def ms(kinds: String*): Seq[Double] =
    kinds.flatMap(k => Option(latencies.get(k)).map(_.asScala.toSeq).getOrElse(Nil))

  /** Time `body` as one operation of `kind`, then check its result;
    * `verify` returns the problems found (empty when correct). */
  def op[T](kind: String)(body: => T)(verify: T => Seq[String]): Option[T] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case e: Throwable =>
          failed.incrementAndGet()
          System.err.println(s"perfbench: $kind failed: $e")
          e.printStackTrace(System.err)
          None
      }
    out.foreach { v =>
      record(kind, (System.nanoTime() - t0) / 1e6)
      val problems =
        try verify(v)
        catch { case e: Throwable => Seq(s"check threw $e") }
      if (problems.nonEmpty) {
        failed.incrementAndGet()
        System.err.println(s"perfbench: $kind wrong: ${problems.take(5).mkString("; ")}")
      }
    }
    out
  }

  /** An untimed check that counts as one operation. */
  def check(kind: String)(problems: => Seq[String]): Unit = op(kind)(())(_ => problems): Unit
}

/** The timed loop of a sequential workload. After `minUnits` units of
  * work, a unit starts only while the window has room for it at the
  * mean duration of the units before it, so a run ends close to its
  * window; rates divide by the time until the last unit finished. */
object Window {
  def loop(ops: Ops, seconds: Double, minUnits: Int)(unit: Boolean => Unit): Unit = {
    ops.startNs = System.nanoTime()
    val end = ops.startNs + (seconds * 1e9).toLong
    var n = 0
    while (n < minUnits || System.nanoTime() + (System.nanoTime() - ops.startNs) / n <= end) {
      unit(n == 0)
      n += 1
    }
    ops.endNs = System.nanoTime()
  }
}

/** Set-up steps report their time on stderr, so a slow set-up can be
  * read off a run's log. */
object Step {
  def apply[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"perfbench: $label%s took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files {
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Data files under `dir`, without Hadoop's `.crc` side files. */
  def dataFiles(dir: String): Seq[java.io.File] =
    walk(new java.io.File(dir)).filter(f => f.isFile && !f.getName.endsWith(".crc"))

  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum
}

/** Live heap: used heap right after a full collection, sampled at the
  * fixed phase boundaries of a run (after set-up, warm-up and each
  * timed window), so the figure does not depend on when the collector
  * happened to run. The first collection lets Spark's cleaner release
  * blocks of unreachable broadcasts and checkpoints; the second, after
  * a pause for the cleaner, frees them. */
object Heap {
  private var peak = 0L

  def sample(): Unit = synchronized {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    System.err.println(f"perfbench: live heap ${used / 1e6}%.1f MB")
    peak = math.max(peak, used)
  }

  def peakMb: Double = synchronized(peak / 1e6)
}
