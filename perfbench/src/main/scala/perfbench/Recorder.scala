package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Wall seconds and CPU seconds of one operation. */
final case class Timing(seconds: Double, cpuSeconds: Double) {
  def +(o: Timing): Timing = Timing(seconds + o.seconds, cpuSeconds + o.cpuSeconds)
}

object Timing {
  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread. */
  def threadCpuNanos(): Long = threads.getCurrentThreadCpuTime
}

/** Failure accounting for timed operations.
  *
  * An operation is attempted once per call of [[op]]. It fails when its
  * body throws or when its output check returns an error; a failed
  * operation is counted and listed by name, and adds no timing sample, so
  * a broken operation can never pass for a fast one. `cpuClock` reads the
  * CPU nanoseconds an operation's CPU time is the difference of. */
final class Recorder(cpuClock: () => Long = () => Timing.threadCpuNanos()) {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Timing]]
  private val failures = mutable.ArrayBuffer.empty[(String, String)]
  private var attemptedOps = 0

  def attempted: Int = attemptedOps
  def failed: Int = failures.size
  /** (operation, reason) of every failure, in order. */
  def failureList: Seq[(String, String)] = failures.toSeq
  def sampleNames: Seq[String] = samples.keys.toSeq
  /** Wall seconds of every successful `name` operation, in order. */
  def samplesOf(name: String): Seq[Double] = timingsOf(name).map(_.seconds)
  def cpuSamplesOf(name: String): Seq[Double] = timingsOf(name).map(_.cpuSeconds)
  def timingsOf(name: String): Seq[Timing] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Adds a sample derived from operations that all succeeded, such as a
    * catalog pass made of its queries. */
  def sample(name: String, t: Timing): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t

  /** Times `body`, then runs `check` on its result outside the timed
    * interval. Returns the result and its timing when the operation
    * succeeded. */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[(T, Timing)] = {
    attemptedOps += 1
    val c0 = cpuClock()
    val t0 = System.nanoTime()
    val outcome =
      try Right(body)
      catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
    val t1 = System.nanoTime()
    val timing = Timing((t1 - t0) / 1e9, (cpuClock() - c0) / 1e9)
    outcome.flatMap { r =>
      val verdict =
        try check(r)
        catch { case scala.util.control.NonFatal(e) => Some(s"check threw $e") }
      verdict.toLeft(r)
    } match {
      case Right(r) =>
        sample(name, timing)
        Some((r, timing))
      case Left(reason) =>
        failures += ((name, reason))
        None
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile p (whole number) that has at least `beyond`
    * samples above it, with its value; None when there are too few
    * samples for any. Nearest-rank definition. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
      (p, rank)
    }.collectFirst { case (p, rank) if s.length - rank >= beyond => (p, s(rank - 1)) }
  }
}
