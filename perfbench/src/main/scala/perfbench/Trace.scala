package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Spark work counters, as a snapshot or as the difference of two. */
final case class Counters(
    jobs: Long, tasks: Long, taskRunMs: Long, taskCpuNs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long, bytesWritten: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes, gcMs - o.gcMs,
    bytesWritten - o.bytesWritten)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, gcMs + o.gcMs,
    bytesWritten + o.bytesWritten)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Counts the work of every Spark job and task the session runs. */
final class CountingListener extends SparkListener {
  private val jobs, tasks, runMs, cpuNs, shRead, shWrite, spill, gcMs, written = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Counters = Counters(jobs.get, tasks.get, runMs.get, cpuNs.get,
    shRead.get, shWrite.get, spill.get, gcMs.get, written.get)
}

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (-1 at the top); `iteration` groups the spans of
  * one workload iteration. */
final case class Span(id: Int, parent: Int, name: String, iteration: String,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from outside the program, around the calls into each
  * layer. Kept in memory; written out when the run ends. The listener bus
  * is drained at every span boundary so each span's counters hold exactly
  * the Spark work done inside it. */
final class Tracer {
  private var spark: SparkSession = _
  private val listener = new CountingListener
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  var iteration: String = ""

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    Bridge.drainListenerBus(spark)
    val c0 = listener.snapshot()
    val t0 = System.nanoTime()
    open.push(id)
    try body
    finally {
      open.pop()
      val t1 = System.nanoTime()
      Bridge.drainListenerBus(spark)
      done += Span(id, parent, name, iteration, t0, t1, listener.snapshot() - c0)
    }
  }

  /** Counts the work of `session` from now on; one tracer follows the
    * run across the sessions of its set-ups. */
  def attach(session: SparkSession): Unit = {
    spark = session
    session.sparkContext.addSparkListener(listener)
  }
}
