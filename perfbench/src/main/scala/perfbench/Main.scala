package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The metric names and units the result line carries; BENCHMARK.json
  * declares the same lists. */
object Metrics {
  /** Printed on every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "timed_call_s" -> "s", "timed_call_cpu_s" -> "s", "heap_after_gc_mb" -> "MB")

  /** Printed on every traced run: the workload's timed call, traced and
    * untraced in the same run, and the Spark work inside it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "call.untraced_s" -> "s", "call.traced_s" -> "s", "trace.overhead_frac" -> "fraction",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.busy_frac" -> "fraction",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s")
}

/** Runs one workload and prints its result.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <dir>
  *
  * Sets up [[Main.SetUps]] times (each: a SparkSession and fresh inputs
  * under `work`), warms up once, then iterates the workload for `seconds`
  * and at least its minimum number of iterations, each from a collected
  * heap whose size it records. With `--trace 1` every
  * other iteration is traced. Writes a detail file (and with tracing a
  * spans file) to `out`, prints the detail as one line, and prints the
  * result as the last line of stdout. */
object Main {
  val SetUps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, trace,
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use after a full collection, in MB: what the program keeps
    * alive between its operations. The pause lets Spark's cleaner thread
    * release the blocks of objects the first collection found dead. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident memory of this JVM in MB (Linux VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable =>
        System.err.println(s"perfbench: $e")
        e.printStackTrace()
        2
      }
    System.out.flush()
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val wl = Workload(o.workload, o.seed)
    var spark: SparkSession = null
    // an operation's CPU time is the calling thread's plus that of every
    // Spark task it ran; JIT and GC threads, and time the host takes the
    // CPU away, are not in it
    val tasks = new CountingListener
    val rec = new Recorder(() => {
      Bridge.drainListenerBus(spark)
      Timing.threadCpuNanos() + tasks.snapshot().taskCpuNs
    })
    val tracer = if (o.trace) Some(new Tracer) else None
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var iterations = 0
    var measuredS = 0.0
    var warmUpS = 0.0
    val heaps = mutable.ArrayBuffer.empty[Double]
    Files.createDirectories(o.work)
    try {
      for (k <- 1 to SetUps) {
        if (spark != null) {
          spark.stop()
          Workload.deleteTree(o.work.resolve(s"s${k - 1}"))
        }
        val t0 = System.nanoTime()
        spark = session(o.work)
        wl.setUp(spark, Files.createDirectories(o.work.resolve(s"s$k")))
        setupTimes += seconds(t0)
      }
      spark.sparkContext.addSparkListener(tasks)
      tracer.foreach(_.attach(spark))
      val w0 = System.nanoTime()
      wl.warmUp(spark, rec, tracer)
      warmUpS = seconds(w0)
      // a traced run alternates untraced and traced iterations, so the
      // overhead is measured against the same state of the host
      val least = if (o.trace) math.max(2, wl.minIterations) else wl.minIterations
      var timedS = 0.0
      while (iterations < least || timedS < o.seconds) {
        // every iteration starts from a collected heap, so no iteration
        // pays for the garbage of the one before; the window counts only
        // the iterations themselves
        heaps += heapAfterGcMb()
        val t0 = System.nanoTime()
        wl.iterate(spark, iterations, rec, tracer.filter(_ => iterations % 2 == 1))
        timedS += seconds(t0)
        iterations += 1
      }
      measuredS = timedS
    } finally {
      if (spark != null) {
        try wl.tearDown(spark) finally spark.stop()
      }
    }
    report(o, wl, rec, tracer, setupTimes.toSeq, warmUpS, heaps.toSeq, iterations, measuredS)
    0
  }

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def report(o: Opts, wl: Workload, rec: Recorder, tracer: Option[Tracer],
      setupTimes: Seq[Double], warmUpS: Double, heaps: Seq[Double], iterations: Int,
      measuredS: Double): Unit = {
    val heapMb = medianOr0(heaps)
    val rss = peakRssMb()
    val call = wl.callTimes(rec)
    val endToEnd = Map(
      "setup_s" -> (medianOr0(setupTimes) + warmUpS),
      "timed_call_s" -> call.fold(0.0)(_.seconds),
      "timed_call_cpu_s" -> call.fold(0.0)(_.cpuSeconds),
      "heap_after_gc_mb" -> heapMb)
    val spans = tracer.map(_.spans).getOrElse(Nil)
    val cores = Runtime.getRuntime.availableProcessors
    val callTotals = Workload.totals(spans, s => Workload.measured(s) && s.name == wl.callSpan)
    val perLayer: Map[String, Double] = if (!o.trace) Map.empty else {
      val untraced = call.fold(0.0)(_.seconds)
      val traced = wl.callTimes(rec, "traced.").fold(0.0)(_.seconds)
      val spark = callTotals.toSeq.flatMap(Workload.sparkFigures("", _, cores))
        .map(f => f.name -> f.value).toMap
      Map("call.untraced_s" -> untraced, "call.traced_s" -> traced,
        "trace.overhead_frac" -> (if (untraced > 0) traced / untraced - 1 else 0.0)) ++
        Metrics.PerLayer.map(_._1).filter(_.startsWith("spark.")).map(n => n -> spark.getOrElse(n, 0.0))
    }
    val complete = call.isDefined && (!o.trace || callTotals.isDefined)
    val correct = rec.failed == 0 && complete

    val mapper = new ObjectMapper()
    def obj(kv: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => m.put(k, v) }
      m
    }
    def figs(fs: Seq[Figure]) = obj(fs.map(f => f.name -> obj("value" -> f.value, "unit" -> f.unit)): _*)
    val samples = obj(rec.sampleNames.map(n => n -> rec.samplesOf(n).asJava): _*)
    val cpuSamples = obj(rec.sampleNames.map(n => n -> rec.cpuSamplesOf(n).asJava): _*)
    val detailFigures =
      Figure("setup_s", endToEnd("setup_s"), "s") +:
        Figure("warmup_s", warmUpS, "s") +:
        Figure("ops_failed_frac", rec.failed.toDouble / math.max(1, rec.attempted), "fraction") +:
        Figure("timed_call_cpu_s", endToEnd("timed_call_cpu_s"), "s") +:
        Figure("heap_after_gc_mb", heapMb, "MB") +:
        Figure("peak_rss_mb", rss, "MB") +:
        wl.figures(rec)
    val detail = obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cores" -> cores,
      "set_ups" -> setupTimes.asJava, "heaps_mb" -> heaps.asJava, "iterations" -> iterations,
      "measured_s" -> measuredS,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failureList.map { case (n, r) => obj("op" -> n, "reason" -> r) }.asJava,
      "figures" -> figs(detailFigures),
      "layers" -> (if (o.trace) figs(perLayer.toSeq.sortBy(_._1).map { case (n, v) =>
        Figure(n, v, Metrics.PerLayer.toMap.getOrElse(n, ""))
      } ++ wl.layers(spans)) else obj()),
      "samples" -> samples, "cpu_samples" -> cpuSamples)
    Files.createDirectories(o.out)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    mapper.writerWithDefaultPrettyPrinter().writeValue(o.out.resolve(s"detail-$tag.json").toFile, detail)
    if (o.trace) {
      val spanRows = spans.map(s => obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "iteration" -> s.iteration, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks, "task_run_ms" -> s.counters.taskRunMs,
        "task_cpu_ns" -> s.counters.taskCpuNs, "shuffle_read_bytes" -> s.counters.shuffleReadBytes,
        "shuffle_write_bytes" -> s.counters.shuffleWriteBytes, "spill_bytes" -> s.counters.spillBytes,
        "gc_ms" -> s.counters.gcMs, "bytes_written" -> s.counters.bytesWritten))
      mapper.writeValue(o.out.resolve(s"spans-$tag.json").toFile, spanRows.asJava)
    }
    println("detail " + mapper.writeValueAsString(detail))
    val (names, values) =
      if (o.trace) (Metrics.PerLayer, perLayer) else (Metrics.EndToEnd, endToEnd)
    require(values.keySet == names.map(_._1).toSet, s"metric names drifted: ${values.keySet}")
    val result = obj("correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> obj(names.map { case (n, unit) => n -> obj("value" -> values(n), "unit" -> unit) }: _*))
    println(mapper.writeValueAsString(result))
  }
}
