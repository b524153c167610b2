package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.migrator.{Ledger, Migrator}

/** A figure as the run reports it: name, value and unit. */
final case class Figure(name: String, value: Double, unit: String)

/** One benchmark workload.
  *
  * A set-up generates the workload's inputs in a fresh directory; the
  * benchmark sets up several times, then runs one untimed warm-up
  * iteration on the last inputs and iterates for the measured window.
  * Every call into the program is an operation of the [[Recorder]];
  * operations of traced iterations carry the prefix `traced.` and those of
  * the warm-up `setup.`, so the measured medians hold only untraced
  * samples. */
abstract class Workload {
  /** The operation whose median is the run's `timed_call_s`. */
  def callOp: String
  /** The run's `timed_call_s` and `timed_call_cpu_s`: the medians of the
    * call operation's samples; `prefix` selects the traced ones. None when
    * there is no sample. */
  def callTimes(rec: Recorder, prefix: String = ""): Option[Timing] =
    Workload.medianTiming(rec.timingsOf(prefix + callOp))
  /** The span that encloses that operation in a traced iteration. */
  def callSpan: String
  /** Iterations measured even when the window has passed. The calls keep
    * getting faster for many iterations as the JVM compiles them, so a
    * median is only comparable between runs over the same number of
    * samples; this is set so the measurement window never holds more. */
  def minIterations: Int
  def setUp(spark: SparkSession, dir: Path): Unit
  def warmUp(spark: SparkSession, rec: Recorder, tracer: Option[Tracer]): Unit
  def iterate(spark: SparkSession, i: Int, rec: Recorder, tracer: Option[Tracer]): Unit
  /** The workload's own end-to-end figures, under the names of the
    * benchmark's document. */
  def figures(rec: Recorder): Seq[Figure]
  /** The workload's own per-layer figures from the traced spans. */
  def layers(spans: Seq[Span]): Seq[Figure]
  def tearDown(spark: SparkSession): Unit = ()

  protected def op(tracer: Option[Tracer], name: String): String =
    if (tracer.isDefined) s"traced.$name" else name
}

object Workload {
  /** The workloads BENCHMARK.json declares. */
  val Names: Seq[String] = Seq("seq_dml", "catalog_mix")
  /** Runs by hand only: its warm-up alone, the bulk apply of a whole
    * history, takes as long as a run of another workload. */
  val ByHand: Seq[String] = Seq("many_versions")

  def apply(name: String, seed: Long): Workload = name match {
    case "seq_dml" => new SeqDml(seed)
    case "many_versions" => new ManyVersions(seed)
    case "catalog_mix" => new CatalogMix(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${(Names ++ ByHand).mkString(", ")}")
  }

  def medianTiming(ts: Seq[Timing]): Option[Timing] =
    if (ts.isEmpty) None
    else Some(Timing(Stats.median(ts.map(_.seconds)), Stats.median(ts.map(_.cpuSeconds))))

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  def filesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .count(Files.isRegularFile(_)).toLong)

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) scala.util.Using.resource(Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists(_)))

  /** Per-iteration totals of the spans `keep` selects, then the median
    * over iterations of their seconds and of each counter. */
  final case class LayerTotals(seconds: Double, counters: Counters, perIteration: Int)

  def totals(spans: Seq[Span], keep: Span => Boolean): Option[LayerTotals] = {
    val byIter = spans.filter(keep).groupBy(_.iteration).values.toSeq
    if (byIter.isEmpty) None
    else {
      val secs = byIter.map(_.map(_.seconds).sum)
      val cs = byIter.map(_.map(_.counters).foldLeft(Counters.zero)(_ + _))
      def med(f: Counters => Long): Long = Stats.median(cs.map(f(_).toDouble)).round
      Some(LayerTotals(Stats.median(secs),
        Counters(med(_.jobs), med(_.tasks), med(_.taskRunMs), med(_.taskCpuNs),
          med(_.shuffleReadBytes), med(_.shuffleWriteBytes), med(_.spillBytes), med(_.gcMs),
          med(_.bytesWritten)),
        Stats.median(byIter.map(_.size.toDouble)).round.toInt))
    }
  }

  /** The Spark counters of one layer, named `<prefix>.spark.<counter>`. */
  def sparkFigures(prefix: String, t: LayerTotals, cores: Int): Seq[Figure] = {
    val c = t.counters
    val p = if (prefix.isEmpty) "spark" else s"$prefix.spark"
    Seq(
      Figure(s"$p.jobs", c.jobs.toDouble, "count"),
      Figure(s"$p.tasks", c.tasks.toDouble, "count"),
      Figure(s"$p.task_run_s", c.taskRunMs / 1e3, "s"),
      Figure(s"$p.task_cpu_s", c.taskCpuNs / 1e9, "s"),
      Figure(s"$p.busy_frac", if (t.seconds > 0) c.taskRunMs / 1e3 / (t.seconds * cores) else 0.0, "fraction"),
      Figure(s"$p.shuffle_read_bytes", c.shuffleReadBytes.toDouble, "bytes"),
      Figure(s"$p.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes"),
      Figure(s"$p.spill_bytes", c.spillBytes.toDouble, "bytes"),
      Figure(s"$p.gc_s", c.gcMs / 1e3, "s"))
  }

  /** Figures of one named layer: its seconds plus its Spark counters. */
  def layerFigures(name: String, spans: Seq[Span], keep: Span => Boolean, cores: Int): Seq[Figure] =
    totals(spans, keep).toSeq.flatMap(t =>
      Figure(s"${name}_s", t.seconds, "s") +: sparkFigures(name, t, cores))

  def measured(s: Span): Boolean = s.iteration.startsWith("iter-")

  /** Selects the spans whose parent span is named `parent`. */
  def under(spans: Seq[Span], parent: String): Span => Boolean = {
    val ids = spans.filter(_.name == parent).map(_.id).toSet
    s => ids.contains(s.parent)
  }

  /** The migrator's own layers: ledger appends of the `applying` call,
    * and scan and reconciliation of the `noop` call, the one that finds
    * nothing pending. */
  def migratorLayers(spans: Seq[Span], applying: Span => Boolean, noop: Span => Boolean,
      cores: Int): Seq[Figure] = {
    val appends = (s: Span) => applying(s) && s.name == "migrator.ledger.append"
    layerFigures("migrator.ledger.append", spans, appends, cores) ++
      totals(spans, appends).toSeq.map(t => Figure("migrator.ledger.appends", t.perIteration, "count")) ++
      layerFigures("migrator.scan", spans, s => noop(s) && s.name == "migrator.scan", cores) ++
      layerFigures("migrator.reconcile", spans, s => noop(s) && s.name == "migrator.reconcile", cores) ++
      totals(spans, s => noop(s) && s.name == "migrator.reconcile").toSeq
        .map(t => Figure("migrator.reconcile.spark_jobs", t.counters.jobs, "count"))
  }

  def committedVersions(spark: SparkSession, ledger: String): Seq[Int] =
    new Ledger(spark, ledger).committed().select("version")
      .collect().map(_.getAs[Any](0).toString.toInt).sorted.toSeq
}

/** The paper's own workload at 5x its size: CREATE TABLE, a gzip CSV
  * bulk load, then five dependent DMLs, applied by one `migrate()` call on
  * a fresh database and ledger; then the §A4 invariant read, and a second
  * `migrate()` call that finds nothing pending, the call every deploy
  * pays. */
final class SeqDml(seed: Long, rows: Int = SeqDml.Rows) extends Workload {
  import Workload._
  private val db = "perfbench_seq"
  private var dir: Path = _
  private var csv: Inputs.SeqCsv = _
  private val storedBytes = mutable.ArrayBuffer.empty[Double]
  /** Per traced iteration: (bytes written by statements, table bytes, files written). */
  private val writes = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** Per measured iteration: files and bytes of the ledger. */
  private val ledgers = mutable.ArrayBuffer.empty[(Long, Long)]

  def callOp = "migrate"
  def callSpan = "migrate"
  def minIterations = 5

  def setUp(spark: SparkSession, d: Path): Unit = {
    dir = d
    csv = Inputs.writeSeqCsv(Files.createDirectories(d.resolve("inputs")).resolve("seq.csv.gz"), rows, seed)
    Inputs.writeSeqMigrations(d.resolve("inputs/migrations"), db, csv.path)
  }

  /** Two iterations: after one, the next calls still run a third faster
    * as the JVM keeps compiling the statement paths. */
  def warmUp(spark: SparkSession, rec: Recorder, tracer: Option[Tracer]): Unit =
    for (k <- 1 to 2) run(spark, s"setup-$k", rec, tracer)

  def iterate(spark: SparkSession, i: Int, rec: Recorder, tracer: Option[Tracer]): Unit =
    run(spark, s"iter-$i", rec, tracer)

  private def run(spark: SparkSession, id: String, rec: Recorder, tracer: Option[Tracer]): Unit = {
    val it = dir.resolve(id)
    val wh = it.resolve("db")
    val ledger = it.resolve("ledger").toString
    val home = dir.resolve("inputs/migrations").toString
    val warm = id.startsWith("setup")
    def name(n: String) = if (warm) s"setup.$n" else op(tracer, n)
    tracer.foreach(_.iteration = id)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '${wh.toUri}'")
    try {
      val files = new Replay.FileCount(wh)
      rec.op(name("migrate")) {
        tracer match {
          case Some(t) => Replay.migrate(spark, t, db, home, ledger, Some(files))
          case None => Migrator.migrate(spark, db, home, ledger)
        }
      }(_ => checkLedger(spark, ledger))
      rec.op(name("read")) {
        tracer.fold(invariantRead(spark))(_.span("read")(invariantRead(spark)))
      }(checkInvariants)
      rec.op(name("migrate_noop")) {
        tracer match {
          case Some(t) => Replay.migrate(spark, t, db, home, ledger, span = "migrate_noop")
          case None => Migrator.migrate(spark, db, home, ledger)
        }
      }(_ => checkLedger(spark, ledger).orElse(checkInvariants(invariantRead(spark))))
      if (!warm) {
        ledgers += ((filesUnder(Path.of(ledger)), bytesUnder(Path.of(ledger))))
        val bytes = bytesUnder(wh)
        storedBytes += bytes.toDouble / rows
        tracer.foreach { t =>
          val written = t.spans.filter(s => s.iteration == id && s.name.startsWith("migrator.statements."))
            .map(_.counters.bytesWritten).sum
          writes += ((written, bytes, files.written))
        }
      }
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      deleteTree(it)
    }
  }

  private def checkLedger(spark: SparkSession, ledger: String): Option[String] = {
    val versions = committedVersions(spark, ledger)
    if (versions == Seq(1, 2, 3)) None else Some(s"ledger holds versions $versions, expected 1,2,3")
  }

  private def invariantRead(spark: SparkSession): Array[Long] = {
    val r = spark.sql(
      s"""SELECT count(*), count(CASE WHEN name > 3000 THEN 1 END),
         |count(CASE WHEN enabled = 0 THEN 1 END), count(CASE WHEN guard = 0 THEN 1 END),
         |count(CASE WHEN guard = 1 THEN 1 END), count(CASE WHEN guard = -1 THEN 1 END)
         |FROM $db.sample""".stripMargin).collect()(0)
    (0 until 6).map(r.getLong).toArray
  }

  /** FIXTURES.md §A4 invariants at `rows` rows, plus the generator's own
    * count of names above 3000. */
  private def checkInvariants(c: Array[Long]): Option[String] = {
    val Array(total, over, enabled0, guard0, guard1, guardNeg) = c
    val ok = total == rows && over == csv.over3000 && over == enabled0 && enabled0 == guard0 &&
      guard1 == total - guard0 && guardNeg == 0
    if (ok) None else Some(s"invariants broken: ${c.mkString(",")} (rows=$rows, over3000=${csv.over3000})")
  }

  def figures(rec: Recorder): Seq[Figure] =
    Seq(
      rec.samplesOf("migrate").headOption.map(_ => Figure("migrate_apply_s", Stats.median(rec.samplesOf("migrate")), "s")),
      rec.samplesOf("read").headOption.map(_ => Figure("read_after_migrate_s", Stats.median(rec.samplesOf("read")), "s")),
      rec.samplesOf("migrate_noop").headOption.map(_ => Figure("migrate_noop_s", Stats.median(rec.samplesOf("migrate_noop")), "s")),
      storedBytes.headOption.map(_ => Figure("stored_bytes_per_row", Stats.median(storedBytes.toSeq), "bytes/row")),
    ).flatten

  def layers(spans: Seq[Span]): Seq[Figure] = {
    val cores = Runtime.getRuntime.availableProcessors
    val kinds = Seq("create_table", "insert_infile", "insert_values", "add_column", "update")
    val (inApply, inNoop) = (under(spans, "migrate"), under(spans, "migrate_noop"))
    val applying = (s: Span) => measured(s) && inApply(s)
    val noop = (s: Span) => measured(s) && inNoop(s)
    kinds.flatMap(k => layerFigures(s"migrator.statements.$k", spans,
      s => measured(s) && s.name == s"migrator.statements.$k", cores)) ++
      writes.headOption.toSeq.flatMap { _ =>
        Seq(
          Figure("migrator.statements.bytes_written_per_table_byte",
            Stats.median(writes.toSeq.map { case (w, t, _) => w.toDouble / math.max(1L, t) }), "ratio"),
          Figure("migrator.statements.files_written", Stats.median(writes.toSeq.map(_._3.toDouble)), "count"))
      } ++
      layerFigures("read", spans, s => measured(s) && s.name == "read", cores) ++
      migratorLayers(spans, applying, noop, cores) ++
      ledgers.headOption.toSeq.flatMap(_ => Seq(
        Figure("migrator.ledger.files", Stats.median(ledgers.toSeq.map(_._1.toDouble)), "count"),
        Figure("migrator.ledger.bytes", Stats.median(ledgers.toSeq.map(_._2.toDouble)), "bytes")))
  }
}

object SeqDml {
  val Rows: Int = 500000
}

/** A migration history of many small versions: V1 creates a table and
  * V2..V`versions` each insert one row. The warm-up applies the whole
  * history to a fresh database and ledger; the measured iterations are
  * `migrate()` calls that find nothing pending, the call every deploy
  * pays. */
final class ManyVersions(seed: Long, versions: Int = ManyVersions.Versions) extends Workload {
  import Workload._
  import ManyVersions.WarmUpNoops
  private val db = "perfbench_mv"
  private var dir: Path = _
  private var expect: Inputs.Versions = _
  private var bulkRate: Option[Double] = None

  def callOp = "migrate_noop"
  def callSpan = "migrate"
  def minIterations = 12

  private def home = dir.resolve("inputs/versions").toString
  private def ledger = dir.resolve("ledger").toString

  def setUp(spark: SparkSession, d: Path): Unit = {
    dir = d
    expect = Inputs.writeManyVersions(d.resolve("inputs/versions"), db, versions, seed)
  }

  /** Applies the whole history to a fresh database and ledger, then makes
    * no-op calls: the no-op path keeps getting faster over its first
    * twenty or so calls as the JVM compiles it. */
  def warmUp(spark: SparkSession, rec: Recorder, tracer: Option[Tracer]): Unit = {
    tracer.foreach(_.iteration = "setup")
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '${dir.resolve("db").toUri}'")
    rec.op("setup.migrate_bulk")(call(spark, tracer))(_ => check(spark))
      .foreach { case (_, t) => bulkRate = Some(versions / t.seconds) }
    for (_ <- 1 to WarmUpNoops) rec.op("setup.migrate_noop")(call(spark, None))(_ => check(spark))
  }

  def iterate(spark: SparkSession, i: Int, rec: Recorder, tracer: Option[Tracer]): Unit = {
    tracer.foreach(_.iteration = s"iter-$i")
    rec.op(op(tracer, "migrate_noop"))(call(spark, tracer))(_ => check(spark))
  }

  private def call(spark: SparkSession, tracer: Option[Tracer]): Unit = tracer match {
    case Some(t) => Replay.migrate(spark, t, db, home, ledger)
    case None => Migrator.migrate(spark, db, home, ledger)
  }

  /** The table holds exactly the generated rows and the ledger every
    * version, before and after any number of no-op calls. */
  private def check(spark: SparkSession): Option[String] = {
    val r = spark.sql(s"SELECT count(*), sum(CAST(id AS BIGINT) * 100003 + qty) FROM $db.items").collect()(0)
    val versionsSeen = committedVersions(spark, ledger)
    if (r.getLong(0) != expect.rows || r.getLong(1) != expect.checksum)
      Some(s"items hold ${r.getLong(0)} rows with checksum ${r.get(1)}, expected ${expect.rows} / ${expect.checksum}")
    else if (versionsSeen != (1 to versions))
      Some(s"ledger holds ${versionsSeen.size} versions, expected 1..$versions")
    else None
  }

  def figures(rec: Recorder): Seq[Figure] = {
    val noop = rec.samplesOf("migrate_noop")
    bulkRate.map(Figure("versions_per_s", _, "1/s")).toSeq ++
      noop.headOption.map(_ => Figure("migrate_noop_s", Stats.median(noop), "s")) ++
      Stats.tail(noop).toSeq.flatMap { case (p, v) =>
        Seq(Figure("migrate_noop_tail_s", v, "s"), Figure("migrate_noop_tail_percentile", p, "percentile"))
      } :+ Figure("migrate_noop_samples", noop.size, "count")
  }

  def layers(spans: Seq[Span]): Seq[Figure] = {
    val cores = Runtime.getRuntime.availableProcessors
    val bulk = (s: Span) => s.iteration == "setup"
    Seq("create_table", "insert_values").flatMap(k => layerFigures(s"migrator.statements.$k", spans,
      s => bulk(s) && s.name == s"migrator.statements.$k", cores)) ++
      migratorLayers(spans, bulk, measured, cores) ++
      Seq(Figure("migrator.ledger.files", filesUnder(dir.resolve("ledger")), "count"),
        Figure("migrator.ledger.bytes", bytesUnder(dir.resolve("ledger")), "bytes"))
  }

  override def tearDown(spark: SparkSession): Unit = spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
}

object ManyVersions {
  val Versions: Int = 20
  val WarmUpNoops: Int = 20
}

/** One pass over six catalog queries, one from each operator module, each
  * run through the noop sink with a row count and an order-insensitive
  * checksum observed on the way. The seed rotates the query order of each
  * pass. */
final class CatalogMix(seed: Long, sf: Double = CatalogMix.Sf) extends Workload {
  import Workload._
  import CatalogMix._
  private var dir: Path = _
  /** query -> (rows, checksum) of the warm-up pass. */
  private val reference = mutable.LinkedHashMap.empty[String, (Long, BigDecimal)]

  def callOp = "pass"
  def callSpan = "pass"
  def minIterations = 6

  def setUp(spark: SparkSession, d: Path): Unit = {
    dir = d
    Inputs.writeCatalog(spark, d.resolve("inputs"), sf, seed)
  }

  /** One pass in catalog order, whose results are the reference every
    * later pass must reproduce, then [[CatalogMix.WarmUpPasses]] - 1
    * passes in rotated order: the second and third passes still run a
    * fifth faster than the first as the JVM compiles the query paths. */
  def warmUp(spark: SparkSession, rec: Recorder, tracer: Option[Tracer]): Unit = {
    tracer.foreach(_.iteration = "setup")
    pass(spark, Queries, "setup.", rec, tracer)
    for (k <- 1 until WarmUpPasses) pass(spark, rotated(-k), "setup.", rec, tracer)
  }

  def iterate(spark: SparkSession, i: Int, rec: Recorder, tracer: Option[Tracer]): Unit = {
    tracer.foreach(_.iteration = s"iter-$i")
    pass(spark, rotated(i), if (tracer.isDefined) "traced." else "", rec, tracer)
  }

  private def rotated(i: Int): Seq[String] = {
    val k = Math.floorMod(seed + i, Queries.length.toLong).toInt
    Queries.drop(k) ++ Queries.take(k)
  }

  /** The sum over the queries of each query's median over the passes. A
    * host stall that hits one query of one pass moves no median, where it
    * moves that pass's total; stalls in different queries of most passes
    * move every total but still no median. */
  override def callTimes(rec: Recorder, prefix: String = ""): Option[Timing] = {
    val perQuery = Queries.map(q => medianTiming(rec.timingsOf(s"${prefix}query.$q")))
    if (perQuery.exists(_.isEmpty)) None else Some(perQuery.flatten.reduce(_ + _))
  }

  private def pass(spark: SparkSession, order: Seq[String], prefix: String, rec: Recorder,
      tracer: Option[Tracer]): Unit = {
    val input = dir.resolve("inputs").toString
    def all(): Seq[Option[Timing]] = order.map { q =>
      rec.op(s"${prefix}query.$q") {
        tracer.fold(runQuery(spark, q, input))(_.span(s"query.$q")(runQuery(spark, q, input)))
      } { obs =>
        val got = observed(obs)
        reference.get(q) match {
          case _ if got._1 == 0 => Some(s"$q returned no rows")
          case None => reference(q) = got; None
          case Some(want) if want == got => None
          case Some(want) => Some(s"$q returned $got, expected $want")
        }
      }.map(_._2)
    }
    val timings = tracer.fold(all())(_.span("pass")(all()))
    if (timings.forall(_.isDefined)) rec.sample(s"${prefix}pass", timings.flatten.reduce(_ + _))
  }

  private var observations = 0

  /** Runs one query through the noop sink, observing its row count and
    * the sum of its rows' hashes on the way. */
  private def runQuery(spark: SparkSession, q: String, input: String): Observation = {
    observations += 1
    val obs = Observation(s"perfbench_$observations")
    val df = SparkEntry.queries(q)(spark, input)
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(xxhash64(df.columns.toIndexedSeq.map(df.col): _*).cast("decimal(38,0)")), lit(0)).as("hash"))
      .write.mode("overwrite").format("noop").save()
    obs
  }

  /** The observed row count and hash sum. They reach the driver through
    * Spark's listener bus some time after the query ends, so the wait is
    * part of the check, not of the query's time. */
  private def observed(obs: Observation): (Long, BigDecimal) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], BigDecimal(m("hash").asInstanceOf[java.math.BigDecimal]))
  }

  def figures(rec: Recorder): Seq[Figure] =
    callTimes(rec).map(t => Figure("catalog_pass_s", t.seconds, "s")).toSeq

  def layers(spans: Seq[Span]): Seq[Figure] = {
    val cores = Runtime.getRuntime.availableProcessors
    Modules.toSeq.flatMap { case (module, qs) =>
      layerFigures(s"ops.$module", spans, s => measured(s) && qs.exists(q => s.name == s"query.$q"), cores)
    } ++ Queries.flatMap(q => layerFigures(s"query.$q", spans, s => measured(s) && s.name == s"query.$q", cores))
  }
}

object CatalogMix {
  val Sf: Double = 0.01
  val WarmUpPasses: Int = 3

  val Modules: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_agg"),
    "migration" -> Seq("reconcile_pending"),
    "dedup" -> Seq("dedup_minhash_lsh"),
    "similarity" -> Seq("ann_bruteforce_topk"),
    "text" -> Seq("bpe_token_count"),
    "event" -> Seq("events_sessionize"))

  val Queries: Seq[String] = Modules.flatMap(_._2)
}
