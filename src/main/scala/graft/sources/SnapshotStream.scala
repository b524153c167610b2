package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
  MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Structured Streaming SOURCE over a [[SnapshotLog]] table — the
  * missing lakehouse surface after round 10's ingest work, closing the
  * loop log → stream → log:
  *
  * {{{
  *   spark.readStream.format("graft-snaplog")
  *     .option("tableDir", "/data/tables/events").load()
  * }}}
  *
  * Offsets are VERSION NUMBERS (the log's own atomic clock), so a
  * micro-batch is an exact half-open version range (fromV, toV] and
  * the rows of version v are the files v's manifest lists MINUS the
  * files v−1's lists — for a [[SnapshotLog.commitAppend]] writer that
  * is precisely the appended batch, read once, never rescanned. The
  * replayable-source contract holds by construction: manifests are
  * immutable, so any offset range replays byte-identical rows after a
  * restart (the WAL can trust the checkpoint).
  *
  * Non-append versions (a [[SnapshotLog.commit]] rewrite, `optimize`,
  * `deleteWhere`/`updateWhere`) break the "new files = new rows"
  * equation — the new files RESTATE old rows. Exactly Delta's
  * streaming-source decision, resolved the same way: the stream FAILS
  * LOUDLY at such a version unless `ignoreChanges=true`, which emits
  * the rewritten files' rows (at-least-once restatement, the
  * documented Delta semantics) and is pinned by spec. Versions expired
  * by [[SnapshotLog.expireVersions]] fail loudly too — a consumer
  * lagging past retention must not silently skip history.
  *
  * Reading the manifest's parquet goes through Spark's OWN parquet
  * reader machinery — COLUMNAR when Spark's `supportBatch` admits the
  * schema ([[Bridge.parquetFileBatches]]; the plan carries
  * `ColumnarToRow ← MicroBatchScan`, and the round-12 A/B measured
  * the vectorized path at 2.1× the row path's stream throughput —
  * SCALING.md), rows otherwise ([[Bridge.parquetFileRows]] — the
  * function FileSourceScanExec itself ships to executors). Either
  * way nested types and every encoding quirk behave exactly as a
  * batch scan of the same files; this source adds offset bookkeeping,
  * not a second parquet reader. Options: `tableDir` (required),
  * `startVersion` (default 0), `startingTimestamp`/`endingTimestamp`
  * (Delta's time-bound spelling — resolved ONCE at stream build to
  * version bounds against the manifests' commit-ts provenance, with
  * [[SnapshotLog.readChangeFeedByTime]]'s refusal taxonomy: ts-less
  * tables and clock-skew non-contiguity refuse loudly naming the
  * version-bounded form; `startingTimestamp` is exclusive with
  * `startVersion`, `endingTimestamp` stops the stream after its
  * resolved version), `ignoreChanges` (default false),
  * `maxVersionsPerTrigger` (admission control — at most N versions
  * advance per micro-batch, so a fresh checkpoint on a deep history
  * backfills in ⌈backlog/N⌉ bounded batches instead of one giant
  * epoch; honored by
  * `Trigger.AvailableNow`, which drains to a start-of-run head
  * snapshot and stops; inherited by the `.changes` stream), and
  * `changeFeed` (default false): the
  * CHANGE DATA FEED mode, [[SnapshotLog.readChangeFeed]] as a stream
  * — appends emit `insert` rows, MOR deletes emit the masked rows'
  * pre-images as `delete` rows (new dv entries no longer force
  * `ignoreChanges`), MOR update/merge post-images label
  * `update_postimage`/`upsert`, maintenance rewrites pass silently,
  * and two columns (`_change_type`, `_commit_version`) append to the
  * schema. Schema is the manifest-recorded one at
  * stream start (appends cannot change it without `mergeSchema`, and
  * an evolved version streams through the PINNED schema — new
  * columns need a stream restart, the Delta decision).
  */
class SnapshotStreamProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-snaplog"

  private def tableDir(options: CaseInsensitiveStringMap): String =
    Option(options.get("tableDir")).getOrElse(
      sys.error("graft-snaplog requires option tableDir"))

  /** The streaming SINK half — `writeStream.format("graft-snaplog")
    * .option("tableDir", …)`: each micro-batch lands as ONE
    * exactly-once idempotent append ([[SnapshotLog
    * .commitAppendIdempotent]] at `base + batchId`, where `base` is
    * registered durably in the table's own log the first time this
    * stream touches it — [[SnapshotLog.sinkBase]] — so restarts from
    * the checkpoint recompute the same versions and replayed batches
    * decline at the manifest pre-check). The V1 `Sink` face is
    * deliberate: `addBatch` receives the whole micro-batch as a
    * DataFrame, and the append verb's own distributed parquet write +
    * schema enforcement + put-if-absent publish do the rest — the
    * same owned-path routing rule as the catalog's DML. Single-writer
    * per table while the stream runs, enforced loudly: an interleaved
    * foreign commit breaks the dense `base + batchId` arithmetic and
    * the next batch fails with the version-gap error instead of
    * corrupting anything. The target table must exist (one
    * `SnapshotLog.createTable`/`commit` first) — the sink APPENDS;
    * `mergeSchema=true` opts into the append path's additive
    * evolution. Append output mode only on THIS surface — the
    * table-addressed sink (`writeStream.toTable`) carries all three
    * modes (complete = replace-per-epoch, update = keyed MOR upsert
    * via `.option("upsertKey", …)`), and foreachBatch + the DML verbs
    * remain the fully-general escape hatch. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snaplog sink: output mode $outputMode — this format " +
        "surface appends only; the table-addressed sink carries all " +
        "three modes (writeStream.toTable: complete = replace-per-" +
        "epoch, update = keyed upsert via .option(\"upsertKey\", …)), " +
        "or use foreachBatch with the DML verbs)")
    require(partitionColumns.isEmpty,
      "graft-snaplog sink: partitionBy is not the log's layout story — " +
        "optimize(clusterBy/zOrderBy) after ingest")
    val params = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(parameters)
    val dir = params.getOrElse("tableDir",
      sys.error("graft-snaplog sink requires option tableDir"))
    require(SnapshotLog.latestVersion(dir).isDefined,
      s"graft-snaplog sink: no committed version in $dir — create the " +
        "table first (SnapshotLog.createTable for an empty genesis, or " +
        "commit a seed batch)")
    val mergeSchema = params.get("mergeSchema").exists(_.toBoolean)
    new SnapshotLogSink(dir, mergeSchema)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = tableDir(options)
    val v = SnapshotLog.latestVersion(t).getOrElse(
      sys.error(s"graft-snaplog: no committed version in $t — " +
        "create the table first (SnapshotLog.createTable for an empty " +
        "genesis, or commit a seed batch) before streaming"))
    val (files, schema) = SnapshotLog.manifestAt(t, v)
    val base = schema.getOrElse(
      SparkSession.active.read.parquet(files: _*).schema)
    if (options.getBoolean("changeFeed", false))
      StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField(ChangeFeed.ChangeTypeCol,
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField(ChangeFeed.CommitVersionCol,
          org.apache.spark.sql.types.LongType, nullable = false)))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotStreamTable(schema, new CaseInsensitiveStringMap(properties))
}

private class SnapshotStreamTable(schema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"graft-snaplog(${options.get("tableDir")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        SnapshotStreamBuild.microBatch(options.get("tableDir"), schema, options)
      override def description(): String = name()
    }
}

/** The option-parsing half of stream construction, shared by the
  * format-based surface (`readStream.format("graft-snaplog")`) and the
  * catalog surface (`readStream.table("snap.ns.t")`) — both resolve
  * the same options to the same [[SnapshotLogMicroBatchStream]]. */
private[sources] object SnapshotStreamBuild {

  def microBatch(tableDir: String, schema: StructType,
      options: CaseInsensitiveStringMap): MicroBatchStream = {
    val changeFeed = options.getBoolean("changeFeed", false)
    val ignore = options.getBoolean("ignoreChanges", false)
    require(!(changeFeed && ignore),
      "graft-snaplog: changeFeed and ignoreChanges are exclusive — " +
        "the feed represents dv deletions exactly, and restated " +
        "rewrite rows would double-count as inserts")
    // the feed appends two bookkeeping columns to the schema; a caller
    // whose resolved schema cannot carry them (the CATALOG surface —
    // readStream.table resolves the TABLE's schema before scan options
    // exist) must use the format-based surface, loudly
    if (changeFeed)
      require(schema.fieldNames.contains(ChangeFeed.ChangeTypeCol),
        "graft-snaplog: changeFeed needs the feed's two extra columns " +
          "in the stream schema, which a catalog-resolved PLAIN table " +
          "cannot carry — stream the `.changes` metadata table instead " +
          "(spark.readStream.table(\"snap.ns.t.changes\"), whose " +
          "declared schema IS the feed's), or use spark.readStream" +
          ".format(\"graft-snaplog\").option(\"tableDir\", ...)" +
          ".option(\"changeFeed\", true)")
    // TIME bounds (Delta's startingTimestamp/endingTimestamp):
    // resolved ONCE at stream build against the manifests' op/ts
    // provenance — the same semantics and refusal taxonomy as the
    // batch readChangeFeedByTime (ts-less tables name the
    // version-bounded form; clock-skew non-contiguity refuses)
    val startingTs = Option(options.get("startingTimestamp"))
      .map(parseTs("startingTimestamp", _))
    val endingTs = Option(options.get("endingTimestamp"))
      .map(parseTs("endingTimestamp", _))
    require(startingTs.isEmpty || options.get("startVersion") == null,
      "graft-snaplog: startingTimestamp and startVersion are " +
        "exclusive — pick one clock")
    for (f <- startingTs; t <- endingTs) require(!f.isAfter(t),
      s"graft-snaplog: startingTimestamp $f is after endingTimestamp $t")
    val (tsStartV, tsEndV) =
      if (startingTs.isEmpty && endingTs.isEmpty) (None, None)
      else SnapshotLog.resolveTimeBounds(tableDir, startingTs, endingTs)
    // admission control (Delta's maxFilesPerTrigger analog, in this
    // log's own clock): cap each micro-batch at N versions so a fresh
    // checkpoint on a deep history backfills in ⌈backlog/N⌉ batches
    // instead of one giant catch-up epoch
    val maxVersions = Option(options.get("maxVersionsPerTrigger"))
      .map { s =>
        val n = try s.trim.toLong catch { case _: NumberFormatException =>
          sys.error(s"graft-snaplog: maxVersionsPerTrigger '$s' is " +
            "not a number") }
        require(n >= 1,
          s"graft-snaplog: maxVersionsPerTrigger must be >= 1, got $n")
        n
      }
    new SnapshotLogMicroBatchStream(
      tableDir, schema,
      tsStartV.getOrElse(options.getLong("startVersion", 0L)),
      ignore,
      changeFeed,
      endVersion = tsEndV,
      maxVersionsPerTrigger = maxVersions)
  }

  /** A timestamp option's accepted spellings: ISO-8601 instant
    * (`2026-08-15T12:00:00Z`), `yyyy-MM-dd[ HH:mm:ss[.SSS]]` (read as
    * UTC — every session here pins UTC), or epoch milliseconds. */
  private[sources] def parseTs(name: String, s: String): java.time.Instant = {
    val utc = java.time.ZoneOffset.UTC
    try java.time.Instant.parse(s) catch { case _: Exception =>
      try java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(utc) catch { case _: Exception =>
        try java.time.LocalDate.parse(s).atStartOfDay.toInstant(utc)
        catch { case _: Exception =>
          if (s.nonEmpty && s.forall(_.isDigit))
            java.time.Instant.ofEpochMilli(s.toLong)
          else sys.error(s"graft-snaplog: cannot parse $name='$s' — " +
            "use an ISO-8601 instant, 'yyyy-MM-dd[ HH:mm:ss]' (UTC), " +
            "or epoch milliseconds")
        }
      }
    }
  }
}

/** Offset = the highest version whose rows are already emitted. */
private class VersionOffset(val v: Long) extends Offset {
  override def json: String = v.toString
}

/** [[SnapshotStreamProvider.createSink]]'s Sink: one idempotent
  * append per micro-batch at `base + batchId`. The micro-batch
  * DataFrame rebinding ([[Bridge.unstream]]) is Spark's own
  * ForeachBatchSink recipe — the incremental plan's rows, served to
  * an ordinary batch write. */
private class SnapshotLogSink(tableDir: String, mergeSchema: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    // the STABLE query id (constant across restarts of the same
    // checkpoint — runId is not), set by StreamExecution for the
    // batch's thread; keyed per (table, query) in sinkBase
    val appId = Option(
      spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(sys.error(
        "graft-snaplog sink: no sql.streaming.queryId local property — " +
          "addBatch called outside a streaming query?"))
    val base = SnapshotLog.sinkBase(tableDir, appId, batchId)
    SnapshotLog.commitAppendIdempotent(spark, tableDir,
      Bridge.unstream(data), base + batchId, mergeSchema,
      txn = Some(s"$appId#$batchId")): Unit
  }

  override def toString: String = s"SnapshotLogSink($tableDir)"
}

/** Shared vocabulary of the CHANGE DATA FEED surfaces
  * ([[SnapshotLog.readChangeFeed]] and the streaming source's
  * `changeFeed` mode): the two appended columns, the op → change-type
  * labeling, the maintenance ops a feed SKIPS (their rewrites restate
  * identical content by construction — Delta's dataChange=false
  * commits, decided here by the log's own op provenance), and the
  * path canonicalization that matches a sidecar row's
  * `_metadata.file_path` spelling (a `file:` URI) against a manifest
  * path — usable on executors (pure function; [[canonKey]] falls back
  * to syntactic normalization when the path does not resolve). */
private[graft] object ChangeFeed {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Ops whose published files restate IDENTICAL logical content —
    * a change feed emits nothing for them and carries on. */
  val ContentIdenticalOps: Set[String] =
    Set("optimize", "optimize-zorder", "compact-deletes")

  /** What a version's NEW files mean in change terms: MOR update /
    * merge post-images are upserts (their masked pre-images ride the
    * same version as delete rows); anything else appended is an
    * insert. */
  def label(op: String): String = op match {
    case "update-where-in-mor" | "update-where-mor" => "update_postimage"
    case "merge-mor" | "merge-where-mor" => "upsert"
    case _ => "insert"
  }

  def canonKey(s: String): String = Bridge.canonKey(s)

  /** [[SnapshotStreamBuild.parseTs]], shared with the catalog's
    * `.changes` metadata table — ONE spelling set for every
    * timestamp-bounded feed surface. */
  def parseTs(name: String, s: String): java.time.Instant =
    SnapshotStreamBuild.parseTs(name, s)
}

private class SnapshotLogMicroBatchStream(tableDir: String, schema: StructType,
    startVersion: Long, ignoreChanges: Boolean,
    changeFeed: Boolean = false,
    // resolved from endingTimestamp at stream build: the stream stops
    // ADVANCING past this version (versions committed later — whatever
    // their recorded ts — never plan)
    endVersion: Option[Long] = None,
    // admission control: at most this many versions per micro-batch
    // (None = all available — the pre-r19 behavior)
    maxVersionsPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** The exposed schema minus the change-feed bookkeeping columns —
    * what the parquet files actually hold. */
  private val tableSchema: StructType =
    if (!changeFeed) schema
    else StructType(schema.fields.filterNot(f =>
      f.name == ChangeFeed.ChangeTypeCol ||
        f.name == ChangeFeed.CommitVersionCol))

  /** The pinned schema with each column's immutable PHYSICAL name (the
    * name in the parquet files — [[SnapshotLog.renameColumn]]'s column
    * map), captured ONCE here: physicals never change, so the capture
    * stays correct through any later rename (metadata-only) or drop
    * (old files keep the bytes; post-drop appends null-fill — the same
    * pinned-schema contract evolution established). InternalRows are
    * positional, so readers can consume physical names while the
    * stream's exposed schema stays logical. */
  private val physSchema: StructType =
    SnapshotLog.physicalizeLatest(tableDir, tableSchema)

  override def initialOffset(): Offset = new VersionOffset(startVersion - 1)

  /** The true head the stream may advance to, whatever the rate limit:
    * the log's latest version, clipped by `endingTimestamp`'s resolved
    * version. */
  private def headVersion: Long = {
    val latest = SnapshotLog.latestVersion(tableDir)
      .getOrElse(startVersion - 1)
    endVersion.fold(latest)(math.min(latest, _))
  }

  /** `Trigger.AvailableNow`'s snapshot of the head, taken once at
    * [[prepareForTriggerAvailableNow]]: the run drains up to HERE (in
    * rate-limited steps) and stops, even while writers keep
    * committing. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headVersion)

  /** Admission control ([[SupportsTriggerAvailableNow]] extends
    * [[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]]):
    * with `maxVersionsPerTrigger` the default read limit caps each
    * micro-batch's ADVANCE at N versions — offsets here ARE versions,
    * so `ReadLimit.maxRows` carries the version budget (the Kafka
    * maxOffsetsPerTrigger spelling). A fresh checkpoint on a
    * 10,000-version history backfills in ⌈10000/N⌉ bounded batches
    * instead of one giant catch-up epoch; the `.changes` stream
    * inherits the knob through the shared option parse. */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxRows)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[VersionOffset].v
    val head = availableNowCap.fold(headVersion)(math.min(headVersion, _))
    def budget(l: ReadLimit): Long = l match {
      case r: ReadMaxRows => r.maxRows()
      case c: CompositeReadLimit =>
        c.getReadLimits.map(budget).min
      case _: ReadAllAvailable => Long.MaxValue
      case _ => Long.MaxValue // min/other limits: no cap from here
    }
    val b = budget(limit)
    new VersionOffset(
      if (b == Long.MaxValue || head - lo <= b) head else lo + b)
  }

  /** The real head for progress reporting — what the UI's "latest
    * offset" shows while a rate-limited backfill drains. */
  override def reportLatestOffset(): Offset = new VersionOffset(headVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-snaplog implements SupportsAdmissionControl — Spark calls " +
        "latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[VersionOffset].v
    val hi = end.asInstanceOf[VersionOffset].v
    if (hi <= lo) return Array.empty
    // one manifest read per version: version v's (files, dv) carries
    // forward as v+1's "previous" instead of re-reading v's manifest
    // (and its dv node) on the next loop step — the hot micro-batch
    // planning path reads (hi − lo) + 1 manifests, not 4 × (hi − lo)
    var prev: (Set[String], Map[String, Seq[String]]) =
      if (lo < 0) (Set.empty, Map.empty)
      else {
        val (fs, dv, _) = SnapshotLog.manifestFilesDvAt(tableDir, lo)
        (fs.toSet, dv)
      }
    ((lo + 1) to hi).flatMap { v =>
      val (files, dvNow, op) = SnapshotLog.manifestFilesDvAt(tableDir, v)
      val (prevFiles, dvPrev) = prev
      prev = (files.toSet, dvNow)
      if (changeFeed) changeParts(v, op, files, dvNow, prevFiles, dvPrev)
      else {
        // the advice must be actionable: a fresh stream AT version v
        // hits this same check (v compares against v−1's manifest), so
        // the skip path is startVersion = v+1, not v
        if (!ignoreChanges && !prevFiles.subsetOf(files.toSet))
          throw new IllegalStateException(
            s"graft-snaplog: version $v of $tableDir is not an append " +
              "(files were rewritten by a commit/optimize/delete/update); " +
              "restart with ignoreChanges=true to stream the restated rows " +
              s"(at-least-once), with changeFeed=true for exact per-row " +
              "changes (MOR versions only), or skip them with " +
              s"startVersion=${v + 1} (risks missing the restatement)")
        // a merge-on-read delete keeps the file list IDENTICAL but
        // logically removes already-emitted rows — the subset check above
        // cannot see it, so compare the dv nodes: new deletion-vector
        // entries are a change, not an append, and must not be silently
        // skipped (the Delta decision, same resolution; under
        // ignoreChanges the deletion simply never reaches the stream —
        // emitted rows stand, at-least-once semantics)
        if (!ignoreChanges && dvNow != dvPrev)
          throw new IllegalStateException(
            s"graft-snaplog: version $v of $tableDir adds merge-on-read " +
              "deletion vectors (rows already emitted were logically " +
              "deleted); restart with changeFeed=true to stream the " +
              "deletions as delete records, with ignoreChanges=true to " +
              s"continue past them, or skip with startVersion=${v + 1}")
        files.filterNot(prevFiles.contains)
          .map(f => SnapshotFilePartition(f): InputPartition)
      }
    }.toArray match {
      // columnar uniformity is per MICRO-BATCH, and a batch spans
      // versions: a delete partition anywhere in it flips every insert
      // to rows (BatchScanExec demands uniform row/columnar)
      case parts if changeFeed &&
          parts.exists(_.isInstanceOf[ChangeDeletePartition]) =>
        parts.map {
          case c: ChangeInsertPartition => c.copy(columnarOk = false)
          case p => p
        }
      case parts => parts
    }
  }

  /** CHANGE-FEED planning for one version — the streaming twin of
    * [[SnapshotLog.readChangeFeed]]'s per-version step: new files emit
    * op-labeled rows, new dv positions emit per-file DELETE partitions
    * (each carries its data file's canonical key plus the new and
    * prior sidecars — the position delta computes on the EXECUTOR, so
    * nothing mask-sized ever collects to the driver), maintenance
    * rewrites skip, and any other rewrite fails loudly. */
  private def changeParts(v: Long, op: String, files: Seq[String],
      dvNow: Map[String, Seq[String]], prevFiles: Set[String],
      dvPrev: Map[String, Seq[String]]): Seq[InputPartition] = {
    if (ChangeFeed.ContentIdenticalOps.contains(op)) return Nil
    // restore's own guard — the structural check below misses a
    // restore whose file list is unchanged but whose dv masks SHRANK
    // (un-deleted rows the feed cannot represent)
    if (op == "restore")
      throw new IllegalStateException(
        s"graft-snaplog: version $v of $tableDir is a RESTORE, which a " +
          "change feed cannot represent per-row — use SnapshotLog.diff " +
          s"for post-image semantics, or skip with startVersion=${v + 1}")
    if (!prevFiles.subsetOf(files.toSet))
      throw new IllegalStateException(
        s"graft-snaplog: version $v of $tableDir rewrote data files " +
          s"(op=$op), which a change feed cannot represent per-row — " +
          "use SnapshotLog.diff for post-image semantics, or skip with " +
          s"startVersion=${v + 1}")
    val newFiles = files.filterNot(prevFiles.contains)
    // not a shape the log's verbs produce (post-images append unmasked;
    // masks land on PRE-existing files) — refuse rather than mislabel
    newFiles.filter(dvNow.contains) match {
      case Seq() => ()
      case masked => throw new IllegalStateException(
        s"graft-snaplog: version $v of $tableDir appends files born " +
          s"masked (${masked.size}) — stream these with the batch " +
          "SnapshotLog.readChangeFeed, which applies birth masks")
    }
    val newSc = dvNow.values.flatten.toSet -- dvPrev.values.flatten.toSet
    val deletes =
      if (newSc.isEmpty) Nil
      else dvNow.collect {
        case (f, scs) if scs.exists(newSc.contains) =>
          ChangeDeletePartition(f, ChangeFeed.canonKey(f),
            scs.filter(newSc.contains),
            dvPrev.getOrElse(f, Nil), v): InputPartition
      }.toSeq
    // columnar only when the WHOLE planned batch can be (BatchScanExec
    // demands uniform row/columnar across partitions): delete
    // partitions filter rows and stay row-based, so their presence
    // anywhere in the batch flips every insert to rows too. The flag
    // is per-PLANNING-call, which is exactly the micro-batch —
    // append-only stretches of history (the common CDF shape) keep the
    // vectorized handoff
    val inserts = newFiles.map(f =>
      ChangeInsertPartition(f, v, ChangeFeed.label(op),
        columnarOk = deletes.isEmpty): InputPartition)
    inserts ++ deletes
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (changeFeed) {
      val spark = SparkSession.active
      val idxSchema = StructType(physSchema.fields :+
        org.apache.spark.sql.types.StructField(
          org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          org.apache.spark.sql.types.LongType, nullable = true))
      ChangeFeedReaderFactory(
        Bridge.parquetFileRows(spark, physSchema),
        Bridge.parquetFileRows(spark, idxSchema),
        Bridge.parquetFileRows(spark,
          StructType.fromDDL("file STRING, pos BIGINT")),
        Bridge.parquetFileBatches(spark, physSchema),
        physSchema.fields.map(_.dataType),
        physSchema.fields.map(_.nullable))
    } else SnapshotFileReaderFactory(
      Bridge.parquetFileRows(SparkSession.active, physSchema),
      Bridge.parquetFileBatches(SparkSession.active, physSchema))

  override def deserializeOffset(json: String): Offset =
    new VersionOffset(json.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private case class SnapshotFilePartition(path: String) extends InputPartition

/** Serves each manifest file vectorized when Spark's own
  * `supportBatch` predicate admits the schema (`readBatches` is Some —
  * the same decision a batch scan of these files would make), else row
  * by row. Round 10 measured the row path at 1.98× a batch scan; the
  * columnar path closes exactly that gap (both readings in SCALING.md
  * §"Snapshot-log streaming source throughput"). */
private case class SnapshotFileReaderFactory(
    readFile: String => Iterator[InternalRow],
    readBatches: Option[String => Iterator[
      org.apache.spark.sql.vectorized.ColumnarBatch]])
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    readBatches.isDefined

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val it = readFile(p.asInstanceOf[SnapshotFilePartition].path)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val it = readBatches.get(p.asInstanceOf[SnapshotFilePartition].path)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { batch = it.next(); true } else false
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
      override def close(): Unit = ()
    }
  }
}

/** One appended file of a change-feed micro-batch: its rows emit with
  * `(label, version)` appended. `columnarOk` = the WHOLE planned batch
  * is insert-only, so this partition may serve vectorized batches
  * (the two bookkeeping columns ride as constant column vectors). */
private case class ChangeInsertPartition(path: String, version: Long,
    label: String, columnarOk: Boolean = false) extends InputPartition

/** One dv-touched data file of a change-feed micro-batch: the masked
  * rows' pre-images emit as `delete` records. Carries the NEW sidecars
  * (this version's marks) and the PRIOR sidecars (positions already
  * masked — a re-mark is not a new delete); the position delta
  * computes on the executor. `canonKey` pre-resolves the data file's
  * canonical spelling so the executor matches sidecar rows (which
  * record `_metadata.file_path` URIs) without touching the driver. */
private case class ChangeDeletePartition(path: String, canonKey: String,
    newSidecars: Seq[String], priorSidecars: Seq[String],
    version: Long) extends InputPartition

/** Readers of the change-feed mode. INSERT partitions of an
  * insert-only micro-batch serve COLUMNAR: the file's vectorized
  * batches pass through with the two bookkeeping columns appended as
  * CONSTANT column vectors (no per-row work at all — the same
  * machinery Spark uses for file-constant `_metadata` fields), so an
  * append-only stretch of history streams at the non-CDF path's
  * vectorized throughput. Everything else is row-based: DELETE
  * partitions filter rows (a ColumnarBatch cannot drop rows without a
  * copy), and their presence anywhere in a batch flips that batch's
  * inserts to rows too (BatchScanExec demands uniformity — the
  * planner sets `columnarOk`). The parquet DECODE underneath is
  * Spark's vectorized reader either way. */
private case class ChangeFeedReaderFactory(
    readRows: String => Iterator[InternalRow],
    readRowsWithIdx: String => Iterator[InternalRow],
    readSidecar: String => Iterator[InternalRow],
    readBatches: Option[String => Iterator[
      org.apache.spark.sql.vectorized.ColumnarBatch]],
    dataTypes: Array[org.apache.spark.sql.types.DataType],
    nullables: Array[Boolean]) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case c: ChangeInsertPartition => c.columnarOk && readBatches.isDefined
    case _ => false
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[ChangeInsertPartition]
    val it = readBatches.get(part.path).map { b =>
      val label = new org.apache.spark.sql.execution.vectorized
        .ConstantColumnVector(b.numRows(),
          org.apache.spark.sql.types.StringType)
      label.setUtf8String(org.apache.spark.unsafe.types.UTF8String
        .fromString(part.label))
      val ver = new org.apache.spark.sql.execution.vectorized
        .ConstantColumnVector(b.numRows(),
          org.apache.spark.sql.types.LongType)
      ver.setLong(part.version)
      val cols = (0 until b.numCols()).map(b.column) :+ label :+ ver
      new org.apache.spark.sql.vectorized.ColumnarBatch(
        cols.toArray, b.numRows())
    }
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { batch = it.next(); true } else false
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
      override def close(): Unit = ()
    }
  }

  private def reader(it: Iterator[InternalRow])
      : PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }

  private def extra(label: String, v: Long): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(label), v))

  /** Positions recorded for `canonKey` across `sidecars` — executor-
    * side, memoizing the per-row file-spelling canonicalization (rows
    * of one file repeat; toRealPath is a syscall). */
  private def positionsFor(canonKey: String, sidecars: Seq[String])
      : java.util.HashSet[java.lang.Long] = {
    val out = new java.util.HashSet[java.lang.Long]()
    val memo = new java.util.HashMap[String, java.lang.Boolean]()
    sidecars.foreach { sc =>
      readSidecar(sc).foreach { r =>
        val f = r.getUTF8String(0).toString
        val hit = memo.computeIfAbsent(f,
          k => java.lang.Boolean.valueOf(ChangeFeed.canonKey(k) == canonKey))
        if (hit) out.add(r.getLong(1)): Unit
      }
    }
    out
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ChangeInsertPartition(path, v, label, _) =>
        val tail = extra(label, v)
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        reader(readRows(path).map(r => joined(r, tail): InternalRow))
      case ChangeDeletePartition(path, canonKey, newSc, priorSc, v) =>
        val newPos = positionsFor(canonKey, newSc)
        if (!priorSc.isEmpty) newPos.removeAll(positionsFor(canonKey, priorSc))
        val delta = new Array[Long](newPos.size())
        val dit = newPos.iterator()
        var i = 0
        while (dit.hasNext) { delta(i) = dit.next(); i += 1 }
        java.util.Arrays.sort(delta)
        val idxOrdinal = dataTypes.length
        val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(dataTypes.indices.map(j =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              j, dataTypes(j), nullables(j))))
        val tail = extra("delete", v)
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        reader(readRowsWithIdx(path)
          .filter(r => java.util.Arrays.binarySearch(delta,
            r.getLong(idxOrdinal)) >= 0)
          .map(r => joined(proj(r), tail): InternalRow))
    }
}
