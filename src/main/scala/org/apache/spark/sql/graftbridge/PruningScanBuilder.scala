package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, In, Literal}
import org.apache.spark.sql.connector.expressions.{FieldReference, LiteralValue, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.{SupportsMetadata, SupportsPushDownCatalystFilters}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 ScanBuilder that FILE-PRUNES before the parquet stack ever
  * sees a path — the scan-planning half of the snapshot log's data
  * skipping, surfaced to SQL (Delta's DataSkippingReader idea at this
  * log's minimum).
  *
  * Lives in the bridge because the pushdown handshake Spark's own file
  * sources use is the `private[sql]` catalyst-expression variant
  * ([[SupportsPushDownCatalystFilters]]): V2ScanRelationPushDown hands
  * THAT interface the raw resolved predicates, which is exactly what
  * the prune callback needs (the public `SupportsPushDownFilters`
  * would work too, but Spark only consults it when the catalyst
  * variant is absent, and translating back and forth loses shapes).
  *
  * The contract keeps pruning an OPTIMIZATION, never semantics:
  * `pushFilters` returns every predicate as post-scan residual, so the
  * plan keeps its Filter node regardless of what the callback prunes —
  * a wrong (over-eager) prune could lose rows, which is why the
  * callback must only ever drop PROVABLY-dead files (the manifest
  * stats / bloom no-false-negatives direction); a too-timid prune
  * costs only I/O. At build() the kept files become an ordinary
  * [[ParquetTable]] scan, and the SAME predicates are re-pushed into
  * it, so parquet's own row-group skipping and the vectorized reader
  * operate inside the kept files exactly as they would have unpruned.
  * Column pruning is forwarded verbatim.
  *
  * build() wraps the parquet scan in [[PrunedSnapshotScan]], which adds
  * the face Spark's own file source LACKS in this release:
  * [[SupportsRuntimeV2Filtering]]. `FileScan`/`ParquetScan` implement
  * no runtime-filtering interface, so dynamic partition pruning
  * (`PartitionPruning` → `DynamicPruningSubquery` → BatchScanExec's
  * `RuntimeFilters:`) silently skips every V2 parquet relation — the
  * wrapper is what lets a selective dim join RE-PRUNE the snapshot's
  * file list at execution time with the dim's actual keys, against the
  * same manifest stats + bloom indexes the planning-time prune uses.
  * Runtime pruning is conservative for the same reason planning-time
  * pruning is: the join itself re-checks every surviving row, and the
  * prune may only drop files a recorded fact proves dead.
  */
class PruningParquetScanBuilder(
    spark: SparkSession,
    tableName: String,
    readSchema: StructType,
    prune: Seq[Expression] => Seq[String],
    mapName: String => String = identity,
    unmapName: String => String = identity,
    dv: Map[String, Seq[String]] = Map.empty,
    // the catalog's STREAMING face: when present, toMicroBatchStream
    // delegates here (the snapshot stream source, options captured at
    // newScanBuilder) instead of refusing — batch scans are untouched
    streamFor: Option[() =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None,
    // METADATA-ONLY AGGREGATE answers (the Iceberg/Delta shortcut): the
    // catalog answers an ungrouped COUNT/MIN/MAX Aggregation from
    // manifest stats alone, or None to decline — see
    // PrunedSnapshotTable.aggAnswer for the exactness rules. Answered
    // aggregations build a one-row [[SnapAggScan]] instead of the
    // parquet stack: zero data I/O at any table size.
    aggAnswer: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
      => Option[(StructType, Array[Any])] = _ => None,
    // LIMIT as FILE-LIST pruning: the catalog returns the manifest
    // prefix whose recorded row counts cover `limit` rows (None =
    // unanswerable — old manifests, dv masks). Partial pushdown only
    // (Spark keeps its Limit above), so the contract is "at least
    // min(limit, table) rows", which the exact `:rows` counts on a
    // mask-free version guarantee. What it buys at scale: `SELECT *
    // FROM t LIMIT 10` plans one file's tasks instead of 100k.
    limitFiles: Int => Option[Seq[String]] = _ => None,
    // the table's consistent BUCKET LAYOUT, when one exists and the
    // version carries no deletion masks: (PHYSICAL bucket columns —
    // one today, see SnapshotLog.rebucketBy — numBuckets, file →
    // bucket id). Under spark.sql.sources.v2.bucketing.enabled
    // the build returns a [[SnapBucketScan]] reporting
    // KeyGroupedPartitioning (the transform resolves to the catalog's
    // own `bucket` function) — storage-partitioned joins, no shuffle
    // on either side. Conf off (the default): the ordinary pruned
    // parquet scan, byte-split parallelism untouched.
    bucket: Option[(Seq[String], Int, Map[String, Int])] = None,
    // a file's MANIFEST-RECORDED on-disk size (the `:bytes`
    // pseudo-stat harvested at commit — the footer was already open),
    // or None for files committed before the stat existed. Every
    // driver-side size consumer in this builder's scans (masked-split
    // arithmetic, AQE/broadcast statistics) answers from it first and
    // falls back to a filesystem stat — on an object store the
    // fallback is one HEAD request per file per query plan, which the
    // manifest answer retires.
    bytesOf: String => Option[Long] = _ => None,
    // a file's exact LIVE row count (`:rows` minus the `:masked`
    // cardinality on dv files; None = unknowable). Lets the scans
    // report an exact numRows in estimateStatistics — AQE and
    // broadcast sizing then work from row facts instead of byte
    // heuristics. Only reported when every kept file answers (a
    // partial sum would under-estimate, the dangerous direction for
    // broadcast decisions).
    rowsOfFile: String => Option[Long] = _ => None)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var filterExprs: Seq[Expression] = Nil
  private var required: Option[StructType] = None
  private var pushedAgg: Option[(StructType, Array[Any])] = None
  private var limitKept: Option[Seq[String]] = None

  /** Spark only pushes a limit with no Filter between it and the scan,
    * and every predicate here is residual — so `filterExprs` is empty
    * whenever this is consulted (guarded anyway: a residual filter
    * drops rows, which would break the at-least-limit contract). */
  override def pushLimit(l: Int): Boolean = {
    if (filterExprs.isEmpty) limitKept = limitFiles(l)
    limitKept.isDefined
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    filterExprs = filters
    filters // ALL residual: pruning may only remove provably-dead I/O
  }

  // the inner parquet scan reports its own pushed filters in explain;
  // advertising none here keeps Spark's bookkeeping honest (nothing is
  // proven handled by this layer)
  override def pushedFilters(): Array[Predicate] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** COMPLETE pushdown only: the manifest either answers the whole
    * ungrouped aggregation exactly or declines — there is no partial
    * per-partition form to hand back. Guarded on zero pushed filters
    * (Spark only attempts aggregate pushdown below a filter-free
    * Aggregate, but every predicate here is residual by contract, so
    * the belt-and-braces check is free). */
  private def answer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] =
    if (filterExprs.nonEmpty) None else aggAnswer(agg)

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedAgg = answer(agg)
    pushedAgg.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, row)) => new SnapAggScan(tableName, schema, row)
    case None => bucket match {
      case Some((bCols, n, fileIds)) if limitKept.isEmpty &&
          spark.conf.get("spark.sql.sources.v2.bucketing.enabled",
            "false").toBoolean =>
        // dv-bearing versions ride too (round 18): masks only DROP
        // rows, never move them, so the bucket ids — and the reported
        // co-partitioning — stay exact through a deletion mask; the
        // masked files read row-based through the executor-side
        // positions cache, exactly the ordinary scan's dv machinery
        new SnapBucketScan(spark, tableName, readSchema, prune, mapName,
          unmapName, filterExprs, required, bCols, n, fileIds, bytesOf,
          rowsOfFile, dv, streamFor)
      case _ =>
        new PrunedSnapshotScan(spark, tableName, readSchema, prune,
          mapName, unmapName, filterExprs, required, dv, streamFor,
          limitKept, bytesOf, rowsOfFile)
    }
  }
}

/** The scan a completely-pushed aggregation builds: ONE partition, ONE
  * row — the aggregate values computed on the driver from manifest
  * stats (O(files) JSON lookups, no file I/O at all). Its schema IS
  * the aggregation output, positionally (the [[DocGenCountScan]]
  * contract: Spark maps complete-pushdown scan output to the agg
  * expressions by position and plans a Project, no Aggregate exec).
  * Values are catalyst-internal (Long/Int/…, null for an empty MIN). */
private class SnapAggScan(tableName: String, schema: StructType,
    row: Array[Any]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"SnapAggScan[$tableName](" + schema.fields.zip(row).map { case (f, v) =>
      s"${f.name}=$v" }.mkString(", ") + ") — manifest stats, zero data I/O"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapAggPartition(row))
  override def createReaderFactory(): PartitionReaderFactory =
    SnapAggReaderFactory
}

private case class SnapAggPartition(row: Array[Any]) extends InputPartition

private object SnapAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          p.asInstanceOf[SnapAggPartition].row)
      override def close(): Unit = ()
    }
}

/** The scan [[PruningParquetScanBuilder.build]] returns — an ordinary
  * parquet scan over the planning-time-kept files, plus the two faces
  * the raw ParquetScan can't give a snapshot table:
  *
  *  - name translation for column-mapped tables (rows are positional —
  *    the prune callback and SQL speak LOGICAL names, the file stack
  *    speaks the immutable PHYSICAL names; predicates and column
  *    pruning rename on the way in, the reported read schema renames
  *    back, and the re-pushed physical-name predicates are what
  *    restore row-group pushdown on renamed tables);
  *  - [[SupportsRuntimeV2Filtering]]: dynamic pruning hands back the
  *    dim side's actual join keys as an IN predicate at execution
  *    time; the scan re-prunes the manifest's file list with them
  *    (stats + bloom, union-composed with the planning-time
  *    predicates) and REBUILDS the inner parquet scan over the
  *    surviving files, with the runtime IN also re-pushed for
  *    row-group skipping inside them — MEASURED true, not assumed:
  *    the re-push only reaches the reader because [[toBatch]] returns
  *    a delegating Batch and [[columnarSupportMode]] answers without
  *    forcing the reader factory during planning (see both docs;
  *    NOTES_r15.md §1 records 262144 → 5040 rows scanned on a
  *    one-file/many-row-group layout, and
  *    SnapshotRuntimePruneSpec pins the metric). An untranslatable
  *    runtime predicate leaves the scan untouched; an EMPTY dim's
  *    values-less IN prunes to zero files (`x IN ()` is false).
  *
  * Identity tables take the same wrapper (mapName = identity): before
  * this class they returned the parquet scan unwrapped, which kept
  * statistics visible but left no runtime-filtering face at all.
  * Statistics ([[SupportsReportStatistics]] — AQE/broadcast sizing)
  * and explain metadata ([[SupportsMetadata]] — `PushedFilters:` in
  * the plan dump) forward to the inner scan either way (on a dv'd
  * version the size estimate adds the masked files' on-disk bytes to
  * the inner scan's — an over-estimate of the post-mask output, the
  * under-broadcasting safe direction; the formatted explain adds
  * `DvMaskedFiles: n`).
  *
  * MERGE-ON-READ composition (`dv`: masked file → its sidecars):
  * prune-surviving
  * files that carry a deletion mask leave the inner parquet scan for
  * one [[DvMaskedFilePartition]] each — the whole scan then runs
  * row-based (see [[columnarSupportMode]]) and the masked readers drop
  * deleted positions ([[DvMaskingReaderFactory]]). File pruning,
  * runtime re-pruning, and residual predicates compose unchanged —
  * the prune runs BEFORE the clean/masked split. */
private[graftbridge] class PrunedSnapshotScan(
    spark: SparkSession,
    tableName: String,
    physSchema: StructType,
    prune: Seq[Expression] => Seq[String],
    mapName: String => String,
    unmapName: String => String,
    plannedFilters: Seq[Expression],
    required: Option[StructType],
    dv: Map[String, Seq[String]] = Map.empty,
    streamFor: Option[() =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None,
    // a pushed LIMIT's pre-computed file prefix (see the builder's
    // limitFiles doc) — used only while NO predicates are in play: a
    // runtime filter arriving later rebuilds over the FULL prune (the
    // runtime IN drops rows, so the at-least-limit arithmetic no
    // longer holds on the prefix; Spark's retained Limit keeps the
    // semantics either way)
    limitKept: Option[Seq[String]] = None,
    bytesOf: String => Option[Long] = _ => None,
    rowsOfFile: String => Option[Long] = _ => None)
  extends Scan
  with SupportsReportStatistics
  with SupportsMetadata
  with SupportsRuntimeV2Filtering {

  /** `spark.readStream.table("snap.ns.t")` — the catalog surface of
    * the snapshot stream source: the catalog hands in a constructor
    * capturing the table dir, the recorded schema, and the
    * readStream options; everything else (version offsets, the
    * append-only/ignoreChanges taxonomy, time bounds) is the one
    * stream implementation both surfaces share. Absent (a pinned
    * time-travel load, or a non-catalog use of this builder), Spark's
    * own unsupported-operation error stands. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamFor match {
      case Some(f) => f()
      case None => super.toMicroBatchStream(checkpointLocation)
    }

  private val dvFiles: Set[String] = dv.keySet
  private var runtimeExprs: Seq[Expression] = Nil
  /** The prune-surviving files that carry a deletion mask — served by
    * per-file MASKED partitions instead of the inner parquet scan.
    * Updated alongside `inner` on every (re)build. */
  private var maskedKept: Seq[String] = Nil
  /** The current physical-name predicates translated to v1 filters —
    * pushed into the MASKED per-file readers for parquet row-group /
    * page skipping inside dv'd files, exactly as the re-pushed
    * catalyst filters reach the clean half's parquet scan. Advisory
    * (Spark's residual Filter above re-checks every row); untranslatable
    * shapes simply drop out. Updated alongside `inner`, so a runtime
    * IN skips row groups inside masked files too. */
  private var maskedV1Filters: Seq[org.apache.spark.sql.sources.Filter] = Nil
  /** The current prune-surviving file list (clean + masked) — what
    * the exact numRows estimate sums over. Updated on every
    * (re)build. */
  private var allKept: Seq[String] = Nil
  private var inner: Scan = buildInner()
  private[graftbridge] def currentBatch: Batch = inner.toBatch

  private def buildInner(): Scan = {
    val kept = limitKept match {
      case Some(lk) if plannedFilters.isEmpty && runtimeExprs.isEmpty => lk
      case _ => prune(plannedFilters ++ runtimeExprs)
    }
    // merge-on-read split: dv'd files leave the parquet-stack scan
    // (which cannot apply a deletion mask) for the masked per-file
    // partitions below. The prune ran over BOTH halves first, so
    // stats/bloom/runtime skipping applies to masked files exactly as
    // to clean ones — a dv'd file a predicate exonerates is never read
    maskedKept = kept.filter(dvFiles.contains)
    allKept = kept
    val clean = if (dvFiles.isEmpty) kept else kept.filterNot(dvFiles.contains)
    val b = ParquetTable(
      tableName,
      spark,
      CaseInsensitiveStringMap.empty(),
      clean,
      userSpecifiedSchema = Some(physSchema),
      fallbackFileFormat = classOf[ParquetFileFormat])
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    val physFilters = (plannedFilters ++ runtimeExprs).map(_.transform {
      case a: AttributeReference => a.withName(mapName(a.name))
    })
    if (dvFiles.nonEmpty) maskedV1Filters = physFilters.flatMap(e =>
      org.apache.spark.sql.execution.datasources.DataSourceStrategy
        .translateFilter(e, supportNestedPredicatePushdown = true))
    b match {
      case c: SupportsPushDownCatalystFilters => c.pushFilters(physFilters): Unit
      case _ => ()
    }
    b match {
      case c: SupportsPushDownRequiredColumns => required.foreach(r =>
        c.pruneColumns(StructType(r.fields.map(f =>
          f.copy(name = mapName(f.name))))))
      case _ => ()
    }
    b.build()
  }

  /** Serializable per-file row reader for the MASKED half: the inner
    * scan's physical read schema plus Spark's own row-index generator
    * column ([[ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME]] —
    * the exact mechanism `_metadata.row_index` rides; the generated
    * index is absolute within the file and stable under row-group /
    * page skipping: the generator reads the page store's row ranges).
    * Built per reader-factory creation so the CURRENT v1 filters —
    * runtime IN included — ride into the masked files' parquet
    * readers for row-group skipping. */
  private def maskedReadFunc: (String, Long, Long) => Iterator[
      org.apache.spark.sql.catalyst.InternalRow] =
    Bridge.parquetFileRangeRows(spark, StructType(
      inner.readSchema().fields :+ org.apache.spark.sql.types.StructField(
        // the TEMPORARY name is what the reader's row-index generator
        // matches on (ROW_INDEX_FIELD carries the final `_metadata`
        // member name `row_index`, which a raw read treats as an
        // ordinary — and missing — data column)
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        // nullable: the file provably lacks the column, and the
        // vectorized reader's checkColumn rejects a missing REQUIRED
        // column before the row-index generator gets to fill it —
        // generated values are never actually null
        org.apache.spark.sql.types.LongType, nullable = true)),
      maskedV1Filters)

  override def readSchema(): StructType = StructType(
    inner.readSchema().fields.map(f => f.copy(name = unmapName(f.name))))

  /** The Batch DELEGATES to whatever `inner` is at invocation time,
    * because BatchScanExec caches `batch` (its hashCode/equals force
    * the lazy val during PLANNING, before runtime `filter()` can
    * rebuild `inner`) and later derives `readerFactory` from that
    * cached object — a direct `inner.toBatch` would freeze the
    * pre-runtime-filter reader factory, and the runtime IN would
    * never reach parquet's row-group skipping. With the delegate,
    * `createReaderFactory()` invoked at execution (inputRDD forces
    * filteredPartitions — which runs `filter()` — BEFORE
    * readerFactory; verified against this release's bytecode) builds
    * from the REBUILT scan, whose pushed filters include the runtime
    * IN. See [[columnarSupportMode]] for the other half of the
    * ordering. */
  private val delegatingBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val clean = currentBatch.planInputPartitions()
      if (maskedKept.isEmpty) clean
      else {
        // masked files SPLIT at `spark.sql.files.maxPartitionBytes`
        // boundaries like clean files do — each split reads exactly the
        // row groups whose midpoint falls in its byte range (parquet's
        // own split-assignment rule), and row indexes stay ABSOLUTE
        // under range reads, so the mask applies correctly across split
        // boundaries (spec-pinned). One hot 1 GB dv'd file therefore
        // parallelizes onto ~8 tasks instead of serializing onto one.
        // Each partition carries its file's SIDECAR PATHS and canonical
        // key: the deleted positions materialize ON THE EXECUTOR (each
        // task reads — or hits the executor-side cache for — its own
        // file's share), so NOTHING mask-sized ever collects to the
        // driver and the SQL path carries masks of ANY size — the same
        // distribution shape as the change-feed delete partitions.
        val chunk = math.max(1L << 20, spark.asInstanceOf[
          org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf.filesMaxPartitionBytes)
        clean ++ maskedKept.flatMap { f =>
          // manifest-recorded size first (`:bytes` pseudo-stat);
          // filesystem stat only for pre-stat files
          val size = bytesOf(f).getOrElse(try java.nio.file.Files.size(
            java.nio.file.Paths.get(f)) catch { case _: Exception => 0L })
          val key = Bridge.canonKey(f)
          if (size <= chunk)
            Seq(DvMaskedFilePartition(f, key, dv(f), 0L, Long.MaxValue)
              : InputPartition)
          else (0L until size by chunk).map(off => DvMaskedFilePartition(
            f, key, dv(f), off, math.min(chunk, size - off))
            : InputPartition)
        }
      }
    }
    override def createReaderFactory(): PartitionReaderFactory = {
      val innerFactory = currentBatch.createReaderFactory()
      if (dvFiles.isEmpty) innerFactory
      else {
        val fields = inner.readSchema().fields
        new DvMaskingReaderFactory(innerFactory, maskedReadFunc,
          Bridge.parquetFileRows(spark,
            StructType.fromDDL("file STRING, pos BIGINT")),
          fields.map(_.dataType), fields.map(_.nullable))
      }
    }
  }

  override def toBatch: Batch = delegatingBatch

  /** Answer columnar support from the SCHEMA, not the reader factory:
    * the default PARTITION_DEFINED mode makes BatchScanExec's
    * `supportsColumnar` force `readerFactory` during planning — i.e.
    * BEFORE runtime `filter()` — which would pin the
    * pre-runtime-filter factory in the lazy val for the whole
    * execution. Columnar-ness of the parquet factory depends only on
    * conf + read schema (never on which files survive pruning or what
    * filters are pushed), so the pre-filter answer is exact; with a
    * concrete SUPPORTED/UNSUPPORTED mode, Spark defers readerFactory
    * to execution, after filter() has rebuilt `inner`. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    // a scan with masked partitions must read ROW-BASED throughout:
    // BatchScanExec requires all partitions agree, and the masking
    // reader filters rows (a ColumnarBatch cannot drop rows without a
    // copy). The clean half still DECODES vectorized inside Spark's
    // row reader; what's lost is the ColumnarToRow handoff — the
    // transitional dv'd-version price, retired by compactDeletes.
    // Decided on the PLANNING-time masked set: runtime filters only
    // shrink it, so UNSUPPORTED stays safe (and a scan whose planning
    // prune already exonerated every dv'd file keeps full columnar)
    if (maskedKept.nonEmpty) Scan.ColumnarSupportMode.UNSUPPORTED
    else columnarMode

  private lazy val columnarMode: Scan.ColumnarSupportMode = {
    val b = inner.toBatch
    val parts = b.planInputPartitions()
    // zero partitions: the mode is never consulted per-row — either
    // answer is safe, SUPPORTED keeps the empty-scan path trivial
    if (parts.isEmpty) Scan.ColumnarSupportMode.SUPPORTED
    else {
      val f = b.createReaderFactory()
      if (parts.forall(f.supportColumnarReads))
        Scan.ColumnarSupportMode.SUPPORTED
      else Scan.ColumnarSupportMode.UNSUPPORTED
    }
  }

  override def description(): String = inner.description()

  override def estimateStatistics(): Statistics = {
    val base = inner match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }
    // EXACT row count over the kept files from the manifest (`:rows`,
    // minus the exact `:masked` cardinality on dv files) — the file
    // source itself only byte-guesses, so supplying the recorded fact
    // upgrades AQE/broadcast sizing from heuristic to arithmetic.
    // All-or-nothing: one unknowable file and the estimate stays
    // absent (a partial sum would UNDER-estimate, the direction that
    // mis-broadcasts). Pre-residual-filter by the scan-stats contract;
    // an over-estimate only under-broadcasts.
    val exactRows: Option[Long] = {
      val per = allKept.map(rowsOfFile)
      if (per.nonEmpty && per.forall(_.isDefined)) Some(per.flatten.sum)
      else None
    }
    val maskedBytes =
      if (maskedKept.isEmpty) 0L
      else maskedKept.map(f => bytesOf(f).getOrElse(
        try java.nio.file.Files.size(java.nio.file.Paths.get(f))
        catch { case _: Exception => 0L })).sum
    if (maskedKept.isEmpty && exactRows.isEmpty) base
    else new Statistics {
      // the inner scan counts the CLEAN half only — add the masked
      // files' on-disk bytes so AQE/broadcast sizing sees the whole
      // scan (an over-estimate of the post-mask output, which is the
      // safe direction: it under-broadcasts). Sizes from the
      // manifest's `:bytes` pseudo-stat; filesystem stat only for
      // pre-stat files
      override def sizeInBytes() = java.util.OptionalLong.of(
        (if (base.sizeInBytes().isPresent) base.sizeInBytes().getAsLong
         else 0L) + maskedBytes)
      override def numRows() = exactRows match {
        case Some(n) => java.util.OptionalLong.of(n)
        case None => base.numRows()
      }
    }
  }

  override def getMetaData(): Map[String, String] = (inner match {
    case m: SupportsMetadata => m.getMetaData()
    case _ => Map.empty[String, String]
  }) ++ (if (dvFiles.isEmpty) Map.empty[String, String]
    else Map("DvMaskedFiles" -> maskedKept.size.toString))

  /** Every LOGICAL read column is a candidate runtime-filter key: the
    * manifest prune degrades to keep-all on a column it has no facts
    * for, and the runtime IN still re-pushes into the rebuilt parquet
    * scan for row-group skipping, so over-advertising costs only a
    * driver-side re-plan. `FieldReference.column` (not `apply`) — the
    * name is one column, never a dotted path to parse. */
  override def filterAttributes(): Array[NamedReference] =
    readSchema().fieldNames.map(FieldReference.column)

  override def filter(predicates: Array[Predicate]): Unit = {
    val exprs = predicates.toSeq.flatMap(toCatalyst)
    if (exprs.nonEmpty) {
      runtimeExprs = exprs
      inner = buildInner()
    }
  }

  private def toCatalyst(p: Predicate): Option[Expression] =
    SnapBucketScan.toCatalyst(p)
}

/** Runtime-predicate translation shared by the ordinary pruned scan
  * and the bucket scan. Runtime predicates arrive in exactly one
  * shape (DataSourceV2Strategy.translateRuntimeFilterV2): `IN(col,
  * lit...)` with the dim side's materialized keys as catalyst-
  * internal LiteralValues. Translate that back to the catalyst `In`
  * the prune translator already speaks; anything else is ignored —
  * runtime pruning is advisory. A VALUES-LESS IN is the one
  * non-advisory-shaped case worth keeping: it means the dim side
  * materialized EMPTY, the join provably returns no rows, and
  * `x IN ()` is false — translate it to a false literal, which the
  * prune translator answers with the best possible keep list (zero
  * files). */
private object SnapBucketScan {
  def toCatalyst(p: Predicate): Option[Expression] =
    if (p.name() != "IN" || p.children().length < 1) None
    else if (p.children().length == 1) p.children().head match {
      case _: NamedReference =>
        Some(Literal(false, org.apache.spark.sql.types.BooleanType))
      case _ => None
    }
    else p.children().head match {
      case ref: NamedReference if ref.fieldNames().length == 1 =>
        val lits = p.children().tail.flatMap {
          case l: LiteralValue[_] => Some(Literal(l.value, l.dataType))
          case _ => None
        }
        if (lits.length != p.children().length - 1) None
        else Some(In(
          AttributeReference(ref.fieldNames().head, lits.head.dataType)(),
          lits.toSeq))
      case _ => None
    }
}

/** The scan a BUCKETED snapshot table builds under
  * `spark.sql.sources.v2.bucketing.enabled` — the read half of
  * storage-partitioned joins (Iceberg's SPJ on this log's layout):
  * ONE InputPartition per bucket, each carrying its bucket id as the
  * partition key ([[HasPartitionKey]]) and reading its files through
  * Spark's own parquet reader machinery (columnar whenever
  * `supportBatch` admits the schema, exactly a batch scan's rule), and
  * [[SupportsReportPartitioning]] reporting
  * `KeyGroupedPartitioning(bucket(n, col), n)`. Spark resolves the
  * transform through the table's catalog (a FunctionCatalog serving
  * [[graft.sources.GraftBucketFunction]]), and a join of two tables
  * bucketed with the same (n, column type) then plans with NO shuffle
  * on either side — the join cost model that matters at 100 TB, where
  * shuffling a fact table dwarfs the join itself.
  *
  * ALL n partitions are always emitted — an empty bucket rides as an
  * empty partition — so both sides of a join present identical key
  * sets and every join type stays correct without the
  * push-part-values machinery. Manifest stats/bloom file pruning runs
  * BEFORE bucket grouping (a pruned file just thins its bucket), and
  * the planned predicates re-push into the per-file readers for
  * row-group skipping; everything stays residual, as in every scan
  * this builder makes. The parallelism ceiling is n tasks — the
  * layout's own granularity; that (and losing byte-splits) is why the
  * bucket scan only builds under the conf opt-in. */
private class SnapBucketScan(
    spark: SparkSession,
    tableName: String,
    physSchema: StructType,
    prune: Seq[Expression] => Seq[String],
    mapName: String => String,
    unmapName: String => String,
    plannedFilters: Seq[Expression],
    required: Option[StructType],
    bucketCols: Seq[String],
    n: Int,
    fileIds: Map[String, Int],
    bytesOf: String => Option[Long] = _ => None,
    rowsOfFile: String => Option[Long] = _ => None,
    // MERGE-ON-READ composition (round 18): masked file → its
    // sidecars. Masks only DROP rows — a row's bucket id is a function
    // of its key, so the reported KeyGroupedPartitioning stays exact
    // through any deletion mask and SPJ serves BETWEEN compactions,
    // the regime a lakehouse actually lives in. Masked files read
    // row-based (whole scan row-based when any survives pruning, the
    // BatchScanExec all-partitions-agree rule) via the same
    // executor-side positions cache as the ordinary scan's dv half.
    dv: Map[String, Seq[String]] = Map.empty,
    streamFor: Option[() =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with SupportsReportStatistics
  with SupportsMetadata
  with SupportsRuntimeV2Filtering {

  /** The catalog's streaming face rides the bucket scan unchanged —
    * `readStream.table` under the bucketing conf must not lose the
    * stream surface the ordinary scan offers. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamFor match {
      case Some(f) => f()
      case None => super.toMicroBatchStream(checkpointLocation)
    }

  private val physReq: StructType = required match {
    case Some(r) => StructType(r.fields.map(f =>
      f.copy(name = mapName(f.name))))
    case None => physSchema
  }

  /** Runtime (DPP) predicates — a selective dim join re-prunes the
    * bucket groups' file lists at execution with the dim's actual
    * keys, exactly as [[PrunedSnapshotScan.filter]] does for the
    * ordinary scan (same translator, same conservative contract).
    * Re-pruning only THINS buckets; the partition count and keys
    * never change, so the reported KeyGroupedPartitioning stays
    * truthful. */
  private var runtimeExprs: Seq[Expression] = Nil

  /** Pruned once per filter state (NOT a def): repeated re-prunes from
    * description()/statistics calls would re-record the PLANNING-time
    * decision into ScanPrune's observability map after the runtime
    * one, clobbering what specs and operators read. */
  private var kept: Seq[String] = prune(plannedFilters)

  private def v1Filters: Seq[org.apache.spark.sql.sources.Filter] =
    (plannedFilters ++ runtimeExprs).map(_.transform {
      case a: AttributeReference => a.withName(mapName(a.name))
    }).flatMap(e =>
      org.apache.spark.sql.execution.datasources.DataSourceStrategy
        .translateFilter(e, supportNestedPredicatePushdown = true))

  override def filterAttributes(): Array[NamedReference] =
    readSchema().fieldNames.map(FieldReference.column)

  override def filter(predicates: Array[Predicate]): Unit = {
    val exprs = predicates.toSeq.flatMap(SnapBucketScan.toCatalyst)
    if (exprs.nonEmpty) {
      runtimeExprs = exprs
      kept = prune(plannedFilters ++ runtimeExprs)
    }
  }

  override def readSchema(): StructType = StructType(
    physReq.fields.map(f => f.copy(name = unmapName(f.name))))

  override def toBatch: Batch = this

  /** Answer columnar support from conf + schema, NOT the reader
    * factory: the default PARTITION_DEFINED mode would force
    * `createReaderFactory` during planning — BEFORE runtime
    * `filter()` — freezing pre-runtime v1 filters into the readers
    * (the exact ordering trap [[PrunedSnapshotScan.columnarSupportMode]]
    * documents). Columnar-ness depends only on the read schema — plus
    * the dv rule: any PLANNING-time-kept masked file forces the whole
    * scan row-based (runtime filters only shrink the masked set, so
    * the pre-runtime answer stays safe — the ordinary scan's rule). */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (kept.exists(dv.contains)) Scan.ColumnarSupportMode.UNSUPPORTED
    else if (Bridge.parquetFileBatches(spark, physReq).isDefined)
      Scan.ColumnarSupportMode.SUPPORTED
    else Scan.ColumnarSupportMode.UNSUPPORTED

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning
      .KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(n, bucketCols.map(unmapName): _*)), n)

  /** PARTIALLY-CLUSTERED mode (skew relief, Spark's own
    * `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
    * .enabled`): emit ONE partition PER FILE (each still carrying its
    * bucket id as the partition key) instead of one grouped partition
    * per bucket. Spark's SPJ machinery groups same-key partitions
    * itself, so the grouped plan is identical — but with the conf on,
    * the runtime can keep the LARGER side's hot bucket ungrouped and
    * replicate the other side's matching group against each piece:
    * one skewed bucket then runs as k tasks instead of serializing on
    * one. Decided at scan construction (consistent for the plan's
    * lifetime); default off keeps the one-partition-per-bucket shape
    * every existing pin describes. */
  private val perFilePartitions: Boolean =
    spark.conf.get(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution" +
        ".enabled", "false").toBoolean

  override def planInputPartitions(): Array[InputPartition] = {
    // bucketLayoutOf only reports a layout when EVERY file carries a
    // valid id, and `kept` ⊆ the manifest's files — so this can only
    // fire on a future drift bug, and a silently-dropped file (wrong
    // rows) is the one failure mode worth a hard stop
    val orphans = kept.filterNot(fileIds.contains)
    require(orphans.isEmpty,
      s"$tableName: bucket layout lost track of ${orphans.size} kept " +
        s"file(s) — refusing to plan a scan that would drop rows")
    val byId = kept.groupBy(fileIds)
    // each file rides with its sidecar list (empty = clean) and its
    // pre-resolved canonical key — the executor masks its own file's
    // positions, nothing mask-sized ever touches the driver
    def slice(f: String): SnapBucketFileSlice =
      SnapBucketFileSlice(f, dv.getOrElse(f, Nil),
        if (dv.contains(f)) Bridge.canonKey(f) else "")
    if (perFilePartitions)
      // every bucket id still present (empty buckets ride as empty
      // partitions), so both join sides expose identical key sets
      (0 until n).flatMap { id =>
        byId.getOrElse(id, Nil).sorted match {
          case Nil => Seq(SnapBucketPartition(id, Nil): InputPartition)
          case fs => fs.map(f =>
            SnapBucketPartition(id, Seq(slice(f))): InputPartition)
        }
      }.toArray
    else
      (0 until n).map(id => SnapBucketPartition(id,
        byId.getOrElse(id, Nil).sorted.map(slice)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapBucketReaderFactory(
      Bridge.parquetFileRows(spark, physReq, v1Filters),
      Bridge.parquetFileBatches(spark, physReq, v1Filters),
      // the masked-file reader: physical schema + Spark's row-index
      // generator column, the ordinary dv scan's exact recipe (current
      // v1 filters re-pushed for row-group skipping inside dv'd files)
      Bridge.parquetFileRangeRows(spark, StructType(
        physReq.fields :+ org.apache.spark.sql.types.StructField(
          ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          org.apache.spark.sql.types.LongType, nullable = true)),
        v1Filters),
      Bridge.parquetFileRows(spark,
        StructType.fromDDL("file STRING, pos BIGINT")),
      physReq.fields.map(_.dataType),
      physReq.fields.map(_.nullable))

  override def estimateStatistics(): Statistics = {
    // manifest-recorded sizes (`:bytes` pseudo-stat) first — zero
    // filesystem stats at planning; pre-stat files fall back. Row
    // count exact when every kept file answers; since r18 bucket scans
    // DO carry dv (SPJ through deletion masks), so rowsOfFile supplies
    // the dv-aware LIVE count (`:rows` − `:masked`) per file — what
    // partially-clustered distribution sizes its side choice with.
    val bytes = kept.map(f => bytesOf(f).getOrElse(
      try java.nio.file.Files.size(java.nio.file.Paths.get(f))
      catch { case _: Exception => 0L })).sum
    val exactRows: Option[Long] = {
      val per = kept.map(rowsOfFile)
      if (per.nonEmpty && per.forall(_.isDefined)) Some(per.flatten.sum)
      else None
    }
    new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(bytes)
      override def numRows() = exactRows match {
        case Some(n) => java.util.OptionalLong.of(n)
        case None => java.util.OptionalLong.empty()
      }
    }
  }

  private def colsLabel: String = bucketCols.map(unmapName).mkString(", ")

  override def description(): String =
    s"SnapBucketScan[$tableName](bucket($n, $colsLabel), " +
      s"files=${kept.size})"

  override def getMetaData(): Map[String, String] = Map(
    "BucketLayout" -> s"bucket($n, $colsLabel)",
    "Files" -> kept.size.toString,
    "PushedFilters" -> v1Filters.mkString("[", ", ", "]")) ++
    (if (dv.isEmpty) Map.empty[String, String]
     else Map("DvMaskedFiles" -> kept.count(dv.contains).toString))
}

/** One file of a bucket partition: its sidecar list (empty = clean)
  * and pre-resolved canonical key ride along so a masked file's
  * executor task loads its own positions from the per-executor cache. */
private case class SnapBucketFileSlice(path: String,
    sidecars: Seq[String], canonKey: String)

/** One bucket of a [[SnapBucketScan]]: the bucket id IS the partition
  * key, the files are whole (bucket grouping is the point — a split
  * would break co-location). */
private case class SnapBucketPartition(id: Int,
    files: Seq[SnapBucketFileSlice])
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](id))
}

private class SnapBucketReaderFactory(
    rowFunc: String => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    batchFunc: Option[String =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]],
    maskedReadFunc: (String, Long, Long) => Iterator[
      org.apache.spark.sql.catalyst.InternalRow],
    readSidecar: String => Iterator[
      org.apache.spark.sql.catalyst.InternalRow],
    dataTypes: Array[org.apache.spark.sql.types.DataType],
    nullables: Array[Boolean])
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    batchFunc.isDefined && (p match {
      case b: SnapBucketPartition => b.files.forall(_.sidecars.isEmpty)
      case _ => false
    })

  private def reader[T](it: Iterator[T])
      : org.apache.spark.sql.connector.read.PartitionReader[T] =
    new org.apache.spark.sql.connector.read.PartitionReader[T] {
      private var row: T = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): T = row
      override def close(): Unit = ()
    }

  /** A masked file's surviving rows: read with the row-index generator
    * column, drop positions recorded deleted (executor-cached, deduped,
    * binary-searched), project the index column back off — the
    * ordinary dv scan's read, per bucket file. */
  private def maskedRows(s: SnapBucketFileSlice)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val positions = DvMaskingReaderFactory.positionsFor(
      s.canonKey, s.sidecars, readSidecar)
    val idxOrdinal = dataTypes.length
    val proj = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(dataTypes.indices.map(i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, dataTypes(i), nullables(i))))
    maskedReadFunc(s.path, 0L, Long.MaxValue).collect {
      case r if java.util.Arrays.binarySearch(positions,
          r.getLong(idxOrdinal)) < 0 => proj(r)
    }
  }

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] =
    reader(p.asInstanceOf[SnapBucketPartition].files.iterator.flatMap {
      s => if (s.sidecars.isEmpty) rowFunc(s.path) else maskedRows(s)
    })

  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    reader(p.asInstanceOf[SnapBucketPartition].files.iterator
      .flatMap(s => batchFunc.getOrElse(sys.error(
        "columnar read requested but supportColumnarReads said no"))(s.path)))
}

/** A byte-range SPLIT of a prune-surviving data file that carries a
  * deletion mask, plus the file's sidecar paths and pre-resolved
  * canonical key. `start`/`length` bound the row groups this task
  * reads (midpoint assignment — large masked files split like clean
  * ones; `length = Long.MaxValue` = the whole file). The deleted
  * positions are NOT shipped: the executor task reads its own file's
  * share out of the sidecars (they record every masked file's
  * positions — filter by canonical key) or hits the executor-side
  * positions cache, so the mask never materializes anywhere whole,
  * and the SQL path carries masks of any size. */
private case class DvMaskedFilePartition(path: String, canonKey: String,
    sidecars: Seq[String], start: Long, length: Long) extends InputPartition

/** The reader factory for a merge-on-read snapshot scan: clean
  * partitions delegate to the inner parquet factory untouched; a
  * [[DvMaskedFilePartition]] first loads ITS file's deleted positions
  * from the sidecars (executor-side, churn-sized), then reads its file
  * through Spark's own parquet reader with the row-index generator
  * column appended, DROPS masked rows, and projects the index column
  * back off — Delta's deletion-vector read inside the DSv2 surface, at
  * this log's minimum. The whole scan runs row-based (see
  * `columnarSupportMode`); the masked read itself still decodes
  * vectorized inside `readFunc` (the row-flattened batches of
  * [[Bridge.parquetFileRangeRows]]). Cost shape, stated: a masked
  * file's positions load once per (file, executor) — the per-executor
  * [[DvMaskingReaderFactory.positionsCache]] keyed by (canonical key,
  * sidecar list) serves every SPLIT of the file and every later query
  * of the same version from memory (sidecar files are immutable: new
  * marks publish NEW sidecars, so a key can never go stale) — so k
  * masked files sharing s sidecars pay at most k×s churn-sized
  * sidecar reads per executor, independent of split count,
  * distributed across tasks, never on the driver, and bounded by
  * compaction like the rest of the dv'd regime. */
private class DvMaskingReaderFactory(
    inner: PartitionReaderFactory,
    readFunc: (String, Long, Long) => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    readSidecar: String => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    dataTypes: Array[org.apache.spark.sql.types.DataType],
    nullables: Array[Boolean]) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: DvMaskedFilePartition => false
    case other => inner.supportColumnarReads(other)
  }

  private def positionsFor(canonKey: String,
      sidecars: Seq[String]): Array[Long] =
    DvMaskingReaderFactory.positionsFor(canonKey, sidecars, readSidecar)

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = p match {
    case DvMaskedFilePartition(path, canonKey, sidecars, start, length) =>
      new org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] {
        private val positions = positionsFor(canonKey, sidecars)
        private val it = readFunc(path, start, length)
        // the row-index generator column rides LAST in the read schema
        private val idxOrdinal = dataTypes.length
        private val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(dataTypes.indices.map(i =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, dataTypes(i), nullables(i))))
        private var row: org.apache.spark.sql.catalyst.InternalRow = _
        override def next(): Boolean = {
          while (it.hasNext) {
            val r = it.next()
            if (java.util.Arrays.binarySearch(positions,
                r.getLong(idxOrdinal)) < 0) {
              row = proj(r)
              return true
            }
          }
          false
        }
        override def get(): org.apache.spark.sql.catalyst.InternalRow = row
        override def close(): Unit = ()
      }
    case other => inner.createReader(other)
  }

  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(p)
}

private[graftbridge] object DvMaskingReaderFactory {

  /** This file's deleted positions, from its sidecars — executor-side,
    * memoizing the per-row file-spelling canonicalization (rows of one
    * file repeat; toRealPath is a syscall). Sorted for binary search.
    * Duplicates (re-marks across successive MOR commits) collapse.
    * Shared by the ordinary masked partitions and the BUCKET scan's
    * masked files (one positions cache per executor either way). */
  private def loadPositions(canonKey: String, sidecars: Seq[String],
      readSidecar: String => Iterator[
        org.apache.spark.sql.catalyst.InternalRow]): Array[Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    val memo = new java.util.HashMap[String, java.lang.Boolean]()
    sidecars.foreach { sc =>
      readSidecar(sc).foreach { r =>
        val f = r.getUTF8String(0).toString
        val hit = memo.computeIfAbsent(f,
          k => java.lang.Boolean.valueOf(Bridge.canonKey(k) == canonKey))
        if (hit) set.add(r.getLong(1)): Unit
      }
    }
    val out = new Array[Long](set.size())
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  private[graftbridge] def positionsFor(canonKey: String,
      sidecars: Seq[String],
      readSidecar: String => Iterator[
        org.apache.spark.sql.catalyst.InternalRow]): Array[Long] =
    positionsCache.get((canonKey, sidecars),
      () => loadPositions(canonKey, sidecars, readSidecar))

  /** Per-executor (JVM-static) positions cache: (canonical file key,
    * sidecar path list) → the file's sorted deleted positions. Sound
    * to cache FOREVER — sidecar files are immutable once published
    * (new marks land in NEW sidecars, so a later version of the same
    * file carries a DIFFERENT sidecar list and misses) — but bounded
    * anyway: LRU over entry count plus a total-positions ceiling, so
    * a long-lived executor serving many masked tables cannot grow a
    * mask museum. The win it buys: a split masked file's N range
    * tasks (and every later query of the same version on this
    * executor) load the sidecars ONCE instead of N times. */
  private final class BoundedPositionsCache(maxEntries: Int,
      maxTotalPositions: Long) {
    private var totalPositions = 0L
    private val map = new java.util.LinkedHashMap[
        (String, Seq[String]), Array[Long]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), Array[Long]])
          : Boolean = {
        val evict = size() > maxEntries || totalPositions > maxTotalPositions
        if (evict) totalPositions -= e.getValue.length
        evict
      }
    }
    def get(key: (String, Seq[String]), load: () => Array[Long])
        : Array[Long] = synchronized {
      val hit = map.get(key)
      if (hit != null) hit
      else {
        val v = load()
        totalPositions += v.length
        map.put(key, v): Unit
        v
      }
    }
  }

  // 64 files × up to ~32M positions total (256 MB of longs ceiling;
  // typical masks are orders of magnitude smaller)
  private val positionsCache = new BoundedPositionsCache(64, 32L * 1024 * 1024)
}
