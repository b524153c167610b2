package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Minimal bridge into `private[sql]` constructors: building a DataFrame
  * from a custom LogicalPlan requires `Dataset.ofRows`, which Spark
  * deliberately keeps internal. Extension libraries conventionally host
  * a bridge in the org.apache.spark.sql namespace for exactly this
  * (same approach as public Spark connector/extension projects).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** The micro-batch DataFrame a V1 streaming Sink receives, rebound
    * as a BATCH frame over the same physical rows — Spark's own
    * ForeachBatchSink recipe (`LogicalRDD.fromDataset(toRdd, …,
    * isStreaming = false)`): the incremental plan executes once, and
    * ordinary batch actions (a parquet write, a count) run on the
    * result without tripping the "streaming queries must use
    * writeStream" analysis guard. */
  def unstream(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      rdd = ds.queryExecution.toRdd, originDataset = ds,
      isStreaming = false)
    Dataset.ofRows(ds.sparkSession, node)
  }

  /** Whether a planner strategy of the given class is registered in
    * this session (extension-injected strategies live in the session
    * state's planner, which is `private[sql]`). Lets programmatic
    * operators that REQUIRE their strategy fail with a clear
    * "register the extension" message instead of a planner assertion. */
  def hasStrategy(spark: SparkSession, strategyClass: Class[_]): Boolean =
    spark.asInstanceOf[ClassicSession].sessionState.planner.strategies
      .exists(s => strategyClass.isInstance(s))

  /** A SERIALIZABLE path→rows function built on the driver from
    * Spark's own parquet reader ([[org.apache.spark.sql.execution
    * .datasources.parquet.ParquetFileFormat]].buildReaderWithPartitionValues
    * — the exact machinery FileSourceScanExec ships to executors, which
    * is why the returned closure is safe to put in a DSv2
    * PartitionReaderFactory: it captures a broadcast Hadoop conf, not
    * the session). Used by the snapshot-log streaming source, whose
    * micro-batches are manifest file lists rather than a directory
    * Spark can scan itself. The reader may hand back vectorized
    * ColumnarBatches type-lied as InternalRow (the FileScanRDD
    * contract); the wrapper flattens them to rows. File length is
    * resolved on the executor from the local path — the same
    * local-filesystem scope as the log itself. */
  def parquetFileRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      // advisory v1 filters for parquet row-group/page skipping inside
      // each file — the reader may still return non-matching rows
      // (record-level filtering stays off), so callers keep their own
      // residual semantics. Row-index generation stays ABSOLUTE under
      // skipping (the generator reads the page store's row ranges —
      // Spark's own `_metadata.row_index` contract).
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : String => Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val ranged = parquetFileRangeRows(spark, schema, filters)
    (path: String) => ranged(path, 0L, Long.MaxValue)
  }

  /** [[parquetFileRows]] with a BYTE RANGE — the split form the masked
    * snapshot scan uses so one large dv'd file parallelizes across
    * tasks like a clean file would: each range reads exactly the row
    * groups whose midpoint falls inside it (parquet-mr's own
    * midpoint-assignment rule, the same one Spark's file splits rely
    * on), so ranges covering [0, fileLen) partition the file's row
    * groups disjointly and completely. Row-index generation stays
    * ABSOLUTE under range reads AND row-group skipping (the generator
    * reads the page store's row ranges — Spark's own
    * `_metadata.row_index` contract), which is what keeps deletion
    * masks correct across split boundaries. `length = Long.MaxValue`
    * clamps to the file's size (the whole-file read). */
  def parquetFileRangeRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : (String, Long, Long) => Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val readFunc = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
      .buildReaderWithPartitionValues(
        spark.asInstanceOf[ClassicSession],
        dataSchema = schema,
        partitionSchema = new org.apache.spark.sql.types.StructType(),
        requiredSchema = schema,
        filters = filters,
        // row output, not vectorized batches: the consumer is a DSv2
        // PartitionReader[InternalRow] (Spark 4 makes this explicit)
        options = Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.asInstanceOf[ClassicSession].sessionState
          .newHadoopConf())
    (path: String, start: Long, length: Long) => {
      val fileLen = new java.io.File(path).length()
      val len = math.min(length, math.max(0L, fileLen - start))
      val pf = org.apache.spark.sql.execution.datasources.PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(path),
        start, len)
      readFunc(pf).asInstanceOf[Iterator[Any]].flatMap {
        case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(b.rowIterator()).asScala
        case r: org.apache.spark.sql.catalyst.InternalRow => Iterator.single(r)
      }
    }
  }

  /** The COLUMNAR twin of [[parquetFileRows]]: a serializable
    * path→ColumnarBatch-iterator function, or None when the vectorized
    * reader cannot serve this schema (nested shapes the reader
    * declines, or vectorization disabled) — the caller then stays on
    * the row path. Eligibility is Spark's own
    * `ParquetFileFormat.supportBatch` (the exact predicate
    * FileSourceScanExec uses to decide the same thing), so the
    * batch/row split here mirrors a batch scan's. Used by the
    * snapshot-log streaming source to serve micro-batches vectorized:
    * round 10 measured the row path at 1.98× a batch scan of the same
    * files (SCALING.md §"Snapshot-log streaming source throughput"),
    * and THIS is the lever that note named. */
  def parquetFileBatches(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      // advisory v1 filters for row-group/page skipping, exactly as on
      // the row path — record-level filtering stays off, callers keep
      // their residual semantics
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : Option[String => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = {
    val fmt = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
    val classic = spark.asInstanceOf[ClassicSession]
    if (!fmt.supportBatch(classic, schema)) return None
    val readFunc = fmt.buildReaderWithPartitionValues(
      classic,
      dataSchema = schema,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      requiredSchema = schema,
      filters = filters,
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "true"),
      hadoopConf = classic.sessionState.newHadoopConf())
    Some((path: String) => {
      val len = new java.io.File(path).length()
      val pf = org.apache.spark.sql.execution.datasources.PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(path),
        0L, len)
      readFunc(pf).asInstanceOf[Iterator[Any]].map {
        case b: org.apache.spark.sql.vectorized.ColumnarBatch => b
        case other => sys.error(
          s"vectorized parquet reader returned ${other.getClass} — " +
            "supportBatch said batches; file/schema mismatch?")
      }
    })
  }

  /** Canonical-path key for matching a parquet-recorded
    * `_metadata.file_path` spelling (a `file:` URI) against a manifest
    * path — pure function, usable on executors; falls back to
    * syntactic normalization when the path does not resolve. Shared by
    * the snapshot log's change feed and the masked SQL scan (both
    * compare sidecar rows' file spellings to manifest paths). */
  def canonKey(s: String): String = {
    val p = try java.nio.file.Paths.get(java.net.URI.create(s))
      catch { case _: Exception => java.nio.file.Paths.get(s) }
    try p.toRealPath().toString
    catch { case _: java.io.IOException =>
      p.toAbsolutePath.normalize.toString }
  }

  /** Wrap a raw Catalyst expression as a user-facing Column — the
    * programmatic twin of registering it as a SQL function and calling
    * `expr(...)`. Lets library code (e.g. the snapshot log's bloom
    * indexer) use internal expressions without requiring the session
    * extension to be installed. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** [[column]]'s inverse: the Catalyst expression under a Column —
    * for pre-flight inspection (determinism / subquery guards) of
    * caller-supplied predicates before a verb commits to them. */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered all posted events
    * (`private[spark]` in LiveListenerBus). Used by the migration
    * observability listener to make per-statement metric attribution
    * exact: the sequential apply loop drains the bus before moving to
    * the next statement's label. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
