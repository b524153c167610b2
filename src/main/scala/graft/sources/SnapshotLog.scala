package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal atomic snapshot log — the missing piece the versioned-dir
  * convention (IncrementalDemo, the foreachBatch apply test) hand-waves:
  * WHICH version is current, decided atomically, so a reader never sees
  * a half-written snapshot and concurrent readers of different versions
  * both stay consistent. This is the kernel idea of Delta/Iceberg
  * reduced to its load-bearing minimum:
  *
  *   - data files land under a writer-unique `data/v<N>-<token>/`
  *     FIRST (arbitrarily slow, crash-prone — harmless, nothing
  *     references them yet, and no two writers ever share a path);
  *   - the commit is ONE atomic manifest publish into `_log/<N>.json`
  *     (write temp + hard-link put-if-absent): after it the version exists
  *     with its full file list, before it the version does not exist
  *     at all. A crashed writer leaves dead data files, never a
  *     readable torn snapshot;
  *   - readers resolve "current" by listing `_log` and taking the
  *     max version (≤ asOf for time travel), then read exactly the
  *     manifest's files — immune to whatever later writers are doing.
  *
  * On a real object store the same recipe holds wherever a
  * put-if-absent primitive exists (S3 If-None-Match, GCS
  * generation-0 preconditions) — exactly the requirement table
  * formats document. Concurrent writers arbitrate through
  * [[commitWithRetry]] (optimistic concurrency: validate against a
  * pinned version, publish exactly that version + 1, replay on
  * conflict) and the directories losers/crashes orphan are reclaimed
  * by [[vacuum]]. A `_last_checkpoint` HINT keeps [[latestVersion]]
  * O(1) point-probes instead of an O(commits) directory listing (the
  * Delta `_last_checkpoint` idea at the same minimum — see
  * [[readCheckpoint]] for why it is never load-bearing). Commits also
  * record per-file min/max column STATS harvested from the parquet
  * footers (footer-only I/O — one ranged read per file, on the WRITE
  * path, amortized over every future pruned read), and [[readWhere]]
  * prunes the manifest's file list against them before Spark ever
  * sees a path — the Delta/Iceberg data-skipping idea at the same
  * minimum, and the read-side half of what [[graft.ops.LayoutOps]]'s
  * Z-order write layout exists to enable (ZOrderSpec measures the
  * parquet-level half of the same skip). [[commitAppend]] grows a
  * table by listing old files + new files in the next manifest — the
  * only ingestion model that exists at 100 TB — with stats carried
  * forward (O(appended files) footer reads per commit) and the
  * manifest-recorded schema ENFORCED on every append (no silent
  * widening; `mergeSchema = true` opts into ADDITIVE evolution — new
  * nullable columns with zero rewrites, see [[mergeSchemas]]; manifest
  * compaction stays a non-goal because manifests here are
  * self-contained, so reading any version is one JSON read, never a
  * log replay). SnapshotLogSpec / SnapshotStatsSpec /
  * SnapshotEvolveSpec pin the reader and writer guarantees.
  */
object SnapshotLog {

  private def logDir(tableDir: String) = Paths.get(tableDir, "_log")

  /** Jackson (bundled with Spark) for manifest serialization: the
    * pre-round-10 hand-rolled writer escaped backslashes but not double
    * quotes, and the regex reader could not tell an escaped quote from
    * a delimiter — a path containing `"` would corrupt the manifest and
    * make [[vacuum]] see committed data as unreferenced. A real JSON
    * codec closes the whole escaping class; old manifests are valid
    * JSON and parse unchanged. */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Canonical form for path comparison AND for what manifests record:
    * toRealPath RESOLVES symlinks (toAbsolutePath.normalize is only
    * syntactic); the fallback covers paths that no longer exist, which
    * by definition cannot be live data. Canonicalizing at PUBLISH time
    * makes the recorded spelling independent of the committer's cwd
    * (a relative `tableDir` used to leave relative paths in the
    * manifest, which a vacuum run from another directory would
    * mis-resolve against its own cwd). */
  private def canon(p: Path): Path =
    try p.toRealPath()
    catch { case _: java.io.IOException => p.toAbsolutePath.normalize }

  /** Every file a manifest pins against [[vacuum]]: the data files PLUS
    * any deletion-vector sidecars ([[dvOf]]) — a dv parquet is as
    * load-bearing as the data it masks (deleting one would resurrect
    * deleted rows in every version that references it). */
  private def manifestFiles(manifestPath: Path): Seq[String] = {
    val node = mapper.readTree(Files.readString(manifestPath))
    node.get("files").elements().asScala.map(_.asText()).toSeq ++
      dvOf(node).values.flatten.toSeq.distinct
  }

  // ---------------------------------------------------------------------
  // Per-file column stats: footer harvest at commit, pruning at read
  // ---------------------------------------------------------------------

  /** Harvest per-file min/max/null column stats from parquet FOOTERS —
    * no data pages are read; on an object store this is one ranged GET
    * per freshly-written file, paid once on the write path (exactly the
    * Iceberg recipe; Delta gets the same numbers from write-time
    * collectors). Recorded in the manifest as
    * `stats.<file>.<col> = {min, max, nulls}` (or `{allNull: true}`),
    * so [[readWhere]] can prune files without touching storage at all.
    *
    * What gets stats — deliberately conservative, because a wrong stat
    * PRUNES COMMITTED DATA: only top-level columns whose parquet
    * primitive type has an unambiguous cross-layer ordering.
    *   - INT32/INT64 (plain or signed-int annotated) → recorded as long;
    *   - INT32 + Date annotation → recorded as long EPOCH DAYS (the
    *     value Spark's DateType carries internally — one fixed unit,
    *     no reader ambiguity);
    *   - INT64 + Timestamp annotation in MICROS → recorded as long
    *     micros verbatim (Spark reads any MICROS file — adjusted or
    *     not — as Timestamp/TimestampNTZ with internal micros); MILLIS
    *     → ×1000 at harvest (exact; overflow-guarded). NANOS is
    *     SKIPPED deliberately: its Spark-side value depends on the
    *     reader session (`nanosAsLong` → raw nanos as LongType, else
    *     floor-divided micros), and a manifest is read by any session
    *     — a recorded unit could mis-prune the other kind of reader;
    *   - FLOAT/DOUBLE (plain) → recorded as double (float widens
    *     exactly);
    *   - BINARY + String annotation → recorded as text, but ONLY when
    *     both bounds are pure ASCII: parquet orders UTF8 binaries by
    *     unsigned byte (= code point), Java strings by UTF-16 code
    *     unit, and the two collations diverge above the BMP's surrogate
    *     range — inside ASCII they provably coincide, so beyond it the
    *     column's stats are DROPPED for that file rather than risk a
    *     wrong prune.
    * Everything else (nanos timestamps, decimals, nested paths, INT96,
    * booleans) is skipped: no stats ⇒ never pruned ⇒ always correct.
    * A row group whose statistics are missing/empty invalidates the
    * column for the whole file for the same reason. */
  private def footerColStats(file: String)
      : Map[String, com.fasterxml.jackson.databind.node.ObjectNode] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      new org.apache.hadoop.conf.Configuration())
    val footer =
      Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in))(_.getFooter)
    // per-column fold across row groups: Left(()) = invalidated,
    // Right((lo, hi, nulls, sawValue)) with lo/hi null while only
    // all-null groups have been seen
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, Either[Unit, (Any, Any, Long, Boolean)]]
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Double, y: Double) => x < y
      case (x: String, y: String) => x < y
      case _                      => sys.error(s"unreachable mixed stat kinds: $a / $b")
    }
    for (block <- footer.getBlocks.asScala; cc <- block.getColumns.asScala) {
      val path = cc.getPath.toArray
      if (path.length == 1) {
        val name = path(0)
        if (!acc.get(name).contains(Left(()))) {
          val pt = cc.getPrimitiveType
          val ann = pt.getLogicalTypeAnnotation
          // scale = the exact factor that maps the stored integer to
          // the unit Spark's internal value uses (1 except MILLIS
          // timestamps, which Spark reads as micros = stored × 1000)
          var scale = 1L
          val supported = pt.getPrimitiveTypeName match {
            case INT32 | INT64 => ann == null ||
              (ann match {
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit match {
                    case LogicalTypeAnnotation.TimeUnit.MICROS => true
                    case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                      scale = 1000L; true
                    case _ => false // NANOS: reader-dependent unit
                  }
                case _ => false
              })
            case FLOAT | DOUBLE => ann == null
            case BINARY =>
              ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            case _ => false
          }
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            cc.getStatistics
          if (!supported || st == null) acc(name) = Left(())
          else if (!st.hasNonNullValue) {
            // bounds absent: this is a genuinely all-null row group
            // ONLY if the null count is set and accounts for every row
            // — anything else means the writer dropped stats, which
            // invalidates the column for the whole file
            if (st.isNumNullsSet && st.getNumNulls == block.getRowCount) {
              val prev = acc.getOrElse(name, Right((null, null, 0L, false)))
              acc(name) = prev.map { case (lo, hi, n, saw) =>
                (lo, hi, if (n < 0) -1L else n + st.getNumNulls, saw) }
            } else acc(name) = Left(())
          } else {
            def norm(v: Any): Option[Any] = v match {
              case i: java.lang.Integer => Some(i.longValue * scale)
              case l: java.lang.Long =>
                // scale exactly or not at all (a saturated bound could
                // mis-order against in-range values)
                if (scale != 1L && math.abs(l.longValue) > Long.MaxValue / scale) None
                else Some(l.longValue * scale)
              case f: java.lang.Float   => Some(f.doubleValue)
              case d: java.lang.Double  => Some(d.doubleValue)
              case b: org.apache.parquet.io.api.Binary =>
                val s = b.toStringUsingUTF8
                if (s.forall(_ < 0x80)) Some(s) else None
              case _ => None
            }
            (norm(st.genericGetMin), norm(st.genericGetMax)) match {
              case (Some(mn), Some(mx)) =>
                val prev = acc.getOrElse(name, Right((null, null, 0L, false)))
                acc(name) = prev.map { case (lo, hi, n, _) =>
                  // an UNSET num_nulls (-1) must never read as "0 nulls":
                  // pruneIsNull treats nulls==0 as proof the file has no
                  // NULL rows. Poison the running count instead (the
                  // `nulls` field is then omitted and IS NULL keeps the
                  // file), mirroring the all-null branch's isNumNullsSet
                  // guard — min/max pruning is unaffected.
                  (if (lo == null || lt(mn, lo)) mn else lo,
                    if (hi == null || lt(hi, mx)) mx else hi,
                    if (n < 0 || !st.isNumNullsSet) -1L else n + st.getNumNulls,
                    true)
                }
              case _ => acc(name) = Left(())
            }
          }
        }
      }
    }
    acc.collect {
      case (name, Right((lo, hi, nulls, saw))) =>
        val node = mapper.createObjectNode()
        if (!saw) node.put("allNull", true)
        else {
          def put(field: String, v: Any): Unit = v match {
            case x: Long   => node.put(field, x): Unit
            case x: Double => node.put(field, x): Unit
            case x: String => node.put(field, x): Unit
          }
          put("min", lo)
          put("max", hi)
        }
        // nulls == -1 means some row group left num_nulls unset; omitting
        // the field keeps the file under pruneIsNull's conservative rule
        if (nulls >= 0) node.put("nulls", nulls): Unit
        name -> node
    }.toMap ++ {
      // the file's ROW COUNT rides as the reserved pseudo-column
      // ":rows" (an ObjectNode like every stats value, so every
      // carry/copy path moves it verbatim; readers look columns up by
      // name and never see it). Footer block counts are exact and
      // free — the footer is already open. What it buys: the catalog
      // can answer ungrouped COUNT(*)/COUNT(col) (and, with min/max,
      // MIN/MAX) from the manifest alone — zero data I/O at any table
      // size (the Iceberg/Delta metadata-aggregate shortcut). A real
      // parquet column literally named ":rows" (legal in the format,
      // unreachable from Spark's writer) would collide: skip the
      // pseudo-column entirely for such a file — aggregates then
      // decline to a plain scan, never mis-answer.
      if (acc.contains(":rows")) Map.empty[String,
        com.fasterxml.jackson.databind.node.ObjectNode]
      else {
        val rNode = mapper.createObjectNode()
        rNode.put("n", footer.getBlocks.asScala.map(_.getRowCount).sum): Unit
        Map(":rows" -> rNode)
      }
    } ++ {
      // the file's ON-DISK SIZE as the reserved pseudo-column ":bytes"
      // (field "b") — the footer's input file is already open, so the
      // length is free. What it buys: scan-planning statistics
      // (AQE/broadcast sizing) answer from the manifest instead of one
      // driver-side filesystem stat PER KEPT FILE PER QUERY PLAN —
      // at 100k files on an object store that was 100k HEAD requests
      // per plan. Same collision rule as ":rows": a real column named
      // ":bytes" keeps its harvested stats and the pseudo-stat is
      // skipped (consumers fall back to stat-at-plan, never mis-read).
      if (acc.contains(":bytes")) Map.empty[String,
        com.fasterxml.jackson.databind.node.ObjectNode]
      else {
        val bNode = mapper.createObjectNode()
        bNode.put("b", in.getLength): Unit
        Map(":bytes" -> bNode)
      }
    }
  }

  /** Decide from manifest stats whether `file` can hold a row with
    * `column` in [lower, upper] (either bound optional). `null` /
    * missing stats ⇒ keep — pruning is only ever an optimization; the
    * exact residual filter in [[readWhere]] carries the semantics.
    * Comparisons go through BigDecimal when either side is fractional
    * (a long→double cast above 2^53 could otherwise prune wrongly);
    * kind-mismatched bounds (a string bound against numeric stats)
    * keep the file. */
  /** Temporal bounds → the long unit the harvest records (epoch days
    * for dates, epoch micros for timestamps; LocalDateTime is NTZ and
    * pairs with not-adjusted micros files, whose internal value is the
    * same micros under the engine's pinned UTC sessions). Non-temporal
    * bounds pass through untouched. */
  private def normBound(b: Any): Any = {
    def micros(i: java.time.Instant): Long =
      math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong)
    // an overflowing extreme (Instant.MAX-ish) keeps its original form,
    // which the comparator treats as kind-mismatched → file kept
    def safe(f: => Long): Any =
      try f catch { case _: ArithmeticException => b }
    b match {
      case d: java.sql.Date           => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate     => d.toEpochDay
      case t: java.sql.Timestamp      => safe(micros(t.toInstant))
      case i: java.time.Instant       => safe(micros(i))
      case l: java.time.LocalDateTime =>
        safe(micros(l.toInstant(java.time.ZoneOffset.UTC)))
      case other => other
    }
  }

  private def keepFile(stats: com.fasterxml.jackson.databind.JsonNode,
      file: String, column: String, rawLower: Option[Any],
      rawUpper: Option[Any]): Boolean = {
    val lower = rawLower.map(normBound)
    val upper = rawUpper.map(normBound)
    if (lower.isEmpty && upper.isEmpty) return true
    if (stats == null) return true
    val cols = stats.get(file)
    if (cols == null) return true
    val st = cols.get(column)
    if (st == null) return true
    if (st.path("allNull").asBoolean(false))
      return false // a range bound never selects NULL
    val (mn, mx) = (st.get("min"), st.get("max"))
    if (mn == null || mx == null) return true
    def cmp(node: com.fasterxml.jackson.databind.JsonNode, bound: Any): Option[Int] =
      bound match {
        case s: String if node.isTextual => Some(node.asText.compareTo(s))
        // non-finite bound: BigDecimal can't represent NaN/Infinity —
        // keep the file (the residual filter decides), per the
        // odd-bounds contract above
        case d: Double if !java.lang.Double.isFinite(d) => None
        case f: Float if !java.lang.Float.isFinite(f) => None
        case (_: Long | _: Int | _: Double | _: Float) if node.isNumber =>
          Some(node.decimalValue.compareTo(new java.math.BigDecimal(bound.toString)))
        case _ => None
      }
    val aboveRange = upper.exists(u => cmp(mn, u).exists(_ > 0)) // min > upper
    val belowRange = lower.exists(l => cmp(mx, l).exists(_ < 0)) // max < lower
    !(aboveRange || belowRange)
  }

  // ---------------------------------------------------------------------
  // Column mapping: logical names over immutable physical names
  // ---------------------------------------------------------------------

  /** The manifest's logical→physical column map — EMPTY means identity
    * (the common case: a table that has never been renamed/dropped
    * carries no map and pays zero indirection). When present it maps
    * EVERY column of the recorded schema (activation materializes the
    * identity entries), so a mapped table's resolution never guesses. */
  private[sources] def colmapOf(
      node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(node.get("colmap")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)

  /** Physical names no longer mapped by any LIVE column but present in
    * committed files ([[dropColumn]] retires them). A later re-ADD of
    * the same logical name must take a FRESH physical name, else
    * parquet's by-name matching would resurrect the dropped column's
    * data out of the old files into the new column. */
  private def retiredOf(
      node: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    Option(node.get("retired")).map(_.elements().asScala
      .map(_.asText()).toSeq).getOrElse(Nil)

  /** A manifest's DELETION-VECTOR map: data file → the sidecar parquet
    * files holding its deleted row positions (`file` = the data file's
    * Spark-reported `_metadata.file_path` spelling, `pos` = absolute
    * `_metadata.row_index`), written by [[deleteWhereInMOR]]. A file
    * absent from the map has no deleted rows; a file may accumulate
    * several sidecars across successive MOR deletes (deleted = the
    * UNION of their positions — re-marking an already-deleted position
    * is a harmless duplicate under the anti-join). Empty on tables
    * that have never MOR-deleted. */
  private[sources] def dvOf(
      node: com.fasterxml.jackson.databind.JsonNode): Map[String, Seq[String]] =
    Option(node.get("dv")).map(_.properties().asScala.map(e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq)
      .toMap).getOrElse(Map.empty)

  /** One row of [[history]]: which verb published the version, when
    * (epoch millis; 0 on pre-provenance manifests, whose `op` reads
    * "unknown"), and the manifest's file / dv-sidecar counts. */
  final case class VersionEntry(version: Long, op: String, tsMillis: Long,
      files: Int, dvFiles: Int)

  /** DESCRIBE HISTORY at this log's minimum: the surviving manifests'
    * operation provenance, newest first. Reads only the `_log`
    * directory (one small JSON per version — no data I/O); versions
    * removed by [[expireVersions]] are simply absent, the same
    * contiguous-suffix shape every other reader sees. Advisory
    * metadata: nothing in the read path depends on it, which is what
    * lets pre-provenance manifests coexist as "unknown". */
  def history(tableDir: String): Seq[VersionEntry] = {
    val ld = logDir(tableDir)
    if (!Files.isDirectory(ld)) return Nil
    listDir(ld)
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.startsWith("."))
      .map { p =>
        val node = mapper.readTree(Files.readString(p))
        VersionEntry(
          p.getFileName.toString.stripSuffix(".json").toLong,
          Option(node.get("op")).map(_.asText()).getOrElse("unknown"),
          Option(node.get("ts")).map(_.asLong()).getOrElse(0L),
          node.get("files").size(),
          dvOf(node).values.flatten.toSeq.distinct.size)
      }
      .sortBy(-_.version)
  }

  /** The verb that published version `v` ("unknown" pre-provenance) —
    * [[history]]'s single-version point read, for DESCRIBE TABLE. */
  private[sources] def opAt(tableDir: String, v: Long): String = {
    val p = logDir(tableDir).resolve(s"$v.json")
    if (!Files.exists(p)) return "unknown"
    Option(mapper.readTree(Files.readString(p)).get("op"))
      .map(_.asText()).getOrElse("unknown")
  }

  /** [[dvOf]] at an exact committed version — which data files carry a
    * merge-on-read deletion mask, and through which sidecars. Public
    * observability (the streaming source's change detection, specs,
    * and "do I need [[compactDeletes]]?" asks) — empty means every row
    * in the version's files is live. */
  def dvAt(tableDir: String, v: Long): Map[String, Seq[String]] = {
    val p = logDir(tableDir).resolve(s"$v.json")
    require(Files.exists(p), s"no version $v in $tableDir")
    dvOf(mapper.readTree(Files.readString(p)))
  }

  private def physName(colmap: Map[String, String], c: String): String =
    colmap.getOrElse(c, c)

  /** The schema to hand the parquet reader: the logical schema with
    * each top-level field renamed to its immutable physical name
    * (types, nullability, order, metadata untouched — mapping is
    * top-level-only, like stats and evolution). */
  private def physSchema(logical: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      logical.fields.map(f => f.copy(name = physName(colmap, f.name))))

  /** Read `files` under their PHYSICAL schema with merge-on-read
    * DELETION VECTORS applied — the one funnel every data-file read
    * shares (plain reads via [[readFiles]], the DML rewrites directly),
    * so a dv-masked row cannot leak through any path. Files without a
    * dv entry read exactly as before (zero overhead for the common
    * case); dv'd files materialize their `_metadata` (file_path,
    * row_index) as ordinary columns and LEFT-ANTI join the union of
    * their sidecars on (file, pos) — Delta's deletion-vector read at
    * this log's minimum, expressed as a plan instead of a custom
    * reader. The dv side is sidecar-sized (deleted positions only), so
    * AQE broadcasts it in practice; row_index is absolute within the
    * file by Spark's metadata contract, so the mask is stable under
    * row-group skipping and any pushed filters. */
  /** Masks holding at most this many POSITIONS ride INSIDE the plan
    * as a [[graft.functions.DvMaskHit]] filter (one codegen'd
    * scan-filter pipeline, ~3× the anti-join's masked-read throughput
    * — NOTES_r15.md §5, PLANS_r15.md); bigger masks keep the broadcast
    * anti-join, which is exactly the machinery built for a build side
    * too big to ship with the plan. Gated on the sidecars' footer ROW COUNTS
    * (cheap driver-side footer reads, no job), NOT file bytes: parquet
    * delta/dictionary encoding packs sorted (file, pos) rows 10-100×
    * denser than their in-memory form, so a byte gate would admit
    * masks whose driver-side collect ran the driver out of memory.
    * 4M positions ≈ 32 MB of unboxed longs in the plan (the transient
    * boxed collect stays low hundreds of MB). Overridable per session
    * via `spark.graft.dv.inlineMaskMaxPositions` (0 forces the join
    * path — the spec's lever; production reasons to touch it are
    * rare). */
  private[sources] def dvInlineMaskMaxPositions(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.inlineMaskMaxPositions")
      .map(_.toLong).getOrElse(4L * 1024 * 1024)


  /** Total deleted positions across `sidecars`, from parquet footer
    * row counts — one ranged footer read per sidecar, no Spark job.
    * An unreadable sidecar counts as "too big": the caller then takes
    * the join path (or refuses, on the SQL surface), and the actual
    * read fails loudly there if the file is genuinely corrupt. The
    * first unreadable footer short-circuits to Long.MaxValue — summing
    * per-file sentinels could overflow negative past ~1024 corrupt
    * sidecars and spuriously pass the `<= inlineMax` gate. */
  private[graft] def sidecarPositionCount(sidecars: Seq[String]): Long = {
    var total = 0L
    val it = sidecars.iterator
    while (it.hasNext) {
      val f = it.next()
      val n =
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f),
            new org.apache.hadoop.conf.Configuration())
          Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in))(
            _.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
        } catch { case _: Exception => return Long.MaxValue }
      total = try math.addExact(total, n)
              catch { case _: ArithmeticException => return Long.MaxValue }
    }
    total
  }

  private def readPhysical(spark: SparkSession, files: Seq[String],
      physSchemaOpt: Option[org.apache.spark.sql.types.StructType],
      dv: Map[String, Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{col, collect_list, not}
    // a ZERO-file manifest (a freshly CREATE TABLE'd genesis, or a
    // table whose every row was deleted by a full-replacement commit)
    // reads as the empty relation under the recorded schema — the
    // parquet reader wants at least one path, and an empty local
    // relation is the honest plan anyway
    if (files.isEmpty) physSchemaOpt match {
      case Some(s) => return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s)
      case None => sys.error(
        "zero-file manifest without a recorded schema — nothing shapes " +
          "the empty relation (this manifest came from committing an " +
          "empty, partition-less DataFrame; use createTable to record " +
          "a schema for an empty genesis)")
    }
    def plain(fs: Seq[String]): DataFrame =
      physSchemaOpt.fold(spark.read)(spark.read.schema).parquet(fs: _*)
    val dvd = files.filter(dv.contains)
    if (dvd.isEmpty) plain(files)
    else {
      val clean = files.filterNot(dv.contains)
      val sidecars = dvd.flatMap(dv).distinct
      val fp = "_graft_dv_fp"
      val ri = "_graft_dv_ri"
      val withMeta = plain(dvd)
        .select(col("*"), col("_metadata.file_path").as(fp),
          col("_metadata.row_index").as(ri))
      val inlineMax = dvInlineMaskMaxPositions(spark)
      val positions = sidecarPositionCount(sidecars)
      val masked =
        (if (positions <= inlineMax && inlineMax > 0) {
          // small mask: collect per-file sorted positions (one
          // sidecar-sized job) and evaluate in-plan — no join
          val mask: Map[String, Array[Long]] =
            spark.read.schema("file STRING, pos LONG").parquet(sidecars: _*)
              .groupBy("file").agg(collect_list("pos").as("ps"))
              .collect().map { r =>
                r.getString(0) -> r.getSeq[Long](1).toArray.sorted
              }.toMap
          import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          withMeta.filter(not(org.apache.spark.sql.graftbridge.Bridge.column(
            graft.functions.DvMaskHit(UnresolvedAttribute(Seq(fp)),
              UnresolvedAttribute(Seq(ri)), mask))))
        } else {
          val marks = spark.read.schema("file STRING, pos LONG")
            .parquet(sidecars: _*)
          withMeta.join(marks,
            col(fp) === marks("file") && col(ri) === marks("pos"),
            "left_anti")
        }).drop(fp, ri)
      if (clean.isEmpty) masked else masked.unionByName(plain(clean))
    }
  }

  /** Read `files` under the mapping: plan from the PHYSICAL schema
    * (what the parquet actually contains), then alias every column back
    * to its logical name — one positional projection, free at plan
    * time. Identity tables keep the exact pre-mapping plan. Deletion
    * vectors, when present, mask through [[readPhysical]]. */
  private def readFiles(spark: SparkSession, files: Seq[String],
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String],
      dv: Map[String, Seq[String]] = Map.empty): DataFrame =
    if (colmap.isEmpty) readPhysical(spark, files, schemaOpt, dv)
    else {
      val logical = schemaOpt.getOrElse(sys.error(
        "mapped table without a recorded schema — unreachable: the map " +
          "is only ever activated on schema-recording manifests"))
      readPhysical(spark, files, Some(physSchema(logical, colmap)), dv)
        .toDF(logical.fieldNames.toIndexedSeq: _*)
    }

  /** The latest manifest's mapping applied to a pinned logical schema —
    * the streaming source captures this ONCE at stream construction:
    * physical names are immutable, so the capture stays correct through
    * any later rename (metadata-only, physicals unchanged) and through
    * a mid-stream drop (the pinned physical still resolves against old
    * files and null-fills from post-drop appends, the same PINNED-schema
    * contract evolution already established). */
  private[sources] def physicalizeLatest(tableDir: String,
      logical: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    latestVersion(tableDir).map { v =>
      val node = mapper.readTree(
        Files.readString(logDir(tableDir).resolve(s"$v.json")))
      physSchema(logical, colmapOf(node))
    }.getOrElse(logical)

  /** The manifest's (files, stats-node, schema, colmap, dv) for the
    * resolved version — stats is null for pre-stats manifests (which
    * simply never prune), schema is None for pre-schema manifests
    * (whose reads fall back to footer inference), colmap is empty for
    * identity tables, dv is empty for tables without merge-on-read
    * deletes. */
  private def manifestFor(tableDir: String, asOf: Option[Long])
      : (Seq[String], com.fasterxml.jackson.databind.JsonNode,
        Option[org.apache.spark.sql.types.StructType], Map[String, String],
        Map[String, Seq[String]]) = {
    val v = resolveVersion(tableDir, asOf)
    val node = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$v.json")))
    val schema = Option(node.get("schema")).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    (node.get("files").elements().asScala.map(_.asText()).toSeq,
      node.get("stats"), schema, colmapOf(node), dvOf(node))
  }

  /** Footer harvest over a batch of freshly-written files, shared by
    * every publishing path. Parallel on the driver (footer reads are
    * independent ranged I/O; Jackson's ObjectMapper is thread-safe
    * post-configuration) — a 10k-file append's harvest is then bounded
    * by I/O concurrency, not a serial loop. Stats are an optimization,
    * so a harvest failure degrades that file to stat-less
    * (never-pruned) rather than failing the commit. */
  private def harvestStats(files: Seq[String])
      : Map[String, Map[String, com.fasterxml.jackson.databind.node.ObjectNode]] = {
    import scala.collection.parallel.CollectionConverters._
    files.par.map { f =>
      f -> (try footerColStats(f) catch { case _: Exception => Map.empty[
        String, com.fasterxml.jackson.databind.node.ObjectNode] })
    }.seq.filter(_._2.nonEmpty).toMap
  }

  /** A prior manifest's stats entries for `files`, copied verbatim —
    * the carry-forward shared by [[commitAppend]] and [[deleteWhere]]:
    * committed files are never re-harvested. */
  private def carriedStats(manifest: com.fasterxml.jackson.databind.JsonNode,
      files: Seq[String])
      : Map[String, Map[String, com.fasterxml.jackson.databind.node.ObjectNode]] =
    Option(manifest.get("stats")) match {
      case None => Map.empty
      case Some(sNode) => files.flatMap { f =>
        Option(sNode.get(f)).map { cols =>
          f -> cols.properties().asScala.map(e =>
            e.getKey -> e.getValue.asInstanceOf[
              com.fasterxml.jackson.databind.node.ObjectNode]).toMap
        }
      }.toMap
    }

  /** EXACT-version manifest access for [[SnapshotCatalog]]'s
    * `VERSION AS OF` (catalog addressing is precise — a missing
    * version is a loud error, unlike [[read]]'s newest-at-or-before
    * `asOf` convenience): (files, recorded schema). */
  private[sources] def manifestAt(tableDir: String, v: Long)
      : (Seq[String], Option[org.apache.spark.sql.types.StructType]) = {
    val p = logDir(tableDir).resolve(s"$v.json")
    require(Files.exists(p), s"no version $v in $tableDir" +
      " (committed versions may have been expired)")
    val node = mapper.readTree(Files.readString(p))
    (node.get("files").elements().asScala.map(_.asText()).toSeq,
      Option(node.get("schema")).map(s =>
        org.apache.spark.sql.types.DataType.fromJson(s.asText())
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
  }

  /** EXACT-version (files, dv, op) in ONE manifest read — what the
    * streaming source's micro-batch planner needs per version: it
    * compares consecutive versions' file lists AND dv nodes (and in
    * change-feed mode labels the version by its op), and reading them
    * together (then carrying version v's result as v+1's "previous")
    * keeps planning at one manifest read per version instead of four. */
  private[sources] def manifestFilesDvAt(tableDir: String, v: Long)
      : (Seq[String], Map[String, Seq[String]], String) = {
    val p = logDir(tableDir).resolve(s"$v.json")
    require(Files.exists(p), s"no version $v in $tableDir" +
      " (committed versions may have been expired)")
    val node = mapper.readTree(Files.readString(p))
    (node.get("files").elements().asScala.map(_.asText()).toSeq, dvOf(node),
      Option(node.get("op")).map(_.asText()).getOrElse("unknown"))
  }

  /** [[manifestAt]] plus the stats node, colmap, and dv node in ONE
    * manifest read — what [[SnapshotCatalog]]'s scan-time pruning and
    * mask application need. */
  private[sources] def manifestDetailsAt(tableDir: String, v: Long)
      : (Seq[String], com.fasterxml.jackson.databind.JsonNode,
        Option[org.apache.spark.sql.types.StructType], Map[String, String],
        Map[String, Seq[String]]) = {
    val p = logDir(tableDir).resolve(s"$v.json")
    require(Files.exists(p), s"no version $v in $tableDir" +
      " (committed versions may have been expired)")
    val node = mapper.readTree(Files.readString(p))
    (node.get("files").elements().asScala.map(_.asText()).toSeq,
      node.get("stats"),
      Option(node.get("schema")).map(s =>
        org.apache.spark.sql.types.DataType.fromJson(s.asText())
          .asInstanceOf[org.apache.spark.sql.types.StructType]),
      colmapOf(node),
      dvOf(node))
  }

  /** The BUCKET LAYOUT recorded across a version's per-file stats, if
    * consistent: (physical column, numBuckets, file → bucket id). The
    * layout lives as the reserved `:bucket` pseudo-stat on EVERY file
    * (written by [[rebucket]] and maintained by bucketed appends), so
    * it rides every stats carry/copy/rehome path untouched and — the
    * design's point — DEGRADES instead of lying: any file without the
    * entry (a COW rewrite's fresh harvest, an optimize, a MOR
    * post-image, a pre-bucket append) breaks consistency and the scan
    * simply stops reporting the partitioning. A stale claim is
    * impossible because data files are immutable: a file's recorded
    * (col, n, id) is true forever; only the TABLE-level consistency
    * can lapse. Returns None unless every file agrees on (col, n) and
    * carries a valid id. */
  private[sources] def bucketLayoutOf(
      stats: com.fasterxml.jackson.databind.JsonNode, files: Seq[String])
      : Option[(Seq[String], Int, Map[String, Int])] = {
    if (files.isEmpty || stats == null) return None
    val entries = files.map { f =>
      for {
        cols <- Option(stats.get(f))
        b <- Option(cols.get(":bucket"))
        // "col": comma-joined bucket column list (multi-column keys
        // since the same push that introduced them — a comma is not a
        // legal unquoted column character in this log's top-level-only
        // schema discipline, and single-column layouts read unchanged)
        c <- Option(b.get("col")).map(_.asText)
        n <- Option(b.get("n")).filter(_.isIntegralNumber).map(_.asInt)
        id <- Option(b.get("id")).filter(_.isIntegralNumber).map(_.asInt)
        if id >= 0 && id < n
      } yield (c, n, f -> id)
    }
    if (entries.exists(_.isEmpty)) return None
    val all = entries.flatten
    val (c0, n0) = (all.head._1, all.head._2)
    if (all.forall(e => e._1 == c0 && e._2 == n0))
      Some((c0.split(',').toSeq, n0, all.map(_._3).toMap))
    else None
  }

  /** The version's consistent bucket layout as (PHYSICAL columns, n),
    * vetted against the columns a writer is about to write — what the
    * MOR verbs consult so their churn-sized fresh files (post-images,
    * merge inserts) re-bucket and keep the [[rebucket]] layout instead
    * of shedding it (round 18; the batch-append rule extended to every
    * new-file writer whose batch carries the bucket column). */
  private def bucketSpecFor(
      statsNode: com.fasterxml.jackson.databind.JsonNode,
      prevFiles: Seq[String], writeCols: Seq[String])
      : Option[(Seq[String], Int)] =
    bucketLayoutOf(statsNode, prevFiles)
      .map { case (pcols, n, _) => (pcols, n) }
      .filter(_._1.forall(writeCols.contains))

  /** Re-partition a physically-named batch by the layout's own hash
    * arithmetic (None = pass through). The SAME Option must drive the
    * post-write [[annotateBuckets]]: annotating files this did not
    * arrange would record ids the rows don't have. */
  private def rebucketBatch(out: DataFrame,
      spec: Option[(Seq[String], Int)]): DataFrame = spec match {
    case Some((pcols, n)) =>
      out.repartition(n, pcols.map(org.apache.spark.sql.functions.col): _*)
    case None => out
  }

  /** [[harvestStats]] plus `:bucket` annotation when a layout spec
    * drove the write. */
  private def harvestBucketed(files: Seq[String],
      spec: Option[(Seq[String], Int)])
      : Map[String, Map[String,
        com.fasterxml.jackson.databind.node.ObjectNode]] = spec match {
    case Some((pcols, n)) => annotateBuckets(harvestStats(files), files,
      pcols, n)
    case None => harvestStats(files)
  }

  /** Spark's task-partition index from the written file name
    * (`part-NNNNN-<uuid>…`) — for a frame repartitioned by
    * `repartition(n, col)` this IS the row set's bucket id
    * (`pmod(murmur3(col, seed 42), n)`, HashPartitioning's own
    * arithmetic; REPARTITION_BY_NUM pins the count, so AQE never
    * coalesces two buckets into one file). */
  private def bucketIdFromName(file: String): Option[Int] = {
    val name = Paths.get(file).getFileName.toString
    val m = java.util.regex.Pattern.compile("^part-(\\d+)-").matcher(name)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** Annotate freshly-harvested stats with each file's `:bucket`
    * pseudo-stat. A file whose name carries no partition index is left
    * unannotated — the layout then reads as inconsistent (degrade,
    * never lie). A harvest that already holds a `:bucket` key means a
    * real parquet column literally carries that name — skip annotation
    * (the layout degrades) rather than replace the column's harvested
    * min/max/nulls node, mirroring the harvest's own `:rows` guard. */
  private def annotateBuckets(
      stats: Map[String, Map[String,
        com.fasterxml.jackson.databind.node.ObjectNode]],
      files: Seq[String], cols: Seq[String], n: Int)
      : Map[String, Map[String,
        com.fasterxml.jackson.databind.node.ObjectNode]] =
    files.map { f =>
      val base = stats.getOrElse(f, Map.empty[String,
        com.fasterxml.jackson.databind.node.ObjectNode])
      f -> (bucketIdFromName(f) match {
        case Some(id) if id < n && !base.contains(":bucket") =>
          val b = mapper.createObjectNode()
          b.put("col", cols.mkString(",")): Unit
          b.put("n", n): Unit
          b.put("id", id): Unit
          base + (":bucket" -> b)
        case _ => base
      })
    }.toMap

  /** The membership prune stages over a caller-held manifest — the
    * catalog's scan-time entry into [[pruneCore]] (equality/IN asks:
    * stats + blooms). */
  private[sources] def pruneMembership(spark: SparkSession, tableDir: String,
      files: Seq[String], stats: com.fasterxml.jackson.databind.JsonNode,
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String], column: String, values: Seq[Any])
      : Seq[String] =
    pruneCore(spark, tableDir, files, stats, schemaOpt, colmap, column, values)

  /** The range prune stage over a caller-held manifest (catalog
    * scan-time twin of [[pruneFiles]]). */
  private[sources] def pruneRange(files: Seq[String],
      stats: com.fasterxml.jackson.databind.JsonNode,
      colmap: Map[String, String], column: String,
      lower: Option[Any], upper: Option[Any]): Seq[String] = {
    val pcol = physName(colmap, column)
    files.filter(f => keepFile(stats, f, pcol, lower, upper))
  }

  /** IS NULL file pruning: a file whose stats record ZERO nulls for the
    * column provably holds no NULL row. Missing stats keep the file —
    * the standing conservative contract. */
  private[sources] def pruneIsNull(files: Seq[String],
      stats: com.fasterxml.jackson.databind.JsonNode,
      colmap: Map[String, String], column: String): Seq[String] = {
    val pcol = physName(colmap, column)
    files.filter { f =>
      if (stats == null) true
      else {
        val cols = stats.get(f)
        if (cols == null) true
        else {
          val st = cols.get(pcol)
          // nulls is OMITTED when the count was unverifiable (any row
          // group left num_nulls unset at harvest) — omission keeps
          // the file, so only a verified 0 may prune
          st == null || !st.has("nulls") || st.get("nulls").asLong() > 0
        }
      }
    }
  }

  /** IS NOT NULL file pruning: an allNull file provably holds no
    * non-NULL row. Catalyst plants IsNotNull beside nearly every
    * comparison, so this cheap check rides along on most scans. */
  private[sources] def pruneNotNull(files: Seq[String],
      stats: com.fasterxml.jackson.databind.JsonNode,
      colmap: Map[String, String], column: String): Seq[String] = {
    val pcol = physName(colmap, column)
    files.filter { f =>
      if (stats == null) true
      else {
        val cols = stats.get(f)
        if (cols == null) true
        else {
          val st = cols.get(pcol)
          st == null || !st.path("allNull").asBoolean(false)
        }
      }
    }
  }

  /** [[manifestAt]]'s colmap — exact-version addressing for the
    * catalog (empty = identity). */
  private[sources] def colmapAt(tableDir: String, v: Long): Map[String, String] = {
    val p = logDir(tableDir).resolve(s"$v.json")
    require(Files.exists(p), s"no version $v in $tableDir" +
      " (committed versions may have been expired)")
    colmapOf(mapper.readTree(Files.readString(p)))
  }

  /** Which files a [[readWhere]] with these bounds would scan:
    * (kept files, total files). Public so callers (and the spec) can
    * observe skipping without timing a scan. */
  def pruneFiles(tableDir: String, column: String, lower: Option[Any],
      upper: Option[Any], asOf: Option[Long] = None): (Seq[String], Int) = {
    val (files, stats, _, colmap, _) = manifestFor(tableDir, asOf)
    // stats are harvested from footers, so they key on PHYSICAL names —
    // a renamed column's history of stats keeps pruning under its
    // logical name through the map
    val pcol = physName(colmap, column)
    (files.filter(f => keepFile(stats, f, pcol, lower, upper)), files.size)
  }

  /** [[read]] with manifest-stats file pruning: scan only the files
    * whose recorded [min, max] interval for `column` can intersect
    * [lower, upper], then apply the EXACT residual filter on the scan —
    * pruning can only ever remove provably-dead I/O, never change the
    * result (SnapshotStatsSpec pins result equality against the
    * unpruned read on every shape, including pre-stats manifests).
    * At 100 TB this is the difference between listing-then-filtering a
    * million files' worth of scan tasks and launching only the handful
    * a clustered layout (range or [[graft.ops.LayoutOps]] Z-order)
    * makes relevant. */
  def readWhere(spark: SparkSession, tableDir: String, column: String,
      lower: Option[Any] = None, upper: Option[Any] = None,
      asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (files, stats, schemaOpt, colmap, dv) = manifestFor(tableDir, asOf)
    val pcol = physName(colmap, column)
    val kept = files.filter(f => keepFile(stats, f, pcol, lower, upper))
    val base = scanOrEmpty(spark, tableDir, kept, files, schemaOpt, colmap, dv)
    val preds = lower.map(l => col(column) >= lit(l)) ++
      upper.map(u => col(column) <= lit(u))
    preds.reduceOption(_ && _).map(base.filter).getOrElse(base)
  }

  /** Scan `kept`, or — when pruning removed every file — an empty
    * frame with the table's schema: from the manifest when recorded,
    * else one footer read; a pre-schema manifest of an EMPTY commit has
    * no schema source at all, so fail loudly rather than NoSuchElement
    * on head. The empty frame carries the LOGICAL schema: with no files
    * to match, the mapping is irrelevant — only the names the caller
    * sees matter. */
  private def scanOrEmpty(spark: SparkSession, tableDir: String,
      kept: Seq[String], files: Seq[String],
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String],
      dv: Map[String, Seq[String]] = Map.empty): DataFrame =
    if (kept.nonEmpty) readFiles(spark, kept, schemaOpt, colmap, dv)
    else {
      val schema = schemaOpt.getOrElse {
        require(files.nonEmpty,
          s"cannot determine the schema of $tableDir: the manifest " +
            "lists no files and records no schema (a pre-round-10 " +
            "empty commit) — re-commit to record the schema")
        spark.read.parquet(files.head).schema
      }
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  // ---------------------------------------------------------------------
  // Per-file bloom index: point-lookup pruning where min/max stats can't
  // ---------------------------------------------------------------------

  /** Index layout: parquet rows of (file basename, serialized bloom)
    * under `<tableDir>/_index/bloom/<physCol>/<dataDir>`, plus a
    * `meta.json` recording the sizing AND which data directory is
    * current — the indirection that makes [[compactBloomIndex]]'s swap
    * one atomic meta replace. Keyed on the PHYSICAL column name, like
    * the manifest's stats, so a later rename keeps the index valid
    * (the physical name is immutable); basenames rather than full
    * paths because part-file names are UUID-unique (the [[mergeInto]]
    * precedent) and survive a tableDir move. */
  private def bloomIndexDir(tableDir: String, pcol: String): Path =
    Paths.get(tableDir, "_index", "bloom", pcol)

  /** The index's CURRENT data directory per its meta — None when no
    * usable index exists. Pre-indirection indexes recorded no `data`
    * field and resolve to the literal `data` dir. */
  private def bloomDataDir(dir: Path): Option[Path] = {
    val metaP = dir.resolve("meta.json")
    if (!Files.exists(metaP)) return None
    val meta = mapper.readTree(Files.readString(metaP))
    val d = Option(meta.get("data")).map(_.asText()).getOrElse("data")
    Some(dir.resolve(d)).filter(Files.isDirectory(_))
  }

  /** Replace meta.json atomically (same-directory move). Unlike the
    * LOG's manifests — where replace semantics would be a correctness
    * hole — last-writer-wins is exactly right for an advisory index
    * pointer: both candidate states are valid indexes. */
  private def writeBloomMeta(dir: Path, pcol: String,
      dataDirName: String, expectedItems: Long, numBits: Long): Unit = {
    val meta = mapper.createObjectNode()
    meta.put("column", pcol)
    meta.put("data", dataDirName)
    meta.put("expectedItemsPerFile", expectedItems)
    meta.put("numBits", numBits)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".meta-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(meta))
    Files.move(tmp, dir.resolve("meta.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Drop every data directory under `dir` except `keep` — the
    * previous generations a rebuild/compaction supersedes. */
  private def dropOtherBloomData(dir: Path, keep: String): Unit =
    listDir(dir).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("data") &&
      p.getFileName.toString != keep).foreach(deleteRecursively)

  /** Types the bloom index accepts: exactly the shapes whose write-side
    * `xxhash64(column)` this module can REPLAY over a lookup value on
    * the driver (integral widths hash by their own physical width, so
    * the replay casts the value to the column's recorded type first).
    * Floating point is excluded deliberately — equality lookups on
    * floats are a correctness smell, and ±0.0/NaN have multiple
    * representations per value. */
  private def bloomHashable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType
        | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** xxhash64 of `value` exactly as the index build hashed the column:
    * cast to the column's recorded type (an Int lookup against a BIGINT
    * column must hash 8 bytes, not 4), then Spark's own XxHash64 — the
    * same expression the build's aggregate child used, evaluated once
    * on the driver. */
  private def bloomHash(value: Any, dt: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    new XxHash64(Seq(Cast(Literal(value), dt, Some("UTC"))))
      .eval(null).asInstanceOf[Long]
  }

  /** The standard bloom sizing: bits = -n·ln(p)/ln(2)², k derived by
    * Spark's BloomFilter itself. */
  private def bloomNumBits(expectedItems: Long, fpp: Double): Long =
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong

  /** One distributed pass building (file, bloom) rows for `files` —
    * shared by [[writeBloomIndex]] (all current files, overwrite) and
    * [[refreshBloomIndex]] (missing files only, append). The aggregate
    * is Spark's own BloomFilterAggregate over `xxhash64(column)`
    * (reached through the programmatic bridge — no session extension
    * required), grouped by file: ONE scan of one column, map-side
    * partial blooms merged per file. NULL rows hash to the seed
    * constant — one harmless possible false positive, never a false
    * negative, and lookups reject null keys anyway. */
  private def buildBloomRows(spark: SparkSession, files: Seq[String],
      physField: org.apache.spark.sql.types.StructField,
      expectedItems: Long, numBits: Long, dataDir: Path,
      mode: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.functions.{input_file_name, substring_index}
    import org.apache.spark.sql.graftbridge.Bridge
    val agg = Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new XxHash64(Seq(UnresolvedAttribute(Seq(physField.name)))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(physField)))
      .parquet(files: _*)
      .groupBy(substring_index(input_file_name(), "/", -1).as("file"))
      .agg(agg.as("bloom"))
      .write.mode(mode).parquet(dataDir.toString)
  }

  /** Build a per-file bloom index on `column` over the LATEST version's
    * files — the Delta bloom-filter-index / Iceberg-puffin idea at this
    * log's minimum. Min/max stats prune RANGES and only bite when the
    * layout clusters the column; a point lookup on a high-cardinality
    * column that the layout does NOT cluster (the id-lookup shape:
    * every file's [min, max] spans the whole domain) keeps every file.
    * A bloom per file answers "could this key be in this file?" with
    * no false negatives, so [[readWhereIn]] can prune to the files that
    * actually hold the keys — at 100 TB, a handful of scan tasks
    * instead of a full-table scan, for one extra `_index` scan of
    * #files rows.
    *
    * Sizing: `expectedItemsPerFile` should be ≥ the largest file's row
    * count (oversizing only wastes `bits` bytes; UNDERsizing inflates
    * the false-positive rate, never correctness). The default (0) AUTO-
    * SIZES from the files' own footer row counts. Cost: one scan of ONE column of the
    * table, one ~`numBits/8`-byte blob per file.
    *
    * The index covers the files it was built over: files appended later
    * are simply UNCOVERED (lookups keep them — conservative), until
    * [[refreshBloomIndex]] blooms exactly the missing ones. Files
    * rewritten away by DML/optimize leave stale index rows that lookups
    * ignore (the manifest is always the source of file truth). Not
    * transactional with the log by design — the index is a pruning
    * accelerator, never a correctness input, the same standing as the
    * manifest stats. */
  def writeBloomIndex(spark: SparkSession, tableDir: String, column: String,
      expectedItemsPerFile: Long = 0L, fpp: Double = 0.03): Int = {
    require(expectedItemsPerFile >= 0,
      "expectedItemsPerFile must be positive, or 0 for footer auto-sizing")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val (files, _, schemaOpt, colmap, _) = manifestFor(tableDir, None)
    val logical = schemaOpt.getOrElse(sys.error(
      s"bloom index needs the manifest-recorded schema of $tableDir " +
        "(a pre-round-10 manifest) — re-commit to record it"))
    require(logical.fieldNames.contains(column),
      s"unknown column $column — table has ${logical.fieldNames.mkString(", ")}")
    val field = logical(logical.fieldIndex(column))
    require(bloomHashable(field.dataType),
      s"bloom index supports integral, string, date and timestamp " +
        s"columns; $column is ${field.dataType.simpleString}")
    require(files.nonEmpty, s"no data files in $tableDir to index")
    val pcol = physName(colmap, column)
    val dir = bloomIndexDir(tableDir, pcol)
    // default sizing comes from the DATA, not a guess: the largest
    // file's footer row count (one parallel ranged-footer pass, the
    // harvestStats cost class) with ~20% headroom for day-2 appends.
    // UNDERsizing a bloom inflates its false-positive rate silently —
    // never correctness, but the prune quietly stops biting — so auto
    // is the safer default than any fixed constant.
    val items =
      if (expectedItemsPerFile > 0) expectedItemsPerFile
      else {
        import scala.collection.parallel.CollectionConverters._
        val maxRows = files.par.map { f =>
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f),
              new org.apache.hadoop.conf.Configuration())
            Using.resource(
              org.apache.parquet.hadoop.ParquetFileReader.open(in))(
              _.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
          } catch { case _: Exception => 0L }
        }.max
        math.max(1024L, maxRows + maxRows / 5)
      }
    val numBits = bloomNumBits(items, fpp)
    val dataName = s"data-${java.util.UUID.randomUUID.toString.take(8)}"
    buildBloomRows(spark, files,
      org.apache.spark.sql.types.StructField(pcol, field.dataType, field.nullable),
      items, numBits, dir.resolve(dataName), "overwrite")
    writeBloomMeta(dir, pcol, dataName, items, numBits)
    dropOtherBloomData(dir, dataName)
    files.size
  }

  /** Day-2 maintenance: bloom exactly the manifest files the index does
    * not cover yet (appends since the build) and APPEND their rows —
    * O(new files), with the sizing the build recorded so the index
    * stays uniform. Idempotent against the manifest: a second refresh
    * finds nothing missing. Returns how many files were indexed. */
  def refreshBloomIndex(spark: SparkSession, tableDir: String,
      column: String): Int = {
    import org.apache.spark.sql.functions.col
    val (files, _, schemaOpt, colmap, _) = manifestFor(tableDir, None)
    val pcol = physName(colmap, column)
    val dir = bloomIndexDir(tableDir, pcol)
    require(Files.exists(dir.resolve("meta.json")),
      s"no bloom index on $column in $tableDir — writeBloomIndex first")
    val meta = mapper.readTree(Files.readString(dir.resolve("meta.json")))
    val dataDir = bloomDataDir(dir).getOrElse(sys.error(
      s"bloom index on $column in $tableDir has meta but no data directory"))
    val indexed = spark.read.parquet(dataDir.toString)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val missing = files.filterNot(f => indexed.contains(baseName(f)))
    if (missing.isEmpty) return 0
    val logical = schemaOpt.getOrElse(sys.error(
      s"bloom index refresh needs the manifest-recorded schema of $tableDir"))
    val field = logical(logical.fieldIndex(column))
    buildBloomRows(spark, missing,
      org.apache.spark.sql.types.StructField(pcol, field.dataType, field.nullable),
      meta.get("expectedItemsPerFile").asLong(), meta.get("numBits").asLong(),
      dataDir, "append")
    missing.size
  }

  /** Index GC: rewrite the index keeping only rows whose file is in
    * the CURRENT manifest. Every lookup scans the whole index, so
    * stale rows from DML/optimize rewrites are not just dead weight —
    * they are per-query cost growing without bound under continuous
    * maintenance. The swap is one atomic meta replace (both states are
    * valid indexes — an in-flight lookup reads one or the other), the
    * superseded data directory is dropped after it, and a refresh
    * racing the swap loses only COVERAGE of its freshly-appended rows
    * (uncovered files are kept conservatively; the next refresh
    * re-blooms them — self-healing, like the foreachBatch recipe).
    * No data files are re-read: compaction filters the index itself.
    * Returns how many stale rows were dropped. */
  def compactBloomIndex(spark: SparkSession, tableDir: String,
      column: String): Long = {
    import org.apache.spark.sql.functions.col
    val (files, _, _, colmap, _) = manifestFor(tableDir, None)
    val pcol = physName(colmap, column)
    val dir = bloomIndexDir(tableDir, pcol)
    require(Files.exists(dir.resolve("meta.json")),
      s"no bloom index on $column in $tableDir — writeBloomIndex first")
    val meta = mapper.readTree(Files.readString(dir.resolve("meta.json")))
    val dataDir = bloomDataDir(dir).getOrElse(sys.error(
      s"bloom index on $column in $tableDir has meta but no data directory"))
    val live = files.map(baseName).toSet
    val idx = spark.read.parquet(dataDir.toString)
    val stale = idx.filter(!col("file").isin(live.toSeq: _*)).count()
    if (stale == 0L) return 0L
    val dataName = s"data-${java.util.UUID.randomUUID.toString.take(8)}"
    idx.filter(col("file").isin(live.toSeq: _*))
      .write.parquet(dir.resolve(dataName).toString)
    writeBloomMeta(dir, pcol, dataName,
      meta.get("expectedItemsPerFile").asLong(), meta.get("numBits").asLong())
    dropOtherBloomData(dir, dataName)
    stale
  }

  /** The file set a [[readWhereIn]] with these keys would scan:
    * (kept files, total files) — [[pruneFiles]]'s observability twin
    * for point lookups. Two pruning stages compose, each conservative:
    *
    *   1. manifest min/max stats — a file is kept if ANY key fits its
    *      [min, max] (the equality special case of [[keepFile]], free,
    *      no I/O);
    *   2. the bloom index, when one exists for the column — ONE
    *      distributed scan of the #files-row index evaluating
    *      [[graft.functions.BloomHit]] per file against the keys'
    *      xxhash64 list, collecting only (basename, verdict) pairs.
    *      Files the index does not cover are kept; `false` is a bloom
    *      NO-false-negatives proof the file holds none of the keys.
    *
    * No index and pre-schema manifests degrade to stage 1 alone —
    * pruning is only ever an optimization; [[readWhereIn]]'s exact
    * residual IN filter carries the semantics. */
  def bloomPruneFiles(spark: SparkSession, tableDir: String, column: String,
      values: Seq[Any], asOf: Option[Long] = None): (Seq[String], Int) = {
    val (kept, files, _, _, _) = pruneForLookup(spark, tableDir, column, values, asOf)
    (kept, files.size)
  }

  private def pruneForLookup(spark: SparkSession, tableDir: String,
      column: String, values: Seq[Any], asOf: Option[Long])
      : (Seq[String], Seq[String],
        Option[org.apache.spark.sql.types.StructType], Map[String, String],
        Map[String, Seq[String]]) = {
    val (files, stats, schemaOpt, colmap, dv) = manifestFor(tableDir, asOf)
    val kept = pruneCore(spark, tableDir, files, stats, schemaOpt, colmap,
      column, values)
    (kept, files, schemaOpt, colmap, dv)
  }

  /** The two lookup-prune stages over an ALREADY-RESOLVED manifest —
    * shared by the read side ([[pruneForLookup]]) and the write side
    * ([[deleteWhereIn]]), which has its own manifest in hand and must
    * prune against exactly the version it will publish over. */
  private def pruneCore(spark: SparkSession, tableDir: String,
      files: Seq[String], stats: com.fasterxml.jackson.databind.JsonNode,
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String], column: String, values: Seq[Any])
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.Bridge
    require(values.nonEmpty, "membership asks want ≥1 key")
    require(values.forall(_ != null),
      "bloom lookups take non-null keys — an IS NULL ask is a range " +
        "question (readWhere + the residual filter), not a membership one")
    val pcol = physName(colmap, column)
    // two-step stats stage so the driver work is O(files + kept·K),
    // not O(files·K): the HULL interval [min(values), max(values)]
    // prunes in one keepFile pass per file (anything outside the hull
    // can hold no key), then the exact per-value check runs only on
    // the hull's survivors — same result, the exists() is monotone
    // inside the hull
    def hullKey(v: Any): Option[Either[Long, String]] = normBound(v) match {
      case l: Long   => Some(Left(l))
      case i: Int    => Some(Left(i.toLong))
      case s: Short  => Some(Left(s.toLong))
      case b: Byte   => Some(Left(b.toLong))
      case s: String => Some(Right(s))
      case _         => None // floats/mixed: no hull, exact stage only
    }
    val keys = values.map(hullKey)
    val hullKept =
      if (values.size <= 4 || keys.exists(_.isEmpty)
          || keys.flatten.map(_.isLeft).distinct.size != 1) files
      else keys.flatten match {
        case ks if ks.head.isLeft =>
          val ls = ks.map(_.swap.getOrElse(0L))
          files.filter(f => keepFile(stats, f, pcol, Some(ls.min), Some(ls.max)))
        case ks =>
          val ss = ks.map(_.getOrElse(""))
          files.filter(f => keepFile(stats, f, pcol, Some(ss.min), Some(ss.max)))
      }
    // the exact per-value stage is O(survivors·K) driver CPU; when the
    // hull kept ~everything (the unclustered shape, where the BLOOM
    // stage below is the real prune anyway) a huge product buys
    // nothing — cap it and let the hull's answer stand (conservative:
    // capping only ever KEEPS more files)
    val statsKept =
      if (hullKept.size.toLong * values.size > 4000000L) hullKept
      else hullKept.filter(f =>
        values.exists(v => keepFile(stats, f, pcol, Some(v), Some(v))))
    val dataDirOpt = bloomDataDir(bloomIndexDir(tableDir, pcol))
    val dt = schemaOpt.collect {
      case sch if sch.fieldNames.contains(column) =>
        sch(sch.fieldIndex(column)).dataType
    }
    if (statsKept.isEmpty || dataDirOpt.isEmpty || dt.isEmpty
        || !bloomHashable(dt.get))
      return statsKept
    val dataDir = dataDirOpt.get
    val hashes = values.map(v => bloomHash(v, dt.get))
    val hit = Bridge.column(graft.functions.BloomHit(
      UnresolvedAttribute(Seq("bloom")),
      Literal.create(hashes, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))))
    // verdicts for every indexed file (stale rows for rewritten-away
    // files are simply never looked up; duplicate rows from a racing
    // refresh OR together — blooms only ever widen)
    val verdicts = scala.collection.mutable.HashMap.empty[String, Boolean]
    spark.read.parquet(dataDir.toString)
      .select(col("file"), hit.as("hit"))
      .collect().foreach { r =>
        val f = r.getString(0)
        verdicts(f) = verdicts.getOrElse(f, false) || r.getBoolean(1)
      }
    statsKept.filter(f => verdicts.getOrElse(baseName(f), true))
  }

  /** Point-lookup read: [[read]] restricted to rows whose `column` is
    * one of `values`, scanning only the files [[bloomPruneFiles]]'s two
    * conservative stages keep, then applying the EXACT `IN` residual on
    * the scan — pruning can only ever remove provably-dead I/O, never
    * change the result (SnapshotBloomSpec pins result equality against
    * the unpruned read on every shape). This is the id-lookup /
    * needle-query shape at 100 TB: stats alone keep every file of an
    * unclustered high-cardinality column; the bloom index turns the
    * same ask into a handful of scan tasks. */
  def readWhereIn(spark: SparkSession, tableDir: String, column: String,
      values: Seq[Any], asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (kept, files, schemaOpt, colmap, dv) =
      pruneForLookup(spark, tableDir, column, values, asOf)
    scanOrEmpty(spark, tableDir, kept, files, schemaOpt, colmap, dv)
      .filter(col(column).isin(values: _*))
  }

  private def checkpointPath(tableDir: String): Path =
    logDir(tableDir).resolve("_last_checkpoint")

  /** The checkpoint HINT — Delta's `_last_checkpoint` reduced to this
    * log's minimum: without it every [[latestVersion]] (and hence every
    * read and every commit) LISTS the whole `_log` directory, O(commits)
    * and a paginated LIST per call on an object store. The hint names a
    * known-committed version; resolution probes upward from it with
    * point exists() checks (one HEAD each), normally exactly one.
    *
    * It is only ever a hint, never load-bearing: written best-effort
    * after a successful publish (a failure here never fails the
    * commit), ignored when it names a version with no manifest, and a
    * concurrently-regressed value (two writers' last-write-wins) only
    * costs extra probes. Correctness of the upward probe rests on the
    * log's VERSION DENSITY invariant — [[commit]] publishes latest+1 by
    * construction and [[commitIdempotent]] rejects gap-creating
    * versions — which is the same invariant [[read]]'s time-travel scan
    * already assumes. */
  private def readCheckpoint(tableDir: String): Option[Long] =
    try {
      val p = checkpointPath(tableDir)
      if (!Files.exists(p)) None
      else Some(mapper.readTree(Files.readString(p)).get("version").asLong())
    } catch { case _: Exception => None }

  private def writeCheckpoint(tableDir: String, v: Long): Unit =
    try {
      // monotone: a slow writer finishing after a faster one must not
      // move the hint backwards (it would still be correct, just slower)
      if (readCheckpoint(tableDir).forall(_ < v)) {
        val tmp = logDir(tableDir).resolve(
          s"._ckpt-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
        val root = mapper.createObjectNode()
        root.put("version", v)
        Files.writeString(tmp, mapper.writeValueAsString(root))
        Files.move(tmp, checkpointPath(tableDir),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } catch { case _: Exception => () }

  /** Files.list holds a directory handle until closed; a long-running
    * driver committing frequently would leak descriptors if these
    * streams waited for GC. Every listing in this object goes through
    * here so the handle is closed eagerly. */
  private def listDir(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)

  /** Create an EMPTY table: publish version 0 with zero data files and
    * the given schema recorded — the genesis `CREATE TABLE` asks for
    * (every other verb wants data; this one wants only a contract
    * future inserts are checked against). Metadata-only: no Spark job,
    * no data directory. Reads of the genesis serve the empty relation
    * under the recorded schema; the first [[commitAppend]] is an
    * ordinary schema-enforced append on top of it.
    *
    * The recorded schema is NORMALIZED to all-nullable top-level
    * fields, metadata stripped — SQL DDL's convention (a column is
    * nullable unless declared otherwise, and the log's enforcement
    * has no NOT-NULL runtime check to back a stricter claim), and the
    * manifest schema's contract is "describes all files", for which
    * nullable-over-required is the always-safe direction. Inserts
    * whose files read back non-nullable tighten harmlessly
    * ([[nullabilityTightens]]). Genesis-only: a table with any
    * committed version refuses (an empty REPLACEMENT of a live table
    * is `commit(emptyDf)`, a deliberate data operation). Two racing
    * creators arbitrate through the same put-if-absent publish as
    * every commit — the loser's createTable throws. */
  def createTable(tableDir: String,
      schema: org.apache.spark.sql.types.StructType): Long = {
    require(schema.nonEmpty, "createTable wants at least one column")
    require(latestVersion(tableDir).isEmpty,
      s"$tableDir already has a committed version — createTable is " +
        "genesis-only; to replace a live table's content commit the " +
        "new data, to drop it delete the directory")
    val norm = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, f.dataType,
        nullable = true)))
    // the evolve discipline at genesis: case-variant duplicates are
    // unreadable under case-insensitive resolution — refuse them here
    // rather than poison every future read
    val lower = norm.fieldNames.map(_.toLowerCase)
    require(lower.distinct.length == lower.length,
      s"createTable: column names collide case-insensitively — " +
        s"${norm.fieldNames.mkString("(", ", ", ")")}")
    publish(tableDir, 0L, Nil, schemaJson = Some(norm.json),
      op = "create-table")
    0L
  }

  /** [[createTable]]'s normalization, shared with the staged-commit
    * verbs: record all-nullable (SQL's convention, and the always-safe
    * claim for a manifest describing all files — the first append's
    * read-back may TIGHTEN, never widen), drop field metadata, refuse
    * case-insensitive name collisions at the door. */
  private def normGeneration(schema: org.apache.spark.sql.types.StructType,
      verb: String): org.apache.spark.sql.types.StructType = {
    require(schema.nonEmpty, s"$verb wants at least one column")
    val norm = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, f.dataType,
        nullable = true)))
    val lower = norm.fieldNames.map(_.toLowerCase)
    require(lower.distinct.length == lower.length,
      s"$verb: column names collide case-insensitively — " +
        s"${norm.fieldNames.mkString("(", ", ", ")")}")
    norm
  }

  /** The staged commits' schema gate: files already written (by the
    * staged V1 bridge) must read back as exactly the DECLARED schema,
    * modulo nullability tightening — the same read-back-authoritative
    * rule as [[appendFilesAt]]. Loud, because the manifest schema
    * claims to describe all files. */
  private def requireGenerationReadback(spark: SparkSession,
      declared: org.apache.spark.sql.types.StructType,
      files: Seq[String], verb: String): Unit = {
    if (files.isEmpty) return
    val readback = spark.read.parquet(files: _*).schema
    require(readback == declared || nullabilityTightens(declared, readback),
      s"$verb: staged files read back as $readback, declared schema is " +
        s"$declared — the manifest schema must describe every file it " +
        "publishes")
  }

  /** Atomic CTAS — the genesis WITH its data: version 0 publishes the
    * staged files, their footer stats, and the declared (all-nullable)
    * schema in ONE manifest, so `CREATE TABLE … AS SELECT` through the
    * staging catalog ([[SnapshotCatalog.stageCreate]]) either exists
    * with its data or not at all. Files arrived via the staged table's
    * write bridge (no manifest existed while they landed — nothing
    * could read them); a crash before this publish leaves only
    * unreferenced files in a directory with no `_log`, which the
    * staged ABORT (or a later create's fresh genesis + vacuum)
    * reclaims. Identity column naming — a genesis never has a column
    * map — and no constraints yet (the staged commit adds vetted ones
    * AFTER its own pre-publish validation pass). */
  private[sources] def createTableFiles(spark: SparkSession,
      tableDir: String, declared: org.apache.spark.sql.types.StructType,
      files: Seq[String]): Long = {
    require(latestVersion(tableDir).isEmpty,
      s"$tableDir already has a committed version — staged CREATE lost " +
        "a race; CREATE OR REPLACE is the intent-carrying form")
    val norm = normGeneration(declared, "CREATE TABLE AS SELECT")
    val canonF = files.map(p => canon(Paths.get(p)).toString).sorted
    requireGenerationReadback(spark, norm, canonF, "CREATE TABLE AS SELECT")
    publish(tableDir, 0L, canonF, harvestStats(canonF), Some(norm.json),
      op = "create-table")
    0L
  }

  /** REPLACE TABLE — a fresh GENERATION at `latest+1`, history intact:
    * one manifest carrying the staged files (possibly none — the plain
    * `REPLACE TABLE` DDL form), their stats, and the NEW declared
    * schema, with NO colmap, NO retired names, and NO dv carried. This
    * is the whole point of routing `CREATE OR REPLACE` through the
    * staging catalog instead of Spark's non-atomic drop+create
    * fallback, which would DELETE THE DIRECTORY — every old version,
    * every time-travel read, gone for a statement that only asked to
    * replace the content.
    *
    * Why the fresh start is safe (generation isolation): per-version
    * schema travel means no manifest ever mixes files of two
    * generations — post-replace manifests list only post-replace
    * files, pre-replace versions read with THEIR recorded
    * schema/colmap/dv, and [[restore]] to a pre-replace version
    * republishes that version's manifest content wholesale (its
    * schema, its colmap, retired names merged from both manifests), so
    * a physical column name can never be read under the wrong
    * generation's meaning. Stats/bloom lookups key by file, and every
    * post-replace file is new. The old generation's files stay on disk
    * for time travel until [[expireVersions]] + [[vacuum]].
    *
    * CHECK constraints are NOT handled here — the catalog's staged
    * commit swaps them (a replace REDEFINES the table, so the old
    * definition's guards die with it; Delta's REPLACE semantics),
    * after pre-validating the new definition's constraints against the
    * staged content so a violating replace refuses with the old table
    * intact. The CHANGE FEED refuses ranges crossing a replace via the
    * standing structural rewrite guard (the file list is replaced, not
    * appended) — [[diff]] is the honest answer across a redefinition. */
  private[sources] def replaceTableFiles(spark: SparkSession,
      tableDir: String, declared: org.apache.spark.sql.types.StructType,
      files: Seq[String]): Long = {
    val latest = latestVersion(tableDir).getOrElse(sys.error(
      s"no committed version in $tableDir — REPLACE wants an existing " +
        "table; CREATE OR REPLACE (stageCreateOrReplace) handles both"))
    val norm = normGeneration(declared, "REPLACE TABLE")
    val canonF = files.map(p => canon(Paths.get(p)).toString).sorted
    requireGenerationReadback(spark, norm, canonF, "REPLACE TABLE")
    publish(tableDir, latest + 1, canonF, harvestStats(canonF),
      Some(norm.json), op = "replace-table")
    latest + 1
  }

  /** The Scala face of [[replaceTableFiles]]: write `df` as the new
    * generation's data (the same writer-unique directory discipline as
    * [[commit]]), then publish the replace manifest. History stays
    * time-travelable; see [[replaceTableFiles]] for the generation
    * isolation argument and the constraint story (this Scala verb,
    * like the log's other verbs, leaves constraint dotfiles untouched
    * — they keep guarding writes; drop them explicitly if the new
    * generation redefines the table's meaning). */
  def replaceTable(spark: SparkSession, tableDir: String,
      df: DataFrame): Long = {
    val latest = latestVersion(tableDir).getOrElse(sys.error(
      s"no committed version in $tableDir — use commit() to create"))
    enforceConstraints(spark, tableDir, df, "replaceTable")
    val dd = Paths.get(tableDir, "data",
      s"v${latest + 1}-${java.util.UUID.randomUUID.toString.take(8)}")
    df.write.mode("overwrite").parquet(dd.toString)
    val files = listDir(dd)
      .filter(_.toString.endsWith(".parquet"))
      .map(p => canon(p).toString).sorted
    replaceTableFiles(spark, tableDir, df.schema, files)
  }

  /** Dotfile-only constraint record for the STAGED commit, which runs
    * its own validation pass over the staged content BEFORE
    * publishing (so a violating CREATE OR REPLACE refuses with the old
    * table intact) — re-validating here would re-scan the table for an
    * answer the caller just computed. Everything else about the record
    * matches [[addConstraint]]: same dotfile, same put-if-absent. */
  private[sources] def addConstraintUnchecked(tableDir: String,
      name: String, exprSql: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_') && !name.head.isDigit,
      s"constraint name '$name': letters, digits, underscores, " +
        "not starting with a digit")
    val root = mapper.createObjectNode()
    root.put("name", name)
    root.put("expr", exprSql)
    val p = logDir(tableDir).resolve(s".constraint-$name.json")
    val tmp = logDir(tableDir).resolve(
      s".constraint-$name-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(root))
    try Files.createLink(p, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        sys.error(s"constraint $name already exists on $tableDir — " +
          "drop it first to change the predicate")
    } finally { Files.deleteIfExists(tmp): Unit }
  }

  /** The staged commit's pre-publish constraint gate: first violating
    * row of `df` against `cs`, as [[violations]] reports it — exposed
    * so the catalog can refuse a violating CREATE/REPLACE before any
    * manifest exists. */
  private[sources] def firstViolation(df: DataFrame,
      cs: Seq[(String, String)]): Option[String] = violations(df, cs)

  /** Write `df` as version `latest+1` and atomically publish it.
    * Returns the committed version. Throws
    * `FileAlreadyExistsException` if another writer published the same
    * version between the read of `latestVersion` and the publish —
    * the optimistic-concurrency failure a caller retries.
    *
    * Data lands under a WRITER-UNIQUE directory (`data/v<N>-<token>`),
    * not a version-deterministic one: with a shared `data/v<N>` path a
    * racing LOSER's mode("overwrite") would delete the winner's
    * already-committed files before its own publish fails — a torn
    * committed snapshot, exactly what the log exists to exclude. The
    * manifest records the actual paths, so readers never care what the
    * directory is named; a loser's orphaned directory is dead weight
    * for a vacuum pass, never a correctness hazard. */
  def commit(spark: SparkSession, tableDir: String, df: DataFrame): Long = {
    val v = latestVersion(tableDir).getOrElse(-1L) + 1
    commitAt(spark, tableDir, df, v)
  }

  /** Write + publish at an EXPLICIT version. [[commitWithRetry]] needs
    * this: optimistic concurrency is only correct when the version a
    * writer validated against (read its base from) is the one it
    * publishes on top of. Re-reading `latest` at publish time — as the
    * convenience [[commit]] does — would let a writer that computed
    * against version N silently land at N+2 after an interleaved
    * commit: a lost update that never surfaces as a conflict. */
  private def commitAt(spark: SparkSession, tableDir: String,
      df: DataFrame, v: Long, op: String = "commit",
      txn: Option[String] = None,
      // a layout-preserving maintenance rewrite ([[optimize]] on a
      // bucketed table): the (columns-as-written, numBuckets) to
      // re-mint as `:bucket`, plus an optional per-file row cap
      // (splits an oversized bucket into several files of the SAME
      // task index — bucketIdFromName parses the prefix, so every
      // split carries its bucket's id)
      bucketMeta: Option[(Seq[String], Int)] = None,
      maxRecordsPerFile: Option[Long] = None): Long = {
    // constraints guard NEW content; maintenance rewrites routed here
    // (optimize — op != "commit") restate already-validated rows and
    // skip the extra pass
    if (op == "commit") enforceConstraints(spark, tableDir, df, op)
    val dd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val w = df.write.mode("overwrite")
    maxRecordsPerFile.foreach(m =>
      w.option("maxRecordsPerFile", m): Unit)
    w.parquet(dd.toString)
    val files = listDir(dd)
      .filter(_.toString.endsWith(".parquet"))
      .map(p => canon(p).toString).sorted
    val stats = bucketMeta match {
      case Some((cols, n)) => annotateBuckets(harvestStats(files), files,
        cols, n)
      case None => harvestStats(files)
    }
    // record the schema AS WRITTEN (inferred once from the fresh files,
    // so read-side behavior is byte-identical to inference): readers of
    // a million-file table then plan from the manifest instead of
    // merging a million footers
    val schema = try Some(spark.read.parquet(dd.toString).schema.json)
      catch { case _: Exception => None }
    publish(tableDir, v, files, stats, schema, op = op, txn = txn)
    v
  }

  /** Append `df` as version `latest+1` WITHOUT rewriting existing
    * data: the new manifest lists the previous version's files plus
    * only the freshly-written ones. This is the ingestion model that
    * actually works at 100 TB — [[commit]]'s full-snapshot write is a
    * table REPLACEMENT, and replacing a 100 TB table to add a day's
    * partition is not a real operation. Composes with everything the
    * log already guarantees: the publish is the same put-if-absent
    * (concurrent appenders conflict and retry like any writer), time
    * travel sees the pre-append table at the old version, [[vacuum]]
    * never touches the shared files (every manifest references them),
    * and stats CARRY FORWARD — only the new files' footers are read,
    * the old files' manifest entries are copied verbatim, so the
    * per-commit stats cost is O(appended files), never O(table).
    *
    * Schema is ENFORCED by default: the appended batch must read
    * back with exactly the table's recorded schema, else the append
    * fails loudly and the orphaned directory waits for vacuum — a
    * silent widening would poison every future reader (the manifest
    * schema claims to describe all files). Pre-schema manifests get a
    * one-time inference over the old files as the enforcement source,
    * and the append records it going forward. `mergeSchema = true`
    * opts into ADDITIVE evolution — new nullable columns appended to
    * the schema, nullable columns omissible — with zero rewrites of
    * existing data; [[mergeSchemas]] documents the rules and why
    * reads, stats pruning, and time travel stay exact through it
    * (SnapshotEvolveSpec pins each). Time travel is schema travel
    * too: each version reads with ITS manifest's schema. */
  def commitAppend(spark: SparkSession, tableDir: String, df: DataFrame,
      mergeSchema: Boolean = false): Long = {
    val baseV = latestVersion(tableDir)
    if (baseV.isEmpty) return commit(spark, tableDir, df)
    appendAt(spark, tableDir, df, baseV.get, mergeSchema)
  }

  /** [[commitAppend]]'s exactly-once twin — the streaming INGEST sink:
    * a foreachBatch writer deriving `v = base + batchId` appends each
    * micro-batch's files in O(batch) work (never a table rewrite, the
    * difference from [[commitIdempotent]]) and a replayed batch
    * re-publishes the same version, which the manifest pre-check or
    * the put-if-absent turns into a no-op — at-least-once replay,
    * exactly-once table state, with the replay's orphaned data dir
    * left for [[vacuum]]. The same density guard as
    * [[commitIdempotent]] keeps the log gap-free. Returns true iff
    * THIS call published the version. */
  def commitAppendIdempotent(spark: SparkSession, tableDir: String,
      df: DataFrame, v: Long, mergeSchema: Boolean = false,
      txn: Option[String] = None): Boolean = {
    def declinesAsReplay(): Boolean = replayDeclines(tableDir, v, txn)
    if (declinesAsReplay()) return false
    val latest = latestVersion(tableDir).getOrElse(-1L)
    // retention listing only on the cold expired-replay path — see
    // [[requireAboveRetention]]; the hot v == latest + 1 append never
    // lists the log directory
    if (v <= latest) requireAboveRetention(tableDir, v)
    require(v <= latest + 1,
      s"version $v would leave a gap above latest=$latest — the log's " +
        "versions are dense; derive v as base + batchId")
    if (latest == -1L) {
      // first-ever version: an append to nothing is a plain commit
      try { commitAt(spark, tableDir, df, v, txn = txn); true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        !declinesAsReplay() && sys.error(s"unreachable: $v vanished") }
    } else {
      try { appendAt(spark, tableDir, df, latest, mergeSchema, txn); true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        !declinesAsReplay() && sys.error(s"unreachable: $v vanished") }
    }
  }

  /** The idempotent sinks' replay pre-check, shared by the DataFrame
    * ([[commitAppendIdempotent]]) and pre-written-files
    * ([[appendFilesIdempotent]]) paths: an already-existing version
    * declines as a replay — except under a TXN tag, where only a
    * version THIS writer published may decline silently. A foreign
    * commit that landed on the derived version is theft of the sink's
    * base+batchId arithmetic, and declining it would DROP the batch
    * (the manifest holds someone else's rows). Replay-after-crash
    * still declines: the crash happened after publish, so the
    * manifest carries our tag. */
  private def replayDeclines(tableDir: String, v: Long,
      txn: Option[String]): Boolean = {
    val p = logDir(tableDir).resolve(s"$v.json")
    if (!Files.exists(p)) return false
    txn.foreach { t =>
      val existing = Option(
        mapper.readTree(Files.readString(p)).get("txn")).map(_.asText())
      require(existing.contains(t),
        s"version $v of $tableDir exists but was published by " +
          s"${existing.fold("an untagged writer")(x => s"txn $x")}, " +
          s"not this stream ($t) — a foreign commit interleaved with " +
          "the sink's base+batchId arithmetic; the streaming sink " +
          "owns the table while it runs")
    }
    true
  }

  /** [[commitAppendIdempotent]] for data files the EXECUTORS already
    * wrote — the commit half of the table-addressed V2 streaming sink
    * (`writeStream.toTable("snap.ns.t")`,
    * [[SnapshotStreamingWrite]]): same replay pre-check, same density
    * guard, same put-if-absent publish, but the batch's parquet files
    * arrive as paths (each task wrote its own through Spark's parquet
    * [[org.apache.spark.sql.execution.datasources.OutputWriter]])
    * instead of as a DataFrame the verb must write itself. Schema
    * enforcement still runs against the authoritative READ-BACK of the
    * written files; an empty batch publishes a files-unchanged version
    * so the `base + epochId` arithmetic stays dense. Returns true iff
    * THIS call published the version. */
  private[sources] def appendFilesIdempotent(spark: SparkSession,
      tableDir: String, newFiles: Seq[String], v: Long,
      txn: Option[String]): Boolean = {
    if (replayDeclines(tableDir, v, txn)) return false
    val latest = latestVersion(tableDir).getOrElse(sys.error(
      s"no committed version in $tableDir — create the table first " +
        "(SnapshotLog.createTable for an empty genesis)"))
    if (v <= latest) requireAboveRetention(tableDir, v)
    require(v <= latest + 1,
      s"version $v would leave a gap above latest=$latest — the log's " +
        "versions are dense; derive v as base + epochId")
    try { appendFilesAt(spark, tableDir, newFiles, latest, txn); true }
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      !replayDeclines(tableDir, v, txn) && sys.error(s"unreachable: $v vanished") }
  }

  /** [[appendAt]] for pre-written files: manifest bookkeeping only —
    * prev files + stats carry, new footers harvested, dv/colmap/
    * retired carried verbatim. The files arrived with PHYSICAL column
    * names (the write factory renames positionally, exactly like
    * [[appendAt]]'s `toDF(batchPhys)`), so enforcement restates the
    * read-back under logical names via the colmap swap — the map
    * covers every recorded column, so the swap never guesses. No
    * schema evolution on this surface: the stream pinned its schema at
    * start, and an evolved table needs a stream restart (the Delta
    * decision, same as the read side). */
  private def appendFilesAt(spark: SparkSession, tableDir: String,
      newFilesRaw: Seq[String], baseV: Long, txn: Option[String]): Long = {
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val colmap = colmapOf(prevManifest)
    val newFiles = newFilesRaw.map(p => canon(Paths.get(p)).toString).sorted
    val recorded = Option(prevManifest.get("schema"))
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(spark.read.parquet(prevFiles: _*).schema)
    if (newFiles.nonEmpty) {
      val p2l = colmap.map(_.swap)
      val writtenPhys = spark.read.parquet(newFiles: _*).schema
      val written = org.apache.spark.sql.types.StructType(
        writtenPhys.fields.map(f =>
          f.copy(name = p2l.getOrElse(f.name, f.name))))
      require(recorded == written ||
        nullabilityTightens(recorded, written),
        s"append schema mismatch: table has $recorded, stream wrote " +
          s"$written — the table-addressed streaming sink never evolves " +
          "schema (restart the stream after an ALTER, or use " +
          "writeStream.format(\"graft-snaplog\") with mergeSchema " +
          "for additive evolution)")
      // constraint funnel on exactly the NEW content, under logical
      // names (read-back order equals recorded order: the write schema
      // was the positional physical rename of the recorded schema)
      if (constraints(tableDir).nonEmpty)
        enforceConstraints(spark, tableDir,
          spark.read.parquet(newFiles: _*)
            .toDF(recorded.fieldNames.toSeq: _*),
          "streaming append")
    }
    val newStats = harvestStats(newFiles)
    val carried = carriedStats(prevManifest, prevFiles)
    val colmapSeq: Seq[(String, String)] =
      if (colmap.isEmpty) Nil
      else recorded.fieldNames.toSeq.map(c => c -> colmap(c))
    publish(tableDir, v, prevFiles ++ newFiles, carried ++ newStats,
      Some(recorded.json), colmapSeq, retiredOf(prevManifest),
      dv = dvOf(prevManifest), op = "append", txn = txn)
    v
  }

  /** True iff `written` differs from `recorded` ONLY by being
    * non-nullable where `recorded` is nullable — same names, same
    * types, same order. Top-level only, like every schema rule here. */
  private def nullabilityTightens(
      recorded: org.apache.spark.sql.types.StructType,
      written: org.apache.spark.sql.types.StructType): Boolean =
    recorded.length == written.length &&
      recorded.fields.zip(written.fields).forall { case (r, w) =>
        r.name == w.name && r.dataType == w.dataType &&
          (r.nullable || !w.nullable)
      }

  /** [[appendFilesIdempotent]]'s REPLACE twin — the commit half of the
    * COMPLETE-mode streaming sink (`writeStream.outputMode("complete")
    * .toTable(…)`): each epoch's executor-written files become the
    * table's ENTIRE content at `v = base + epochId` (INSERT OVERWRITE
    * semantics per trigger — a fresh generation; history keeps every
    * prior epoch for time travel, and the change feed refuses ranges
    * crossing it like any full rewrite). Same replay pre-check, same
    * density guard, same put-if-absent publish as the append twin. An
    * EMPTY epoch publishes a zero-file version — complete mode's
    * result genuinely is empty, and the `base + epochId` arithmetic
    * stays dense. Returns true iff THIS call published. */
  private[sources] def replaceFilesIdempotent(spark: SparkSession,
      tableDir: String, newFiles: Seq[String], v: Long,
      txn: Option[String]): Boolean = {
    if (replayDeclines(tableDir, v, txn)) return false
    val latest = latestVersion(tableDir).getOrElse(sys.error(
      s"no committed version in $tableDir — create the table first " +
        "(SnapshotLog.createTable for an empty genesis)"))
    if (v <= latest) requireAboveRetention(tableDir, v)
    require(v <= latest + 1,
      s"version $v would leave a gap above latest=$latest — the log's " +
        "versions are dense; derive v as base + epochId")
    try { replaceFilesAt(spark, tableDir, newFiles, latest, txn); true }
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      !replayDeclines(tableDir, v, txn) && sys.error(s"unreachable: $v vanished") }
  }

  /** Manifest bookkeeping for a pre-written full replacement: the new
    * manifest references ONLY the epoch's files (no carry, no dv —
    * nothing of the previous generation survives a complete-mode
    * epoch), with the colmap and retired names carried so physical
    * identities stay reserved across the rewrite. Schema enforcement
    * and the constraint funnel run against the authoritative
    * READ-BACK, exactly like [[appendFilesAt]]; requires a
    * schema-recording manifest (a zero-file epoch is readable only
    * under a recorded schema — [[truncate]]'s rule). */
  private def replaceFilesAt(spark: SparkSession, tableDir: String,
      newFilesRaw: Seq[String], baseV: Long, txn: Option[String]): Long = {
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val colmap = colmapOf(prevManifest)
    val newFiles = newFilesRaw.map(p => canon(Paths.get(p)).toString).sorted
    val recorded = Option(prevManifest.get("schema"))
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(sys.error(s"$tableDir: the complete-mode sink needs a " +
        "schema-recording manifest (this is a pre-round-10 table) — " +
        "re-commit once to record the schema"))
    if (newFiles.nonEmpty) {
      val p2l = colmap.map(_.swap)
      val writtenPhys = spark.read.parquet(newFiles: _*).schema
      val written = org.apache.spark.sql.types.StructType(
        writtenPhys.fields.map(f =>
          f.copy(name = p2l.getOrElse(f.name, f.name))))
      require(recorded == written ||
        nullabilityTightens(recorded, written),
        s"replace schema mismatch: table has $recorded, stream wrote " +
          s"$written — the table-addressed streaming sink never evolves " +
          "schema (restart the stream after an ALTER)")
      if (constraints(tableDir).nonEmpty)
        enforceConstraints(spark, tableDir,
          spark.read.parquet(newFiles: _*)
            .toDF(recorded.fieldNames.toSeq: _*),
          "streaming replace")
    }
    val colmapSeq: Seq[(String, String)] =
      if (colmap.isEmpty) Nil
      else recorded.fieldNames.toSeq.map(c => c -> colmap(c))
    publish(tableDir, v, newFiles, harvestStats(newFiles),
      Some(recorded.json), colmapSeq, retiredOf(prevManifest),
      op = "commit", txn = txn)
    v
  }

  /** Additive schema merge — the ONLY evolution this log supports
    * (Delta's `mergeSchema` at the same minimum). Validates and merges
    * the table's recorded schema with an appended batch's:
    *
    *  - a column present in BOTH must have the identical DataType —
    *    type changes/widening never evolve (a reader planning from the
    *    manifest schema would misread every old file);
    *  - a column the batch OMITS must be nullable in the table — the
    *    batch's files physically lack it, and the manifest schema
    *    claims to describe all files, so its value in those rows is
    *    null by parquet's missing-column contract;
    *  - a column the batch ADDS is appended at the END of the schema,
    *    recorded nullable — every pre-evolution file lacks it and
    *    reads as null.
    *
    * Both directions ride the SAME mechanism that makes this safe with
    * zero data rewrites: `spark.read.schema(merged).parquet(...)`
    * matches parquet columns BY NAME and null-fills the missing ones,
    * so old files never need touching. Stats compose conservatively by
    * construction — a file with no stats entry for a column is always
    * kept by [[keepFile]], so pruning on a post-evolution column can
    * never drop a pre-evolution file. */
  private[graft] def mergeSchemas(
      recorded: org.apache.spark.sql.types.StructType,
      written: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val recByName = recorded.fields.map(f => f.name -> f).toMap
    written.fields.foreach { bf =>
      recByName.get(bf.name).foreach { rf =>
        require(rf.dataType == bf.dataType,
          s"schema evolution is ADDITIVE only: column '${bf.name}' is " +
            s"${rf.dataType} in the table but ${bf.dataType} in the " +
            "batch — type changes never evolve")
        require(rf.nullable || !bf.nullable,
          s"column '${bf.name}' is non-nullable in the table but " +
            "nullable in the batch")
      }
    }
    val batchNames = written.fieldNames.toSet
    recorded.fields.filterNot(f => batchNames.contains(f.name)).foreach { f =>
      require(f.nullable,
        s"batch omits non-nullable column '${f.name}' — its value in " +
          "the appended rows would be null")
    }
    val newFields = written.fields
      .filterNot(f => recByName.contains(f.name)).map(_.copy(nullable = true))
    // a case-variant of an existing column ("Score" beside "score")
    // would pass the by-name checks as "new", and the poisoned
    // manifest schema only fails much later at read time under
    // Spark's case-insensitive resolution — refuse it here, loudly
    val recLower = recorded.fieldNames.map(_.toLowerCase).toSet
    newFields.filter(f => recLower.contains(f.name.toLowerCase)).foreach { f =>
      throw new IllegalArgumentException(
        s"column '${f.name}' differs only by case from an existing " +
          "column — rename the batch column; case-variant duplicates " +
          "are unreadable under case-insensitive resolution")
    }
    org.apache.spark.sql.types.StructType(recorded.fields ++ newFields)
  }

  /** Rename a column — a METADATA-ONLY commit (zero data rewrites, at
    * any table size), via the indirection Delta calls column mapping
    * (name mode) and Iceberg gets from field ids: every column has an
    * immutable PHYSICAL name — the name in the parquet files, fixed at
    * the column's first write forever — and the manifest maps logical
    * names onto physicals (`colmap`). Rename changes only the logical
    * side; readers plan from the physical schema and alias back, so
    * old and new files read uniformly and stats (physical-keyed) keep
    * pruning under the new name. This is exactly why additive-only
    * evolution previously declined rename/drop: under plain by-name
    * matching a renamed column silently null-fills out of every old
    * file — the map is the missing indirection, done honestly.
    *
    * Time travel is rename travel: pre-rename versions read with their
    * own manifest's names. The publish is the standard put-if-absent
    * at `latest + 1` (concurrent writers conflict and retry).
    * Mapping is top-level-only, like stats and evolution. A table
    * REWRITE (commit / optimize) rematerializes logical names into the
    * fresh files and retires the map — scaladoc'd at [[optimize]]. */
  def renameColumn(tableDir: String, from: String, to: String): Long = {
    require(from != to, s"rename to the same name '$from' is a no-op")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val node = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val schema = Option(node.get("schema")).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(sys.error(
        s"$tableDir: rename needs a schema-recording manifest (this is " +
          "a pre-round-10 table) — re-commit once to record the schema"))
    require(schema.fieldNames.contains(from),
      s"no column '$from' in ${schema.fieldNames.mkString("(", ", ", ")")}")
    // the evolve discipline: a case-variant duplicate is unreadable
    // under case-insensitive resolution, so 'to' must be free of ALL
    // case variants (except 'from' itself — a case-only rename is fine)
    schema.fieldNames.filter(_ != from).find(_.equalsIgnoreCase(to)).foreach {
      clash => sys.error(s"column '$to' collides with existing '$clash'" +
        (if (clash == to) "" else " (differs only by case)"))
    }
    // activation: a first rename materializes the identity map so the
    // invariant "a present colmap covers every column" holds from here
    val colmap0 = colmapOf(node) match {
      case m if m.isEmpty => schema.fieldNames.map(n => n -> n).toMap
      case m              => m
    }
    val newColmap = (colmap0 - from) + (to -> colmap0(from))
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    val files = node.get("files").elements().asScala.map(_.asText()).toSeq
    publish(tableDir, baseV + 1, files, carriedStats(node, files),
      Some(newSchema.json), orderedColmap(Some(newSchema), newColmap),
      retiredOf(node), dv = dvOf(node), op = "rename-column")
    baseV + 1
  }

  /** Add a nullable column — the metadata-only half of additive
    * evolution ([[mergeSchemas]] is the append-time half, where a
    * BATCH brings the newcomer's first data): the field joins the END
    * of the logical schema with ZERO data written — every existing
    * file lacks it and reads as null by parquet's missing-column
    * contract, exactly like a pre-evolution file after a mergeSchema
    * append. Always nullable (existing rows have no value to give a
    * NOT NULL column). On a MAPPED table the newcomer takes a fresh
    * physical name colliding with no live or RETIRED physical — the
    * same no-resurrection rule as [[appendAt]]'s mergeSchema path, so
    * re-adding a dropped name can never read the dropped bytes back;
    * an identity table has no hidden bytes, so the name itself
    * serves and the table stays map-free. */
  def addColumn(tableDir: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val node = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val schema = Option(node.get("schema")).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(sys.error(
        s"$tableDir: add needs a schema-recording manifest (this is " +
          "a pre-round-10 table) — re-commit once to record the schema"))
    // the evolve discipline: no duplicate, no case-variant duplicate
    schema.fieldNames.find(_.equalsIgnoreCase(name)).foreach { clash =>
      sys.error(s"column '$name' collides with existing '$clash'" +
        (if (clash == name) "" else " (differs only by case)"))
    }
    val colmap0 = colmapOf(node)
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true))
    val newColmap =
      if (colmap0.isEmpty) colmap0 // identity stays identity (map-free)
      else {
        val used = colmap0.values.toSet ++ retiredOf(node)
        var cand = name
        var i = 2
        while (used(cand)) { cand = s"${name}_$i"; i += 1 }
        colmap0 + (name -> cand)
      }
    val files = node.get("files").elements().asScala.map(_.asText()).toSeq
    publish(tableDir, baseV + 1, files, carriedStats(node, files),
      Some(newSchema.json), orderedColmap(Some(newSchema), newColmap),
      retiredOf(node), dv = dvOf(node), op = "add-column")
    baseV + 1
  }

  /** Drop a column — [[renameColumn]]'s sibling metadata-only commit:
    * the column leaves the logical schema and the map; its physical
    * name is RETIRED, never reused, because a later re-ADD of the same
    * logical name under the old physical would let parquet's by-name
    * matching resurrect the dropped bytes out of every old file into
    * the new column ([[mergeSchemas]]-era appends assign the newcomer
    * a fresh suffixed physical instead). Old files keep the dropped
    * column's bytes — time travel to pre-drop versions still reads
    * them; a rewrite (optimize) is how the bytes actually leave. */
  def dropColumn(tableDir: String, name: String): Long = {
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val node = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val schema = Option(node.get("schema")).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(sys.error(
        s"$tableDir: drop needs a schema-recording manifest (this is " +
          "a pre-round-10 table) — re-commit once to record the schema"))
    require(schema.fieldNames.contains(name),
      s"no column '$name' in ${schema.fieldNames.mkString("(", ", ", ")")}")
    require(schema.fields.length > 1,
      s"cannot drop '$name' — it is the table's only column")
    val colmap0 = colmapOf(node) match {
      case m if m.isEmpty => schema.fieldNames.map(n => n -> n).toMap
      case m              => m
    }
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    val files = node.get("files").elements().asScala.map(_.asText()).toSeq
    publish(tableDir, baseV + 1, files, carriedStats(node, files),
      Some(newSchema.json),
      orderedColmap(Some(newSchema), colmap0 - name),
      retiredOf(node) :+ colmap0(name), dv = dvOf(node),
      op = "drop-column")
    baseV + 1
  }

  /** Write `df`'s files and publish `baseV`'s manifest + the new files
    * as version `baseV + 1` (put-if-absent — a concurrent writer
    * surfaces as the usual conflict). */
  private def appendAt(spark: SparkSession, tableDir: String,
      df: DataFrame, baseV: Long, mergeSchema: Boolean = false,
      txn: Option[String] = None): Long = {
    enforceConstraints(spark, tableDir, df, "append")
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val colmap = colmapOf(prevManifest)
    val retired = retiredOf(prevManifest)
    // under a column map the batch arrives with LOGICAL names and the
    // files must carry PHYSICAL ones: existing columns take their
    // mapped physical; a genuinely-new column (mergeSchema) takes its
    // own name unless that name is a live or RETIRED physical — then a
    // fresh suffixed one, so parquet's by-name matching can never
    // resurrect a dropped column's bytes into the newcomer
    val batchPhys: Seq[String] =
      if (colmap.isEmpty) df.columns.toSeq
      else {
        val used = scala.collection.mutable.Set.empty[String]
        used ++= colmap.values
        used ++= retired
        df.columns.toSeq.map { c =>
          val p = colmap.getOrElse(c, {
            var cand = c
            var i = 2
            while (used(cand)) { cand = s"${c}_$i"; i += 1 }
            cand
          })
          used += p
          p
        }
      }
    val dd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    // BUCKET MAINTENANCE: an append to a bucketed table ([[rebucket]])
    // repartitions its batch by the same hash arithmetic so the
    // storage-partitioned-join layout survives ingestion — the one
    // verb besides mask-only MOR deletes that keeps it. A batch that
    // OMITS the bucket column (mergeSchema) writes unbucketed and the
    // layout degrades by the honest-degrade contract.
    val bucketSpec = bucketLayoutOf(prevManifest.get("stats"), prevFiles)
      .map { case (pcols, n, _) => (pcols, n) }
      .filter { case (pcols, _) =>
        val inverse = colmap.map(_.swap)
        pcols.forall(pc => df.columns.contains(inverse.getOrElse(pc, pc)))
      }
    val toWrite = bucketSpec match {
      case Some((pcols, n)) =>
        val inverse = colmap.map(_.swap)
        df.repartition(n, pcols.map(pc =>
          org.apache.spark.sql.functions.col(inverse.getOrElse(pc, pc))): _*)
      case None => df
    }
    toWrite.toDF(batchPhys: _*).write.mode("overwrite").parquet(dd.toString)
    val newFiles = listDir(dd)
      .filter(_.toString.endsWith(".parquet"))
      .map(p => canon(p).toString).sorted
    // read-back (authoritative for what was written), restated under
    // LOGICAL names for enforcement: read-back preserves write order,
    // so the rename is positional
    val writtenPhys = spark.read.parquet(dd.toString).schema
    val written = org.apache.spark.sql.types.StructType(
      writtenPhys.fields.zip(df.columns).map { case (f, logical) =>
        f.copy(name = logical) })
    // enforcement source: the recorded schema, or — first append to a
    // pre-schema (legacy) manifest — a one-time inference over the old
    // files; accepting the batch's schema unchecked there would let
    // the new manifest claim a schema the old files don't have
    val recorded = Option(prevManifest.get("schema"))
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(spark.read.parquet(prevFiles: _*).schema)
    val published =
      if (recorded == written) written
      // a batch that differs ONLY by being non-nullable where the table
      // is nullable is always safe (non-null values into a nullable
      // column) — the DDL surface makes this the COMMON case: CREATE
      // TABLE records every column nullable (SQL's convention), and the
      // first INSERT's files read back `required` wherever the data had
      // no nulls. The manifest keeps the RECORDED (wider) schema: it
      // claims to describe all files, and nullable-over-required is the
      // safe direction
      else if (nullabilityTightens(recorded, written)) recorded
      else if (mergeSchema) mergeSchemas(recorded, written)
      else {
        require(recorded == written,
          s"append schema mismatch: table has $recorded, batch wrote " +
            s"$written — pass mergeSchema=true for an ADDITIVE " +
            "evolution (new nullable columns / omitted nullable " +
            "columns); anything else never evolves")
        written // unreachable
      }
    // the published map covers every column of the published schema:
    // carried entries for survivors, the batch's assignments for
    // columns evolution just added
    val batchMap = df.columns.zip(batchPhys).toMap
    val newColmap: Seq[(String, String)] =
      if (colmap.isEmpty) Nil
      else published.fieldNames.toSeq.map(c =>
        c -> colmap.getOrElse(c, batchMap(c)))
    val newStats = bucketSpec match {
      case Some((pcols, n)) =>
        annotateBuckets(harvestStats(newFiles), newFiles, pcols, n)
      case None => harvestStats(newFiles)
    }
    val carried = carriedStats(prevManifest, prevFiles)
    publish(tableDir, v, prevFiles ++ newFiles, carried ++ newStats,
      Some(published.json), newColmap, retired, dv = dvOf(prevManifest),
      op = "append", txn = txn)
    v
  }

  /** `commit` with the optimistic-concurrency retry loop the
    * put-if-absent contract asks of callers: on
    * `FileAlreadyExistsException` (another writer took the version),
    * re-read the latest version and re-commit against it, up to
    * `maxAttempts`. The data is REWRITTEN each attempt on purpose —
    * the DataFrame may derive from the snapshot the loser read (a CDC
    * merge), so replaying against the new latest is the only generally
    * correct retry; a caller that wants rebase semantics recomputes
    * `df` in `recompute` from the freshly-read table. Loser data dirs
    * orphan for [[vacuum]]. */
  def commitWithRetry(spark: SparkSession, tableDir: String,
      recompute: Option[DataFrame] => DataFrame, maxAttempts: Int = 5): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      val baseV = latestVersion(tableDir)
      // pin the read to the validated version: between this read and the
      // publish a third writer may commit, and the publish below must then
      // CONFLICT (we publish baseV+1 exactly), not silently skip ahead
      val base = baseV.map(v => read(spark, tableDir, asOf = Some(v)))
      try return commitAt(spark, tableDir, recompute(base),
        baseV.getOrElse(-1L) + 1)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Copy-on-write DELETE through the log — Delta's COW delete at the
    * same minimum, and the WRITE-side payoff of the manifest stats:
    * only files whose recorded [min, max] for `column` can intersect
    * [lower, upper] are read and rewritten (minus the matching rows);
    * every provably-untouched file is CARRIED into the new manifest
    * verbatim, stats and all — zero I/O for it. On a clustered 100 TB
    * table a narrow delete (the GDPR erasure, the bad-crawl-day purge)
    * rewrites a handful of files instead of the table; on a stat-less
    * or unclustered table it degrades to rewriting everything the
    * stats cannot exonerate, which is exactly [[keepFile]]'s
    * conservative contract (wrong-side risk is always "rewrite more",
    * never "miss a matching row"). Deletes rows where `column` is IN
    * the closed interval; NULL never matches a range, so null-valued
    * rows survive — the same semantics the residual filter gives
    * [[readWhere]]. Publishes as the next version (put-if-absent;
    * history intact; rewritten files' predecessors stay referenced by
    * older manifests until [[expireVersions]] + [[vacuum]]).
    * Returns the committed version. */
  def deleteWhere(spark: SparkSession, tableDir: String, column: String,
      lower: Option[Any], upper: Option[Any]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(lower.nonEmpty || upper.nonEmpty,
      "deleteWhere wants at least one bound — an unbounded delete is truncation")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    // stats and file bytes both speak PHYSICAL; the caller speaks
    // logical — translate once, then the whole rewrite runs physical
    // (rewritten files must keep physical names for the map to hold)
    val pcol = physName(colmap, column)
    val prevDv = dvOf(prevManifest)
    val (affected, untouched) = prevFiles.partition(f =>
      keepFile(statsNode, f, pcol, lower, upper))
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val preds = lower.map(l => col(pcol) >= lit(l)) ++
      upper.map(u => col(pcol) <= lit(u))
    // survivors: NOT in the interval. The coalesce is load-bearing for
    // MIXED files (nulls alongside in-range values): a NULL `column`
    // makes the range predicate NULL, and a bare !NULL is NULL — which
    // Filter DROPS, silently deleting rows the delete never named.
    // coalesce(NULL, false) pins "not in the interval" to keep, the
    // semantics the scaladoc promises (all-null FILES never even get
    // here — allNull stats exonerate them wholesale).
    val keepPred = !coalesce(preds.reduce(_ && _), lit(false))
    val newFiles =
      if (affected.isEmpty) Nil
      else {
        val dd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        // the rewrite reads through the dv mask — a COW delete on a
        // MOR-deleted file must not resurrect its masked rows
        readPhysical(spark, affected,
          logicalSchema.map(physSchema(_, colmap)), prevDv)
          .filter(keepPred)
          .write.mode("overwrite").parquet(dd.toString)
        listDir(dd).filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
      }
    val carried = carriedStats(prevManifest, untouched)
    val newStats = harvestStats(newFiles)
    publish(tableDir, v, untouched ++ newFiles, carried ++ newStats,
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest),
      dv = prevDv.view.filterKeys(untouched.toSet).toMap,
      op = "delete-where")
    v
  }

  /** Point DELETE through the log — [[deleteWhere]]'s MEMBERSHIP twin
    * and the write-side payoff of the bloom index: delete the rows
    * whose `column` IS one of `values`, rewriting only the files the
    * two lookup-prune stages ([[bloomPruneFiles]]: min/max equality,
    * then the per-file blooms when an index exists) cannot exonerate.
    * This is the id-keyed GDPR erasure at 100 TB: on an UNCLUSTERED
    * high-cardinality key — where [[deleteWhere]]'s range stats keep
    * every file — a K-key delete rewrites ~K + fpp·files files instead
    * of the table. Exonerated files carry verbatim, stats and all; the
    * conservative direction is always "rewrite more", never "miss a
    * matching row" (blooms have no false negatives). NULL `column`
    * values never match a membership list (values are required
    * non-null), so null-valued rows survive the rewrite — the
    * coalesce below, [[deleteWhere]]'s mixed-file rule. The index
    * itself is NOT updated (rewritten files are simply uncovered until
    * [[refreshBloomIndex]] — the read side stays exact either way).
    * Publishes as the next version; returns it. */
  def deleteWhereIn(spark: SparkSession, tableDir: String, column: String,
      values: Seq[Any]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    val pcol = physName(colmap, column)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    // prune against exactly the manifest being published over (not a
    // re-resolved latest — the version read above is the one rewritten)
    val prevDv = dvOf(prevManifest)
    val keptSet = pruneCore(spark, tableDir, prevFiles, statsNode,
      logicalSchema, colmap, column, values).toSet
    val (affected, untouched) = prevFiles.partition(keptSet)
    val newFiles =
      if (affected.isEmpty) Nil
      else {
        val keepPred = !coalesce(col(pcol).isin(values: _*), lit(false))
        val dd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        readPhysical(spark, affected,
          logicalSchema.map(physSchema(_, colmap)), prevDv)
          .filter(keepPred)
          .write.mode("overwrite").parquet(dd.toString)
        listDir(dd).filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
      }
    val carried = carriedStats(prevManifest, untouched)
    val newStats = harvestStats(newFiles)
    publish(tableDir, v, untouched ++ newFiles, carried ++ newStats,
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest),
      dv = prevDv.view.filterKeys(untouched.toSet).toMap,
      op = "delete-where-in")
    v
  }

  /** MERGE-ON-READ point DELETE — [[deleteWhereIn]]'s cost-model twin
    * (Delta's deletion vectors / Iceberg v2 position deletes at this
    * log's minimum): instead of REWRITING every file the stats+bloom
    * stages cannot exonerate, mark the matching rows' positions in a
    * parquet SIDECAR (`file` = the data file's Spark-reported
    * `_metadata.file_path`, `pos` = its absolute `_metadata.row_index`)
    * and publish a manifest whose `dv` node maps each touched data
    * file to its sidecars. Data files are carried BYTE-IDENTICAL, so
    * the write cost is O(matching rows) + one manifest — not
    * O(affected files rewritten) — which is the only point-delete cost
    * model that holds when the affected files are large or many (the
    * high-churn GDPR queue at 100 TB). Readers apply the mask in
    * [[readPhysical]]'s anti-join; every Scala read path (read /
    * readWhere / readWhereIn / DML rewrites / merge / optimize)
    * composes, and a COW rewrite or [[compactDeletes]] MATERIALIZES
    * the mask and sheds the entries.
    *
    * The trade, stated plainly: reads of a dv'd file pay the mask
    * (inline filter or anti-join) until compaction, the SQL catalog
    * reads dv-bearing tables through per-file masked partitions —
    * row-based on the masked scan, and REFUSING loudly when the mask
    * exceeds the driver cap (the protocol-gating decision — a reader
    * that cannot apply the mask must fail, never over-answer) — and
    * the deleted rows' BYTES remain in the data files — the erasure
    * theorem for MOR is
    * [[compactDeletes]] + [[expireVersions]] + [[vacuum]]. Marked
    * positions come from the CURRENT visible rows; re-marking an
    * already-masked position is a harmless duplicate under the
    * anti-join. NULL `column` values never match a membership list —
    * the [[deleteWhereIn]] rule. A LOST put-if-absent race leaves the
    * just-written sidecars unreferenced until [[vacuum]] — the same
    * orphan story as a lost COW rewrite, just sidecar-sized. Publishes
    * as the next version; returns it. */
  def deleteWhereInMOR(spark: SparkSession, tableDir: String,
      column: String, values: Seq[Any]): Long = {
    import org.apache.spark.sql.functions.col
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    val pcol = physName(colmap, column)
    val prevDv = dvOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val keptSet = pruneCore(spark, tableDir, prevFiles, statsNode,
      logicalSchema, colmap, column, values).toSet
    val affected = prevFiles.filter(keptSet)
    val physOpt = logicalSchema.map(physSchema(_, colmap))
    val newDv = morMarks(spark, tableDir, v, affected, physOpt,
      pcol, values, prevDv)
    publish(tableDir, v, prevFiles, withMaskedCounts(spark,
      carriedStats(prevManifest, prevFiles), newDv, logicalSchema),
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest), dv = newDv, op = "delete-where-in-mor")
    v
  }

  /** The shared mark-building half of the MOR verbs: write a sidecar
    * of the matching rows' (file_path, row_index) under version `v`'s
    * data dir and fold the entries into `prevDv`. Positions come from
    * a RAW (mask-free) read — re-marking an already-masked position is
    * a harmless duplicate under the mask application, and the raw read
    * keeps this a plain vectorized scan. Returns `prevDv` untouched
    * (and removes the scratch dir) when nothing matched. */
  private def morMarks(spark: SparkSession, tableDir: String, v: Long,
      affected: Seq[String],
      physOpt: Option[org.apache.spark.sql.types.StructType],
      pcol: String, values: Seq[Any],
      prevDv: Map[String, Seq[String]]): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.col
    if (affected.isEmpty) return prevDv
    val dd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    // positions of matching rows; write parallelism follows the
    // candidate scan (the sidecar is delete-sized either way)
    physOpt.fold(spark.read)(spark.read.schema).parquet(affected: _*)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"),
        col(pcol).as("_graft_dv_k"))
      .filter(col("_graft_dv_k").isin(values: _*))
      .select("file", "pos")
      .write.mode("overwrite").parquet(dd.toString)
    foldSidecars(spark, dd, affected, prevDv)
  }

  /** [[morMarks]] for an ARBITRARY row predicate — the marks half of
    * the general-predicate MOR verbs. Same raw (mask-free) candidate
    * scan, but the predicate speaks LOGICAL column names, so the scan
    * restates its physical columns under the logical names (positional
    * — physOpt mirrors the logical schema's order) before filtering;
    * the metadata bookkeeping columns ride under `_graft_dv_*` names a
    * user predicate cannot collide with (resolution against the table
    * schema already refused unknown names). */
  private def morMarksWhere(spark: SparkSession, tableDir: String, v: Long,
      affected: Seq[String],
      physOpt: Option[org.apache.spark.sql.types.StructType],
      logicalNamesOpt: Option[Seq[String]],
      predicate: org.apache.spark.sql.Column,
      prevDv: Map[String, Seq[String]]): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.col
    if (affected.isEmpty) return prevDv
    val dd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val raw = physOpt.fold(spark.read)(spark.read.schema).parquet(affected: _*)
    val fpCol = "_graft_dv_file"
    val posCol = "_graft_dv_pos"
    val withMeta = raw.select(raw.columns.map(col).toIndexedSeq ++ Seq(
      col("_metadata.file_path").as(fpCol),
      col("_metadata.row_index").as(posCol)): _*)
    val logicalNames = logicalNamesOpt.getOrElse(raw.columns.toSeq)
    withMeta.toDF(logicalNames ++ Seq(fpCol, posCol): _*)
      .filter(predicate)
      .select(col(fpCol).as("file"), col(posCol).as("pos"))
      .write.mode("overwrite").parquet(dd.toString)
    foldSidecars(spark, dd, affected, prevDv)
  }

  /** Shared tail of the mark builders: list the just-written sidecar
    * parquet, find which data files actually hold marked rows
    * (sidecar-sized read), and fold the entries into `prevDv` — or
    * remove the scratch dir and return `prevDv` untouched when nothing
    * matched. */
  private def foldSidecars(spark: SparkSession, dd: Path,
      affected: Seq[String],
      prevDv: Map[String, Seq[String]]): Map[String, Seq[String]] = {
    val sidecars = listDir(dd)
      .filter(_.toString.endsWith(".parquet"))
      .map(p => canon(p).toString).sorted
    // which data files actually hold marked rows: sidecar-sized
    val touchedMeta = spark.read.schema("file STRING, pos LONG")
      .parquet(sidecars: _*)
      .select("file").distinct().collect().map(_.getString(0)).toSeq
    if (touchedMeta.isEmpty) {
      deleteRecursively(dd) // nothing matched: no sidecar, no entry
      prevDv
    } else {
      // metadata spelling (a file: URI) → the manifest's canonical
      // spelling, loudly — a mapping miss must never publish an
      // entry the readers' contains() would not find
      val byCanon = affected.map(f =>
        canon(Paths.get(f)).toString -> f).toMap
      val touched = touchedMeta.map { fp =>
        val p = try Paths.get(java.net.URI.create(fp))
          catch { case _: Exception => Paths.get(fp) }
        byCanon.getOrElse(canon(p).toString, sys.error(
          s"dv file_path $fp resolves outside the affected set"))
      }
      prevDv ++ touched.map(f =>
        f -> (prevDv.getOrElse(f, Nil) ++ sidecars))
    }
  }

  /** Overlay each dv-bearing file's EXACT deduped deleted-position
    * count as the reserved `:masked` pseudo-stat ({"n": count, "s":
    * sidecar-list length}) — computed by the mask-WRITING verbs, where
    * exactness is free (the deduped position set materializes at
    * commit time anyway; sidecar re-marks of the same position are
    * exactly why raw sidecar row counts don't subtract). What it
    * buys: the catalog's metadata aggregate answers COUNT(*) on a
    * dv-bearing version (Σ`:rows` − Σ`:masked`) and LIMIT pruning
    * keeps working between compactions — the regime a lakehouse
    * actually lives in.
    *
    * VERSION CONSISTENCY (the degrade-don't-lie half): "s" pins the
    * sidecar-list length the count described. Sidecar lists only ever
    * GROW within a generation (new marks append new sidecars — a
    * grown list mismatches and recounts here) or get REPLACED
    * position-preserving (rehome rewrites each sidecar to a fresh
    * path with identical content, so count and length both carry);
    * a consumer accepts the stat only when the recorded "s" equals
    * the live list's length, and declines otherwise. Files already
    * consistent (untouched carries) skip the recount, so the one
    * churn-sized job here covers exactly the files THIS commit
    * touched. A real column literally named ":masked" owns the key —
    * never minted, consumers decline (the `:rows`/`:bucket` collision
    * rule). Canonicalization mirrors [[foldSidecars]]: sidecar rows
    * spell paths as `_metadata.file_path` URIs, translated on the
    * driver over the DISTINCT spellings only (file-count-sized) and
    * broadcast back, so the distinct-count groups by CANONICAL file
    * even across spelling generations. Each file's count is taken
    * over ITS OWN dv(f) sidecar list (membership join on the sidecar
    * a row came from), the read path's exact recipe — never the
    * pooled sidecars of unrelated files. */
  private def withMaskedCounts(spark: SparkSession,
      stats: Map[String, Map[String,
        com.fasterxml.jackson.databind.node.ObjectNode]],
      dv: Map[String, Seq[String]],
      logicalSchema: Option[org.apache.spark.sql.types.StructType])
      : Map[String, Map[String,
        com.fasterxml.jackson.databind.node.ObjectNode]] = {
    if (dv.isEmpty) return stats
    if (logicalSchema.exists(_.fieldNames.contains(":masked"))) return stats
    def consistent(f: String): Boolean =
      stats.get(f).flatMap(_.get(":masked")).exists { n =>
        n.path("s").asInt(-1) == dv(f).size && n.has("n") }
    val stale = dv.keys.filterNot(consistent).toSeq.sorted
    if (stale.isEmpty) return stats
    import org.apache.spark.sql.functions.{broadcast, col, countDistinct}
    // count file f's positions over dv(f)'s OWN sidecar list — the
    // exact set the read path masks f from — not the pooled sidecars
    // of all stale files grouped by spelling. Pooling was exact only
    // under the invariant "every sidecar with marks for f is listed
    // in dv(f)"; counting per (sidecar ∈ dv(f), file == f) makes the
    // recorded cardinality structurally mirror the scan whatever a
    // future verb does to that invariant. The membership table is
    // sidecar-list-sized, driver-built from dv itself.
    val member: Seq[(String, String)] = stale.flatMap { f =>
      val cf = canon(Paths.get(f)).toString
      dv(f).map(s => canon(Paths.get(s)).toString -> cf)
    }.distinct
    val sidecars = member.map(_._1).distinct.sorted
    val rows = spark.read.schema("file STRING, pos LONG")
      .parquet(sidecars: _*)
      .select(col("file"), col("pos"),
        col("_metadata.file_path").as("_graft_sc_spelling"))
    def canonSpelling(fp: String): String = {
      val p = try Paths.get(java.net.URI.create(fp))
        catch { case _: Exception => Paths.get(fp) }
      canon(p).toString
    }
    val canonOf: Seq[(String, String)] = rows.select("file").distinct()
      .collect().map(_.getString(0)).toSeq
      .map(fp => fp -> canonSpelling(fp))
    val scCanonOf: Seq[(String, String)] = rows
      .select("_graft_sc_spelling").distinct()
      .collect().map(_.getString(0)).toSeq
      .map(sp => sp -> canonSpelling(sp))
    import spark.implicits._
    val counts: Map[String, Long] = rows
      .join(broadcast(canonOf.toDF("file", "_graft_canon")), Seq("file"))
      .join(broadcast(scCanonOf.toDF("_graft_sc_spelling", "_graft_sc")),
        Seq("_graft_sc_spelling"))
      // inner membership join: keep a (sidecar, file) row only when
      // that sidecar is in THAT file's dv list
      .join(broadcast(member.toDF("_graft_sc", "_graft_canon")),
        Seq("_graft_sc", "_graft_canon"))
      .groupBy("_graft_canon").agg(countDistinct(col("pos")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    stats ++ stale.map { f =>
      val node = mapper.createObjectNode()
      node.put("n", counts.getOrElse(canon(Paths.get(f)).toString, 0L)): Unit
      node.put("s", dv(f).size): Unit
      f -> (stats.getOrElse(f, Map.empty[String,
        com.fasterxml.jackson.databind.node.ObjectNode]) +
        (":masked" -> node))
    }
  }

  /** MERGE-ON-READ point UPDATE — [[updateWhereIn]]'s cost-model twin,
    * the Delta-DV update shape: ONE commit that (a) MASKS the matching
    * rows' positions via a sidecar (exactly [[deleteWhereInMOR]]'s
    * marks) and (b) APPENDS the post-image rows — the matching rows
    * read THROUGH the existing mask (an already-deleted row must not
    * resurrect as an updated one) with each `set` assignment applied —
    * as new data files. Affected files carry byte-identical, so the
    * write cost is O(matching rows), not O(affected files rewritten).
    * Readers see masked-old + appended-new atomically at the published
    * version; a second MOR update of the same key hits the post-image
    * row (it lives in an unmasked new file). Same guardrails as
    * [[updateWhereIn]]: assignments never change the schema (loud
    * require before publish), NULL `column` values never match.
    * A LOST put-if-absent race leaves this commit's sidecars AND
    * post-image files unreferenced until [[vacuum]] — the COW orphan
    * story, stated for the MOR pair too. Publishes as the next
    * version; returns it. */
  def updateWhereInMOR(spark: SparkSession, tableDir: String,
      column: String, values: Seq[Any],
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "updateWhereInMOR wants at least one assignment")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    val pcol = physName(colmap, column)
    val prevDv = dvOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val keptSet = pruneCore(spark, tableDir, prevFiles, statsNode,
      logicalSchema, colmap, column, values).toSet
    val affected = prevFiles.filter(keptSet)
    val physOpt = logicalSchema.map(physSchema(_, colmap))
    // post-images re-bucket their churn-sized batch so the SPJ layout
    // survives a MOR update (the append rule, round 18)
    val postSpec = physOpt.map(_.fieldNames.toSeq)
      .flatMap(pc => bucketSpecFor(statsNode, prevFiles, pc))
    val (newFiles, newDv) =
      if (affected.isEmpty) (Nil, prevDv)
      else {
        // post-images FIRST (through the current mask), then the marks:
        // both scans are candidate-sized, and the order keeps the
        // post-image read free of this commit's own sidecar
        val nf = morPostImageFiles(spark, tableDir, v, affected,
          logicalSchema, colmap, prevDv,
          _.filter(col(column).isin(values: _*)), set,
          "update-where-in-mor", postSpec)
        (nf, morMarks(spark, tableDir, v, affected, physOpt,
          pcol, values, prevDv))
      }
    publish(tableDir, v, prevFiles ++ newFiles, withMaskedCounts(spark,
      carriedStats(prevManifest, prevFiles) ++
        harvestBucketed(newFiles, postSpec),
      newDv, logicalSchema),
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest), dv = newDv, op = "update-where-in-mor")
    v
  }

  /** The post-image half shared by the MOR updates: the matched rows
    * (read THROUGH the current mask — an already-deleted row must not
    * resurrect as an updated one) with each `set` assignment applied,
    * written as new data files under version `v`'s data dir. Names and
    * types must hold exactly; nullability may only NARROW (an
    * unconditional `lit(x)` assignment is naturally non-nullable, and
    * a required parquet column reads fine under the recorded optional
    * schema — the reverse would let nulls into a claimed-non-null
    * column and fails). Constraint funnel runs on exactly these rows. */
  private def morPostImageFiles(spark: SparkSession, tableDir: String,
      v: Long, affected: Seq[String],
      logicalSchema: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String], prevDv: Map[String, Seq[String]],
      matched: DataFrame => DataFrame,
      set: Map[String, org.apache.spark.sql.Column],
      verb: String,
      // the base version's bucket layout (physical cols, n), when the
      // caller wants the post-images to re-bucket and keep it
      bucketSpec: Option[(Seq[String], Int)] = None): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val base = matched(readFiles(spark, affected, logicalSchema, colmap,
      prevDv.view.filterKeys(affected.toSet).toMap))
    set.keys.foreach(c => require(base.columns.contains(c),
      s"$verb assigns unknown column $c — updates never add columns"))
    val updated = base.select(base.columns.map { c =>
      set.get(c).map(_.as(c)).getOrElse(col(c))
    }.toSeq: _*)
    val schemaOk =
      updated.schema.fields.length == base.schema.fields.length &&
        updated.schema.fields.zip(base.schema.fields).forall {
          case (w, r) => w.name == r.name && w.dataType == r.dataType &&
            (r.nullable || !w.nullable)
        }
    require(schemaOk,
      s"$verb must preserve the schema: ${base.schema} -> ${updated.schema}")
    enforceConstraints(spark, tableDir, updated, verb)
    val out =
      if (colmap.isEmpty) updated
      else updated.toDF(
        base.columns.map(physName(colmap, _)).toIndexedSeq: _*)
    val pd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    rebucketBatch(out, bucketSpec).write.mode("overwrite")
      .parquet(pd.toString)
    listDir(pd).filter(_.toString.endsWith(".parquet"))
      .map(p => canon(p).toString).sorted
  }

  /** The predicate-resolution front door of the general-predicate MOR
    * verbs: resolve `predicate` against the table's LOGICAL schema
    * (an empty local relation — no I/O) and return the analyzed
    * condition, refusing the shapes the verbs cannot honor — an
    * unresolvable/unknown column fails in Spark's own words, a
    * NONDETERMINISTIC predicate would mask different rows than any
    * re-evaluation sees, and a SUBQUERY has no meaning against the
    * verb's own scan (materialize the key set and use the
    * `*WhereIn[MOR]` form). */
  private def resolveRowPredicate(spark: SparkSession, tableDir: String,
      logicalSchema: Option[org.apache.spark.sql.types.StructType],
      prevFiles: Seq[String], predicate: org.apache.spark.sql.Column,
      verb: String): org.apache.spark.sql.catalyst.expressions.Expression = {
    val schema = logicalSchema.getOrElse(
      spark.read.parquet(prevFiles: _*).schema)
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val cond = probe.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(sys.error(
      s"$verb on $tableDir: predicate did not resolve to a filter"))
    require(cond.deterministic,
      s"$verb on $tableDir: predicate `${predicate}` is " +
        "non-deterministic — re-evaluation could mask different rows " +
        "than the reader sees")
    require(!cond.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"$verb on $tableDir: predicate contains a subquery — " +
        "materialize the key set and use the WhereIn[MOR] form, or " +
        "read-transform-commit")
    // constant-fold before the prune translator sees it: analysis
    // leaves coercion casts AROUND literals (`k < CAST(8 AS BIGINT)`),
    // and the stats/bloom patterns match bare Literal comparands —
    // the optimizer would do this on a real scan, but this condition
    // never passes through the optimizer (it exists only to prune)
    cond.transformUp {
      case e if e.foldable &&
          !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          e.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow),
          e.dataType)
    }
  }

  /** MERGE-ON-READ delete for an ARBITRARY row predicate — the general
    * form of [[deleteWhereInMOR]] (`DELETE FROM t WHERE price < 100 AND
    * status = 'F'`, Delta's DV delete shape): mark every row the
    * predicate matches, in O(matching rows) sidecar + one manifest,
    * zero data files rewritten. The predicate speaks LOGICAL column
    * names and must be deterministic and subquery-free (loud
    * refusals — [[resolveRowPredicate]]); rows where it evaluates NULL
    * are NOT matched (SQL `WHERE` semantics, same as the membership
    * verbs' null rule). File pruning runs the resolved predicate
    * through the same stats+bloom translator the SQL catalog pushes
    * scan filters through ([[ScanPrune.kept]]): ranges prune on
    * min/max intervals, equalities/INs on stats+bloom, IS [NOT] NULL
    * on recorded null counts, AND/OR compose, and anything it cannot
    * prove keeps the file — the candidate scan is then
    * kept-files-sized, not table-sized, on a clustered layout.
    * Positions come from the CURRENT visible rows; re-marking an
    * already-masked position is a harmless duplicate under the
    * anti-join. Publishes as the next version (op
    * `delete-where-mor`); returns it. */
  def deleteWhereMOR(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val colmap = colmapOf(prevManifest)
    val prevDv = dvOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val cond = resolveRowPredicate(spark, tableDir, logicalSchema,
      prevFiles, predicate, "deleteWhereMOR")
    val kept = ScanPrune.kept(spark, tableDir, s"$tableDir@delete-where-mor",
      prevFiles, prevManifest.get("stats"), logicalSchema, colmap,
      Seq(cond)).toSet
    val affected = prevFiles.filter(kept)
    val newDv = morMarksWhere(spark, tableDir, v, affected,
      logicalSchema.map(physSchema(_, colmap)),
      logicalSchema.map(_.fieldNames.toSeq), predicate, prevDv)
    publish(tableDir, v, prevFiles, withMaskedCounts(spark,
      carriedStats(prevManifest, prevFiles), newDv, logicalSchema),
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest), dv = newDv, op = "delete-where-mor")
    v
  }

  /** MERGE-ON-READ update for an ARBITRARY row predicate — the general
    * form of [[updateWhereInMOR]] (`UPDATE t SET v = v * 2 WHERE
    * price < 100`, the Delta-DV update shape): ONE commit that masks
    * the matching rows and appends their post-images (read THROUGH the
    * existing mask, each `set` assignment applied). Same predicate
    * contract as [[deleteWhereMOR]] (logical names, deterministic,
    * subquery-free, NULL never matches, stats+bloom file pruning via
    * the resolved condition) and same guardrails as the membership
    * update (schema preserved exactly, constraint funnel on the
    * post-images). Publishes as the next version (op
    * `update-where-mor`); returns it. */
  def updateWhereMOR(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "updateWhereMOR wants at least one assignment")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val colmap = colmapOf(prevManifest)
    val prevDv = dvOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val cond = resolveRowPredicate(spark, tableDir, logicalSchema,
      prevFiles, predicate, "updateWhereMOR")
    val kept = ScanPrune.kept(spark, tableDir, s"$tableDir@update-where-mor",
      prevFiles, prevManifest.get("stats"), logicalSchema, colmap,
      Seq(cond)).toSet
    val affected = prevFiles.filter(kept)
    val postSpec = logicalSchema
      .map(physSchema(_, colmap).fieldNames.toSeq)
      .flatMap(pc => bucketSpecFor(prevManifest.get("stats"), prevFiles, pc))
    val (newFiles, newDv) =
      if (affected.isEmpty) (Nil, prevDv)
      else {
        val nf = morPostImageFiles(spark, tableDir, v, affected,
          logicalSchema, colmap, prevDv, _.filter(predicate), set,
          "update-where-mor", postSpec)
        (nf, morMarksWhere(spark, tableDir, v, affected,
          logicalSchema.map(physSchema(_, colmap)),
          logicalSchema.map(_.fieldNames.toSeq), predicate, prevDv))
      }
    publish(tableDir, v, prevFiles ++ newFiles, withMaskedCounts(spark,
      carriedStats(prevManifest, prevFiles) ++
        harvestBucketed(newFiles, postSpec),
      newDv, logicalSchema),
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest), dv = newDv, op = "update-where-mor")
    v
  }

  /** [[readFiles]] with the mask-stable ROW ADDRESS exposed: every row
    * carries its `_metadata` (file_path, row_index) as ordinary columns
    * named `fileCol`/`posCol`, read THROUGH the deletion mask (the
    * anti-join form — the general MERGE that needs addresses is an
    * admin-sized op, not a hot read path). This is what a row-level
    * operation needs to MARK the rows it read: the address is exactly
    * the sidecar coordinate system. */
  private def readFilesWithPos(spark: SparkSession, files: Seq[String],
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String], dv: Map[String, Seq[String]],
      fileCol: String, posCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val physOpt =
      if (colmap.isEmpty) schemaOpt
      else Some(physSchema(schemaOpt.getOrElse(sys.error(
        "mapped table without a recorded schema — unreachable")), colmap))
    if (files.isEmpty) {
      val base = schemaOpt.getOrElse(sys.error(
        "zero-file manifest without a recorded schema — nothing shapes " +
          "the empty relation"))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField(fileCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(posCol,
            org.apache.spark.sql.types.LongType))))
    }
    def plainPos(fs: Seq[String]): DataFrame = {
      val base = physOpt.fold(spark.read)(spark.read.schema).parquet(fs: _*)
      base.select(base.columns.map(col).toIndexedSeq ++ Seq(
        col("_metadata.file_path").as(fileCol),
        col("_metadata.row_index").as(posCol)): _*)
    }
    val dvd = files.filter(dv.contains)
    val physNamed =
      if (dvd.isEmpty) plainPos(files)
      else {
        val clean = files.filterNot(dv.contains)
        val sidecars = dvd.flatMap(dv).distinct
        val marks = spark.read.schema("file STRING, pos LONG")
          .parquet(sidecars: _*)
        val withMeta = plainPos(dvd)
        val masked = withMeta.join(marks,
          withMeta(fileCol) === marks("file") &&
            withMeta(posCol) === marks("pos"), "left_anti")
        if (clean.isEmpty) masked else masked.unionByName(plainPos(clean))
      }
    if (colmap.isEmpty) physNamed
    else physNamed.toDF(
      schemaOpt.get.fieldNames.toIndexedSeq ++ Seq(fileCol, posCol): _*)
  }

  /** One clause of the general MERGE ([[mergeWhereMOR]]): WHEN MATCHED
    * (or NOT MATCHED BY SOURCE) THEN UPDATE/DELETE, optionally guarded.
    * Expressions reference the target as `t.<col>` and the source as
    * `s.<col>` (by-source clauses may reference only `t.*` — there is
    * no source row); `set` keys are bare target column names, and a
    * PARTIAL set keeps the unassigned columns' pre-image values. */
  sealed trait MergeClause
  final case class MergeUpdate(cond: Option[org.apache.spark.sql.Column],
      set: Map[String, org.apache.spark.sql.Column]) extends MergeClause
  final case class MergeDelete(cond: Option[org.apache.spark.sql.Column])
      extends MergeClause
  /** WHEN NOT MATCHED THEN INSERT: `values` keys are target column
    * names (missing nullable columns null-fill; missing non-nullable
    * refuse); values reference `s.<col>` only. */
  final case class MergeInsert(cond: Option[org.apache.spark.sql.Column],
      values: Map[String, org.apache.spark.sql.Column])

  /** The GENERAL MERGE — SQL MERGE's full clause algebra on the
    * merge-on-read cost model, where [[mergeIntoMOR]] is the keyed
    * whole-row-feed fast path: arbitrary deterministic ON condition,
    * multiple CONDITIONAL matched clauses (first passing clause wins —
    * SQL's order semantics), PARTIAL update assignments (unassigned
    * columns keep their pre-image), guarded NOT MATCHED inserts, and
    * WHEN NOT MATCHED BY SOURCE update/delete. ONE commit publishes
    * O(matching rows) of sidecar masks plus the post-image/insert
    * files — affected data files carry byte-identical, the only merge
    * cost model that holds at 100 TB churn.
    *
    * Expressions reference `t.<col>` / `s.<col>` (the two sides are
    * aliased exactly so); the SQL surface rewrites its resolved
    * attributes to these names ([[SnapshotSqlDml]]). Matched rows are
    * read THROUGH the current mask with their (file, row_index)
    * addresses ([[readFilesWithPos]]) — an already-deleted row can
    * neither match nor resurrect. CARDINALITY is SQL MERGE's rule:
    * a target row that more than one source row would ACT on refuses
    * loudly (rows no clause acts on are exempt, Delta's resolution).
    * The matched join materializes once (persist) and is churn-sized
    * by construction — the inner join keeps only matching rows.
    * Scale note: give the ON condition an equi conjunct (`t.k = s.k
    * [AND …]`) so Spark plans a hash join; a pure range/inequality
    * ON degrades to a nested-loop join, which is the same warning
    * Delta ships. Publishes as the next version (op
    * `merge-where-mor`, feed label `upsert`); returns it. */
  def mergeWhereMOR(spark: SparkSession, tableDir: String,
      source: DataFrame, cond: org.apache.spark.sql.Column,
      matched: Seq[MergeClause], notMatched: Seq[MergeInsert],
      notMatchedBySource: Seq[MergeClause] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeWhereMOR wants at least one clause")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val colmap = colmapOf(prevManifest)
    val prevDv = dvOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val logical = logicalSchema.getOrElse(
      spark.read.parquet(prevFiles: _*).schema)
    val names = logical.fieldNames.toSeq
    // clause sanity before any job: assignment/value keys must be
    // target columns
    (matched ++ notMatchedBySource).foreach {
      case MergeUpdate(_, set) =>
        val unknown = set.keySet -- names
        require(unknown.isEmpty,
          s"mergeWhereMOR assigns unknown column(s) " +
            s"${unknown.mkString(", ")} — updates never add columns")
      case _ => ()
    }
    notMatched.foreach { ins =>
      val unknown = ins.values.keySet -- names
      require(unknown.isEmpty,
        s"mergeWhereMOR INSERT values unknown column(s) " +
          s"${unknown.mkString(", ")}")
      logical.fields.filterNot(f => ins.values.contains(f.name)).foreach(f =>
        require(f.nullable,
          s"mergeWhereMOR INSERT leaves non-nullable column " +
            s"'${f.name}' unassigned"))
    }
    val fileCol = "_graft_mg_file"
    val posCol = "_graft_mg_pos"
    val t = readFilesWithPos(spark, prevFiles, logicalSchema, colmap,
      prevDv, fileCol, posCol).alias("t")
    // MATERIALIZE the source (Delta's rule, for Delta's reason): the
    // join re-derives for the cardinality check, the sidecar write,
    // and each clause slice — a source whose plan re-evaluates
    // differently (a non-deterministic expression, a table someone
    // mutates mid-merge) would mask one row set and post-image
    // another. localCheckpoint pins the rows once, executor-side.
    val s = source.localCheckpoint().alias("s")
    // every provided expression must be deterministic and
    // subquery-free — the join re-derives across passes, and a
    // re-evaluation that matched a different row set would mask one
    // set and post-image another. Checked RESOLVED (an unresolved
    // `rand()` reads deterministic until analysis), against a
    // zero-row scope carrying both aliases — analysis only, no job.
    val allExprs: Seq[org.apache.spark.sql.Column] = Seq(cond) ++
      (matched ++ notMatchedBySource).flatMap {
        case MergeUpdate(c, set) => c.toSeq ++ set.values
        case MergeDelete(c) => c.toSeq
      } ++ notMatched.flatMap(i => i.cond.toSeq ++ i.values.values)
    val checkScope = t.crossJoin(s).limit(0)
    allExprs.foreach { c =>
      val analyzed = checkScope.select(c.as("_graft_mg_chk"))
        .queryExecution.analyzed
      require(analyzed.expressions.forall(_.deterministic),
        s"mergeWhereMOR: `$c` is non-deterministic — the matched row " +
          "set must be the one every re-evaluation sees")
      require(!analyzed.expressions.exists(_.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])),
        s"mergeWhereMOR: `$c` carries a subquery — materialize it " +
          "into the source relation first")
    }
    // first-passing-clause index, -1 = no clause acts (row unchanged)
    def firstMatch(conds: Seq[Option[org.apache.spark.sql.Column]])
        : org.apache.spark.sql.Column =
      conds.zipWithIndex.reverse.foldLeft(lit(-1)) { case (acc, (c, i)) =>
        when(c.getOrElse(lit(true)), lit(i)).otherwise(acc)
      }
    val act = "_graft_mg_act"
    val dd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val maskParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def actOn(rows: DataFrame, clauses: Seq[MergeClause],
        what: String): Unit = {
      if (clauses.isEmpty) return
      val tagged = rows
        .withColumn(act, firstMatch(clauses.map {
          case MergeUpdate(c, _) => c
          case MergeDelete(c) => c
        })).filter(col(act) >= 0).persist()
      try {
        if (what == "matched") {
          // SQL MERGE cardinality: >1 source row ACTING on one target
          // row is ambiguous — refuse naming the address
          val dup = tagged.groupBy(col(fileCol), col(posCol)).count()
            .filter(col("count") > 1).take(1)
          require(dup.isEmpty,
            s"mergeWhereMOR: multiple source rows match (and act on) " +
              s"target row ${dup.headOption.fold("")(_.toString)} — SQL " +
              "MERGE requires at most one; deduplicate the source or " +
              "tighten the ON condition")
        }
        maskParts += tagged
          .select(col(fileCol).as("file"), col(posCol).as("pos"))
        clauses.zipWithIndex.foreach {
          case (MergeUpdate(_, set), i) =>
            pieces += tagged.filter(col(act) === i).select(names.map { c =>
              set.get(c).map(_.as(c)).getOrElse(col(s"t.$c").as(c))
            }: _*)
          case (MergeDelete(_), _) => () // mask only
        }
      } finally tagged.unpersist(): Unit
    }
    // the matched half: inner join keeps only matching rows
    // (churn-sized); acting rows mask, update clauses add post-images
    actOn(t.join(s, cond, "inner"), matched, "matched")
    // not-matched-by-source: target rows with no source match —
    // clauses may reference only t.* (resolution fails loudly on s.*)
    actOn(t.join(s, cond, "left_anti"), notMatchedBySource, "by-source")
    // not-matched inserts: source rows with no target match
    if (notMatched.nonEmpty) {
      val srcOnly = s.join(t, cond, "left_anti")
        .withColumn(act, firstMatch(notMatched.map(_.cond)))
        .filter(col(act) >= 0)
      notMatched.zipWithIndex.foreach { case (ins, i) =>
        pieces += srcOnly.filter(col(act) === i).select(logical.fields.map {
          f => ins.values.get(f.name).map(_.as(f.name)).getOrElse(
            lit(null).cast(f.dataType).as(f.name))
        }.toSeq: _*)
      }
    }
    // NOTE: persist scope — the mask/post-image frames re-derive from
    // the (small, churn-sized) tagged data; Spark recomputes the join
    // for the sidecar write and each clause slice, each a
    // candidate-sized scan. An admin op pays it; correctness never
    // depends on it.
    // post-images/inserts re-bucket when the SPJ layout exists
    // (churn-sized — the round-18 layout-keeping rule)
    val postSpec = bucketSpecFor(prevManifest.get("stats"), prevFiles,
      physSchema(logical, colmap).fieldNames.toSeq)
    val newFiles: Seq[String] =
      if (pieces.isEmpty) Nil
      else {
        val union = pieces.reduce(_.unionByName(_))
        // names align by construction; types must hold exactly,
        // nullability may only narrow — the morPostImageFiles rule
        val schemaOk = union.schema.fields.zip(logical.fields).forall {
          case (w, r) => w.name == r.name && w.dataType == r.dataType &&
            (r.nullable || !w.nullable)
        }
        require(schemaOk,
          s"mergeWhereMOR must preserve the schema: $logical -> " +
            s"${union.schema}")
        enforceConstraints(spark, tableDir, union, "merge-where-mor")
        val out =
          if (colmap.isEmpty) union
          else union.toDF(names.map(physName(colmap, _)).toIndexedSeq: _*)
        val pd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        rebucketBatch(out, postSpec).write.mode("overwrite")
          .parquet(pd.toString)
        listDir(pd).filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
      }
    val newDv =
      if (maskParts.isEmpty) prevDv
      else {
        maskParts.reduce(_.union(_))
          .write.mode("overwrite").parquet(dd.toString)
        foldSidecars(spark, dd, prevFiles, prevDv)
      }
    publish(tableDir, v, prevFiles ++ newFiles, withMaskedCounts(spark,
      carriedStats(prevManifest, prevFiles) ++
        harvestBucketed(newFiles, postSpec),
      newDv, logicalSchema),
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest), dv = newDv, op = "merge-where-mor")
    v
  }

  /** Materialize every deletion vector: rewrite ONLY the dv-bearing
    * files through the mask and publish them dv-free — the targeted
    * compaction that restores SQL-catalog readability and pre-MOR read
    * plans without [[optimize]]'s whole-table rewrite. Un-dv'd files
    * carry verbatim, stats and all; rewritten files harvest fresh
    * stats; orphaned sidecars stay pinned by OLDER manifests until
    * [[expireVersions]] + [[vacuum]] (which is also the tail of the
    * MOR erasure theorem — only after compact + expire + vacuum are a
    * deleted row's bytes in no surviving file). No dv entries → no-op
    * (returns the current version unchanged).
    *
    * BUCKET-PRESERVING (round 18): when the version carries a
    * consistent [[rebucket]] layout, the masked rewrite re-partitions
    * the affected files' surviving rows by the layout's own hash
    * arithmetic (`repartition(n, col)` — identical to the original
    * write, so every row provably lands back in ITS bucket) and the
    * fresh files re-mint `:bucket`; untouched files carry theirs
    * verbatim. The SPJ layout — the most expensive asset a 100 TB
    * table owns — thus SURVIVES the one maintenance verb a dv'd
    * regime runs routinely, instead of costing a full-table
    * `rebucket` to re-establish. The price is one shuffle of the
    * affected files' rows (the unbucketed rewrite is shuffle-free);
    * paid only when a layout exists, which is exactly when it buys
    * back a whole-table rewrite. */
  def compactDeletes(spark: SparkSession, tableDir: String): Long = {
    import org.apache.spark.sql.functions.col
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevDv = dvOf(prevManifest)
    if (prevDv.isEmpty) return baseV
    val v = baseV + 1
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val colmap = colmapOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val (affected, untouched) = prevFiles.partition(prevDv.contains)
    val dd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val masked = readPhysical(spark, affected,
      logicalSchema.map(physSchema(_, colmap)), prevDv)
    // :bucket records PHYSICAL names and readPhysical keeps them — the
    // re-partition needs no name translation
    val bucketSpec = bucketLayoutOf(prevManifest.get("stats"), prevFiles)
      .map { case (pcols, n, _) => (pcols, n) }
      .filter(_._1.forall(masked.columns.contains))
    (bucketSpec match {
      case Some((pcols, n)) => masked.repartition(n, pcols.map(col): _*)
      case None => masked
    }).write.mode("overwrite").parquet(dd.toString)
    val newFiles = listDir(dd).filter(_.toString.endsWith(".parquet"))
      .map(p => canon(p).toString).sorted
    val newStats = bucketSpec match {
      case Some((pcols, n)) =>
        annotateBuckets(harvestStats(newFiles), newFiles, pcols, n)
      case None => harvestStats(newFiles)
    }
    publish(tableDir, v, untouched ++ newFiles,
      carriedStats(prevManifest, untouched) ++ newStats,
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest), op = "compact-deletes")
    v
  }

  /** A full colmap in logical-schema field order (deterministic
    * manifests) — empty stays empty (identity tables publish no map). */
  private def orderedColmap(
      logical: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String]): Seq[(String, String)] =
    if (colmap.isEmpty) Nil
    else logical.fold(colmap.toSeq.sortBy(_._1))(
      _.fieldNames.toSeq.map(c => c -> physName(colmap, c)))

  /** Copy-on-write UPDATE through the log — [[deleteWhere]]'s sibling,
    * completing the DML triad (append / delete / update) on the same
    * stats-pruned machinery: only files whose [min, max] for `column`
    * can intersect [lower, upper] are rewritten, applying each `set`
    * assignment to rows INSIDE the interval and leaving every other
    * row byte-identical; exonerated files carry verbatim. The
    * assignments may reference existing columns (`"price" ->
    * col("price") * 2`) but must not CHANGE the schema — a type- or
    * column-altering update would desynchronize the manifest schema
    * from the carried files, so it fails loudly before publishing
    * (the masked-overwrite discipline of the migrator's M2, on the
    * log). NULL `column` values are never inside a range, so they are
    * never updated — the same semantics as [[deleteWhere]]. */
  def updateWhere(spark: SparkSession, tableDir: String, column: String,
      lower: Option[Any], upper: Option[Any],
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(lower.nonEmpty || upper.nonEmpty,
      "updateWhere wants at least one bound — an unbounded update is a rewrite")
    require(set.nonEmpty, "updateWhere wants at least one assignment")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    val pcol = physName(colmap, column)
    val prevDv = dvOf(prevManifest)
    val (affected, untouched) = prevFiles.partition(f =>
      keepFile(statsNode, f, pcol, lower, upper))
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val newFiles =
      if (affected.isEmpty) Nil
      else {
        val preds = lower.map(l => col(column) >= lit(l)) ++
          upper.map(u => col(column) <= lit(u))
        val inRange = preds.reduce(_ && _)
        // the caller's `set` expressions speak LOGICAL names: alias the
        // physical read to logical, update, and alias back before the
        // write (rewritten files keep physical names — the map's
        // immutability is what makes every other path cheap)
        val physBase = readPhysical(spark, affected,
          logicalSchema.map(physSchema(_, colmap)), prevDv)
        val base =
          if (colmap.isEmpty) physBase
          else physBase.toDF(logicalSchema.get.fieldNames.toIndexedSeq: _*)
        set.keys.foreach(c => require(base.columns.contains(c),
          s"updateWhere assigns unknown column $c — updates never add columns"))
        val updated = base.select(base.columns.map { c =>
          set.get(c).map(expr => when(inRange, expr).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }.toSeq: _*)
        require(updated.schema == base.schema,
          s"updateWhere must preserve the schema: ${base.schema} -> ${updated.schema}")
        enforceConstraints(spark, tableDir, updated, "update-where")
        val out =
          if (colmap.isEmpty) updated
          else updated.toDF(base.columns.map(physName(colmap, _)).toIndexedSeq: _*)
        val dd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        out.write.mode("overwrite").parquet(dd.toString)
        listDir(dd).filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
      }
    val carried = carriedStats(prevManifest, untouched)
    val newStats = harvestStats(newFiles)
    publish(tableDir, v, untouched ++ newFiles, carried ++ newStats,
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest),
      dv = prevDv.view.filterKeys(untouched.toSet).toMap,
      op = "update-where")
    v
  }

  /** Point UPDATE through the log — [[updateWhere]]'s MEMBERSHIP twin,
    * completing the point-DML family beside [[readWhereIn]] and
    * [[deleteWhereIn]]: apply each `set` assignment to the rows whose
    * `column` IS one of `values`, rewriting only the files the
    * stats+bloom lookup-prune stages cannot exonerate (the id-keyed
    * correction shape: redact these document ids, re-score these
    * keys). Same guardrails as [[updateWhere]] — assignments may read
    * existing columns but never change the schema; NULL `column`
    * values never match a membership list, so the `when` mask leaves
    * them byte-identical. Returns the committed version. */
  def updateWhereIn(spark: SparkSession, tableDir: String, column: String,
      values: Seq[Any],
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    require(set.nonEmpty, "updateWhereIn wants at least one assignment")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val prevDv = dvOf(prevManifest)
    val keptSet = pruneCore(spark, tableDir, prevFiles, statsNode,
      logicalSchema, colmap, column, values).toSet
    val (affected, untouched) = prevFiles.partition(keptSet)
    val newFiles =
      if (affected.isEmpty) Nil
      else {
        val inKeys = col(column).isin(values: _*)
        val physBase = readPhysical(spark, affected,
          logicalSchema.map(physSchema(_, colmap)), prevDv)
        val base =
          if (colmap.isEmpty) physBase
          else physBase.toDF(logicalSchema.get.fieldNames.toIndexedSeq: _*)
        set.keys.foreach(c => require(base.columns.contains(c),
          s"updateWhereIn assigns unknown column $c — updates never add columns"))
        val updated = base.select(base.columns.map { c =>
          set.get(c).map(expr => when(inKeys, expr).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }.toSeq: _*)
        require(updated.schema == base.schema,
          s"updateWhereIn must preserve the schema: ${base.schema} -> ${updated.schema}")
        enforceConstraints(spark, tableDir, updated, "update-where-in")
        val out =
          if (colmap.isEmpty) updated
          else updated.toDF(base.columns.map(physName(colmap, _)).toIndexedSeq: _*)
        val dd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        out.write.mode("overwrite").parquet(dd.toString)
        listDir(dd).filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
      }
    val carried = carriedStats(prevManifest, untouched)
    val newStats = harvestStats(newFiles)
    publish(tableDir, v, untouched ++ newFiles, carried ++ newStats,
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest),
      dv = prevDv.view.filterKeys(untouched.toSet).toMap,
      op = "update-where-in")
    v
  }

  /** Copy-on-write MERGE through the log — Delta's `MERGE INTO` verb
    * on [[graft.ops.MigrationOps.tableDiff]]'s POST-IMAGE change-feed
    * convention, completing the DML family (append / delete / update /
    * merge). `changes` carries the table's full logical column set
    * plus `op` ∈ {insert, update, delete}, ONE row per key (compact
    * multi-version batches with
    * [[graft.ops.EventOps.cdcChangelogCompact]] first — checked loudly
    * here because a double-keyed feed would write two rows where the
    * table had one), payloads being the complete post-image for
    * non-deletes. Feeding a diff back through merge therefore replays
    * it transactionally: after `mergeInto(t, tableDiff(v0, v1), k)`
    * the table's content IS v1 — [[graft.ops.MigrationOps.applyDiff]]'s
    * theorem, landed as one atomic version. An insert whose key
    * already exists is an upsert (the post-image replaces the row), a
    * delete of an absent key is a no-op — both inherited from the
    * apply semantics, so the verb is idempotent per feed.
    *
    * The 100 TB shape is TWO delta-proportional pruning stages before
    * any data rewrites — the snapshot side never fully shuffles, and
    * in the common churn-clustered case barely reads:
    *
    *   1. STATS INTERVAL — one tiny agg over the feed yields
    *      [min, max] of its keys (plus the row/distinct/op sanity
    *      counts, same job); files whose recorded key range cannot
    *      meet that interval carry verbatim, zero I/O.
    *   2. FIND-TOUCHED — a key-column-ONLY scan of the stage-1
    *      survivors (explicit one-field read schema, so parquet reads
    *      one column chunk per file) joined against the feed's
    *      distinct keys, with `input_file_name()` as the provenance
    *      column, discovers the EXACT file set containing any feed key
    *      — the Delta find-touched-files job. A file inside the
    *      interval that contains none of the keys is exonerated and
    *      carries verbatim (stats say "maybe", the data says no).
    *      Matching is by part-file BASENAME (globally unique — Spark
    *      embeds the write job's UUID) because `input_file_name`
    *      speaks URI while the manifest speaks canonical paths.
    *
    * Only touched files rewrite: survivors are the anti-join of their
    * rows against the feed's keys, and every non-delete feed row lands
    * verbatim alongside them as the new-file side. Both jobs join the
    * churn-sized feed against churn-located data, so AQE's
    * broadcast-threshold planning keeps the table side exchange-free
    * for interactive batches and degrades to a shuffle join only when
    * the feed itself is huge. Untouched files and their stats carry
    * verbatim (O(touched) footer harvests); history, time travel,
    * column mapping ([[renameColumn]]/[[dropColumn]] — the feed speaks
    * logical, files stay physical), and the put-if-absent conflict
    * discipline all compose unchanged. Payload types must match the
    * recorded schema exactly (nullability is not enforced — parquet
    * inference is all-nullable anyway); an empty feed returns the
    * current version untouched, no commit. SnapshotMergeSpec pins the
    * apply theorem, both pruning stages, the upsert/no-op edges, and
    * the colmap composition. */
  def mergeInto(spark: SparkSession, tableDir: String, changes: DataFrame,
      key: String): Long = {
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      input_file_name, lit, max, min, when}
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    // pre-schema manifests (never mapped) fall back to one-time
    // inference, like the append path's enforcement source
    val logical = logicalSchema.getOrElse(
      spark.read.parquet(prevFiles: _*).schema)
    val prevDv = dvOf(prevManifest)
    require(changes.columns.contains("op"),
      "mergeInto wants a change feed with an op column — the tableDiff shape")
    val feedCols = changes.columns.filterNot(_ == "op").toSet
    require(feedCols == logical.fieldNames.toSet,
      s"mergeInto feed must carry exactly the table's columns + op: " +
        s"feed has ${feedCols.toSeq.sorted.mkString(",")}, table has " +
        s"${logical.fieldNames.sorted.mkString(",")}")
    require(logical.fieldNames.contains(key), s"unknown merge key $key")
    logical.fields.foreach { f =>
      val ft = changes.schema(f.name).dataType
      require(ft == f.dataType,
        s"mergeInto feed column ${f.name} is $ft, table records ${f.dataType} " +
          "— post-images are written verbatim, so types must match exactly")
    }
    val kcol = col(key)
    // one churn-sized job: key interval for stage-1 pruning + every
    // precondition count (the countDistinct shuffle is delta-sized —
    // never table-sized — and buys the one-row-per-key guarantee)
    val pre = changes.agg(
      count(lit(1)).as("n"), countDistinct(kcol).as("nk"),
      min(kcol).as("lo"), max(kcol).as("hi"),
      count(when(!col("op").isin("insert", "update", "delete"), 1)).as("badop"),
      count(when(kcol.isNull, 1)).as("nullkey"),
      count(when(col("op") =!= "delete", 1)).as("nins")).head()
    if (pre.getLong(0) == 0L) return baseV // empty feed: nothing to merge
    require(pre.getLong(5) == 0L, "mergeInto feed has NULL keys")
    require(pre.getLong(4) == 0L,
      "mergeInto feed has op values outside {insert, update, delete}")
    require(pre.getLong(0) == pre.getLong(1),
      s"mergeInto feed has ${pre.getLong(0)} rows over ${pre.getLong(1)} " +
        "distinct keys — one row per key; compact multi-version batches " +
        "with cdcChangelogCompact first")
    // post-images are the NEW content (deletes only remove) — the
    // constraint pass is feed-sized, before anything rewrites
    enforceConstraints(spark, tableDir,
      changes.filter(col("op") =!= "delete"), "merge-into")
    val nIns = pre.getLong(6)
    val pkey = physName(colmap, key)
    val (statsCandidates, clear) = prevFiles.partition(f =>
      keepFile(statsNode, f, pkey, Some(pre.get(2)), Some(pre.get(3))))
    // stage 1.5 — the BLOOM screen, for the point-merge shape (a small
    // keyed batch against a table whose merge key the layout does not
    // cluster, where the stats interval keeps ~every file): when the
    // feed is small enough to collect and a bloom index exists on the
    // key, exonerate candidates BEFORE the probe scan ever opens them.
    // Conservative like every prune here: blooms have no false
    // negatives, the stage can only shrink the probe's I/O, and the
    // probe (stage 2) remains the exact arbiter of what rewrites.
    val candidates =
      if (pre.getLong(1) > 10000L
          || !Files.exists(bloomIndexDir(tableDir, pkey).resolve("meta.json")))
        statsCandidates
      else {
        val feedKeys = changes.select(kcol).distinct()
          .collect().map(_.get(0)).toSeq
        pruneCore(spark, tableDir, statsCandidates, statsNode,
          logicalSchema, colmap, key, feedKeys)
      }
    // a file the bloom screen exonerated is UNTOUCHED — it must flow
    // into the carried set exactly like a stats-clear file, or the
    // publish below would silently drop it from the table
    val bloomClear = {
      val kept = candidates.toSet
      statsCandidates.filterNot(kept)
    }
    val touchedBase: Set[String] =
      if (candidates.isEmpty) Set.empty
      else {
        val pf = physSchema(logical, colmap)(logical.fieldIndex(key))
        val probe = spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(pf)))
          .parquet(candidates: _*)
          .select(col(pf.name).as("_graft_k"),
            input_file_name().as("_graft_file"))
        probe.join(changes.select(kcol.as("_graft_k")).distinct(), "_graft_k")
          .select("_graft_file").distinct()
          .collect().map(r => baseName(r.getString(0))).toSet
      }
    val (affected, exonerated) =
      candidates.partition(f => touchedBase.contains(baseName(f)))
    val untouched = clear ++ bloomClear ++ exonerated
    val newFiles =
      if (affected.isEmpty && nIns == 0L) Nil // pure absent-key deletes
      else {
        val inserts = changes.filter(col("op") =!= "delete")
          .select(logical.fieldNames.toIndexedSeq.map(col): _*)
        val merged =
          if (affected.isEmpty) inserts
          else readFiles(spark, affected, Some(logical), colmap, prevDv)
            .join(changes.select(kcol), Seq(key), "left_anti")
            .unionByName(inserts)
        val out =
          if (colmap.isEmpty) merged
          else merged.toDF(
            logical.fieldNames.map(physName(colmap, _)).toIndexedSeq: _*)
        val dd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        out.write.mode("overwrite").parquet(dd.toString)
        listDir(dd).filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
      }
    val carried = carriedStats(prevManifest, untouched)
    val newStats = harvestStats(newFiles)
    publish(tableDir, v, untouched ++ newFiles, carried ++ newStats,
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest),
      dv = prevDv.view.filterKeys(untouched.toSet).toMap,
      op = "merge")
    v
  }

  /** MERGE-ON-READ MERGE — [[mergeInto]]'s cost-model twin and the MOR
    * family's capstone (Delta's DV-backed MERGE): the SAME apply
    * semantics (post-image convention, upsert inserts, no-op absent
    * deletes, one row per key), but NO survivor rewrite at all — one
    * commit MASKS every row whose key is in the feed (a position
    * sidecar over the stats+bloom candidates; the marks scan doubles
    * as the find-touched probe) and APPENDS the feed's non-delete
    * post-images as new files. The write bill is O(feed) + one
    * candidate scan, independent of how many rows the touched files
    * hold around the churn — the merge shape that stays an operation
    * when every file is touched by one key (the worst COW case).
    * Same trade as the other MOR verbs: masked reads (SQL included,
    * row-based on the masked half) until [[compactDeletes]], and a
    * LOST put-if-absent race leaves the
    * batch's sidecars and post-image files unreferenced until
    * [[vacuum]] (the COW orphan story, sidecar-sized). Publishes as
    * the next version; an empty feed returns the current version. */
  def mergeIntoMOR(spark: SparkSession, tableDir: String,
      changes: DataFrame, key: String): Long = {
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    mergeIntoMORAt(spark, tableDir, changes, key, baseV,
      publishEmpty = false)
  }

  /** [[mergeIntoMOR]]'s exactly-once STREAMING twin — the CDC-apply
    * sink on the MOR cost model: a foreachBatch writer derives
    * `v = base + batchId`, each micro-batch lands as masks +
    * post-image appends in O(batch) work, and a replayed batch
    * declines at the manifest pre-check or loses the put-if-absent —
    * at-least-once delivery + idempotent versioned merge = exactly-once
    * table state ([[commitAppendIdempotent]]'s discipline on the merge
    * verb). An EMPTY batch publishes a carried no-op version rather
    * than skipping — the log's versions are dense, and a foreachBatch
    * stream must be able to map every batchId to a version. Returns
    * true iff THIS call published. */
  def mergeIntoMORIdempotent(spark: SparkSession, tableDir: String,
      changes: DataFrame, key: String, v: Long,
      txn: Option[String] = None): Boolean = {
    if (replayDeclines(tableDir, v, txn)) return false
    val latest = latestVersion(tableDir).getOrElse(-1L)
    require(latest >= 0,
      s"no committed version in $tableDir — merge needs a base; commit first")
    if (v <= latest) requireAboveRetention(tableDir, v)
    require(v <= latest + 1,
      s"version $v would leave a gap above latest=$latest — the log's " +
        "versions are dense; derive v as base + batchId")
    try {
      mergeIntoMORAt(spark, tableDir, changes, key, latest,
        publishEmpty = true, txn = txn); true
    } catch { case _: java.nio.file.FileAlreadyExistsException =>
      !replayDeclines(tableDir, v, txn) && sys.error(s"unreachable: $v vanished") }
  }

  private def mergeIntoMORAt(spark: SparkSession, tableDir: String,
      changes: DataFrame, key: String, baseV: Long,
      publishEmpty: Boolean, txn: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      lit, max, min, when}
    val v = baseV + 1
    val prevManifest = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val prevFiles = prevManifest.get("files").elements().asScala
      .map(_.asText()).toSeq
    val statsNode = prevManifest.get("stats")
    val colmap = colmapOf(prevManifest)
    val prevDv = dvOf(prevManifest)
    val schemaJson = Option(prevManifest.get("schema")).map(_.asText())
    val logicalSchema = schemaJson.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val logical = logicalSchema.getOrElse(
      spark.read.parquet(prevFiles: _*).schema)
    // the feed contract, verbatim from [[mergeInto]]
    require(changes.columns.contains("op"),
      "mergeIntoMOR wants a change feed with an op column — the tableDiff shape")
    val feedCols = changes.columns.filterNot(_ == "op").toSet
    require(feedCols == logical.fieldNames.toSet,
      s"mergeIntoMOR feed must carry exactly the table's columns + op: " +
        s"feed has ${feedCols.toSeq.sorted.mkString(",")}, table has " +
        s"${logical.fieldNames.sorted.mkString(",")}")
    require(logical.fieldNames.contains(key), s"unknown merge key $key")
    logical.fields.foreach { f =>
      val ft = changes.schema(f.name).dataType
      require(ft == f.dataType,
        s"mergeIntoMOR feed column ${f.name} is $ft, table records " +
          s"${f.dataType} — post-images are written verbatim, so types " +
          "must match exactly")
    }
    val kcol = col(key)
    val pre = changes.agg(
      count(lit(1)).as("n"), countDistinct(kcol).as("nk"),
      min(kcol).as("lo"), max(kcol).as("hi"),
      count(when(!col("op").isin("insert", "update", "delete"), 1)).as("badop"),
      count(when(kcol.isNull, 1)).as("nullkey"),
      count(when(col("op") =!= "delete", 1)).as("nins")).head()
    if (pre.getLong(0) == 0L) {
      // empty feed: convenience callers get "no commit"; the
      // exactly-once sink publishes a carried NO-OP version instead —
      // versions are dense and every batchId must map to one
      if (!publishEmpty) return baseV
      publish(tableDir, v, prevFiles, carriedStats(prevManifest, prevFiles),
        schemaJson, orderedColmap(logicalSchema, colmap),
        retiredOf(prevManifest), dv = prevDv, op = "merge-mor", txn = txn)
      return v
    }
    require(pre.getLong(5) == 0L, "mergeIntoMOR feed has NULL keys")
    require(pre.getLong(4) == 0L,
      "mergeIntoMOR feed has op values outside {insert, update, delete}")
    require(pre.getLong(0) == pre.getLong(1),
      s"mergeIntoMOR feed has ${pre.getLong(0)} rows over " +
        s"${pre.getLong(1)} distinct keys — one row per key; compact " +
        "multi-version batches with cdcChangelogCompact first")
    // post-images are the NEW content — the constraint pass is
    // feed-sized, before the marks scan opens anything
    enforceConstraints(spark, tableDir,
      changes.filter(col("op") =!= "delete"), "merge-mor")
    val nIns = pre.getLong(6)
    val pkey = physName(colmap, key)
    // stage 1 + 1.5, exactly [[mergeInto]]'s: stats interval, then the
    // bloom screen for small keyed feeds
    val (statsCandidates, _) = prevFiles.partition(f =>
      keepFile(statsNode, f, pkey, Some(pre.get(2)), Some(pre.get(3))))
    val candidates =
      if (pre.getLong(1) > 10000L
          || !Files.exists(bloomIndexDir(tableDir, pkey).resolve("meta.json")))
        statsCandidates
      else {
        val feedKeys = changes.select(kcol).distinct()
          .collect().map(_.get(0)).toSeq
        pruneCore(spark, tableDir, statsCandidates, statsNode,
          logicalSchema, colmap, key, feedKeys)
      }
    val physOpt = Some(physSchema(logical, colmap))
    // marks: the candidates' rows whose key is in the feed — ANY op
    // (an insert on an existing key is an upsert, so the old row masks
    // like an update's); doubles as the find-touched probe
    val newDv: Map[String, Seq[String]] =
      if (candidates.isEmpty) prevDv
      else {
        val dd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        physOpt.fold(spark.read)(spark.read.schema).parquet(candidates: _*)
          .select(col("_metadata.file_path").as("file"),
            col("_metadata.row_index").as("pos"),
            col(pkey).as("_graft_k"))
          .join(changes.select(kcol.as("_graft_k")).distinct(),
            Seq("_graft_k"), "left_semi")
          .select("file", "pos")
          .write.mode("overwrite").parquet(dd.toString)
        val sidecars = listDir(dd)
          .filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
        val touchedMeta = spark.read.schema("file STRING, pos LONG")
          .parquet(sidecars: _*)
          .select("file").distinct().collect().map(_.getString(0)).toSeq
        if (touchedMeta.isEmpty) {
          deleteRecursively(dd)
          prevDv
        } else {
          val byCanon = candidates.map(f =>
            canon(Paths.get(f)).toString -> f).toMap
          val touched = touchedMeta.map { fp =>
            val p = try Paths.get(java.net.URI.create(fp))
              catch { case _: Exception => Paths.get(fp) }
            byCanon.getOrElse(canon(p).toString, sys.error(
              s"dv file_path $fp resolves outside the candidate set"))
          }
          prevDv ++ touched.map(f =>
            f -> (prevDv.getOrElse(f, Nil) ++ sidecars))
        }
      }
    // post-images: every non-delete feed row, verbatim, as new files —
    // re-bucketed when the table carries the SPJ layout (round 18: a
    // keyed merge feed is churn-sized, so keeping the layout costs one
    // tiny repartition instead of a later full-table rebucket)
    val postSpec = bucketSpecFor(statsNode, prevFiles,
      physSchema(logical, colmap).fieldNames.toSeq)
    val newFiles =
      if (nIns == 0L) Nil
      else {
        val inserts = changes.filter(col("op") =!= "delete")
          .select(logical.fieldNames.toIndexedSeq.map(col): _*)
        val out =
          if (colmap.isEmpty) inserts
          else inserts.toDF(
            logical.fieldNames.map(physName(colmap, _)).toIndexedSeq: _*)
        val pd = Paths.get(tableDir, "data",
          s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
        rebucketBatch(out, postSpec).write.mode("overwrite")
          .parquet(pd.toString)
        listDir(pd).filter(_.toString.endsWith(".parquet"))
          .map(p => canon(p).toString).sorted
      }
    publish(tableDir, v, prevFiles ++ newFiles, withMaskedCounts(spark,
      carriedStats(prevManifest, prevFiles) ++
        harvestBucketed(newFiles, postSpec),
      newDv, logicalSchema),
      schemaJson, orderedColmap(logicalSchema, colmap),
      retiredOf(prevManifest), dv = newDv, op = "merge-mor", txn = txn)
    v
  }

  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Table maintenance through the log — [[graft.sources.Compaction]]
    * composed with the manifest machinery (Delta/Iceberg `OPTIMIZE`):
    * rewrite the LATEST version's content into ⌈rows/target⌉
    * right-sized files, published as the next version. Content is
    * identical by construction (the input is the committed snapshot);
    * what changes is everything an append-grown table loses over
    * time: file count (a micro-batch writer emits a file per batch —
    * the scan goes metadata-bound), and LAYOUT — `clusterBy`
    * re-range-partitions + sorts within files so per-file min/max
    * stats become disjoint again and [[readWhere]] resumes pruning
    * (appends covering the whole key domain make every file overlap
    * every ask; SnapshotLogSpec measures the repair through
    * [[pruneFiles]]). History is untouched: older manifests still
    * reference the small files (time travel reads them; [[vacuum]]
    * protects them), and a concurrent writer surfaces as the usual
    * version conflict. Fresh stats and schema are recorded by the
    * same commit path as any write. */
  def optimize(spark: SparkSession, tableDir: String,
      targetRecordsPerFile: Long, clusterBy: Seq[String] = Nil,
      maintainIndexes: Boolean = true, zOrderBy: Seq[String] = Nil,
      zOrderQuantile: Boolean = false,
      // opt-in COMPOSITION with a rebucket layout: z-order WITHIN each
      // bucket instead of range-partitioning on the z key globally —
      // the bucket layout (and its zero-exchange joins) survives, and
      // a bucket whose rows split into several files still carries
      // per-file z-rectangles for multi-dimensional pruning. Opt-in
      // rather than automatic because the two layouts genuinely trade:
      // a GLOBAL z-order packs tighter hyper-rectangles per file (all
      // files partition the whole domain) where the within-bucket form
      // scatters each rectangle across n buckets — choose it when the
      // table's join traffic outweighs its range-scan traffic. Ignored
      // (with the layout shedding as ever) when no layout exists. */
      zOrderWithinBuckets: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, expr,
      filter, floor, greatest, least, lit, max, min, size}
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be positive")
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are exclusive layouts — pick one")
    require(zOrderBy.isEmpty || (zOrderBy.size >= 2 && zOrderBy.size <= 4),
      "zOrderBy wants 2 to 4 columns — the n-D Morton interleave; past " +
        "4 dims the curve degrades toward hashing (each added dimension " +
        "halves the per-dimension resolution a fixed file count holds) " +
        "and per-dimension stats stop pruning, so more dims would be a " +
        "footgun, not a feature")
    require(zOrderBy.nonEmpty || !zOrderQuantile,
      "zOrderQuantile modifies zOrderBy — pass the dimensions")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val df = read(spark, tableDir, asOf = Some(baseV))
    val rows = df.count()
    // an EMPTY table (a fresh CREATE TABLE genesis, or a truncate) has
    // nothing to arrange: no-op at the current version — rewriting
    // zero rows could publish a zero-file manifest whose schema
    // inference has no files to read, losing the recorded schema
    if (rows == 0L) return baseV
    // BUCKET-PRESERVING compaction (round 18): when the base version
    // carries a consistent [[rebucket]] layout and this rewrite's
    // arrangement is compatible with it — no z-order, and the cluster
    // key is the bucket key or absent — re-partition by the layout's
    // own hash arithmetic instead of round-robin/range, so small files
    // merge WITHIN their buckets and the fresh files re-mint `:bucket`
    // (columns recorded under the names as written: this rewrite
    // rematerializes logical names and sheds the column map, like any
    // full rewrite). `targetRecordsPerFile` still holds via the
    // per-file cap — an oversized bucket splits into several files of
    // the same task index, all carrying the bucket's id. A clusterBy
    // on the bucket key sorts WITHIN buckets (rebucket's own
    // `sortWithin` layout: consecutive split files carry disjoint key
    // ranges, so stats pruning composes with SPJ). Any OTHER cluster
    // key or a z-order is a deliberate re-layout — the bucket layout
    // sheds by the honest-degrade contract, as before.
    val bucketKeep: Option[(Seq[String], Int)] =
      if (zOrderBy.nonEmpty && !zOrderWithinBuckets) None
      else {
        val (bFiles, bStats, _, bColmap, _) = manifestFor(tableDir, Some(baseV))
        val inverse = bColmap.map(_.swap)
        bucketLayoutOf(bStats, bFiles)
          .map { case (pcols, n, _) =>
            (pcols.map(pc => inverse.getOrElse(pc, pc)), n) }
          .filter { case (lcols, _) =>
            lcols.forall(df.columns.contains) &&
              (clusterBy.isEmpty || clusterBy == lcols) }
      }
    bucketKeep.filter(_ => zOrderBy.isEmpty) match {
      case Some((lcols, n)) =>
        val rebucketed = df.repartition(n, lcols.map(col): _*)
        val arrangedB =
          if (clusterBy.nonEmpty)
            rebucketed.sortWithinPartitions(clusterBy.map(col): _*)
          else rebucketed
        // the same 10% headroom as unbucketed compaction: a cap at
        // exactly the target would shave a few-row shard off every
        // slightly-jittered bucket
        val cap = targetRecordsPerFile +
          math.max(1L, targetRecordsPerFile / 10)
        val v = commitAt(spark, tableDir, arrangedB, baseV + 1,
          op = "optimize", bucketMeta = Some((lcols, n)),
          maxRecordsPerFile = Some(cap))
        if (maintainIndexes) maintainBloomIndexes(spark, tableDir): Unit
        return v
      case None => ()
    }
    val nFiles = math.max(1L,
      math.ceil(rows.toDouble / targetRecordsPerFile).toLong).toInt
    val arranged =
      if (zOrderBy.nonEmpty) {
        // ZORDER BY (Delta/Iceberg's verb at this log's minimum): each
        // dimension bucketed to 256 cells, then Morton-interleaved
        // ([[graft.ops.LayoutOps.zOrderSparkSqlN]] — 2 to 4 dims) and
        // range-written on the z key, so every file covers a small
        // HYPER-RECTANGLE of the n-D domain and ANY dimension's
        // min/max stats prune (ZOrderSpec measures the asymmetry vs
        // linear clustering, in 2-D and 3-D; the snapshot spec pins
        // both-dimension pruning through this verb). Two bucketing
        // maps, both one broadcast 1-row agg (no per-column sort): the
        // default LINEAR map divides each dimension's own [min, max]
        // evenly — right for roughly uniform dimensions and the
        // cheapest to compute; `zOrderQuantile` buckets by RANK
        // instead (255 approx-percentile cuts per dimension, cell =
        // cuts at or below the value), which keeps cells POPULATION-
        // balanced under skew — a heavy-tailed dimension packs almost
        // every row into the linear map's bucket 0 and its outliers
        // stretch every file's min/max over the whole domain, so
        // range asks on the skewed dimension stop pruning; the
        // quantile map restores it (ZOrderSpec's zipf case measures
        // the repair). Null cells bucket to 0 under both maps (they
        // cluster first, like a NULLS FIRST sort). Dimensions must be
        // numeric.
        zOrderBy.foreach { c =>
          require(df.schema.fieldNames.contains(c), s"unknown zOrderBy column $c")
          require(df.schema(c).dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType],
            s"zOrderBy column $c is ${df.schema(c).dataType} — the Morton " +
              "grid wants numeric dimensions")
        }
        val cellCols = zOrderBy.indices.map(d => s"_gc$d")
        val withCells = if (zOrderQuantile) {
          val probs = (1 until 256).map(i => i / 256.0).mkString(", ")
          val cuts = df.agg(
            expr(s"approx_percentile(CAST(`${zOrderBy.head}` AS DOUBLE), " +
              s"array($probs))").as("_gq0"),
            zOrderBy.tail.zipWithIndex.map { case (c, i) =>
              expr(s"approx_percentile(CAST(`$c` AS DOUBLE), array($probs))")
                .as(s"_gq${i + 1}") }: _*)
          // cell = #cuts at or below the value: 256 codegen'd
          // comparisons per row against the broadcast cut arrays —
          // scan-bound rewrites never notice, and no per-row join or
          // window sort is involved (ntile would global-sort)
          def qcell(c: String, cutsCol: org.apache.spark.sql.Column) =
            coalesce(least(lit(255),
              size(filter(cutsCol, x => x <= col(c).cast("double"))))
              .cast("long"), lit(0L))
          zOrderBy.zipWithIndex.foldLeft(df.crossJoin(broadcast(cuts))) {
            case (acc, (c, d)) =>
              acc.withColumn(cellCols(d), qcell(c, col(s"_gq$d")))
          }
        } else {
          val mm = df.agg(
            min(col(zOrderBy.head)).cast("double").as("_glo0"),
            (max(col(zOrderBy.head)).cast("double").as("_ghi0") +:
              zOrderBy.tail.zipWithIndex.flatMap { case (c, i) => Seq(
                min(col(c)).cast("double").as(s"_glo${i + 1}"),
                max(col(c)).cast("double").as(s"_ghi${i + 1}")) }): _*)
          def cell(c: String, lo: org.apache.spark.sql.Column,
              hi: org.apache.spark.sql.Column) =
            coalesce(least(lit(255L), floor(
              (col(c).cast("double") - lo) /
                greatest(hi - lo, lit(1e-12)) * 256).cast("long")), lit(0L))
          zOrderBy.zipWithIndex.foldLeft(df.crossJoin(broadcast(mm))) {
            case (acc, (c, d)) =>
              acc.withColumn(cellCols(d),
                cell(c, col(s"_glo$d"), col(s"_ghi$d")))
          }
        }
        val scaffolding = cellCols ++ Seq("_gz") ++
          zOrderBy.indices.flatMap(d => Seq(s"_glo$d", s"_ghi$d", s"_gq$d"))
        val withZ = withCells.withColumn("_gz", expr(
          graft.ops.LayoutOps.zOrderSparkSqlN(cellCols, 8)))
        (bucketKeep match {
          // zOrderWithinBuckets + a live layout: keep the buckets,
          // z-curve INSIDE each (split files then carry per-file
          // z-rectangles; the bucket id never depends on row order)
          case Some((lcols, n)) => withZ.repartition(n, lcols.map(col): _*)
          case None => withZ.repartitionByRange(nFiles, col("_gz"))
        }).sortWithinPartitions("_gz")
          .drop(scaffolding: _*)
      } else if (clusterBy.nonEmpty)
        df.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else df.repartition(nFiles)
    val v = commitAt(spark, tableDir, arranged, baseV + 1,
      op = if (zOrderBy.nonEmpty) "optimize-zorder" else "optimize",
      // zOrderWithinBuckets: the arrangement above kept the buckets —
      // re-mint the layout and hold the per-file target via the cap
      bucketMeta = bucketKeep,
      maxRecordsPerFile = bucketKeep.map(_ => targetRecordsPerFile +
        math.max(1L, targetRecordsPerFile / 10)))
    // a clustered rewrite replaces EVERY file — without maintenance the
    // whole bloom index goes stale at once (lookups keep everything
    // until a refresh). Maintenance is post-commit and advisory: a
    // failure here cannot un-publish the version.
    if (maintainIndexes) maintainBloomIndexes(spark, tableDir): Unit
    v
  }

  /** REBUCKET — establish the storage-partitioned-join layout
    * (Iceberg's `bucket(n, col)` partition transform at this log's
    * minimum): one full clustered rewrite in which every output file
    * holds exactly one bucket of `pmod(murmur3(column, seed 42),
    * numBuckets)` — Spark's own hash-partitioning arithmetic, which is
    * what `df.repartition(n, col)` computes, so the file's task-
    * partition index IS its bucket id. Each file records its
    * (col, n, id) as the `:bucket` pseudo-stat; when every file of a
    * version agrees ([[bucketLayoutOf]]), the SQL catalog's scan
    * reports `KeyGroupedPartitioning(bucket(n, col))` under
    * `spark.sql.sources.v2.bucketing.enabled=true` and a join of two
    * tables bucketed with the same (n, column type) runs with NO
    * shuffle on either side — the 100 TB fact-to-fact join cost model.
    *
    * Maintenance semantics (the honest-degrade contract): BATCH
    * appends ([[commitAppend]] / SQL INSERT INTO) re-bucket their
    * batch and keep the layout; MOR deletes are mask-only and keep it
    * free; [[compactDeletes]] and [[optimize]] (when the arrangement
    * is compatible — no z-order, cluster key absent or equal to the
    * bucket key) re-partition their rewrite by the layout's own hash
    * arithmetic and KEEP it too (round 18 — routine maintenance no
    * longer costs the layout). Every other new-file writer — COW DML,
    * z-order, a foreign-keyed optimize, MOR post-images, and the
    * STREAMING sinks (executor epoch writers can't re-partition;
    * their files land unbucketed) — harvests fresh stats without
    * `:bucket`, so the layout silently degrades to an ordinary table:
    * correctness never depends on it, joins just shuffle again until
    * the next `rebucket`. A column RENAME keeps
    * the layout (the pseudo-stat records the immutable physical
    * name); this rewrite itself rematerializes logical names and
    * sheds the column map, like [[optimize]].
    *
    * The rewrite reads THROUGH deletion masks (a dv-bearing table
    * compacts and buckets in one commit). Bucket the JOIN KEY —
    * mid-size dims and facts you co-locate; broadcast stays the right
    * answer for small dims. */
  def rebucket(spark: SparkSession, tableDir: String, column: String,
      numBuckets: Int, sortWithin: Seq[String] = Nil): Long =
    rebucketBy(spark, tableDir, Seq(column), numBuckets, sortWithin)

  /** [[rebucket]]'s list-shaped face — ONE column today, refused
    * loudly past that: the write side could hash a composite key fine
    * (`repartition(n, k1, k2, …)`), but Spark's
    * KeyGroupedShuffleSpec matches ONE reference per partition
    * transform, so a multi-reference `bucket(n, k1, k2)` never
    * satisfies a two-key join's clustering and the layout would be a
    * full rewrite that buys nothing (measured, not assumed — the
    * composite join kept both exchanges under every co-partition
    * conf). The working spelling for a composite key is a DERIVED
    * key column (`withColumn("tk", concat_ws("\u0000", k1, k2))`,
    * bucket on it, join on it); the internal plumbing stays
    * list-shaped so lifting this ceiling is one require() away if a
    * Spark release extends the shuffle-spec matching. */
  def rebucketBy(spark: SparkSession, tableDir: String,
      columns: Seq[String], numBuckets: Int,
      sortWithin: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(numBuckets >= 2 && numBuckets <= 65536,
      s"numBuckets $numBuckets: want 2..65536")
    require(columns.nonEmpty, "rebucketBy wants at least one column")
    require(columns.size == 1,
      s"rebucketBy(${columns.mkString(", ")}): composite bucket keys " +
        "cannot power storage-partitioned joins — Spark's " +
        "KeyGroupedShuffleSpec matches one reference per transform, so " +
        "a multi-column bucket(n, k1, k2) never satisfies a two-key " +
        "join's clustering; derive one key column (concat_ws of the " +
        "parts), bucket on it, and join on it instead")
    require(columns.forall(!_.contains(",")),
      s"bucket column names cannot contain ',' (the layout records " +
        s"the list comma-joined): ${columns.mkString("; ")}")
    // '.' refused too: SnapBucketScan's outputPartitioning builds the
    // transform via Expressions.bucket(n, name), which PARSES a dotted
    // name as a multipart (nested) field reference — against this
    // log's flat top-level schemas that reference can never resolve at
    // scan time, so the layout would be a full rewrite that either
    // fails the scan or silently never matches a join's clustering
    require(columns.forall(!_.contains(".")),
      s"bucket column names cannot contain '.' (the SPJ transform " +
        s"would parse it as a nested field path): ${columns.mkString("; ")}")
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val df = read(spark, tableDir, asOf = Some(baseV))
    (columns ++ sortWithin).foreach(c => require(df.columns.contains(c),
      s"unknown column $c (have ${df.columns.mkString(", ")})"))
    require(df.take(1).nonEmpty,
      s"rebucket of an empty table: the bucket layout lives in per-file " +
        "metadata and an empty table has no files to carry it — land " +
        "data first, then rebucket")
    val v = baseV + 1
    val dd = Paths.get(tableDir, "data",
      s"v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    // `sortWithin`: intra-bucket clustering — each bucket's rows sort
    // on the given keys, so range pruning composes with the join
    // layout (buckets answer "which partition", the sort answers
    // "which slice inside it"): when a bucket spills into several
    // files (spark.sql.files.maxRecordsPerFile), consecutive files
    // carry DISJOINT sort-key ranges and manifest stats prune at FILE
    // level; a single-file bucket still gets tight parquet row-group
    // stats, which the re-pushed predicates skip on. Ordering within
    // a bucket never affects its id, so the SPJ contract is untouched.
    val arranged = df.repartition(numBuckets, columns.map(col): _*)
    (if (sortWithin.nonEmpty)
      arranged.sortWithinPartitions(sortWithin.map(col): _*)
    else arranged)
      .write.mode("overwrite").parquet(dd.toString)
    val files = listDir(dd)
      .filter(_.toString.endsWith(".parquet"))
      .map(p => canon(p).toString).sorted
    val stats = annotateBuckets(harvestStats(files), files, columns,
      numBuckets)
    val schema = try Some(spark.read.parquet(dd.toString).schema.json)
      catch { case _: Exception => None }
    publish(tableDir, v, files, stats, schema, op = "rebucket")
    maintainBloomIndexes(spark, tableDir): Unit
    v
  }

  /** Refresh + compact EVERY bloom index of the table against the
    * CURRENT manifest — the one-call day-2 index maintenance: appends
    * leave uncovered files (refresh blooms exactly them), DML/OPTIMIZE
    * rewrites leave stale rows (compact drops them). Index columns are
    * discovered from the sidecar layout (physical names) and
    * translated back through the column map; an index whose column was
    * DROPPED is garbage by definition and is deleted. Returns
    * logical column -> (files newly bloomed, stale rows dropped). */
  def maintainBloomIndexes(spark: SparkSession, tableDir: String)
      : Map[String, (Int, Long)] = {
    val idxRoot = Paths.get(tableDir, "_index", "bloom")
    if (!Files.isDirectory(idxRoot)) return Map.empty
    val (_, _, schemaOpt, colmap, _) = manifestFor(tableDir, None)
    val inverse = colmap.map(_.swap)
    listDir(idxRoot).filter(Files.isDirectory(_)).flatMap { dir =>
      val pcol = dir.getFileName.toString
      val logical = inverse.getOrElse(pcol, pcol)
      if (schemaOpt.exists(_.fieldNames.contains(logical))) {
        val bloomed = refreshBloomIndex(spark, tableDir, logical)
        val dropped = compactBloomIndex(spark, tableDir, logical)
        Some(logical -> (bloomed, dropped))
      } else {
        deleteRecursively(dir) // dropped column: nothing can probe it
        None
      }
    }.toMap
  }

  /** The commit point, isolated: an atomic PUT-IF-ABSENT. POSIX
    * rename() silently REPLACES an existing target (so ATOMIC_MOVE
    * cannot express "fail if taken"); a hard LINK of the fully-written
    * temp file onto the target is the primitive that both publishes
    * the complete content in one step AND fails with
    * `FileAlreadyExistsException` when a concurrent writer won the
    * version — the caller's optimistic-concurrency retry signal. */
  private[graft] def publish(tableDir: String, v: Long, files: Seq[String],
      stats: Map[String, Map[String,
        com.fasterxml.jackson.databind.node.ObjectNode]] = Map.empty,
      schemaJson: Option[String] = None,
      colmap: Seq[(String, String)] = Nil,
      retired: Seq[String] = Nil,
      dv: Map[String, Seq[String]] = Map.empty,
      op: String = "commit",
      txn: Option[String] = None): Unit = {
    Files.createDirectories(logDir(tableDir))
    val root = mapper.createObjectNode()
    root.put("version", v)
    // operation provenance (DESCRIBE HISTORY's raw material): which
    // verb published this version, and when. Advisory metadata only —
    // no reader semantics hang on it, and pre-round-15 manifests
    // simply lack the fields ([[history]] reads them as "unknown"/0)
    root.put("op", op)
    root.put("ts", System.currentTimeMillis())
    // writer identity for idempotent sinks (Delta's SetTransaction at
    // the same minimum): lets a replayed batch recognize ITS version
    // and a foreign commit surface as theft instead of a silent decline
    txn.foreach(t => root.put("txn", t): Unit)
    schemaJson.foreach(s => root.put("schema", s): Unit)
    if (dv.nonEmpty) {
      // every dv key must be a published data file — a stale entry for
      // a rewritten-away file would mask rows of an unrelated future
      // file if paths ever collided, and signals a caller that forgot
      // to drop entries for files it rewrote
      val fileSet = files.toSet
      val orphans = dv.keys.filterNot(fileSet)
      require(orphans.isEmpty,
        s"deletion-vector entries for non-published files: " +
          orphans.mkString(", "))
      val dNode = root.putObject("dv")
      // iterate `files` order for a deterministic manifest
      files.foreach(f => dv.get(f).foreach { sidecars =>
        val a = dNode.putArray(f)
        sidecars.foreach(a.add)
      })
    }
    if (colmap.nonEmpty) {
      // ordered by the caller (logical-schema field order) for a
      // deterministic manifest, like the stats iteration below
      val cNode = root.putObject("colmap")
      colmap.foreach { case (l, p) => cNode.put(l, p): Unit }
    }
    if (retired.nonEmpty) {
      val rArr = root.putArray("retired")
      retired.foreach(rArr.add)
    }
    val arr = root.putArray("files")
    files.foreach(arr.add)
    if (stats.nonEmpty) {
      val sNode = root.putObject("stats")
      // iterate `files` (sorted) rather than the map, for a
      // deterministic manifest byte-for-byte across writers
      files.foreach { f =>
        stats.get(f).foreach { cols =>
          val fNode = sNode.putObject(f)
          // set[T] is generic on its RETURN type — an ascribed Unit
          // would make Jackson cast the node to BoxedUnit at runtime
          cols.foreach { case (c, n) =>
            fNode.set[com.fasterxml.jackson.databind.JsonNode](c, n); () }
        }
      }
    }
    val manifest = mapper.writeValueAsString(root)
    // the temp path is WRITER-UNIQUE, like the data directory: with a
    // shared `.$v.json.tmp` a racing loser's writeString could truncate
    // the winner's temp between its write and createLink, making the
    // winner link the loser's (possibly half-written) manifest while
    // reporting success for its own data — acknowledged-commit loss.
    // Unique temps mean each writer links only bytes it wrote; the
    // createLink put-if-absent alone arbitrates who wins.
    val tmp = logDir(tableDir).resolve(
      s".$v-${java.util.UUID.randomUUID.toString.take(8)}.json.tmp")
    Files.writeString(tmp, manifest)
    val target = logDir(tableDir).resolve(s"$v.json")
    try Files.createLink(target, tmp)
    finally Files.deleteIfExists(tmp)
    writeCheckpoint(tableDir, v)
  }

  /** Highest committed version, if any. Resolved through the
    * [[readCheckpoint]] hint when one exists (upward point probes from
    * a known-committed version — O(new commits), normally 1 check);
    * falls back to the full directory listing when the hint is absent
    * or names a version with no manifest. */
  def latestVersion(tableDir: String): Option[Long] = {
    val ld = logDir(tableDir)
    if (!Files.isDirectory(ld)) return None
    readCheckpoint(tableDir)
      .filter(v => Files.exists(ld.resolve(s"$v.json"))) match {
      case Some(v0) =>
        var v = v0
        while (Files.exists(ld.resolve(s"${v + 1}.json"))) v += 1
        Some(v)
      case None =>
        val vs = listDir(ld)
          .map(_.getFileName.toString)
          .filter(n => n.endsWith(".json") && !n.startsWith("."))
          .map(_.stripSuffix(".json").toLong)
        if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Smallest surviving manifest version — the retention horizon after
    * [[expireVersions]] (equal to 0 on a never-expired log). The
    * idempotent sinks consult it: their "already committed" pre-check
    * is `Files.exists(v.json)`, which an EXPIRED version fails, so
    * without this horizon a replay from below retention would sail
    * past the pre-check and republish an expired slot
    * ([[commitIdempotent]]) or re-append stale rows as a new version
    * ([[commitAppendIdempotent]]) — both silent exactly-once breaks. */
  private[graft] def oldestVersion(tableDir: String): Option[Long] = {
    val ld = logDir(tableDir)
    if (!Files.isDirectory(ld)) return None
    val vs = listDir(ld)
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong)
    if (vs.isEmpty) None else Some(vs.min)
  }

  /** Loud failure for a replayed version below the retention horizon —
    * mirrors the streaming source's expired-version behavior: a
    * consumer lagging past retention must not silently re-apply.
    *
    * Cold path ONLY: [[oldestVersion]] is a full `_log` listing
    * (O(versions) on an object store), so the idempotent sinks call
    * this only when `v <= latest` with `v.json` missing — by density
    * (the surviving manifests are a contiguous suffix) that version can
    * only be expired. The hot `v == latest + 1` commit never lists. */
  private def requireAboveRetention(tableDir: String, v: Long): Unit =
    oldestVersion(tableDir).foreach { oldest =>
      require(v >= oldest,
        s"version $v is below the retention horizon (oldest surviving " +
          s"manifest is $oldest; expireVersions removed the rest) — a " +
          "replay this old must not republish an expired version; " +
          "reset the stream's checkpoint / version base instead")
    }

  /** Idempotent commit at an EXPLICIT version — the exactly-once sink
    * primitive: a foreachBatch writer that derives the version
    * deterministically from the micro-batch id (v = batchId + base)
    * turns Spark's at-least-once replay contract into exactly-once
    * TABLE state, because a replayed batch re-publishes the same
    * version and the put-if-absent makes that a no-op instead of a
    * double-apply. Returns true iff THIS call published the version.
    * The data rewrite on a replay is wasted work but never visible —
    * the loser directory orphans for [[vacuum]], the manifest the
    * readers follow is unchanged. StreamingSpec pins the pattern. */
  def commitIdempotent(spark: SparkSession, tableDir: String,
      df: DataFrame, v: Long, txn: Option[String] = None): Boolean = {
    if (replayDeclines(tableDir, v, txn)) return false
    // density guard: versions are dense by construction ([[commit]]
    // publishes latest+1), and both the checkpoint's upward probe and
    // time travel's dense scan rely on it — a caller-chosen version
    // that would leave a hole (a skipped batchId base arithmetic bug)
    // must fail loudly, not create an unreachable future version
    val latest = latestVersion(tableDir).getOrElse(-1L)
    // v at-or-below latest with its manifest missing can only be an
    // expired-version replay — the one (cold) path that needs the
    // retention listing
    if (v <= latest) requireAboveRetention(tableDir, v)
    require(v <= latest + 1,
      s"version $v would leave a gap above latest=$latest — the log's " +
        "versions are dense; derive v as base + batchId")
    try { commitAt(spark, tableDir, df, v, txn = txn); true }
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      !replayDeclines(tableDir, v, txn) && sys.error(s"unreachable: $v vanished") }
  }

  /** RESTORE the table to version `v`'s content — Delta's `RESTORE
    * TABLE … TO VERSION AS OF` as a METADATA-ONLY forward commit: a
    * new version at `latest + 1` republishing v's file list, stats,
    * schema, column map, and dv sidecars verbatim. Nothing is copied
    * or rewritten — v's files still exist on disk because v's
    * surviving manifest references them (vacuum deletes only the
    * unreferenced), which is also why restore REQUIRES v to survive
    * expiry: a restore target must be readable, and the error names
    * [[history]] as the way to see the surviving range. History moves
    * FORWARD (the versions between v and latest stay time-travelable
    * until expired) and concurrent writers conflict on the same
    * put-if-absent publish as every commit.
    *
    * `retired` physical column names merge from BOTH manifests: v's
    * (what its own schema era had retired) and latest's (names retired
    * after v — post-v files carrying them remain on disk for time
    * travel, and a post-restore ADD COLUMN must not re-mint one).
    *
    * The CHANGE FEED refuses ranges crossing a restore, by
    * construction: restore is a rewrite that is NOT content-identical
    * (the table's content genuinely changes), so the feed's
    * no-rewrite guard trips and names [[diff]] — the honest answer,
    * since a restore has no per-row change representation short of
    * diffing the two snapshots. */
  def restore(tableDir: String, v: Long): Long = {
    val latest = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    require(v >= 0, s"restore wants a committed version, got $v")
    val p = logDir(tableDir).resolve(s"$v.json")
    require(Files.exists(p),
      s"restore: no version $v in $tableDir (committed versions may " +
        "have been expired) — history() lists the surviving range")
    val node = mapper.readTree(Files.readString(p))
    val latestNode = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$latest.json")))
    val files = node.get("files").elements().asScala.map(_.asText()).toSeq
    val schema = Option(node.get("schema")).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    publish(tableDir, latest + 1, files, carriedStats(node, files),
      schema.map(_.json), orderedColmap(schema, colmapOf(node)),
      (retiredOf(latestNode) ++ retiredOf(node)).distinct,
      dv = dvOf(node), op = "restore")
    latest + 1
  }

  /** TRUNCATE — delete every row, METADATA-ONLY: publish a zero-file
    * version carrying the current schema, column map, and retired
    * names forward (physical names stay reserved — the old files
    * remain on disk for time travel until expiry + vacuum reclaim
    * them, and a future ADD COLUMN must not re-mint one). This is
    * `DELETE FROM t` without a predicate done at the only cost that
    * shape deserves: one manifest write, zero data I/O, at any table
    * size. Time travel still serves every pre-truncate version;
    * [[restore]] is the exact inverse (un-truncate). Requires a
    * schema-recording manifest — a zero-file version is readable only
    * under a recorded schema. The CHANGE FEED refuses ranges crossing
    * a truncate (the structural rewrite guard: the file list shrank),
    * honestly — per-row delete pre-images for a whole table would be
    * a table-sized feed, which is [[diff]]'s job. */
  def truncate(tableDir: String): Long = {
    val baseV = latestVersion(tableDir).getOrElse(
      sys.error(s"no committed version in $tableDir"))
    val node = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(s"$baseV.json")))
    val schemaJson = Option(node.get("schema")).map(_.asText()).getOrElse(
      sys.error(s"$tableDir: truncate needs a schema-recording " +
        "manifest (this is a pre-round-10 table) — re-commit once to " +
        "record the schema"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    publish(tableDir, baseV + 1, Nil, Map.empty, Some(schemaJson),
      orderedColmap(Some(schema), colmapOf(node)), retiredOf(node),
      op = "truncate")
    baseV + 1
  }

  /** CHECK constraints — Delta's table invariants at this log's
    * minimum: a named SQL predicate every row of every FUTURE write
    * must satisfy (SQL CHECK semantics: a row passes when the
    * predicate is TRUE or NULL; only FALSE violates — so `c > 0`
    * admits null `c`, and NOT NULL is spelled `c IS NOT NULL`).
    * Adding a constraint VALIDATES THE CURRENT TABLE first (Delta's
    * rule — a guard the live data already breaks would make every
    * next write fail for someone else's rows). Enforcement runs at
    * every row-creating verb — commit/INSERT OVERWRITE, append/INSERT
    * INTO (the streaming sink included), COW and MOR updates, both
    * merges — as ONE extra pass over exactly the NEW row content
    * (O(batch) on appends, O(rewritten slice) on updates), naming the
    * violated constraint and a sample row. Deletes, compaction,
    * optimize, and RESTORE restate or remove already-validated
    * content and are exempt by design (restore may resurrect rows
    * that predate a constraint — the constraint guards writes from
    * the moment it exists, it does not rewrite history).
    *
    * Storage is ONE DOTFILE PER CONSTRAINT (`_log/.constraint-<name>
    * .json`, put-if-absent hard link — racing adds of the same name
    * conflict loudly; hidden names can never parse as manifests, and
    * [[rehome]] moves them with the directory). Deliberately NOT
    * versioned into manifests: constraints are table-level guards on
    * future writes, not time-travel state — a stated minimum vs
    * Delta, which versions them. Constraints reference LOGICAL column
    * names; after a renameColumn a stale reference fails loudly at
    * the next write (drop and re-add under the new name). */
  def addConstraint(spark: SparkSession, tableDir: String, name: String,
      exprSql: String): Unit = {
    require(latestVersion(tableDir).isDefined,
      s"no committed version in $tableDir — create the table first")
    // the predicate must RESOLVE against the table and HOLD on the
    // live data before it may guard anyone else's writes
    val current = read(spark, tableDir)
    val bad = violations(current, Seq(name -> exprSql))
    require(bad.isEmpty,
      s"cannot add constraint $name CHECK ($exprSql): existing data " +
        s"violates it — e.g. ${bad.get}")
    addConstraintUnchecked(tableDir, name, exprSql)
  }

  /** Remove a constraint — future writes stop checking it. Loud on a
    * missing name (a typo'd drop that silently "succeeds" leaves the
    * caller believing a guard is gone that never existed). */
  def dropConstraint(tableDir: String, name: String): Unit = {
    val p = logDir(tableDir).resolve(s".constraint-$name.json")
    require(Files.exists(p),
      s"no constraint '$name' on $tableDir — have: " +
        constraints(tableDir).map(_._1).mkString(", "))
    Files.delete(p)
  }

  /** The table's constraints, name → predicate SQL, sorted by name. */
  def constraints(tableDir: String): Seq[(String, String)] = {
    val ld = logDir(tableDir)
    if (!Files.isDirectory(ld)) return Nil
    listDir(ld).map(_.getFileName.toString)
      .filter(n => n.startsWith(".constraint-") && n.endsWith(".json"))
      .map { n =>
        val node = mapper.readTree(Files.readString(ld.resolve(n)))
        node.get("name").asText() -> node.get("expr").asText()
      }.sortBy(_._1)
  }

  /** First violating (constraint, row) over `df`, if any — ONE job
    * for all constraints (per-row violated-name array, filter
    * non-empty, take(1)). */
  private def violations(df: DataFrame,
      cs: Seq[(String, String)]): Option[String] = {
    import org.apache.spark.sql.functions.{array, array_compact, coalesce,
      col, expr, lit, not, size, struct, when}
    if (cs.isEmpty) return None
    val tags = cs.map { case (n, e) =>
      when(not(coalesce(expr(e), lit(true))), lit(n)) }
    val hit = df
      .withColumn("_graft_violated", array_compact(array(tags: _*)))
      .filter(size(col("_graft_violated")) > 0)
      .select(col("_graft_violated"),
        struct(df.columns.map(col).toSeq: _*).as("_row"))
      .take(1)
    hit.headOption.map(r =>
      s"constraint(s) ${r.getSeq[String](0).mkString(", ")} violated by " +
        s"row ${r.get(1)}")
  }

  /** Enforcement funnel: every row-creating verb passes its NEW
    * content here before writing. */
  private def enforceConstraints(spark: SparkSession, tableDir: String,
      df: DataFrame, verb: String): Unit = {
    val cs = constraints(tableDir)
    if (cs.isEmpty) return
    violations(df, cs).foreach(v => sys.error(
      s"$verb on $tableDir refused: $v (CHECK predicates are enforced " +
        "on every new row; dropConstraint removes the guard)"))
  }

  /** Durable BASE-version registration for the streaming SINK's
    * exactly-once arithmetic (`v = base + batchId`): the first batch a
    * (table, query) pair ever lands registers `base = latest + 1 −
    * batchId` via the same put-if-absent hard-link publish as every
    * commit (two racing first batches agree on one base); every later
    * call — including after a driver restart resuming the same
    * checkpoint, where the query id is stable — reads the registered
    * value, so replayed batches re-derive the same version and decline
    * at [[commitAppendIdempotent]]'s manifest pre-check. The state
    * file is a DOTFILE (`.sink-<queryId>.json`): every manifest
    * listing in this object filters hidden names, so it can never be
    * parsed as a version. Subtracting `batchId` at registration keeps
    * the arithmetic right even when the first OBSERVED batch is a
    * replay (> 0) against a sink file that was deleted — versions stay
    * dense from the table's then-latest. */
  private[sources] def sinkBase(tableDir: String, queryId: String,
      batchId: Long): Long = {
    val safe = queryId.replaceAll("[^A-Za-z0-9_-]", "_")
    val p = logDir(tableDir).resolve(s".sink-$safe.json")
    if (Files.exists(p))
      return mapper.readTree(Files.readString(p)).get("base").asLong()
    Files.createDirectories(logDir(tableDir))
    val base = latestVersion(tableDir).getOrElse(-1L) + 1 - batchId
    val root = mapper.createObjectNode()
    root.put("base", base)
    val tmp = logDir(tableDir).resolve(
      s".sink-$safe-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(root))
    try { Files.createLink(p, tmp); base }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        mapper.readTree(Files.readString(p)).get("base").asLong()
    } finally { Files.deleteIfExists(tmp): Unit }
  }

  /** MOVE the table directory to `newDir` and rewrite every surviving
    * manifest's recorded paths to match — `ALTER TABLE … RENAME TO`'s
    * engine. Manifests record CANONICAL ABSOLUTE paths (the honest
    * choice for vacuum's referenced-set comparison), so a bare `mv`
    * would leave every manifest pointing at the old location; the
    * rewrite translates the table-dir prefix in the file list, the
    * stats keys, and the dv keys + sidecar paths. O(history) driver
    * metadata work, ZERO data-FILE movement beyond the one atomic
    * directory move — with one honest exception: dv SIDECAR contents
    * record the masked data files' `_metadata.file_path` URIs (that is
    * what the mask joins match at read time), so each surviving
    * sidecar is rewritten with the prefix translated, to a FRESH path
    * the manifests then reference (the superseded original orphans for
    * [[vacuum]]) — one tiny churn-sized Spark job per sidecar, the
    * rare-admin-op price of keeping masks correct across the move
    * (skipping it would RESURRECT deleted rows: stale sidecar paths
    * match nothing). The
    * bloom index needs no touch-up: its verdict lookup keys by file
    * BASENAME (stable across the move) and a missing entry keeps the
    * file — conservative either way.
    *
    * EXCLUSIVE-ACCESS operation, stated plainly: a reader or writer
    * racing the move sees the directory vanish (a loud miss, never a
    * torn snapshot — manifests at the new location are rewritten
    * in place AFTER the move, and until each is rewritten its reads
    * fail loudly on the old absolute paths rather than resolve wrong
    * data). Rename a table nobody is using, the same contract as a
    * filesystem `mv`. Pre-checked before anything moves: every
    * recorded path in every surviving manifest must live under the
    * table directory (always true for log-written tables — every verb
    * writes under `data/`), so a half-rewritable table refuses before
    * the move instead of stranding mid-way. */
  def rehome(spark: SparkSession, oldDir: String, newDir: String): Unit = {
    val oldP = canon(Paths.get(oldDir))
    require(Files.isDirectory(oldP.resolve("_log")),
      s"$oldDir is not a snapshot table (no _log)")
    val newP = Paths.get(newDir).toAbsolutePath.normalize
    require(!Files.exists(newP), s"rehome target $newP already exists")
    require(newP.getParent != null && Files.isDirectory(newP.getParent),
      s"rehome target parent ${newP.getParent} is not a directory")
    val oldPrefix = oldP.toString
    // pre-flight: every path in every surviving manifest must be
    // translatable, BEFORE the move makes failure expensive
    val manifestNames = listDir(oldP.resolve("_log"))
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
    manifestNames.foreach { name =>
      val node = mapper.readTree(
        Files.readString(oldP.resolve("_log").resolve(name)))
      val paths = node.get("files").elements().asScala.map(_.asText()).toSeq ++
        dvOf(node).values.flatten
      val outside = paths.filterNot(_.startsWith(oldPrefix + "/"))
      require(outside.isEmpty,
        s"rehome: manifest $name records path(s) outside the table " +
          s"directory — ${outside.take(3).mkString(", ")} — cannot " +
          "translate; this table was not written by the log's verbs")
    }
    // collect every distinct sidecar (old-path spelling) BEFORE the
    // move — their contents need the prefix translated too
    val oldSidecars: Seq[String] = manifestNames.flatMap { name =>
      dvOf(mapper.readTree(
        Files.readString(oldP.resolve("_log").resolve(name)))).values.flatten
    }.distinct.sorted
    Files.move(oldP, newP, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val newPrefix = canon(newP).toString
    def moved(s: String): String =
      if (s.startsWith(oldPrefix + "/")) newPrefix + s.drop(oldPrefix.length)
      else s
    // rewrite each sidecar's rows: the `file` column holds the masked
    // data file's _metadata.file_path URI ("file:" + path — the exact
    // string the mask joins compare), so only its PREFIX translates
    // and every other byte of the spelling is preserved. Rewritten
    // sidecars land at FRESH paths (immutable-file discipline — an
    // in-place replace would also poison Spark's FileStatusCache with
    // the old length); the manifest rewrite below points dv entries at
    // them, and the superseded originals orphan for [[vacuum]]
    val sidecarMap: Map[String, String] =
      if (oldSidecars.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{col, concat, expr, lit, when}
        val uriOld = "file:" + oldPrefix + "/"
        val rawOld = oldPrefix + "/"
        val outDir = newP.resolve("data").resolve(
          s"rehome-${java.util.UUID.randomUUID.toString.take(8)}")
        Files.createDirectories(outDir)
        oldSidecars.map { oldSc =>
          val scOnDisk = moved(oldSc)
          val tmpDir = outDir.resolve(
            s"._tmp-${java.util.UUID.randomUUID.toString.take(8)}")
          spark.read.schema("file STRING, pos LONG")
            .parquet(scOnDisk)
            .withColumn("file",
              when(col("file").startsWith(uriOld),
                concat(lit("file:" + newPrefix + "/"),
                  expr(s"substring(file, ${uriOld.length + 1})")))
              .when(col("file").startsWith(rawOld),
                concat(lit(newPrefix + "/"),
                  expr(s"substring(file, ${rawOld.length + 1})")))
              .otherwise(col("file")))
            .coalesce(1)
            .write.mode("overwrite").parquet(tmpDir.toString)
          val part = listDir(tmpDir).filter(_.toString.endsWith(".parquet"))
          require(part.size == 1,
            s"rehome: sidecar rewrite produced ${part.size} files")
          // keep the basename (parquet part names are uuid-unique) —
          // a rewritten sidecar stays recognizable beside its original
          val dest = outDir.resolve(Paths.get(scOnDisk).getFileName)
          Files.move(part.head, dest)
          deleteRecursively(tmpDir)
          oldSc -> canon(dest).toString
        }.toMap
      }
    manifestNames.foreach { name =>
      val mPath = newP.resolve("_log").resolve(name)
      val node = mapper.readTree(Files.readString(mPath))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val files = node.get("files").elements().asScala.map(_.asText()).toSeq
      val fArr = node.putArray("files")
      files.foreach(f => fArr.add(moved(f)))
      Option(node.get("stats")).foreach { s =>
        val sNode = s.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val rebuilt = mapper.createObjectNode()
        sNode.properties().asScala.foreach { e =>
          rebuilt.set[com.fasterxml.jackson.databind.JsonNode](
            moved(e.getKey), e.getValue); ()
        }
        node.set[com.fasterxml.jackson.databind.JsonNode]("stats", rebuilt); ()
      }
      Option(node.get("dv")).foreach { d =>
        val dNode = d.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val rebuilt = mapper.createObjectNode()
        dNode.properties().asScala.foreach { e =>
          val arr = rebuilt.putArray(moved(e.getKey))
          // sidecar references point at the REWRITTEN files (fresh
          // paths with translated contents), never the moved originals
          e.getValue.elements().asScala.foreach(sc =>
            arr.add(sidecarMap.getOrElse(sc.asText(), moved(sc.asText()))))
        }
        node.set[com.fasterxml.jackson.databind.JsonNode]("dv", rebuilt); ()
      }
      // in-place atomic replace: rehome owns the table exclusively
      // (documented above), so put-if-absent arbitration doesn't apply
      val tmp = newP.resolve("_log").resolve(
        s".$name-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      Files.writeString(tmp, mapper.writeValueAsString(node))
      Files.move(tmp, mPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Change data feed between two committed versions — Delta's
    * `table_changes` reduced to the same minimum as the log itself:
    * read both versions (each immune to concurrent writers) and diff
    * them with [[graft.ops.MigrationOps.tableDiff]] (one full-outer
    * equi-join, churn-sized output, post-image semantics). `payload` =
    * every non-key column of the table's schema unless named
    * explicitly. */
  def diff(spark: SparkSession, tableDir: String, fromV: Long, toV: Long,
      payload: Seq[String] = Nil): DataFrame = {
    val oldS = read(spark, tableDir, asOf = Some(fromV))
    val newS = read(spark, tableDir, asOf = Some(toV))
    // a rename/drop between the versions changes the LOGICAL names a
    // diff would compare under — fail with the actionable story, not a
    // downstream unresolved-column error (the data is diffable: re-ask
    // with an explicit shared payload, or diff up to the rename)
    val missing = (if (payload.nonEmpty) payload
      else oldS.columns.filterNot(_ == "key").toSeq)
      .filterNot(newS.columns.contains)
    require(missing.isEmpty,
      s"diff($fromV, $toV): column(s) ${missing.mkString(", ")} exist at " +
        s"v$fromV but not v$toV — a renameColumn/dropColumn between the " +
        "versions changed the logical schema; pass an explicit `payload` " +
        "of columns present in BOTH versions")
    val cols = if (payload.nonEmpty) payload
      else oldS.columns.filterNot(_ == "key").toSeq
    graft.ops.MigrationOps.tableDiff(oldS, newS, cols)
  }

  /** PER-ROW change data feed over the half-open version range
    * (`fromV`, `toV`] — Delta's `table_changes` semantics on the log's
    * own commit provenance, and the dv-aware upgrade of [[diff]] (which
    * answers post-image state, not per-commit changes, and needs a
    * key):
    *
    *  - a version's NEW files emit their rows labeled by the verb that
    *    published them (`insert` for appends, `update_postimage` /
    *    `upsert` for the MOR update/merge post-images), masked by the
    *    version's own dv entries on those files;
    *  - a version's NEW deletion-vector positions emit the masked
    *    rows' PRE-IMAGES labeled `delete` — new sidecar positions
    *    MINUS positions already masked at v−1, because a re-mark
    *    (MOR marks come from raw reads) is not a new delete; positions
    *    on files BORN this version (appended and dv'd in one commit)
    *    emit on NEITHER half — never visible, so no insert and no
    *    delete (a feed-applied replica must not delete a live row);
    *  - maintenance rewrites ([[ChangeFeed.ContentIdenticalOps]]:
    *    optimize / zorder / compactDeletes) restate identical content
    *    and emit NOTHING — the feed flows straight through them;
    *  - any other rewrite (COW DML, merge, plain commit) restates rows
    *    with no per-row change representation and fails LOUDLY, naming
    *    [[diff]] as the post-image alternative.
    *
    * Appends two columns: `_change_type` STRING and `_commit_version`
    * LONG. `fromV = -1` feeds from genesis. The logical column set
    * must hold across the range (a rename/drop mid-range fails loudly
    * — split the feed at the DDL version). Cost: new files + touched
    * dv files are read once per emitting version; the delete half's
    * semi-join build side is churn-sized (AQE broadcasts it). The
    * result plan UNIONS one subtree per emitting version, so a range
    * spanning thousands of versions builds a wide plan — page through
    * sub-ranges (or ride the streaming `changeFeed` mode, which is
    * exactly that loop with offsets) when feeding deep history. */
  def readChangeFeed(spark: SparkSession, tableDir: String,
      fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromV >= -1 && fromV <= toV,
      s"readChangeFeed wants -1 <= fromV <= toV, got ($fromV, $toV]")
    def node(v: Long) = {
      val p = logDir(tableDir).resolve(s"$v.json")
      require(Files.exists(p), s"no version $v in $tableDir" +
        " (committed versions may have been expired)")
      mapper.readTree(Files.readString(p))
    }
    var prevFiles: Set[String] = Set.empty
    var prevDv: Map[String, Seq[String]] = Map.empty
    if (fromV >= 0) {
      val n = node(fromV)
      prevFiles = n.get("files").elements().asScala.map(_.asText()).toSet
      prevDv = dvOf(n)
    }
    val outs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    ((fromV + 1) to toV).foreach { v =>
      val n = node(v)
      val files = n.get("files").elements().asScala.map(_.asText()).toSeq
      val dvNow = dvOf(n)
      val colmap = colmapOf(n)
      val logical = Option(n.get("schema")).map(s =>
        org.apache.spark.sql.types.DataType.fromJson(s.asText())
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      val op = Option(n.get("op")).map(_.asText()).getOrElse("unknown")
      val skip = ChangeFeed.ContentIdenticalOps.contains(op)
      if (!skip) {
        // RESTORE needs its own guard: the structural rewrite check
        // below misses the restore shape whose FILE list is unchanged
        // but whose dv masks SHRANK (un-deleting rows) — a feed that
        // emitted nothing there would silently lie
        require(op != "restore",
          s"readChangeFeed($fromV, $toV): version $v is a RESTORE — " +
            "restored content has no per-row change representation " +
            s"(masks may shrink, files may vanish); use diff($fromV, " +
            s"$toV) for post-image semantics, or feed up to ${v - 1}")
        require(prevFiles.subsetOf(files.toSet),
          s"readChangeFeed($fromV, $toV): version $v rewrote data files " +
            s"(op=$op) — a rewrite restates rows and has no per-row " +
            s"change representation; use diff($fromV, $toV) for " +
            s"post-image semantics, or feed up to ${v - 1}")
        val newFiles = files.filterNot(prevFiles.contains)
        if (newFiles.nonEmpty) outs +=
          readFiles(spark, newFiles, logical, colmap,
            dvNow.view.filterKeys(newFiles.toSet).toMap)
            .withColumn(ChangeFeed.ChangeTypeCol, lit(ChangeFeed.label(op)))
            .withColumn(ChangeFeed.CommitVersionCol, lit(v))
        val newSc = dvNow.values.flatten.toSet -- prevDv.values.flatten.toSet
        if (newSc.nonEmpty) {
          // BIRTH MASKS stay out of the delete half: a version that both
          // appends a file and dv's it in the same commit never made the
          // masked rows visible — the insert half already withheld them
          // (dvNow.filterKeys(newFiles) above), so emitting their
          // pre-images as `delete` would let a replica delete a live row
          // sharing the key. Only files that existed at v−1 can carry
          // genuine new deletes.
          val bornNow = newFiles.toSet
          val touched = dvNow.collect {
            case (f, scs) if scs.exists(newSc.contains) &&
              !bornNow.contains(f) => f }.toSeq.sorted
          if (touched.nonEmpty) {
          val marksNew = spark.read.schema("file STRING, pos BIGINT")
            .parquet(newSc.toSeq.sorted: _*)
          val oldSc = touched.flatMap(prevDv.getOrElse(_, Nil)).distinct.sorted
          val delta = if (oldSc.isEmpty) marksNew.distinct()
            else marksNew.except(spark.read
              .schema("file STRING, pos BIGINT").parquet(oldSc: _*))
          val fp = "_graft_cf_f"
          val ri = "_graft_cf_p"
          val withMeta = logical.map(physSchema(_, colmap))
            .fold(spark.read)(spark.read.schema).parquet(touched: _*)
            .select(col("*"), col("_metadata.file_path").as(fp),
              col("_metadata.row_index").as(ri))
          val pre = withMeta.join(delta,
            withMeta(fp) === delta("file") && withMeta(ri) === delta("pos"),
            "left_semi").drop(fp, ri)
          val named = logical match {
            case Some(sch) if colmap.nonEmpty =>
              pre.toDF(sch.fieldNames.toIndexedSeq: _*)
            case _ => pre
          }
          outs += named
            .withColumn(ChangeFeed.ChangeTypeCol, lit("delete"))
            .withColumn(ChangeFeed.CommitVersionCol, lit(v))
          }
        }
      }
      prevFiles = files.toSet
      prevDv = dvNow
    }
    if (outs.isEmpty) {
      val (_, _, schemaOpt, _, _) = manifestDetailsAt(tableDir, toV)
      val sch = schemaOpt.getOrElse(sys.error(
        s"readChangeFeed($fromV, $toV): the range emits nothing and the " +
          "manifest records no schema to shape the empty feed — commit " +
          "once with a recorded schema first"))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(sch.fields ++ Seq(
          org.apache.spark.sql.types.StructField(ChangeFeed.ChangeTypeCol,
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField(ChangeFeed.CommitVersionCol,
            org.apache.spark.sql.types.LongType, nullable = false))))
    } else {
      require(outs.map(_.columns.toSeq).distinct.size == 1,
        s"readChangeFeed($fromV, $toV): the logical column set changed " +
          "across the range (a rename/drop/add mid-range) — feed up to " +
          "the DDL version, then from it")
      outs.reduce(_.unionByName(_))
    }
  }

  /** [[readChangeFeed]] with TIME bounds — Delta CDF's
    * startingTimestamp/endingTimestamp convenience on the manifests'
    * op/ts provenance: the feed covers every version whose recorded
    * commit timestamp falls in [`from`, `to`] (inclusive both ends;
    * an empty window is an empty feed, a `to` before the first commit
    * is a loud error). Version order stays the real clock — the bounds
    * resolve per version against its recorded ts, and the emitted
    * range is contiguous in VERSIONS (from the first in-window
    * version's predecessor to the last in-window version). Under
    * wall-clock skew at commit time the in-window version set can be
    * NON-contiguous (a mid-range version stamped outside the window);
    * that refuses loudly rather than silently feeding the skewed
    * versions — the error names the version-bounded [[readChangeFeed]]
    * span that covers the same stretch. Tables carrying ts-less
    * pre-provenance versions refuse loudly too — use the
    * version-bounded [[readChangeFeed]]. */
  def readChangeFeedByTime(spark: SparkSession, tableDir: String,
      from: java.time.Instant, to: java.time.Instant): DataFrame = {
    require(!from.isAfter(to), s"readChangeFeedByTime wants from <= to, " +
      s"got [$from, $to]")
    val entries = history(tableDir).sortBy(_.version)
    require(entries.nonEmpty, s"no committed version in $tableDir")
    val unstamped = entries.filter(_.tsMillis <= 0L)
    require(unstamped.isEmpty,
      s"readChangeFeedByTime: version(s) ${unstamped.map(_.version).sorted
        .mkString(", ")} predate commit-timestamp provenance and cannot " +
        "be time-bounded — use readChangeFeed with version bounds")
    val fromMs = from.toEpochMilli
    val toMs = to.toEpochMilli
    val upTo = entries.filter(_.tsMillis <= toMs).map(_.version)
    require(upTo.nonEmpty,
      s"readChangeFeedByTime: no version of $tableDir was committed at " +
        s"or before $to (first commit: " +
        s"${java.time.Instant.ofEpochMilli(entries.map(_.tsMillis).min)})")
    val inWindow = entries.filter(e =>
      e.tsMillis >= fromMs && e.tsMillis <= toMs).map(_.version)
    if (inWindow.isEmpty) {
      // nothing committed in the window: an EMPTY feed shaped by the
      // newest at-or-before version's schema
      val v = upTo.max
      readChangeFeed(spark, tableDir, v, v)
    } else {
      // versions commit in order but their RECORDED timestamps come
      // from possibly-skewed wall clocks: a mid-range version stamped
      // outside [from, to] makes the in-window version set
      // non-contiguous. Feeding the contiguous hull would silently
      // include the skewed versions' changes — refuse loudly instead
      // (the project's convention) and name the version-bounded feed,
      // which states its range in the unit the log actually orders by.
      val inSet = inWindow.toSet
      val skewed = (inWindow.min to inWindow.max).filterNot(inSet.contains)
      require(skewed.isEmpty,
        s"readChangeFeedByTime: version(s) ${skewed.mkString(", ")} sit " +
          s"between in-window versions ${inWindow.min} and ${inWindow.max} " +
          s"but carry commit timestamps OUTSIDE [$from, $to] (clock skew " +
          "at commit time) — a time window cannot represent this range " +
          "faithfully; use readChangeFeed(" +
          s"${inWindow.min - 1}, ${inWindow.max}) to feed the full span, " +
          "or narrow the window to a contiguous stretch")
      readChangeFeed(spark, tableDir, inWindow.min - 1, inWindow.max)
    }
  }

  /** Resolve OPTIONAL time bounds to VERSION bounds against the
    * manifests' commit-ts provenance — the streaming source's
    * `startingTimestamp`/`endingTimestamp` options ride this (Delta's
    * spelling), sharing [[readChangeFeedByTime]]'s semantics and
    * refusal taxonomy: ts-less pre-provenance versions refuse naming
    * the version-bounded form, and CLOCK SKEW that makes a bound's
    * version set non-contiguous (a mid-range version stamped on the
    * wrong side of the bound) refuses loudly rather than silently
    * streaming skewed versions. Returns (first version at-or-after
    * `from`, last version at-or-before `to`); a `from` past every
    * commit resolves to latest+1 (the stream waits for future
    * commits, which are presumed to stamp later); a `to` before the
    * first commit is a loud error. */
  private[sources] def resolveTimeBounds(tableDir: String,
      from: Option[java.time.Instant], to: Option[java.time.Instant])
      : (Option[Long], Option[Long]) = {
    val entries = history(tableDir).sortBy(_.version)
    require(entries.nonEmpty, s"no committed version in $tableDir")
    val unstamped = entries.filter(_.tsMillis <= 0L)
    require(unstamped.isEmpty,
      s"time bounds: version(s) ${unstamped.map(_.version).sorted
        .mkString(", ")} predate commit-timestamp provenance and cannot " +
        "be time-bounded — use version bounds (startVersion / " +
        "readChangeFeed)")
    val allV = entries.map(_.version)
    val startV = from.map { f =>
      val fms = f.toEpochMilli
      val atOrAfter = entries.filter(_.tsMillis >= fms).map(_.version)
      if (atOrAfter.isEmpty) allV.max + 1
      else {
        val in = atOrAfter.toSet
        val skewed = (atOrAfter.min to allV.max).filterNot(in.contains)
        require(skewed.isEmpty,
          s"startingTimestamp: version(s) ${skewed.mkString(", ")} sit " +
            s"above first-in-window version ${atOrAfter.min} but carry " +
            s"commit timestamps BEFORE $f (clock skew at commit time) — " +
            "a time bound cannot represent this range faithfully; use " +
            s"startVersion=${atOrAfter.min}")
        atOrAfter.min
      }
    }
    val endV = to.map { t =>
      val tms = t.toEpochMilli
      val atOrBefore = entries.filter(_.tsMillis <= tms).map(_.version)
      require(atOrBefore.nonEmpty,
        s"endingTimestamp: no version of $tableDir was committed at or " +
          s"before $t (first commit: ${java.time.Instant.ofEpochMilli(
            entries.map(_.tsMillis).min)})")
      val in = atOrBefore.toSet
      val skewed = (allV.min to atOrBefore.max).filterNot(in.contains)
      require(skewed.isEmpty,
        s"endingTimestamp: version(s) ${skewed.mkString(", ")} sit below " +
          s"last-in-window version ${atOrBefore.max} but carry commit " +
          s"timestamps AFTER $t (clock skew at commit time) — use a " +
          s"version bound instead (end at ${atOrBefore.max})")
      atOrBefore.max
    }
    (startV, endV)
  }

  /** Apply a change-feed batch to a REPLICA table, exactly-once — the
    * missing half of CDC replication (source → [[readChangeFeed]] /
    * the streaming `changeFeed` mode → THIS → replica), foreachBatch-
    * ready: derive `v = base + batchId` and a replayed batch declines
    * at the manifest pre-check or loses the put-if-absent
    * ([[commitIdempotent]]/[[mergeIntoMORIdempotent]]'s discipline).
    *
    * A feed batch may span several source versions and may carry the
    * same key several times (a MOR update emits its delete pre-image
    * AND its post-image in ONE version; a later version may touch the
    * key again), so the apply first compacts LAST-WINS per key: the
    * highest `_commit_version` wins, and within a version a non-delete
    * outranks its paired delete pre-image. The winners become a
    * one-row-per-key merge feed (`delete` stays delete, everything
    * else upserts) applied via [[mergeIntoMORIdempotent]] — O(batch)
    * masks + post-image appends, never a survivor rewrite. A replica
    * with NO committed version bootstraps: the first batch's
    * non-delete winners commit as version `v` (deletes of never-seen
    * keys are no-ops by definition). Returns true iff THIS call
    * published. */
  def applyChangeFeed(spark: SparkSession, replicaDir: String,
      feed: DataFrame, key: String, v: Long,
      txn: Option[String] = None): Boolean = {
    import org.apache.spark.sql.functions.{col, lit, max_by, struct, when}
    val ct = ChangeFeed.ChangeTypeCol
    val cv = ChangeFeed.CommitVersionCol
    require(feed.columns.contains(ct) && feed.columns.contains(cv),
      s"applyChangeFeed wants a change-feed frame (with $ct and $cv) — " +
        "the readChangeFeed / changeFeed-stream shape")
    val dataCols = feed.columns.filterNot(c => c == ct || c == cv).toSeq
    require(dataCols.contains(key), s"unknown replication key $key")
    val rank = struct(col(cv),
      when(col(ct) === "delete", lit(0)).otherwise(lit(1)))
    val winner = feed
      .groupBy(col(key).as("_graft_cfk"))
      .agg(max_by(struct(
        (dataCols.map(col) :+ col(ct).as("_graft_cft")): _*), rank).as("w"))
      .select((dataCols.map(c => col(s"w.`$c`").as(c)) :+
        when(col("w._graft_cft") === "delete", "delete")
          .otherwise("update").as("op")): _*)
    if (latestVersion(replicaDir).isEmpty) {
      require(v == 0L,
        s"applyChangeFeed: replica $replicaDir has no committed version " +
          s"— the bootstrap batch must be version 0, got $v (a stream " +
          "should derive v = batchId against a fresh replica)")
      commitIdempotent(spark, replicaDir,
        winner.filter(col("op") =!= "delete").drop("op"), v, txn = txn)
    } else mergeIntoMORIdempotent(spark, replicaDir, winner, key, v,
      txn = txn)
  }

  /** Retention: delete the manifests of all but the newest `keepLast`
    * versions — Iceberg's `expire_snapshots` / Delta's log retention at
    * this log's minimum, and the missing half of the space story:
    * [[vacuum]] can only reclaim what NO manifest references, and on an
    * appended/optimized table every byte ever committed stays pinned by
    * some historical manifest forever. Expiring a version renounces
    * time travel to it: an `asOf` older than the oldest surviving
    * version finds nothing and fails loudly ([[read]]'s
    * newest-at-or-before resolution), never silently answering from a
    * different snapshot; the data files only expired manifests
    * referenced become unreferenced and fall to the next [[vacuum]]
    * (age-floored as always).
    *
    * Invariants preserved: manifests are deleted OLDEST-FIRST, so a
    * crash mid-expiry leaves the surviving set a contiguous suffix —
    * the same shape as a completed expiry; the checkpoint hint names
    * the latest version, which always survives (`keepLast >= 1`), and
    * density above any surviving version is untouched, so the hint's
    * upward probe and the next commit's latest+1 arithmetic still
    * hold. Returns the expired version numbers. */
  def expireVersions(tableDir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1 — the latest version is the table")
    val latest = latestVersion(tableDir).getOrElse(return Nil)
    val ld = logDir(tableDir)
    val cut = latest - keepLast + 1 // smallest surviving version
    val expired = listDir(ld)
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong)
      .filter(_ < cut).sorted
    expired.foreach(v => Files.deleteIfExists(ld.resolve(s"$v.json")))
    expired
  }

  /** Delete data no manifest references, at TWO granularities:
    * whole directories (the orphans crashed and race-losing writers
    * leave behind by design), and — inside directories that survive
    * because a sibling is still live — individual parquet FILES whose
    * every referencing manifest has been expired. The file pass is
    * what makes ERASURE real: a COW [[deleteWhereIn]] rewrites one
    * file of a generation and carries its seven siblings, so the
    * directory stays referenced forever and a directory-only vacuum
    * would never physically remove the erased subject's bytes
    * (SnapshotBloomSpec's erasure theorem pins the full chain:
    * point delete + expireVersions + vacuum ⇒ the payload is in no
    * surviving byte on disk). Returns the deleted paths.
    *
    * Safety argument: a path is deletable only when (a) no committed
    * manifest lists it (for a directory: lists any file under it) —
    * committed data is never touched — and (b) it is older than
    * `minAgeMillis`, which protects an IN-FLIGHT writer that has
    * finished its parquet write but not yet published (between those
    * two steps the data is unreferenced yet about to become live).
    * The file pass inherits the same argument: every write path lands
    * in a writer-unique `data/v<N>-<token>` directory, so a file
    * inside an EXISTING generation can only have been written by that
    * generation's own (long-finished) writer — unreferenced means its
    * manifests expired, never that a writer is mid-flight. On a real
    * deployment the age floor is hours; the default keeps the same
    * shape. This is Delta's VACUUM retention reasoning (which is also
    * file-granular) reduced to the minimum. */
  def vacuum(tableDir: String, minAgeMillis: Long = 3600000L): Seq[String] = {
    val dataDir = Paths.get(tableDir, "data")
    val ld = logDir(tableDir)
    if (!Files.isDirectory(dataDir)) return Nil
    // canonicalize BOTH sides before comparing: new manifests record
    // canonical absolute paths already (publish-time [[canon]]), but
    // pre-round-10 manifests hold the committer's spelling, and the
    // listing reflects the vacuum caller's — Java Path equality does
    // not normalize, and "./t" vs "t" vs a symlinked absolute form
    // must not let a committed directory look unreferenced (that would
    // delete live data)
    val referencedFiles: Set[Path] =
      if (!Files.isDirectory(ld)) Set.empty
      else listDir(ld)
        .filter(p => p.getFileName.toString.endsWith(".json") &&
          !p.getFileName.toString.startsWith("."))
        .flatMap(m => manifestFiles(m).map(f => canon(Paths.get(f))))
        .toSet
    val referenced: Set[Path] = referencedFiles.map(_.getParent)
    val cutoff = System.currentTimeMillis() - minAgeMillis
    // <= so minAgeMillis = 0 means "no age protection" exactly — with
    // strict < an orphan written in the same clock millisecond would
    // survive a zero-age vacuum intermittently
    val dead = listDir(dataDir).filter { d =>
      Files.isDirectory(d) && !referenced.contains(canon(d)) &&
        Files.getLastModifiedTime(d).toMillis <= cutoff
    }
    dead.foreach(deleteRecursively)
    // file pass over the SURVIVING (still-referenced) generations
    val deadFiles = listDir(dataDir)
      .filter(d => Files.isDirectory(d) && referenced.contains(canon(d)))
      .flatMap(listDir)
      .filter { f =>
        f.toString.endsWith(".parquet") && Files.isRegularFile(f) &&
          !referencedFiles.contains(canon(f)) &&
          Files.getLastModifiedTime(f).toMillis <= cutoff
      }
    deadFiles.foreach { f =>
      Files.deleteIfExists(f)
      // the Hadoop local FS writes a checksum sibling; tidy it along
      Files.deleteIfExists(f.getParent.resolve(s".${f.getFileName}.crc")): Unit
    }
    dead.map(_.toString) ++ deadFiles.map(_.toString)
  }

  /** Depth-first delete — a crashed writer can leave a nested
    * `_temporary` tree, not just flat part files. */
  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** The version a read resolves to: the latest, or the newest
    * version ≤ `asOf` (time travel). Shared by [[read]] and the
    * stats-pruned [[readWhere]]/[[pruneFiles]] path. */
  private def resolveVersion(tableDir: String, asOf: Option[Long]): Long =
    (latestVersion(tableDir), asOf) match {
      case (None, _) => sys.error(s"no committed version in $tableDir")
      case (Some(latest), None) => latest
      case (Some(latest), Some(t)) =>
        val vs = (0L to latest).filter(x =>
          Files.exists(logDir(tableDir).resolve(s"$x.json")) && x <= t)
        if (vs.isEmpty) sys.error(s"no version <= $t in $tableDir") else vs.max
    }

  /** Read a committed snapshot: the latest, or the newest version
    * ≤ `asOf` (time travel). Reads EXACTLY the manifest's files, with
    * the manifest's recorded schema when present (no footer merge at
    * plan time; pre-schema manifests fall back to inference). */
  def read(spark: SparkSession, tableDir: String,
      asOf: Option[Long] = None): DataFrame = {
    val (files, _, schemaOpt, colmap, dv) = manifestFor(tableDir, asOf)
    readFiles(spark, files, schemaOpt, colmap, dv)
  }
}
