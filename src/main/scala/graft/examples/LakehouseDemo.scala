package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.SnapshotLog

/** The snapshot log as a complete table-format minimum, end-to-end —
  * every lifecycle operation a long-lived 100 TB table needs, in the
  * order a real deployment meets them, with exact accounting
  * require()d at each step:
  *
  *   1. COMMIT a range-clustered seed (manifest records per-file
  *      min/max stats + the written schema);
  *   2. APPEND three daily batches (O(batch) work each; stats carried
  *      forward verbatim, schema enforced);
  *   3. stats-pruned READ (`readWhere`): a narrow ask touches a
  *      fraction of the manifest's files and equals the exact filter;
  *   4. SQL surface: mount the table in `SnapshotCatalog`, query it
  *      with `VERSION AS OF` time travel;
  *   5. OPTIMIZE: the append-fragmented table compacts clustered —
  *      pruning measurably repaired;
  *   6. copy-on-write DELETE (`deleteWhere`): a one-file-range erasure
  *      carries every exonerated file by name;
  *   7. CDC: `diff` between two versions is the churn-sized feed;
  *   8. RETENTION: `expireVersions` + `vacuum` finally reclaim the
  *      renounced history's bytes, with surviving history intact;
  *   9. additive schema EVOLUTION (`mergeSchema = true`): a late batch
  *      brings a new nullable column — zero rewrites, old rows
  *      null-fill, pre-evolution versions keep their own schema;
  *  10. column RENAME + DROP through the column map (logical names
  *      over immutable physical names): metadata-only commits — same
  *      files byte-for-byte — with appends speaking the current
  *      logical names afterwards;
  *  11. the bloom index: point lookups + point DML on the unclustered
  *      key, refresh covering the rewrites;
  *  12. MERGE-ON-READ point DML: delete + update via position
  *      sidecars (no files rewritten), SQL reading the dv-bearing
  *      version through the mask (cap-free: positions materialize on
  *      executors) until `compactDeletes` materializes the masks and
  *      restores the fully-vectorized scan.
  *
  * Usage: runMain graft.examples.LakehouseDemo /tmp/graft_lakehouse
  */
object LakehouseDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_lakehouse")
    val spark = GraftSession.builder().appName("LakehouseDemo").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t = s"$outDir/lake/events"
    def day(from: Long, n: Long) = spark.range(from, from + n).select(
      col("id").as("key"), (col("id") % 97).as("payload"))

    // 1. seed commit: 8 range-clustered files
    SnapshotLog.commit(spark, t, day(0L, 8000L).repartitionByRange(8, col("key")))

    // 2. three appended "days", 2 files each
    (1 to 3).foreach { d =>
      SnapshotLog.commitAppend(spark, t,
        day(8000L * d, 8000L).repartitionByRange(2, col("key")))
    }
    val vAfterAppends = SnapshotLog.latestVersion(t).get
    require(vAfterAppends == 3L, s"expected v3 after appends, got $vAfterAppends")
    require(SnapshotLog.read(spark, t).count() == 32000L)

    // 3. stats-pruned read: a 500-key ask inside day 2
    val (kept, total) = SnapshotLog.pruneFiles(t, "key", Some(17000L), Some(17499L))
    require(total == 14 && kept.size <= 2,
      s"pruning should touch <=2 of $total files, kept ${kept.size}")
    val pruned = SnapshotLog.readWhere(spark, t, "key", Some(17000L), Some(17499L)).count()
    require(pruned == 500L, s"pruned read must equal the exact filter, got $pruned")

    // 4. SQL + time travel through the catalog
    spark.conf.set("spark.sql.catalog.demo", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.demo.root", s"$outDir")
    val sqlLatest = spark.sql("SELECT count(*) FROM demo.lake.events").head().getLong(0)
    val sqlV0 = spark.sql(
      "SELECT count(*) FROM demo.lake.events VERSION AS OF 0").head().getLong(0)
    require(sqlLatest == 32000L && sqlV0 == 8000L, s"SQL saw $sqlLatest / $sqlV0")

    // 5. optimize: clustered compaction repairs the fragmented layout
    SnapshotLog.optimize(spark, t, targetRecordsPerFile = 4000L, clusterBy = Seq("key"))
    val (keptOpt, totalOpt) = SnapshotLog.pruneFiles(t, "key", Some(17000L), Some(17499L))
    require(totalOpt == 8 && keptOpt.size == 1,
      s"optimize should leave 8 files with a 1-file ask, got ${keptOpt.size}/$totalOpt")

    // 5b. copy-on-write update: one clustered range's payload bumped,
    // everything outside it byte-identical, exonerated files carried
    SnapshotLog.updateWhere(spark, t, "key", Some(100L), Some(199L),
      Map("payload" -> (col("payload") + lit(1000L))))
    val bumped = SnapshotLog.read(spark, t)
      .filter(col("key").between(100L, 199L) && col("payload") >= 1000L).count()
    val outside = SnapshotLog.read(spark, t)
      .filter(!col("key").between(100L, 199L) && col("payload") >= 1000L).count()
    require(bumped == 100L && outside == 0L, s"update accounting: $bumped/$outside")

    // 6. copy-on-write delete of one clustered range
    val before = SnapshotLog.latestVersion(t).get
    SnapshotLog.deleteWhere(spark, t, "key", Some(4100L), Some(7899L))
    val afterDelete = SnapshotLog.read(spark, t).count()
    require(afterDelete == 32000L - 3800L, s"delete accounting off: $afterDelete")

    // 7. CDC feed across the delete: exactly the erased keys, as deletes
    val feed = SnapshotLog.diff(spark, t, before, before + 1, payload = Seq("payload"))
    val ops = feed.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(ops == Map("delete" -> 3800L), s"diff feed: $ops")

    // 8. retention: renounce all but the last two versions, reclaim
    val expired = SnapshotLog.expireVersions(t, keepLast = 2)
    val reclaimed = SnapshotLog.vacuum(t, minAgeMillis = 0L)
    require(expired.nonEmpty && reclaimed.nonEmpty,
      s"expiry/vacuum should reclaim: $expired / ${reclaimed.size}")
    require(SnapshotLog.read(spark, t).count() == afterDelete)
    require(SnapshotLog.read(spark, t, asOf = Some(before)).count() == 32000L)

    // 9. additive schema EVOLUTION late in the table's life: day 4
    // arrives carrying a new nullable `src` column — zero rewrites,
    // every existing row null-fills, and time travel before the
    // evolution still answers with the 2-column schema
    val preEvolveV = SnapshotLog.latestVersion(t).get
    SnapshotLog.commitAppend(spark, t,
      day(32000L, 8000L).withColumn("src", lit("day4")),
      mergeSchema = true)
    val evolved = SnapshotLog.read(spark, t)
    require(evolved.columns.toSeq == Seq("key", "payload", "src"),
      s"evolved schema: ${evolved.columns.toSeq}")
    val nullSrc = evolved.filter(col("src").isNull).count()
    val day4 = evolved.filter(col("src") === "day4").count()
    require(nullSrc == afterDelete && day4 == 8000L,
      s"evolution accounting: $nullSrc null / $day4 day4")
    require(SnapshotLog.read(spark, t, asOf = Some(preEvolveV))
      .columns.toSeq == Seq("key", "payload"),
      "pre-evolution version must keep its own schema")

    // 10. column RENAME + DROP late in life — metadata-only commits
    // through the column map: `src` renames to `source` with the same
    // files byte-for-byte; `payload` drops; appends keep speaking the
    // current logical names; time travel still answers pre-rename
    val preRenameFiles = SnapshotLog.read(spark, t).inputFiles.toSet
    SnapshotLog.renameColumn(t, "src", "source")
    val renamed = SnapshotLog.read(spark, t)
    require(renamed.columns.toSeq == Seq("key", "payload", "source") &&
      renamed.inputFiles.toSet == preRenameFiles,
      "rename must be metadata-only (same files, new name)")
    require(renamed.filter(col("source") === "day4").count() == 8000L,
      "renamed column must answer with the old bytes")
    SnapshotLog.dropColumn(t, "payload")
    SnapshotLog.commitAppend(spark, t,
      spark.range(40000L, 40100L).select(col("id").as("key"),
        lit("day5").as("source")))
    val mapped = SnapshotLog.read(spark, t)
    require(mapped.columns.toSeq == Seq("key", "source"),
      s"post-drop schema: ${mapped.columns.toSeq}")
    require(mapped.filter(col("source") === "day5").count() == 100L,
      "append after rename+drop must land under the logical names")

    // 11. the bloom index — point lookups and point DML on the
    // UNCLUSTERED key (the layout clusters nothing here after the
    // appends, so min/max alone keeps most files): index once, look up
    // a handful of ids, redact one, erase another; refresh covers the
    // rewrites
    val nIndexed = SnapshotLog.writeBloomIndex(spark, t, "key",
      expectedItemsPerFile = 16 * 1024, fpp = 0.01)
    val probe: Seq[Any] = Seq(40000L, 40050L, 40099L)
    val (bkept, btotal) = SnapshotLog.bloomPruneFiles(spark, t, "key", probe)
    require(bkept.size < btotal,
      s"bloom lookup must skip files: kept ${bkept.size}/$btotal")
    require(SnapshotLog.readWhereIn(spark, t, "key", probe).count() == 3L,
      "point lookup must find exactly the probed ids")
    SnapshotLog.updateWhereIn(spark, t, "key", Seq(40050L),
      Map("source" -> lit("REDACTED")))
    SnapshotLog.deleteWhereIn(spark, t, "key", Seq(40099L))
    val served = SnapshotLog.readWhereIn(spark, t, "key", probe)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    require(served == Map(40000L -> "day5", 40050L -> "REDACTED"),
      s"point DML accounting: $served")
    val refreshed = SnapshotLog.refreshBloomIndex(spark, t, "key")
    require(refreshed > 0, "the DML rewrites must leave files to refresh")

    // 12. MERGE-ON-READ point DML — the high-churn cost model: the
    // delete/update write position SIDECARS instead of rewriting files
    // (files carried byte-identical; masked reads apply the dv), SQL
    // reads the dv-bearing version THROUGH the mask (round 16 — the
    // masked half position-filters, with positions materializing on
    // the EXECUTORS, so masks of any size read), and compactDeletes
    // materializes the masks and restores the fully-vectorized scan
    val preMorFiles = SnapshotLog.pruneFiles(t, "key", None, None)._1
    val preMorCount = SnapshotLog.read(spark, t).count()
    SnapshotLog.deleteWhereInMOR(spark, t, "key", Seq(40000L))
    SnapshotLog.updateWhereInMOR(spark, t, "key", Seq(40050L),
      Map("source" -> lit("MOR-REDACTED")))
    val morFiles = SnapshotLog.pruneFiles(t, "key", None, None)._1
    require(preMorFiles.forall(morFiles.contains),
      "MOR DML must not rewrite any pre-existing data file")
    val morServed = SnapshotLog.readWhereIn(spark, t, "key", probe)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    require(morServed == Map(40050L -> "MOR-REDACTED"),
      s"MOR DML accounting: $morServed")
    require(SnapshotLog.read(spark, t).count() == preMorCount - 1)
    require(spark.sql("SELECT count(*) FROM demo.lake.events")
      .head().getLong(0) == preMorCount - 1,
      "SQL must read the dv-bearing version through the mask")
    require(spark.sql(
      "SELECT source FROM demo.lake.events WHERE key = 40050")
      .head().getString(0) == "MOR-REDACTED",
      "SQL must see the MOR post-image, not the masked pre-image")
    // the SQL mask is CAP-FREE: positions materialize on executors
    // from the partitions' sidecar paths, so the Scala inline-mask
    // conf (0 = force the anti-join there) must not affect SQL at all
    spark.conf.set("spark.graft.dv.inlineMaskMaxPositions", "0")
    try require(spark.sql("SELECT count(*) FROM demo.lake.events")
      .head().getLong(0) == preMorCount - 1,
      "SQL must read the mask regardless of the driver-map conf")
    finally spark.conf.unset("spark.graft.dv.inlineMaskMaxPositions")
    val compactV = SnapshotLog.compactDeletes(spark, t)
    require(SnapshotLog.dvAt(t, compactV).isEmpty)
    require(spark.sql("SELECT count(*) FROM demo.lake.events")
      .head().getLong(0) == preMorCount - 1,
      "SQL must read again after compaction")

    println(s"LAKEHOUSE: versions=0->${SnapshotLog.latestVersion(t).get} " +
      s"files=$total->$totalOpt pruned_ask=${kept.size}->${keptOpt.size} " +
      s"rows=32000->$afterDelete cdc_deletes=${ops("delete")} " +
      s"expired=${expired.size} vacuumed=${reclaimed.size} " +
      s"evolved_cols=2->${evolved.columns.length} " +
      s"renamed=src->source dropped=payload " +
      s"bloom_indexed=$nIndexed bloom_ask=${bkept.size}/$btotal " +
      s"point_dml=redact+erase refreshed=$refreshed " +
      s"mor=delete+update+sqlread+compact@v$compactV")
    spark.stop()
  }
}
