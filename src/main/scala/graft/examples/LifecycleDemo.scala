package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.SnapshotLog

/** Runnable tour of the round-17 catalog surfaces — table LIFECYCLE
  * (CREATE / CTAS / RENAME / DROP through SQL), maintenance as SQL
  * `CALL` procedures, and RESTORE:
  *
  * {{{ sbt "runMain graft.examples.LifecycleDemo /tmp/graft_lifecycle" }}}
  *
  * Prints ONE summary line; every claim is require()d on the way.
  * The tour is deliberately end-to-end SQL: a user who never imports
  * graft.sources can create, fill, reorganize, mistake, restore,
  * rename, and retire a table with spark.sql alone.
  */
object LifecycleDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_lifecycle")
    val spark = GraftSession.builder()
      .appName("LifecycleDemo")
      .config("spark.sql.catalog.lake", "graft.sources.SnapshotCatalog")
      .config("spark.sql.catalog.lake.root", outDir)
      .getOrCreate()
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.demo")

      // 1. CREATE TABLE: schema-only genesis; the empty relation reads
      spark.sql("CREATE TABLE lake.demo.events (k BIGINT, grp BIGINT, v BIGINT)")
      require(spark.sql("SELECT count(*) FROM lake.demo.events")
        .head.getLong(0) == 0L, "genesis not empty")

      // 2. INSERT (enforced append; non-null batch tightens harmlessly)
      spark.sql("INSERT INTO lake.demo.events " +
        "SELECT id AS k, id % 8 AS grp, id * 3 AS v FROM range(4096)")
      val n0 = spark.sql("SELECT count(*) FROM lake.demo.events").head.getLong(0)
      require(n0 == 4096L, s"insert landed $n0 rows")

      // 3. CTAS: a derived table in ONE atomic commit (staged — the
      //    data rides the genesis manifest)
      spark.sql("CREATE TABLE lake.demo.by_grp AS " +
        "SELECT grp, count(*) AS n, sum(v) AS sum_v " +
        "FROM lake.demo.events GROUP BY grp")
      require(spark.sql("SELECT count(*) FROM lake.demo.by_grp")
        .head.getLong(0) == 8L, "CTAS aggregate wrong")
      require(SnapshotLog.history(s"$outDir/demo/by_grp").map(_.op) ==
        Seq("create-table"), "CTAS should be one staged commit")

      // 3b. CREATE OR REPLACE: redefine the derived table — one
      //     replace-table commit, HISTORY PRESERVED (v0 still reads)
      spark.sql("CREATE OR REPLACE TABLE lake.demo.by_grp AS " +
        "SELECT grp, avg(v) AS avg_v FROM lake.demo.events GROUP BY grp")
      require(spark.sql("SELECT count(*) FROM lake.demo.by_grp")
        .head.getLong(0) == 8L, "replaced aggregate wrong")
      require(spark.sql(
        "SELECT count(*) FROM lake.demo.by_grp VERSION AS OF 0")
        .head.getLong(0) == 8L, "pre-replace version lost — replace " +
        "must preserve history")

      // 4. point DML (MOR) + CALL optimize + CALL compact_deletes
      spark.sql("DELETE FROM lake.demo.events WHERE k IN (1, 2, 3)")
      val vOpt = spark.sql(
        "CALL lake.system.compact_deletes('demo.events')").head.getLong(0)
      val vZ = spark.sql("CALL lake.system.optimize('demo.events', 100000, " +
        "zorder_by => 'k,grp')").head.getLong(0)
      require(vZ == vOpt + 1, s"optimize landed at $vZ, expected ${vOpt + 1}")
      require(SnapshotLog.history(s"$outDir/demo/events")
        .maxBy(_.version).op == "optimize-zorder", "zorder op not recorded")

      // 4b. metadata-only aggregates: post-compaction (mask-free) the
      //     ungrouped COUNT/MIN/MAX answers from the MANIFEST — one
      //     SnapAggScan row, zero data I/O
      val aggQ = spark.sql("SELECT count(*) AS c, min(k) AS mn, " +
        "max(k) AS mx FROM lake.demo.events")
      require(aggQ.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.exists(_.getClass.getSimpleName.contains("SnapAggScan")),
        "metadata aggregate did not push")
      val aggRow = aggQ.head
      require(aggRow.getLong(0) == 4093L && aggRow.getLong(1) == 0L &&
        aggRow.getLong(2) == 4095L, s"metadata aggregate lied: $aggRow")

      // 4c. bucket layout + STORAGE-PARTITIONED JOIN: both tables
      //     bucketed bucket(4, grp) join with zero exchanges
      spark.sql("CALL lake.system.rebucket('demo.events', 'grp', 4)")
        .collect()
      spark.sql("CALL lake.system.rebucket('demo.by_grp', 'grp', 4)")
        .collect()
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val spjQ = spark.sql("SELECT e.k, b.avg_v FROM lake.demo.events e " +
        "JOIN lake.demo.by_grp b ON e.grp = b.grp")
      val spjRows = spjQ.collect().length
      val spjPlan = spjQ.queryExecution.executedPlan.toString
      require(spjRows == 4093, s"SPJ join returned $spjRows rows")
      require(!spjPlan.contains("ShuffleExchange"),
        s"storage-partitioned join shuffled:\n$spjPlan")
      // AQE's dump prints the final AND initial plans — 2 scans each
      require("SnapBucketScan".r.findAllIn(spjPlan).size >= 2,
        s"expected two bucket scans:\n$spjPlan")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      val vBkt = SnapshotLog.latestVersion(s"$outDir/demo/events").get

      // 5. a MISTAKE and its RESTORE: drop everything, then undo
      spark.sql("INSERT OVERWRITE lake.demo.events " +
        "SELECT id, id, id FROM range(1)") // oops
      require(spark.sql("SELECT count(*) FROM lake.demo.events")
        .head.getLong(0) == 1L)
      val restored = spark.sql(
        s"CALL lake.system.restore(table => 'demo.events', version => $vZ)")
        .head
      val nBack = spark.sql("SELECT count(*) FROM lake.demo.events")
        .head.getLong(0)
      require(nBack == 4093L,
        s"restore read $nBack rows, expected 4093 (4096 - 3 deleted)")

      // 6. RENAME (rehome: dir move + manifest rewrite); reads follow
      spark.sql("ALTER TABLE lake.demo.events RENAME TO demo.events_renamed")
      require(spark.sql("SELECT count(*) FROM lake.demo.events_renamed")
        .head.getLong(0) == 4093L, "renamed table lost rows")
      // time travel survives the rename
      require(spark.sql(
        "SELECT count(*) FROM lake.demo.events_renamed VERSION AS OF 1")
        .head.getLong(0) == 4096L, "time travel broken after rename")

      // 7. retire history + reclaim space, all through CALL
      val expired = spark.sql(
        "CALL lake.system.expire_versions('demo.events_renamed', 2)")
        .head.getInt(0)
      val vacuumed = spark.sql(
        "CALL lake.system.vacuum('demo.events_renamed', 0)").head.getInt(0)
      require(expired > 0 && vacuumed > 0,
        s"retention no-op: expired=$expired vacuumed=$vacuumed")

      // 8. DROP: the derived table retires
      spark.sql("DROP TABLE lake.demo.by_grp")
      require(spark.sql("SHOW TABLES IN lake.demo").count() == 1L,
        "DROP left the table listed")

      println(s"LIFECYCLE: created=2 ctas_groups=8 replaced=by_grp " +
        s"deleted=3 " +
        s"compacted@v$vOpt zordered@v$vZ agg_pushed=true " +
        s"bucketed=grp/4@v$vBkt spj_exchanges=0 overwrote=1 " +
        s"restored_from=${restored.getLong(0)}@v${restored.getLong(1)} " +
        s"rows=$nBack renamed=events->events_renamed " +
        s"expired=$expired vacuumed=$vacuumed dropped=by_grp")
    } finally spark.stop()
  }
}
