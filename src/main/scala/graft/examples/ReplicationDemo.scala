package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.SnapshotLog

/** CDC REPLICATION end-to-end — the loop a downstream consumer (a
  * serving copy, a region replica, a redacted mirror) runs
  * continuously, composed from the library's own kernels:
  *
  *   1. SOURCE lifecycle on a snapshot-log table: commit → append →
  *      MOR delete (position sidecars, no rewrite) → MOR update
  *      (mask + post-image, one commit) → OPTIMIZE (a maintenance
  *      rewrite the feed must flow straight through);
  *   2. the CHANGE FEED streams it: `readStream.format("graft-snaplog")
  *      .option("changeFeed", "true")` — appends as inserts, masked
  *      pre-images as deletes, post-images as upserts, maintenance
  *      silent;
  *   3. the REPLICA applies each micro-batch exactly-once:
  *      `foreachBatch((b, id) => SnapshotLog.applyChangeFeed(spark,
  *      replica, b, "k", id))` — last-wins key compaction, then an
  *      idempotent MOR merge (replays decline at the version check);
  *   4. day-2: more churn on the source, the SAME checkpoint catches
  *      the replica up incrementally — and the replica's own history
  *      shows exactly one version per applied batch;
  *   5. (round 18) the ONE-LINER replica: the identical loop with no
  *      foreachBatch and no verbs — `readStream.table("….changes")
  *      → writeStream.option("upsertKey", k).toTable("….rep2")` —
  *      the catalog-native feed composed with the update-mode sink.
  *
  * The require()s make it a golden test: replica == source
  * row-for-row after each run, a replayed batch leaves the replica
  * unmoved, and the feed never rewrote a replica survivor (every
  * applied batch is a merge-mor/commit version — check via history).
  *
  * Usage: runMain graft.examples.ReplicationDemo /tmp/graft_replication
  */
object ReplicationDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_replication")
    val spark = GraftSession.builder().appName("graft-replication-demo").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))

    val src = s"$outDir/source"
    val dst = s"$outDir/replica"
    val cp = s"$outDir/checkpoint"

    // 1. source lifecycle
    SnapshotLog.commit(spark, src, spark.range(10000)
      .repartitionByRange(4, col("id"))
      .select(col("id").as("k"), (col("id") * 7).as("v")))
    SnapshotLog.commitAppend(spark, src, spark.range(10000, 11000)
      .select(col("id").as("k"), (col("id") * 7).as("v")))
    SnapshotLog.deleteWhereInMOR(spark, src, "k", (0L until 50L).toSeq)
    SnapshotLog.updateWhereInMOR(spark, src, "k", Seq(100L, 101L),
      Map("v" -> lit(-1L)))
    SnapshotLog.optimize(spark, src, targetRecordsPerFile = 4000L)

    // 2 + 3. stream the feed into the replica, exactly-once
    def replicate(): Unit = {
      val q = spark.readStream.format("graft-snaplog")
        .option("tableDir", src)
        .option("changeFeed", "true")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          SnapshotLog.applyChangeFeed(spark, dst, b, "k", id): Unit
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000): Unit
    }
    replicate()
    def rows(d: String): Array[String] =
      SnapshotLog.read(spark, d).select("k", "v")
        .collect().map(_.toString).sorted
    val afterRun1 = rows(dst)
    require(afterRun1.sameElements(rows(src)),
      "replica must equal the source after run 1")

    // a manual replay of the last batch declines, replica unmoved
    val lastSrcV = SnapshotLog.latestVersion(src).get
    val lastDstV = SnapshotLog.latestVersion(dst).get
    require(!SnapshotLog.applyChangeFeed(spark, dst,
      SnapshotLog.readChangeFeed(spark, src, lastSrcV - 1, lastSrcV),
      "k", lastDstV),
      "a replayed batch must decline")
    require(rows(dst).sameElements(afterRun1), "replay must not move the replica")

    // 4. day-2 churn; same checkpoint catches up
    SnapshotLog.deleteWhereInMOR(spark, src, "k", Seq(100L)) // updated, now gone
    SnapshotLog.commitAppend(spark, src, spark.range(11000, 11200)
      .select(col("id").as("k"), (col("id") * 7).as("v")))
    replicate()
    require(rows(dst).sameElements(rows(src)),
      "replica must catch up after run 2")

    // 5. the ONE-LINER replica (round 18): the same loop on pure
    // catalog surfaces — no foreachBatch, no verbs, no key plumbing
    // beyond one option: the .changes metadata table streamed into
    // the upsertKey sink. Needs catalog-addressable paths (root/ns/t),
    // so a twin of the source seeds under the namespace and churns.
    Files.createDirectories(Paths.get(outDir, "lake"))
    val src2 = s"$outDir/lake/src2"
    val rep2 = s"$outDir/lake/rep2"
    SnapshotLog.commit(spark, src2, SnapshotLog.read(spark, src)
      .repartition(4))
    SnapshotLog.deleteWhereInMOR(spark, src2, "k", Seq(200L, 201L))
    SnapshotLog.updateWhereInMOR(spark, src2, "k", Seq(300L),
      Map("v" -> lit(-2L)))
    spark.conf.set("spark.sql.catalog.repl", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.repl.root", outDir)
    spark.sql("CREATE TABLE repl.lake.rep2 (k BIGINT, v BIGINT)")
    val q2 = spark.readStream.table("repl.lake.src2.changes")
      .writeStream.option("upsertKey", "k")
      .option("checkpointLocation", s"$outDir/checkpoint2")
      .toTable("repl.lake.rep2")
    try q2.processAllAvailable() finally q2.stop()
    require(rows(rep2).sameElements(rows(src2)),
      "one-liner replica must equal its source")
    require(SnapshotLog.history(rep2).sortBy(_.version).map(_.op)
      .forall(op => op == "create-table" || op == "merge-mor"),
      "one-liner replica must apply as idempotent MOR merges")

    val srcN = SnapshotLog.read(spark, src).count()
    val dstHist = SnapshotLog.history(dst)
    println(s"REPLICATION: source_versions=0->${SnapshotLog.latestVersion(src).get} " +
      s"rows=$srcN replica_versions=${dstHist.map(_.version).min}->" +
      s"${dstHist.map(_.version).max} " +
      s"replica_ops=${dstHist.sortBy(_.version).map(_.op).distinct.mkString("+")} " +
      s"replayed_batch=declined exact_match=2/2 oneliner_match=1/1")
    spark.stop()
  }
}
