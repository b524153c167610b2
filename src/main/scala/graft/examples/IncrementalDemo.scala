package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.DedupOps
import graft.sources.Compaction

/** Day-2 operations, end-to-end — the incremental-maintenance loop a
  * living 100 TB corpus runs every ingest cycle, composed from the
  * library's own kernels (PipelineDemo builds the corpus once; this
  * demo KEEPS it alive):
  *
  *   1. day 0: snapshot the first 60% of the corpus; persist the
  *      bucketed MinHash band index (`DedupOps.writeBandIndex`);
  *   2. a change batch arrives carrying all three op kinds — inserts
  *      (the remaining 40%), updates (hash-chosen snapshot docs with
  *      edited text), deletes (hash-chosen snapshot docs) — and some
  *      keys carry TWO versions (the raw changelog shape);
  *   3. changelog compaction: latest-per-key via max(struct) — the
  *      `cdc_changelog_compact` kernel — reduces the batch to one op
  *      per key (the merge precondition);
  *   4. incremental near-dup screen: ONLY the arriving inserts probe
  *      the persisted band index (bucketed scan, no exchange —
  *      `dedup_incremental`'s plan); flagged near-dups of existing
  *      docs are dropped before they enter the corpus;
  *   5. MERGE: one full-outer equi-join applies the surviving batch —
  *      the `cdc_merge_upsert` kernel;
  *   6. the new snapshot lands fragmented (simulating per-micro-batch
  *      writes), then `Compaction.compactParquet` rewrites it
  *      right-sized and doc_id-clustered.
  *
  * Every count is accounted exactly (n1 = n0 − deletes + kept inserts;
  * updates replace in place) and require()d, so the demo is a golden
  * test as well as documentation.
  *
  * Usage: runMain graft.examples.IncrementalDemo /tmp/graft_incremental [sfDir]
  */
object IncrementalDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_incremental")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder()
      .appName("IncrementalDemo")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val splitId = 300L

    // ---- day 0: snapshot (atomic log commit) + persisted band index
    val day0 = docs.filter(col("doc_id") < splitId)
    val n0 = day0.count()
    val table = s"$outDir/snapshot"
    val v0 = graft.sources.SnapshotLog.commit(spark, table, day0)
    require(v0 == 0L)
    DedupOps.writeBandIndex(day0, "inc_demo_band_index")

    // ---- the raw change batch -------------------------------------
    // op selection is hash-keyed on the doc_id so the batch is
    // deterministic: m=0 → delete, m∈{1,2} → update, new ids → insert
    val h = expr(
      "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint), 10)")
    // updates/deletes carry NULL metadata (null means keep the
    // snapshot's); inserts MUST carry lang/source — there is no
    // snapshot side to inherit from, and dropping them here would let
    // the count-based requires pass while 40% of the corpus silently
    // loses its per-doc metadata
    val noMeta = Seq(lit(null).cast("string").as("new_lang"),
      lit(null).cast("string").as("new_source"))
    val deletes = day0.filter(h === 0)
      .select(Seq(col("doc_id"), lit("delete").as("op"),
        lit(null).cast("string").as("new_text"), lit(1L).as("version")) ++ noMeta: _*)
    val updates = day0.filter(h.isin(1, 2))
      .select(Seq(col("doc_id"), lit("update").as("op"),
        concat(col("text"), lit(" edited-v1")).as("new_text"),
        lit(1L).as("version")) ++ noMeta: _*)
    // half the updates arrive TWICE — a later version supersedes
    val updates2 = day0.filter(h === 1)
      .select(Seq(col("doc_id"), lit("update").as("op"),
        concat(col("text"), lit(" edited-v2")).as("new_text"),
        lit(2L).as("version")) ++ noMeta: _*)
    val inserts = docs.filter(col("doc_id") >= splitId)
      .select(col("doc_id"), lit("insert").as("op"), col("text").as("new_text"),
        lit(1L).as("version"),
        col("lang").as("new_lang"), col("source").as("new_source"))
    val rawBatch = deletes.unionByName(updates).unionByName(updates2).unionByName(inserts)
    val nRawBatch = rawBatch.count()

    // ---- 3. changelog compaction: one op per key ------------------
    val batch = rawBatch
      .select(col("doc_id"), struct(col("version"), col("op"), col("new_text"),
        col("new_lang"), col("new_source")).as("v"))
      .groupBy("doc_id").agg(max(col("v")).as("last"))
      .select(col("doc_id"), col("last.op").as("op"), col("last.new_text").as("new_text"),
        col("last.new_lang").as("new_lang"), col("last.new_source").as("new_source"))
    val nBatch = batch.count()
    require(batch.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "compaction must leave one op per key")
    val v2Wins = batch.filter(col("op") === "update")
      .filter(col("new_text").endsWith("edited-v2")).count()
    require(v2Wins == updates2.count(), "the later version must win compaction")

    // ---- 4. incremental near-dup screen on the inserts ------------
    val insertDocs = batch.filter(col("op") === "insert")
      .select(col("doc_id"), col("new_text").as("text"))
    val nearDupNew = DedupOps
      .incrementalAgainstIndex(spark, insertDocs, "inc_demo_band_index")
      .select(col("new_id").as("doc_id")).distinct()
    val nDropped = nearDupNew.count()
    val cleanBatch = batch.join(nearDupNew, Seq("doc_id"), "left_anti")

    // ---- 5. MERGE (one full-outer equi-join) ----------------------
    val snapshot = graft.sources.SnapshotLog.read(spark, table)
    val merged = snapshot.join(cleanBatch, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("doc_id"),
        coalesce(col("new_text"), col("text")).as("text"),
        coalesce(col("new_lang"), col("lang")).as("lang"),
        coalesce(col("new_source"), col("source")).as("source"))
    val nDel = deletes.count()
    val nIns = inserts.count()
    val n1 = merged.count()
    require(n1 == n0 - nDel + nIns - nDropped,
      s"accounting: $n1 != $n0 - $nDel + $nIns - $nDropped")
    require(merged.filter(col("text").endsWith("edited-v2")).count() == v2Wins)
    // payload completeness: counts alone would pass even if every
    // inserted doc landed with NULL lang/source — assert it can't
    require(merged.filter(col("lang").isNull || col("source").isNull).count() == 0,
      "no merged doc may lose its metadata")

    // ---- 6. fragmented write, clustered compaction, atomic commit -
    merged.repartition(32).write.mode("overwrite").parquet(s"$outDir/snapshot_v1_frag")
    val st = Compaction.compactParquet(spark,
      s"$outDir/snapshot_v1_frag", s"$outDir/snapshot_v1_compacted",
      targetRecordsPerFile = 200, clusterBy = Seq("doc_id"))
    require(st.rows == n1 && st.filesBefore == 32 && st.filesAfter < 32,
      s"compaction: $st")
    // the compacted result becomes the NEXT committed version; until
    // this line, every reader still sees v0 — and v0 stays readable
    // after it (time travel)
    val v1 = graft.sources.SnapshotLog.commit(spark, table,
      spark.read.parquet(s"$outDir/snapshot_v1_compacted"))
    require(v1 == 1L)
    require(graft.sources.SnapshotLog.read(spark, table).count() == n1)
    require(graft.sources.SnapshotLog.read(spark, table, asOf = Some(0L)).count() == n0)

    // ---- 7. vacuum: reclaim what crashed writers leave behind ------
    // simulate a writer that wrote its data and died before publishing:
    // the directory is invisible to readers but occupies storage
    merged.limit(5).write.parquet(s"$table/data/v2-crashed")
    val reclaimed = graft.sources.SnapshotLog.vacuum(table, minAgeMillis = 0L)
    require(reclaimed.size == 1 && reclaimed.head.endsWith("v2-crashed"),
      s"vacuum must reclaim exactly the orphan: $reclaimed")
    // committed history is untouched
    require(graft.sources.SnapshotLog.read(spark, table).count() == n1)
    require(graft.sources.SnapshotLog.read(spark, table, asOf = Some(0L)).count() == n0)

    println(s"INCREMENTAL: n0=$n0 raw_batch=$nRawBatch batch=$nBatch " +
      s"deletes=$nDel inserts=$nIns neardup_dropped=$nDropped n1=$n1 " +
      s"files=${st.filesBefore}->${st.filesAfter} versions=${v0}->${v1} " +
      s"vacuumed=${reclaimed.size}")
    spark.stop()
  }
}
