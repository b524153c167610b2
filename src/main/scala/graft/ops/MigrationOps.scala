package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.migrator.Reconcile
import Tables._

/** The reference-derived operator family, oracle-checkable on shared
  * parquet: the reconciliation query and its building blocks
  * (reference: clickhouse_migrate/migrate.py:26-41), the md5 fingerprint
  * (migrate.py:85), ordered apply (migrate.py:47), COUNT(*) WHERE
  * verification (tests/test_clickhouse_migration.py:103-112), and the
  * ADD COLUMN / masked UPDATE rewrites
  * (tests/migrations_seq/V1_sequential_dmls.json:2-6).
  *
  * Migration relations are synthesized deterministically from `orders` so
  * DuckDB can build the identical inputs: version = o_orderkey,
  * script = 'V<v>__m.sql', md5 = md5(version as string).
  */
object MigrationOps {

  /** incoming: versions 0..299 present on disk. */
  private def incoming(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") < 300)
      .select(
        col("o_orderkey").cast("int").as("version"),
        concat(lit("V"), col("o_orderkey"), lit("__m.sql")).as("script"),
        md5(col("o_orderkey").cast("string")).as("md5"))

  /** committed clean ledger: versions 0..199, md5s match disk. */
  private def committedClean(s: SparkSession, dir: String): DataFrame =
    incoming(s, dir).filter(col("version") < 200)

  /** committed ledger where every version % 7 == 0 was edited on disk. */
  private def committedTampered(s: SparkSession, dir: String): DataFrame =
    committedClean(s, dir).withColumn("md5",
      when(col("version") % 7 === 0, md5(concat(col("version").cast("string"), lit("x"))))
        .otherwise(col("md5")))

  private val incomingSql =
    """SELECT CAST(o_orderkey AS INTEGER) AS version,
       'V' || o_orderkey || '__m.sql' AS script,
       md5(CAST(o_orderkey AS VARCHAR)) AS md5
       FROM orders WHERE o_orderkey < 300"""
  private val committedSql = s"SELECT * FROM ($incomingSql) WHERE version < 200"

  /** Flagship: the full-outer-join reconciliation, pending set out. */
  val reconcilePending: Q = (s, dir) =>
    Reconcile.migrationsToApply(committedClean(s, dir), incoming(s, dir))
      .select(col("version").cast("int").as("version"), col("script"), col("md5"))

  /** Tampered detection on the joined relation (md5 <> c_md5). */
  val reconcileTampered: Q = (s, dir) =>
    Reconcile.tampered(
      Reconcile.executionStat(committedTampered(s, dir), incoming(s, dir)))
      .select(col("version"), col("c_md5"), col("md5"))

  /** Absconded detection: committed versions 0..249, but every
    * version % 10 == 0 deleted from disk. */
  val reconcileAbsconded: Q = (s, dir) => {
    val committed = incoming(s, dir).filter(col("version") < 250)
    val onDisk = incoming(s, dir).filter(col("version") % 10 =!= 0)
    Reconcile.absconded(Reconcile.executionStat(committed, onDisk))
      .select(col("version"), col("c_script"))
  }

  /** Anti-join formulation of pending — the preferred shape at scale. */
  val antiJoinPending: Q = (s, dir) =>
    Reconcile.pendingAntiJoin(committedClean(s, dir), incoming(s, dir))
      .select(col("version"), col("script"), col("md5"))

  /** Set-difference view of the same semantics (SURVEY §2.7). */
  val setExceptVersions: Q = (s, dir) =>
    incoming(s, dir).select("version")
      .except(committedClean(s, dir).select("version"))

  /** Content fingerprinting (reference: migrate.py:85 generalized to a
    * document corpus). */
  val md5Fingerprint: Q = (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("fp"))

  /** The reference's filename/string predicates as dataflow: version
    * parse from `V<digits>` prefix (migrate.py:84 / F2), extension
    * predicate (migrate.py:86 / F3), substring containment
    * (migrate.py:67 / F5). Filenames synthesized deterministically so
    * DuckDB builds the identical input. */
  val filenamePredicates: Q = (s, dir) =>
    t(s, dir, "orders").filter(col("o_orderkey") < 500)
      .select(concat(lit("V"), col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, lit("__create.sql"))
          .when(col("o_orderkey") % 3 === 1, lit("_update.json"))
          .otherwise(lit("_notes.txt"))).as("fname"))
      .select(
        col("fname"),
        regexp_extract(col("fname"), "^V(\\d+)", 1).cast("int").as("version"),
        (col("fname").endsWith(".sql") || col("fname").endsWith(".json")).as("is_migration"),
        col("fname").contains("update").as("has_update"),
        instr(col("fname"), "_").cast("long").as("us_pos"))

  /** Ordered apply sequence: pending sorted by version with an explicit
    * apply_order (reference: migrate.py:47 — sort_values('version')). */
  val orderByVersion: Q = (s, dir) => {
    val w = Window.orderBy("version")
    Reconcile.pendingAntiJoin(committedClean(s, dir), incoming(s, dir))
      .withColumn("apply_order", row_number().over(w).cast("long"))
      .select("version", "script", "apply_order")
  }

  /** COUNT(*) WHERE verification surface
    * (reference: tests/test_clickhouse_migration.py:103-112). */
  val countWhere: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    li.agg(
      count(lit(1)).as("n_total"),
      count(when(col("l_quantity") > 30, 1)).as("n_qty_gt30"),
      count(when(col("l_discount") === 0.0, 1)).as("n_no_disc"),
      count(when(col("l_returnflag") === "R", 1)).as("n_returned"))
  }

  /** ALTER TABLE … ADD COLUMN c DEFAULT v as a relational rewrite
    * (reference: V1_sequential_dmls.json:2-3; SURVEY §2.9 M1). */
  val addColumnDefault: Q = (s, dir) =>
    t(s, dir, "part")
      .withColumn("enabled", lit(1))
      .withColumn("guard", lit(-1))
      .select("p_partkey", "p_name", "enabled", "guard")

  /** ALTER TABLE … UPDATE c=v WHERE pred as a masked projection
    * (reference: V1_sequential_dmls.json:4-6; SURVEY §2.9 M2). The
    * three dependent updates compose sequentially — exactly what
    * queue_exec guarantees in the reference. */
  val maskedUpdate: Q = (s, dir) => {
    // enabled=0 WHERE qty>30; guard=0 WHERE enabled=0; guard=1 WHERE enabled=1
    t(s, dir, "lineitem")
      .withColumn("enabled", when(col("l_quantity") > 30, 0).otherwise(1))
      .withColumn("guard", lit(-1))
      .withColumn("guard", when(col("enabled") === 0, 0).otherwise(col("guard")))
      .withColumn("guard", when(col("enabled") === 1, 1).otherwise(col("guard")))
      .groupBy("enabled", "guard").agg(count(lit(1)).as("n"))
  }

  /** The CDC snapshot side of [[cdcMergeUpsert]]: orders keyed by
    * o_orderkey with the price in exact integer cents. */
  private def cdcSnapshot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").as("key"),
      col("o_custkey").as("s_custkey"),
      col("o_orderstatus").as("s_status"),
      cents(col("o_totalprice")).as("s_price_c"))

  /** A deterministic change batch derived from the snapshot's own keys
    * (both engines rebuild it identically — the planted-input pattern):
    * per key, md5 mod 10 selects 0 → DELETE, 1-3 → UPDATE (+$5.00 in
    * exact cents), 4 → INSERT under a disjoint key range (+10⁷), 5-9 →
    * untouched. One op per key, so no intra-batch ordering question —
    * multi-version batches are [[graft.ops.EventOps.cdcChangelogCompact]]'s
    * job and compose in front of this merge. */
  private def cdcChanges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("m", pmod(expr(
        "cast(conv(substring(md5(cast(o_orderkey as string)), 1, 13), 16, 10) as bigint)"),
        lit(10L)))
      .filter(col("m") <= 4)
      .select(
        when(col("m") === 4, col("o_orderkey") + lit(10000000L))
          .otherwise(col("o_orderkey")).as("key"),
        when(col("m") === 0, lit("delete"))
          .when(col("m") === 4, lit("insert"))
          .otherwise(lit("update")).as("op"),
        col("o_custkey").as("c_custkey"),
        (cents(col("o_totalprice")) +
          when(col("m") === 4, lit(0L)).otherwise(lit(500L))).as("c_price_c"))

  /** The generic MERGE kernel: apply a change batch to a keyed
    * snapshot in ONE full-outer equi-join — the exact relational shape
    * Delta/Iceberg MERGE compiles to. Contract: `snapshot` carries
    * `key` + `s_<p>` per payload column, `changes` carries `key`,
    * `op` ∈ {insert, update, delete} (one row per key —
    * [[graft.ops.EventOps.cdcChangelogCompact]] reduces multi-version
    * batches to this precondition) and `c_<p>` payloads (null = keep
    * the snapshot's value). Per joined key: change-only insert/update
    * → take the change payloads (last-write-wins upsert — the
    * Debezium "apply u without a prior image" convention); snapshot-
    * only → carry over; matched update → per-column
    * coalesce(change, snapshot); any delete → drop, including deletes
    * of already-absent keys (idempotent).
    *
    * At 100 TB the snapshot dominates the delta, so the join
    * broadcast/shuffle asymmetry is the whole game: a small batch
    * broadcast-joins (zero snapshot shuffle — but then full-outer
    * degrades to left + union anti, which is what AQE's
    * broadcast-threshold planning effectively picks); a large batch
    * shuffles both sides on the key, where a snapshot BUCKETED on the
    * key (BucketingSpec's layout) makes every subsequent merge
    * delta-only shuffle. Deletes cost nothing extra — they ride the
    * same join instead of a second anti-join pass.
    * CdcPropertySpec pins the semantics against a from-first-
    * principles reference on randomized batches. */
  def mergeBatch(snapshot: DataFrame, changes: DataFrame,
      payload: Seq[String]): DataFrame =
    snapshot.join(changes, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("key") +:
        payload.map(p => coalesce(col(s"c_$p"), col(s"s_$p")).as(p)): _*)

  /** Change-data-feed: the diff of two keyed snapshots — the READ-side
    * inverse of [[mergeBatch]] (the Delta CDF / `table_changes` shape:
    * given two committed versions, what changed?). Both inputs carry
    * `key` + the same plain payload columns; the output is one row per
    * CHANGED key — op ∈ {insert, update, delete} with the POST-IMAGE
    * payloads (null for deletes). Change detection is null-safe per
    * column (`<=>`), and presence rides explicit marker columns
    * through the join because a payload null cannot distinguish
    * "absent key" from "present with null payload". Unchanged keys
    * drop out, so the feed is churn-sized, not table-sized. The plan
    * is ONE full-outer equi-join — the same class as the MERGE it
    * inverts, with the same bucketing economics at 100 TB (two
    * key-bucketed snapshot versions diff with no exchange at all).
    * Post-images rather than per-column deltas make [[applyDiff]]'s
    * roundtrip exact even through non-null → null transitions — the
    * convention real change feeds use (per-column null-means-keep, the
    * [[mergeBatch]] convention, cannot express nulling a column).
    * CdcPropertySpec pins both theorems on randomized frames:
    * applyDiff(s0, tableDiff(s0, s1)) == s1, and
    * tableDiff(s0, mergeBatch(s0, b)) recovers b's effective rows. */
  def tableDiff(oldSnap: DataFrame, newSnap: DataFrame,
      payload: Seq[String]): DataFrame = {
    val o = oldSnap.select(col("key") +: payload.map(p => col(p).as(s"o_$p")): _*)
      .withColumn("o_present", lit(true))
    val n = newSnap.select(col("key") +: payload.map(p => col(p).as(s"n_$p")): _*)
      .withColumn("n_present", lit(true))
    // foldLeft over false: a key-only table (empty payload — e.g. a
    // membership/tombstone set) yields a legal insert/delete-only feed
    // instead of an empty-reduce crash
    val changed = payload.map(p => !(col(s"o_$p") <=> col(s"n_$p")))
      .foldLeft(lit(false))(_ || _)
    o.join(n, Seq("key"), "full_outer")
      .withColumn("op",
        when(col("o_present").isNull, lit("insert"))
          .when(col("n_present").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("op").isNotNull)
      .select(Seq(col("key"), col("op")) ++ payload.map(p => col(s"n_$p").as(p)): _*)
  }

  /** Apply a [[tableDiff]] feed: whole-row post-image semantics —
    * surviving old rows are the anti-join against the feed's keys,
    * inserted/updated rows come from the feed verbatim. No full-outer
    * join needed on the apply side: the feed already carries complete
    * post-images, so this is an anti + union (both sides key-bucketable
    * at scale). */
  def applyDiff(oldSnap: DataFrame, diff: DataFrame): DataFrame =
    oldSnap.join(diff.select("key"), Seq("key"), "left_anti")
      .unionByName(diff.filter(col("op") =!= "delete").drop("op"))

  /** The catalog entry: [[tableDiff]] over two derived versions — v0 =
    * the orders snapshot, v1 = [[cdcMergeUpsert]]'s merged result — so
    * the gate checks that diffing a merge recovers exactly the
    * effective change batch (deletes for m=0 keys, +$5.00 post-image
    * updates for m∈1..3, inserts for the disjoint m=4 range; untouched
    * keys absent). */
  val cdcTableDiff: Q = (s, dir) => {
    val v0 = cdcSnapshot(s, dir).select(col("key"),
      col("s_custkey").as("custkey"), col("s_status").as("status"),
      col("s_price_c").as("price_c"))
    tableDiff(v0, cdcMergeUpsert(s, dir), Seq("custkey", "status", "price_c"))
  }

  /** The catalog entry: [[mergeBatch]] applied to the orders snapshot
    * and the derived change batch (insert rows pre-mark their status
    * payload 'I'; updates leave status null so the snapshot's value
    * carries through the per-column coalesce). */
  val cdcMergeUpsert: Q = (s, dir) =>
    mergeBatch(
      cdcSnapshot(s, dir),
      cdcChanges(s, dir)
        .withColumn("c_status",
          when(col("op") === "insert", lit("I")).otherwise(lit(null).cast("string"))),
      Seq("custkey", "status", "price_c"))

  /** [[graft.sources.SnapshotLog.mergeInto]] driver-gated: commit the
    * CDC v0 snapshot to a scratch snapshot-log table (range-clustered
    * so the merge's pruning stages run against real disjoint-stats
    * files), merge the [[cdcTableDiff]] feed through the log, and read
    * the committed result. By the applyDiff theorem —
    * applyDiff(v0, tableDiff(v0, v1)) == v1, CdcPropertySpec — the
    * merged TABLE must equal [[cdcMergeUpsert]]'s query result, so the
    * oracle is that entry's proven SQL verbatim: the transactional verb
    * is checked against the relational semantics it promises. The
    * orders-sized result is LOCALIZED before the scratch dir is
    * deleted (the returned frame must not reference torn-down files —
    * the migrate_seq_counts discipline). */
  val snapMergeInto: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_merge_gate_")
    try {
      val tdir = scratchP.resolve("t").toString
      val v0 = cdcSnapshot(s, dir).select(col("key"),
        col("s_custkey").as("custkey"), col("s_status").as("status"),
        col("s_price_c").as("price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        v0.repartitionByRange(8, col("key")).sortWithinPartitions("key"))
      graft.sources.SnapshotLog.mergeInto(s, tdir, cdcTableDiff(s, dir), "key")
      val merged = graft.sources.SnapshotLog.read(s, tdir)
      val local = java.util.Arrays.asList(merged.collect(): _*)
      s.createDataFrame(local, merged.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.mergeIntoMOR]] driver-gated —
    * [[snapMergeInto]]'s merge-on-read twin, SAME oracle: the feed's
    * churn lands as position masks + post-image appends instead of
    * survivor rewrites, and the committed table must still equal the
    * relational apply semantics. The require()s pin the cost model:
    * every pre-merge data file is carried byte-identical and the
    * manifest carries dv entries. */
  val snapMergeMor: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_mergemor_gate_")
    try {
      val tdir = scratchP.resolve("t").toString
      val v0 = cdcSnapshot(s, dir).select(col("key"),
        col("s_custkey").as("custkey"), col("s_status").as("status"),
        col("s_price_c").as("price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        v0.repartitionByRange(8, col("key")).sortWithinPartitions("key"))
      val before = graft.sources.SnapshotLog
        .pruneFiles(tdir, "key", None, None)._1
      val v = graft.sources.SnapshotLog.mergeIntoMOR(
        s, tdir, cdcTableDiff(s, dir), "key")
      val after = graft.sources.SnapshotLog
        .pruneFiles(tdir, "key", None, None)._1
      require(before.forall(after.contains),
        "MOR merge rewrote a pre-merge data file")
      require(graft.sources.SnapshotLog.dvAt(tdir, v).nonEmpty,
        "MOR merge published no deletion-vector entries")
      val merged = graft.sources.SnapshotLog.read(s, tdir)
      val local = java.util.Arrays.asList(merged.collect(): _*)
      s.createDataFrame(local, merged.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.writeBloomIndex]] /
    * [[graft.sources.SnapshotLog.readWhereIn]] driver-gated, full
    * lifecycle: commit half the orders snapshot CUSTKEY-clustered (so
    * o_orderkey is unclustered and min/max stats keep ~every file for a
    * point lookup — exactly the shape the bloom index exists for),
    * build the index, append the other half, refresh the index over
    * exactly the uncovered files, then point-look-up the 24 smallest
    * orderkeys across both generations. The oracle is the same IN
    * lookup over the raw table — two pruning stages and a day-2
    * refresh must be invisible in the result. Orders-sized scratch is
    * LOCALIZED before deletion (the migrate_seq_counts discipline). */
  val snapBloomLookup: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_bloom_gate_")
    try {
      val tdir = scratchP.resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(8, col("o_custkey")))
      graft.sources.SnapshotLog.writeBloomIndex(s, tdir, "o_orderkey",
        expectedItemsPerFile = 64 * 1024, fpp = 0.01)
      graft.sources.SnapshotLog.commitAppend(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(8, col("o_custkey")))
      require(graft.sources.SnapshotLog.refreshBloomIndex(s, tdir, "o_orderkey") > 0,
        "the append must leave uncovered files for the refresh to bloom")
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      val res = graft.sources.SnapshotLog.readWhereIn(
        s, tdir, "o_orderkey", keys)
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.deleteWhereIn]] driver-gated — the
    * write-side twin of [[snapBloomLookup]] (the GDPR id-erasure
    * shape): same custkey-clustered commit + o_orderkey bloom index,
    * then the 24 smallest orderkeys are POINT-DELETED through the
    * bloom-pruned COW path and the surviving table is read back. The
    * oracle is the raw NOT-IN complement — a rewrite that touched only
    * bloom-kept files must be invisible in the survivors. */
  val snapDeleteIn: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_delin_gate_")
    try {
      val tdir = scratchP.resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.repartitionByRange(8, col("o_custkey")))
      graft.sources.SnapshotLog.writeBloomIndex(s, tdir, "o_orderkey",
        expectedItemsPerFile = 64 * 1024, fpp = 0.01)
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      graft.sources.SnapshotLog.deleteWhereIn(s, tdir, "o_orderkey", keys)
      val res = graft.sources.SnapshotLog.read(s, tdir)
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.deleteWhereInMOR]] driver-gated —
    * [[snapDeleteIn]]'s MERGE-ON-READ twin, same lifecycle and the
    * SAME NOT-IN oracle: the 24 smallest orderkeys are deleted by
    * writing position sidecars instead of rewriting the bloom-kept
    * files, and the read-back must be indistinguishable from the COW
    * delete's. The require()s pin the cost model that is the point:
    * the data file list is BYTE-IDENTICAL across the delete (no
    * rewrite happened) and the manifest carries dv entries (the mask
    * exists — if either ever fails, the entry died as a gate, not as
    * a silently-degraded COW). */
  val snapDeleteMor: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_mor_gate_")
    val cat = s"morsql_${java.lang.Long.toHexString(System.nanoTime())}"
    try {
      val tdir = scratchP.resolve("lake").resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.repartitionByRange(8, col("o_custkey")))
      graft.sources.SnapshotLog.writeBloomIndex(s, tdir, "o_orderkey",
        expectedItemsPerFile = 64 * 1024, fpp = 0.01)
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      val before = graft.sources.SnapshotLog
        .pruneFiles(tdir, "o_orderkey", None, None)._1
      val v = graft.sources.SnapshotLog.deleteWhereInMOR(
        s, tdir, "o_orderkey", keys)
      val after = graft.sources.SnapshotLog
        .pruneFiles(tdir, "o_orderkey", None, None)._1
      require(after == before,
        s"MOR delete rewrote data files: ${before.size} -> ${after.size}")
      require(graft.sources.SnapshotLog.dvAt(tdir, v).nonEmpty,
        "MOR delete published no deletion-vector entries")
      val res = graft.sources.SnapshotLog.read(s, tdir)
      val local = java.util.Arrays.asList(res.collect(): _*)
      // the round-16 composition: the SAME dv-bearing version reads
      // through spark.sql (clean half vectorized-scanned, masked half
      // position-filtered) and must match the Scala read row-for-row
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val sqlRows = s.sql(
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_price_c " +
          s"FROM $cat.lake.t").collect()
          .map(_.toString).sorted
      val scalaRows = local.toArray.map(_.toString).sorted
      require(sqlRows.sameElements(scalaRows),
        s"SQL read of the dv-bearing version diverged from the Scala " +
          s"read: ${sqlRows.length} vs ${scalaRows.length} rows")
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** SQL DML driver-gated ([[graft.sources.SnapshotSqlDml]] + the
    * catalog's V1 write bridge) — the round-17 flagship, the WRITE
    * twin of [[snapDeleteMor]]'s SQL-read composition: one table takes
    * the full DML ladder as SQL text (`INSERT INTO` two synthetic
    * rows, `DELETE FROM … WHERE IN` the 24 smallest orderkeys,
    * `UPDATE … SET price + 1e6 WHERE IN` the next 8, `MERGE` zeroing
    * the 8 largest + inserting one more synthetic key), a TWIN table
    * takes the same ladder through the Scala verbs, and the require()s
    * pin (a) twin equivalence row-for-row, (b) the op provenance
    * showing each SQL verb landed on its MOR verb (no silent COW
    * fallback — `delete-where-in-mor`, `update-where-in-mor`,
    * `merge-mor`), and (c) dv entries present (masks, not rewrites).
    * The RESULT is the SQL read of the final dv-bearing version; the
    * oracle reconstructs the same ladder from `orders` directly. */
  val snapDmlSql: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_sqldml_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"dmlsql_$tok"
    val view = s"dmlsrc_$tok"
    try {
      val tdir = scratchP.resolve("lake").resolve("t").toString
      val twin = scratchP.resolve("lake").resolve("twin").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.repartitionByRange(8, col("o_custkey")))
      graft.sources.SnapshotLog.commit(s, twin,
        orders.repartitionByRange(8, col("o_custkey")))
      val asc = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(32).collect()
        .map(_.getLong(0)).toSeq
      val delKeys = asc.take(24)
      val updKeys = asc.drop(24)
      val bigKeys = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey").desc).limit(8).collect()
        .map(_.getLong(0)).toSeq
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val sqlT = s"$cat.lake.t"
      // 1. INSERT INTO (→ commitAppend)
      s.sql(s"INSERT INTO $sqlT VALUES " +
        "(CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(111 AS BIGINT)), " +
        "(CAST(-2 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(222 AS BIGINT))")
      graft.sources.SnapshotLog.commitAppend(s, twin,
        s.sql("SELECT CAST(-1 AS BIGINT) AS o_orderkey, " +
          "CAST(0 AS BIGINT) AS o_custkey, 'Z' AS o_orderstatus, " +
          "CAST(111 AS BIGINT) AS o_price_c " +
          "UNION ALL SELECT -2, 0, 'Z', 222"))
      // 2. DELETE (→ deleteWhereInMOR)
      s.sql(s"DELETE FROM $sqlT WHERE o_orderkey IN " +
        delKeys.mkString("(", ", ", ")"))
      graft.sources.SnapshotLog.deleteWhereInMOR(s, twin, "o_orderkey", delKeys)
      // 3. UPDATE (→ updateWhereInMOR; the pre-image is visible to SET)
      s.sql(s"UPDATE $sqlT SET o_price_c = o_price_c + 1000000 " +
        s"WHERE o_orderkey IN ${updKeys.mkString("(", ", ", ")")}")
      graft.sources.SnapshotLog.updateWhereInMOR(s, twin, "o_orderkey",
        updKeys, Map("o_price_c" -> (col("o_price_c") + 1000000L)))
      // 4. MERGE upsert (→ mergeIntoMOR): zero the 8 largest keys'
      // price, insert one more synthetic key
      val src = orders.filter(col("o_orderkey").isin(bigKeys: _*))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          lit(0L).as("o_price_c"))
        .unionByName(s.sql("SELECT CAST(-3 AS BIGINT) AS o_orderkey, " +
          "CAST(0 AS BIGINT) AS o_custkey, 'Z' AS o_orderstatus, " +
          "CAST(333 AS BIGINT) AS o_price_c"))
      src.createOrReplaceTempView(view)
      s.sql(s"""MERGE INTO $sqlT tt USING $view ss
        ON tt.o_orderkey = ss.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_orderkey = ss.o_orderkey,
          o_custkey = ss.o_custkey, o_orderstatus = ss.o_orderstatus,
          o_price_c = ss.o_price_c
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
          o_orderstatus, o_price_c) VALUES (ss.o_orderkey, ss.o_custkey,
          ss.o_orderstatus, ss.o_price_c)""")
      graft.sources.SnapshotLog.mergeIntoMOR(s, twin,
        src.withColumn("op", lit("update")), "o_orderkey")
      // the ops prove each SQL verb landed on its MOR verb
      val ops = graft.sources.SnapshotLog.history(tdir)
        .sortBy(_.version).map(_.op)
      require(ops == Seq("commit", "append", "delete-where-in-mor",
        "update-where-in-mor", "merge-mor"),
        s"SQL DML op provenance diverged: $ops")
      val latest = graft.sources.SnapshotLog.latestVersion(tdir).get
      require(graft.sources.SnapshotLog.dvAt(tdir, latest).nonEmpty,
        "SQL DML published no deletion-vector entries — a silent COW?")
      // twin equivalence: SQL ladder == Scala ladder, row for row
      val sqlRows = s.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, " +
        s"o_price_c FROM $sqlT").collect()
      val twinRows = graft.sources.SnapshotLog.read(s, twin)
        .collect().map(_.toString).sorted
      require(sqlRows.map(_.toString).sorted.sameElements(twinRows),
        s"SQL DML diverged from the Scala twin: ${sqlRows.length} vs " +
          s"${twinRows.length} rows")
      val local = java.util.Arrays.asList(sqlRows: _*)
      s.createDataFrame(local,
        graft.sources.SnapshotLog.read(s, twin).schema)
    } finally {
      s.catalog.dropTempView(view): Unit
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** Table LIFECYCLE through the snapshot catalog, driver-gated — the
    * round-17 DDL surface: `CREATE TABLE` (the log's schema-only
    * genesis), `INSERT INTO … SELECT` onto it (the nullability-
    * tightening append), `CTAS` of a per-status aggregate, `ALTER
    * TABLE … RENAME TO` (the rehome: directory move + manifest path
    * rewrite), and `DROP TABLE` of the source. The require()s pin the
    * op provenance (create-table → append; create-table → append again
    * for CTAS), the renamed directory swap, and the dropped source;
    * the RESULT is the SQL read of the RENAMED CTAS table, which the
    * oracle recomputes from `orders` directly — if any lifecycle step
    * (genesis schema, enforced insert, rehome's manifest rewrite)
    * corrupted the data path, the aggregate hashes would diverge. */
  val snapLifecycleSql: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_lc_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"lcsql_$tok"
    val view = s"lcsrc_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      t(s, dir, "orders").createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.lake.src (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_orderstatus STRING, o_price_c BIGINT)")
      s.sql(s"INSERT INTO $cat.lake.src SELECT o_orderkey, o_custkey, " +
        "o_orderstatus, CAST(round(o_totalprice*100) AS BIGINT) " +
        s"FROM $view")
      s.sql(s"CREATE TABLE $cat.lake.agg AS SELECT o_orderstatus, " +
        "count(*) AS n, sum(o_price_c) AS sum_price_c " +
        s"FROM $cat.lake.src GROUP BY o_orderstatus")
      s.sql(s"ALTER TABLE $cat.lake.agg RENAME TO lake.agg_renamed")
      s.sql(s"DROP TABLE $cat.lake.src")
      val srcOps = // CTAS through the staging catalog: ONE atomic
        // commit carrying the data at genesis (round 17's staged path)
        graft.sources.SnapshotLog.history(
          scratchP.resolve("lake").resolve("agg_renamed").toString)
          .sortBy(_.version).map(_.op)
      require(srcOps == Seq("create-table"),
        s"lifecycle op provenance diverged: $srcOps")
      require(!Files.exists(scratchP.resolve("lake").resolve("agg")) &&
        !Files.exists(scratchP.resolve("lake").resolve("src")),
        "rename/drop left stale directories")
      val res = s.sql(s"SELECT o_orderstatus, n, " +
        s"CAST(sum_price_c AS BIGINT) AS sum_price_c " +
        s"FROM $cat.lake.agg_renamed")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.catalog.dropTempView(view): Unit
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** METADATA-ONLY AGGREGATE PUSHDOWN driver-gated
    * ([[graft.sources.SnapshotCatalog]]'s `aggAnswer` through the
    * bridge's `SupportsPushDownAggregates`): after the CTAS, the
    * ungrouped COUNT(*)/MIN/MAX/COUNT(col) query must plan as ONE
    * `SnapAggScan` row — answered from manifest stats, zero data I/O
    * (require()d via the optimized plan's scan class). A dv-bearing
    * version must DECLINE to an honest parquet scan (require()d
    * absent — sidecar re-marks make mask sizes unsubtractable) with
    * the post-delete values, and `CALL compact_deletes` must restore
    * the shortcut. The RESULT is the post-compaction pushed aggregate
    * row; the oracle recomputes it relationally over `orders` minus
    * the 24 deleted keys — a wrong stats-derived answer (stale count,
    * truncated bound, null mishandling) hash-diverges. */
  val snapAggPushdown: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_aggpush_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"aggsql_$tok"
    val view = s"aggsrc_$tok"
    // restore (not unset) in the finally: a caller's pre-set session
    // value must survive this gate (the autoBroadcastJoinThreshold
    // save/restore discipline of the other gates)
    var priorTsType: Option[String] = None
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      t(s, dir, "orders").createOrReplaceTempView(view)
      // Spark's parquet writer defaults to INT96 timestamps, which the
      // harvest deliberately leaves stat-less (deprecated, unordered
      // stats) — write MICROS for the whole ladder (the CTAS and the
      // compaction rewrite both land files) so min/max(o_orderdate)
      // is answerable; the INT96 decline path is
      // SnapshotAggPushSpec's business. Restored in the outer finally.
      priorTsType = s.conf.getOption("spark.sql.parquet.outputTimestampType")
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      s.sql(s"CREATE TABLE $cat.lake.t AS SELECT o_orderkey, " +
        "o_custkey, o_orderdate, o_orderpriority, " +
        "CAST(round(o_totalprice*100) AS BIGINT) " +
        s"AS o_price_c FROM $view")
      def aggDf() = s.sql(
        s"""SELECT cnt, min_ok, max_ok,
              date_format(min_od, 'yyyy-MM-dd HH:mm:ss') AS min_od,
              date_format(max_od, 'yyyy-MM-dd HH:mm:ss') AS max_od,
              cnt_pri
            FROM (SELECT count(*) AS cnt, min(o_orderkey) AS min_ok,
              max(o_orderkey) AS max_ok, min(o_orderdate) AS min_od,
              max(o_orderdate) AS max_od, count(o_orderpriority) AS cnt_pri
              FROM $cat.lake.t)""")
      def pushed(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.scan
        }.exists(_.getClass.getSimpleName.contains("SnapAggScan"))
      val full = aggDf()
      require(pushed(full), "metadata aggregate did not push: the " +
        "ungrouped COUNT/MIN/MAX over a clean version must plan as " +
        "SnapAggScan (manifest stats, zero data I/O)")
      val fullRow = full.collect()(0)
      val delKeys = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect()
        .map(_.getLong(0))
      s.sql(s"DELETE FROM $cat.lake.t WHERE o_orderkey IN " +
        delKeys.mkString("(", ", ", ")"))
      val masked = aggDf()
      require(!pushed(masked), "metadata aggregate pushed through a " +
        "dv-bearing version — masked rows can hide a column's extremes; " +
        "the MIN/MAX-carrying aggregation must decline")
      val maskedRow = masked.collect()(0)
      require(maskedRow.getLong(0) == fullRow.getLong(0) - 24,
        s"post-delete count ${maskedRow.getLong(0)} != " +
          s"${fullRow.getLong(0) - 24}")
      // the dv-count rung: a bare COUNT(*) on the dv-bearing version
      // MUST still push — the dv-writing verbs record each file's
      // exact deduped mask cardinality (`:masked`), so
      // Σ:rows − Σ:masked answers from the manifest with zero data I/O
      val dvCount = s.sql(s"SELECT count(*) AS c FROM $cat.lake.t")
      require(pushed(dvCount), "COUNT(*) on a dv-bearing version must " +
        "answer from the manifest (:rows − :masked) — the exact masked " +
        "cardinality is recorded at commit time")
      require(dvCount.collect()(0).getLong(0) == fullRow.getLong(0) - 24,
        "dv-aware metadata COUNT(*) mis-answered")
      s.sql(s"CALL $cat.system.compact_deletes(table => 'lake.t')")
        .collect(): Unit
      val compacted = aggDf()
      require(pushed(compacted), "compaction must retire the masks and " +
        "restore the metadata-aggregate shortcut")
      val res = compacted
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      priorTsType match {
        case Some(v) => s.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => s.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      s.catalog.dropTempView(view): Unit
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** STORAGE-PARTITIONED JOIN driver-gated
    * ([[graft.sources.SnapshotLog.rebucket]] + the catalog's
    * FunctionCatalog + SnapBucketScan's KeyGroupedPartitioning): two
    * snapshot tables bucketed `bucket(8, custkey)` joined on that key
    * under `spark.sql.sources.v2.bucketing.enabled` must plan the join
    * with ZERO shuffles below it (require()d by walking the final
    * adaptive plan through its query stages) on two SnapBucketScans —
    * the 100 TB fact-to-fact join cost model, Iceberg's SPJ on this
    * log. The RESULT is the joined per-nation aggregate, which the
    * oracle recomputes relationally — co-partitioning that lied about
    * row placement would drop or duplicate matches and hash-diverge. */
  val snapSpjJoin: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.execution.SparkPlan
    val scratchP = Files.createTempDirectory("graft_spj_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"spjsql_$tok"
    val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val odir = scratchP.resolve("lake").resolve("o").toString
      val cdir = scratchP.resolve("lake").resolve("c").toString
      graft.sources.SnapshotLog.commit(s, odir, t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_price_c")).repartition(4))
      graft.sources.SnapshotLog.commit(s, cdir, t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey")).repartition(4))
      graft.sources.SnapshotLog.rebucket(s, odir, "o_custkey", 8)
      graft.sources.SnapshotLog.rebucket(s, cdir, "c_custkey", 8)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = s.sql(
        s"""SELECT c_nationkey, count(*) AS n,
              CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
            FROM $cat.lake.o o JOIN $cat.lake.c c
              ON o.o_custkey = c.c_custkey
            GROUP BY c_nationkey""")
      val rows = q.collect()
      def all(p: SparkPlan): Seq[SparkPlan] =
        p.collect { case n => n }.flatMap {
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            qs +: all(qs.plan)
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a +: all(a.executedPlan)
          case n => Seq(n)
        }
      val nodes = all(q.queryExecution.executedPlan)
      val joinShuffles = nodes.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          all(j).count(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          all(j).count(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      }
      require(joinShuffles.contains(0),
        s"storage-partitioned join shuffled (exchanges below the join: " +
          s"$joinShuffles) — KeyGroupedPartitioning compatibility failed")
      val scans = nodes.count {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.getClass.getSimpleName.contains("SnapBucketScan")
        case _ => false
      }
      require(scans == 2,
        s"expected two SnapBucketScans under the join, found $scans")
      val local = java.util.Arrays.asList(rows: _*)
      s.createDataFrame(local, q.schema)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** Storage-partitioned join THROUGH A DELETION MASK driver-gated
    * (round 18 — [[SnapBucketScan]]'s dv composition): the same
    * bucketed pair as [[snapSpjJoin]], but the fact side takes a MOR
    * delete of the 24 smallest orderkeys BEFORE the join. The
    * dv-bearing version must still report the layout (two
    * SnapBucketScans, ZERO exchanges below the join — require()d) and
    * the masked rows must be invisible to the aggregate — the oracle
    * recomputes the join minus the deleted keys, so a mask leak or a
    * mis-bucketed masked file hash-diverges. SPJ between compactions:
    * the regime a lakehouse actually lives in. */
  val snapSpjDv: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.execution.SparkPlan
    val scratchP = Files.createTempDirectory("graft_spjdv_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"spjdv_$tok"
    val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val odir = scratchP.resolve("lake").resolve("o").toString
      val cdir = scratchP.resolve("lake").resolve("c").toString
      graft.sources.SnapshotLog.commit(s, odir, t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_price_c")).repartition(4))
      graft.sources.SnapshotLog.commit(s, cdir, t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey")).repartition(4))
      graft.sources.SnapshotLog.rebucket(s, odir, "o_custkey", 8)
      graft.sources.SnapshotLog.rebucket(s, cdir, "c_custkey", 8)
      val delKeys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      val v = graft.sources.SnapshotLog.deleteWhereInMOR(
        s, odir, "o_orderkey", delKeys)
      require(graft.sources.SnapshotLog.dvAt(odir, v).nonEmpty,
        "the MOR delete published no deletion-vector entries")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = s.sql(
        s"""SELECT c_nationkey, count(*) AS n,
              CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
            FROM $cat.lake.o o JOIN $cat.lake.c c
              ON o.o_custkey = c.c_custkey
            GROUP BY c_nationkey""")
      val rows = q.collect()
      def all(p: SparkPlan): Seq[SparkPlan] =
        p.collect { case n => n }.flatMap {
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            qs +: all(qs.plan)
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a +: all(a.executedPlan)
          case n => Seq(n)
        }
      val nodes = all(q.queryExecution.executedPlan)
      val joinShuffles = nodes.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          all(j).count(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          all(j).count(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      }
      require(joinShuffles.contains(0),
        s"SPJ through a deletion mask shuffled (exchanges below the " +
          s"join: $joinShuffles)")
      val scans = nodes.count {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.getClass.getSimpleName.contains("SnapBucketScan")
        case _ => false
      }
      require(scans == 2,
        s"expected two SnapBucketScans under the join, found $scans")
      val local = java.util.Arrays.asList(rows: _*)
      s.createDataFrame(local, q.schema)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** `CREATE OR REPLACE TABLE … AS SELECT` through the STAGING catalog
    * ([[graft.sources.SnapshotCatalog.stageCreateOrReplace]]),
    * driver-gated: the ladder commits the orders slice (atomic CTAS),
    * MOR-deletes 24 keys (a dv-bearing version in the history), then
    * REPLACES the table with a per-status aggregate computed from the
    * source view. The require()s pin what makes the staged path the
    * right one — ONE `replace-table` commit on top of the intact
    * history (Spark's non-staging fallback would plan drop+create and
    * destroy every version), and a time-travel read of the
    * PRE-replace version still serving the masked slice. The RESULT is
    * the post-replace SQL read, which the oracle recomputes from
    * `orders` directly. */
  val snapReplaceSql: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_replace_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"repsql_$tok"
    val view = s"repsrc_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      t(s, dir, "orders").createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.lake.t AS SELECT o_orderkey, o_custkey, " +
        "o_orderstatus, CAST(round(o_totalprice*100) AS BIGINT) " +
        s"AS o_price_c FROM $view")
      val total = s.sql(s"SELECT count(*) FROM $cat.lake.t").head.getLong(0)
      // subqueries in DML predicates refuse by design — materialize
      // the key set (driver-sized: 24 keys) and inline the IN list
      val delKeys = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect()
        .map(_.getLong(0))
      s.sql(s"DELETE FROM $cat.lake.t WHERE o_orderkey IN " +
        delKeys.mkString("(", ", ", ")"))
      val tdir = scratchP.resolve("lake").resolve("t").toString
      val preReplace = graft.sources.SnapshotLog.latestVersion(tdir).get
      s.sql(s"CREATE OR REPLACE TABLE $cat.lake.t AS " +
        "SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) " +
        s"AS sum_price_c FROM $view GROUP BY o_orderstatus")
      val ops = graft.sources.SnapshotLog.history(tdir)
        .sortBy(_.version).map(_.op)
      require(ops == Seq("create-table", "delete-where-in-mor",
        "replace-table"),
        s"replace provenance diverged: $ops — the staged path must be " +
          "ONE replace-table commit on the intact history")
      // the pre-replace (dv-bearing) version still time-travels
      val tt = s.sql(
        s"SELECT count(*) FROM $cat.lake.t VERSION AS OF $preReplace")
        .head.getLong(0)
      require(tt == total - 24,
        s"time travel across the replace broke: $tt vs ${total - 24}")
      val res = s.sql(s"SELECT o_orderstatus, n, sum_price_c FROM $cat.lake.t")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.catalog.dropTempView(view): Unit
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.restore]] driver-gated, through the
    * SQL `CALL` procedure surface: v0 commits the orders slice, v1
    * MOR-deletes the 24 smallest keys, v2 appends two synthetic rows,
    * then `CALL <cat>.system.restore(version => 0)` publishes v3
    * re-pointing at v0's content (metadata-only — the require()s pin
    * the op, the version, and that the restored read drops BOTH later
    * changes). The RESULT is the post-restore SQL read, which must
    * hash-match the oracle's plain `orders` slice — restore is exactly
    * "the table is its old self again". */
  val snapRestore: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_restore_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"ressql_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val tdir = scratchP.resolve("lake").resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.repartitionByRange(8, col("o_orderkey")))
      val delKeys = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect()
        .map(_.getLong(0)).toSeq
      graft.sources.SnapshotLog.deleteWhereInMOR(s, tdir, "o_orderkey", delKeys)
      graft.sources.SnapshotLog.commitAppend(s, tdir,
        s.sql("SELECT CAST(-1 AS BIGINT) AS o_orderkey, " +
          "CAST(0 AS BIGINT) AS o_custkey, CAST(111 AS BIGINT) AS o_price_c " +
          "UNION ALL SELECT -2, 0, 222"))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val out = s.sql(
        s"CALL $cat.system.restore(table => 'lake.t', version => 0)")
        .collect()
      require(out.length == 1 && out(0).getLong(0) == 0L &&
        out(0).getLong(1) == 3L,
        s"CALL restore reported ${out.mkString(", ")}")
      require(graft.sources.SnapshotLog.history(tdir)
        .maxBy(_.version).op == "restore", "restore op not recorded")
      val res = s.sql(s"SELECT o_orderkey, o_custkey, o_price_c " +
        s"FROM $cat.lake.t")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** CHECK constraints driver-gated ([[graft.sources.SnapshotLog
    * .addConstraint]] + the enforcement funnel + the CALL
    * procedures): seed the orders slice, `CALL add_constraint`
    * (price non-negative — the live data satisfies it), one VALID
    * SQL INSERT lands, one VIOLATING SQL INSERT refuses naming the
    * constraint with NOTHING published (require()d), and the RESULT
    * is the final read — the oracle recomputes the slice + the one
    * valid synthetic row. If enforcement fired on the wrong side
    * (blocking the valid row or admitting the violator) the hashes
    * diverge. */
  val snapConstraintSql: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_cns_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"cnssql_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val tdir = scratchP.resolve("lake").resolve("t").toString
      graft.sources.SnapshotLog.commit(s, tdir,
        t(s, dir, "orders").select(col("o_orderkey"),
          cents(col("o_totalprice")).as("o_price_c"))
          .repartitionByRange(8, col("o_orderkey")))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      s.sql(s"CALL $cat.system.add_constraint('lake.t', 'price_nn', " +
        "'o_price_c >= 0')")
      // the ANSI spelling rides the same dotfile: ADD CONSTRAINT
      // validates live data (keys are positive), DROP removes only its
      // own guard — price_nn below must still refuse the violator
      s.sql(s"ALTER TABLE $cat.lake.t ADD CONSTRAINT key_nn " +
        "CHECK (o_orderkey >= 0)")
      require(graft.sources.SnapshotLog.constraints(tdir)
        .map(_._1) == Seq("key_nn", "price_nn"), "ANSI ADD CONSTRAINT " +
        "did not land beside the CALL-added one")
      s.sql(s"ALTER TABLE $cat.lake.t DROP CONSTRAINT key_nn")
      s.sql(s"INSERT INTO $cat.lake.t VALUES " +
        "(CAST(-1 AS BIGINT), CAST(111 AS BIGINT))")
      val v = graft.sources.SnapshotLog.latestVersion(tdir).get
      val refused = try {
        s.sql(s"INSERT INTO $cat.lake.t VALUES " +
          "(CAST(-2 AS BIGINT), CAST(-222 AS BIGINT))")
        false
      } catch { case e: Exception =>
        def msgs(x: Throwable): String =
          if (x == null) "" else x.getMessage + "\n" + msgs(x.getCause)
        msgs(e).contains("price_nn")
      }
      require(refused, "violating INSERT was not refused by price_nn")
      require(graft.sources.SnapshotLog.latestVersion(tdir).contains(v),
        "the refused INSERT published a version")
      val res = s.sql(s"SELECT o_orderkey, o_price_c FROM $cat.lake.t")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** GENERAL SQL MERGE driver-gated
    * ([[graft.sources.SnapshotLog.mergeWhereMOR]] through the
    * [[graft.sources.SnapshotSqlDml]] general translation): the full
    * clause algebra in ONE statement — two CONDITIONAL matched
    * clauses (first passing wins: status-F rows take the source
    * price, status-O rows delete), a PARTIAL assignment (only
    * o_price_c — the other columns keep their pre-image), a GUARDED
    * insert (negative synthetic keys only), and WHEN NOT MATCHED BY
    * SOURCE zeroing a key-suffix slice of the untouched rows. The
    * require()s pin the op (`merge-where-mor`), the MOR shape (zero
    * files rewritten, dv present), and the RESULT is the final read
    * vs the oracle's relational reconstruction of all four clauses. */
  val snapMergeGeneralSql: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_gmerge_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"gmerge_$tok"
    val srcView = s"gmerge_src_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val tdir = scratchP.resolve("lake").resolve("t").toString
      graft.sources.SnapshotLog.commit(s, tdir,
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), cents(col("o_totalprice")).as("o_price_c"))
          .repartitionByRange(8, col("o_orderkey")))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey").as("key"),
          (col("o_orderkey") + 123456L).as("newprice"))
        .union(s.sql("SELECT CAST(-1 AS BIGINT), CAST(111 AS BIGINT) " +
          "UNION ALL SELECT -2, 222 UNION ALL SELECT -3, 333"))
        .createOrReplaceTempView(srcView)
      val filesBefore = graft.sources.SnapshotLog.history(tdir)
        .maxBy(_.version).files
      s.sql(s"""MERGE INTO $cat.lake.t t USING $srcView s
        ON t.o_orderkey = s.key
        WHEN MATCHED AND t.o_orderstatus = 'F'
          THEN UPDATE SET o_price_c = s.newprice
        WHEN MATCHED AND t.o_orderstatus = 'O' THEN DELETE
        WHEN NOT MATCHED AND s.key < 0 THEN INSERT
          (o_orderkey, o_custkey, o_orderstatus, o_price_c)
          VALUES (s.key, CAST(0 AS BIGINT), 'Z', s.newprice)
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 100 = 7
          THEN UPDATE SET o_price_c = CAST(0 AS BIGINT)""")
      val h = graft.sources.SnapshotLog.history(tdir).maxBy(_.version)
      require(h.op == "merge-where-mor" && h.dvFiles > 0 &&
        h.files >= filesBefore,
        s"general MERGE must be MOR: op=${h.op} files=${h.files}/" +
          s"$filesBefore dv=${h.dvFiles}")
      val res = s.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, " +
        s"o_price_c FROM $cat.lake.t")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.catalog.dropTempView(srcView): Unit
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** GENERAL-predicate SQL DML driver-gated
    * ([[graft.sources.SnapshotLog.deleteWhereMOR]] /
    * [[graft.sources.SnapshotLog.updateWhereMOR]] through the
    * [[graft.sources.SnapshotSqlDml]] routing): a range `DELETE FROM …
    * WHERE o_price_c < threshold` (no membership list — the shape the
    * membership-only surface refused) masks O(matching rows) with ZERO
    * files rewritten (require()d), then a predicate `UPDATE … WHERE
    * o_orderstatus = 'F' AND o_orderkey % 10 = 3` bumps the survivors'
    * price — mask + post-image in one commit. The RESULT is the final
    * read; the oracle reconstructs both steps relationally. */
  val snapDmlPredSql: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_gpred_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"gpred_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val tdir = scratchP.resolve("lake").resolve("t").toString
      graft.sources.SnapshotLog.commit(s, tdir,
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), cents(col("o_totalprice")).as("o_price_c"))
          .repartitionByRange(8, col("o_orderkey")))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val filesBefore = graft.sources.SnapshotLog.history(tdir)
        .maxBy(_.version).files
      s.sql(s"DELETE FROM $cat.lake.t WHERE o_price_c < 5000000")
      val h1 = graft.sources.SnapshotLog.history(tdir).maxBy(_.version)
      require(h1.op == "delete-where-mor" && h1.files == filesBefore &&
        h1.dvFiles > 0,
        s"general DELETE must be MOR: op=${h1.op} files=${h1.files}/" +
          s"$filesBefore dv=${h1.dvFiles}")
      s.sql(s"UPDATE $cat.lake.t SET o_price_c = o_price_c + 777 " +
        "WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 3")
      val h2 = graft.sources.SnapshotLog.history(tdir).maxBy(_.version)
      require(h2.op == "update-where-mor",
        s"general UPDATE must be MOR: op=${h2.op}")
      val res = s.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, " +
        s"o_price_c FROM $cat.lake.t")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The table-addressed V2 streaming sink
    * (`writeStream.toTable("cat.ns.t")`,
    * [[graft.sources.SnapshotStreamingWrite]]) driver-gated: a SOURCE
    * snapshot table takes the orders slice in two versions (evens,
    * then odds), a stream replays it micro-batch-per-version into a
    * sink table toTable CREATES through the catalog (the schema-only
    * genesis + executor-side parquet writers + one idempotent
    * manifest per epoch), and the RESULT is the SQL read of the sink
    * — the oracle recomputes the plain slice. The require()s pin the
    * auto-create provenance (create-table, then appends) and the
    * exactly-once version arithmetic (base registered at the genesis,
    * one version per non-empty epoch). */
  val snapStreamTableSink: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_tsink_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"tsink_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val src = scratchP.resolve("lake").resolve("src").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, src,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")))
      graft.sources.SnapshotLog.commitAppend(s, src,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_orderkey")))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val q = s.readStream.format("graft-snaplog").option("tableDir", src)
        .load().writeStream
        .option("checkpointLocation", scratchP.resolve("ckpt").toString)
        .toTable(s"$cat.lake.sink")
      try { q.processAllAvailable() } finally q.stop()
      val sinkDir = scratchP.resolve("lake").resolve("sink").toString
      val ops = graft.sources.SnapshotLog.history(sinkDir)
        .sortBy(_.version).map(_.op)
      require(ops.head == "create-table" && ops.tail.forall(_ == "append") &&
        ops.size >= 2, s"toTable sink provenance diverged: $ops")
      val res = s.sql(s"SELECT o_orderkey, o_custkey, o_price_c " +
        s"FROM $cat.lake.sink")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The UPDATE-mode (keyed upsert) face of the table-addressed V2
    * streaming sink driver-gated: a base snapshot table takes the
    * orders slice; a churn table holds two versions of keyed
    * post-images (price bumps for two disjoint key classes, plus
    * brand-new keys); the stream replays the churn into the base via
    * `.option("upsertKey", …)` — each epoch lands as one idempotent
    * MOR merge (masks + post-image appends; merge-mor provenance
    * require()d). The oracle recomputes the final upsert state from
    * `orders` relationally — a dropped update, a duplicated key, or a
    * mask leak hash-diverges. */
  val snapStreamUpsert: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_upsert_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"usink_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val sinkDir = scratchP.resolve("lake").resolve("sink").toString
      val churnDir = scratchP.resolve("churn").toString
      val base = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, sinkDir,
        base.repartitionByRange(4, col("o_orderkey")))
      val upd1 = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_price_c", col("o_price_c") + 111)
      val sevens = base.filter(col("o_orderkey") % 10 === 7)
      val upd2 = sevens.withColumn("o_price_c", col("o_price_c") * 2)
        .unionByName(sevens.select(
          (col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"), lit(42L).as("o_price_c")))
      graft.sources.SnapshotLog.commit(s, churnDir, upd1.repartition(2))
      graft.sources.SnapshotLog.commitAppend(s, churnDir,
        upd2.repartition(2))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val q = s.readStream.format("graft-snaplog")
        .option("tableDir", churnDir).load()
        .writeStream.option("upsertKey", "o_orderkey")
        .option("checkpointLocation", scratchP.resolve("ckpt").toString)
        .toTable(s"$cat.lake.sink")
      try { q.processAllAvailable() } finally q.stop()
      val ops = graft.sources.SnapshotLog.history(sinkDir)
        .sortBy(_.version).map(_.op)
      require(ops.head == "commit" && ops.tail.nonEmpty &&
        ops.tail.forall(_ == "merge-mor"),
        s"upsert sink provenance diverged: $ops")
      val res = s.sql(s"SELECT o_orderkey, o_custkey, o_price_c " +
        s"FROM $cat.lake.sink")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The COMPLETE-mode face of the table-addressed V2 streaming sink
    * driver-gated: a two-version source stream feeds a streaming
    * aggregation whose complete-mode epochs REPLACE the sink table
    * ([[graft.sources.SnapshotLog.replaceFilesIdempotent]] — INSERT
    * OVERWRITE per trigger, commit provenance require()d, history
    * kept). The RESULT is the final epoch's full aggregate; the
    * oracle recomputes it from orders directly — a stale epoch
    * surviving, a partial replace, or double-counted state
    * hash-diverges. */
  val snapStreamComplete: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_csink_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"csink_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val srcDir = scratchP.resolve("src").toString
      val sinkDir = scratchP.resolve("lake").resolve("agg").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderstatus"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, srcDir,
        orders.filter(col("o_custkey") % 2 === 0).repartition(2))
      graft.sources.SnapshotLog.commitAppend(s, srcDir,
        orders.filter(col("o_custkey") % 2 === 1).repartition(2))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      s.sql(s"CREATE TABLE $cat.lake.agg (o_orderstatus STRING, " +
        "n BIGINT, sum_price_c BIGINT)")
      val q = s.readStream.format("graft-snaplog")
        .option("tableDir", srcDir).load()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_price_c")).as("sum_price_c"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", scratchP.resolve("ckpt").toString)
        .toTable(s"$cat.lake.agg")
      try { q.processAllAvailable() } finally q.stop()
      val ops = graft.sources.SnapshotLog.history(sinkDir)
        .sortBy(_.version).map(_.op)
      require(ops.head == "create-table" && ops.tail.nonEmpty &&
        ops.tail.forall(_ == "commit"),
        s"complete sink provenance diverged: $ops")
      val res = s.sql(s"SELECT o_orderstatus, n, sum_price_c " +
        s"FROM $cat.lake.agg")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** One-line CDC REPLICATION driver-gated: a source snapshot table
    * lives a lifecycle (commit evens, append odds, MOR-delete the 24
    * smallest keys, MOR-update the next 10 to a sentinel price), then
    * `readStream.table("….src.changes") → writeStream
    * .option("upsertKey", …).toTable("….replica")` replicates it —
    * the feed-shaped stream routes through
    * [[graft.sources.SnapshotLog.applyChangeFeed]] (last-wins
    * compaction across the epoch's source versions, deletes honored,
    * idempotent MOR merges). The RESULT is the replica's SQL read;
    * the oracle recomputes the post-churn source relationally — a
    * missed delete, a pre-image leak, or a compaction-order bug
    * hash-diverges. */
  val snapStreamCdcReplica: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_cdcrep_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"crep_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      val srcDir = scratchP.resolve("lake").resolve("src").toString
      val repDir = scratchP.resolve("lake").resolve("rep").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, srcDir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")))
      graft.sources.SnapshotLog.commitAppend(s, srcDir,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_orderkey")))
      val sorted = orders.select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(34).collect()
        .map(_.get(0)).toSeq
      val dead = sorted.take(24)
      val upd = sorted.drop(24)
      graft.sources.SnapshotLog.deleteWhereInMOR(
        s, srcDir, "o_orderkey", dead)
      graft.sources.SnapshotLog.updateWhereInMOR(
        s, srcDir, "o_orderkey", upd, Map("o_price_c" -> lit(-1L)))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      s.sql(s"CREATE TABLE $cat.lake.rep (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_price_c BIGINT)")
      val q = s.readStream.table(s"$cat.lake.src.changes")
        .writeStream.option("upsertKey", "o_orderkey")
        .option("checkpointLocation", scratchP.resolve("ckpt").toString)
        .toTable(s"$cat.lake.rep")
      try { q.processAllAvailable() } finally q.stop()
      val ops = graft.sources.SnapshotLog.history(repDir)
        .sortBy(_.version).map(_.op)
      require(ops.head == "create-table" && ops.tail.nonEmpty &&
        ops.tail.forall(_ == "merge-mor"),
        s"replica provenance diverged: $ops")
      val res = s.sql(s"SELECT o_orderkey, o_custkey, o_price_c " +
        s"FROM $cat.lake.rep")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.readChangeFeed]] driver-gated — the
    * dv-aware CHANGE DATA FEED: v0 commits the even orderkeys, v1
    * appends the odd ones, v2 MOR-deletes the 24 smallest keys; the
    * feed over (-1, v2] must equal the three labeled slices the oracle
    * reconstructs from `orders` directly (inserts carry their commit
    * version; the MOR delete emits the masked rows' PRE-IMAGES as
    * `delete` rows). */
  val snapChangeFeed: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_cf_gate_")
    try {
      val tdir = scratchP.resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_custkey")))
      graft.sources.SnapshotLog.commitAppend(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_custkey")))
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      val v = graft.sources.SnapshotLog.deleteWhereInMOR(
        s, tdir, "o_orderkey", keys)
      val res = graft.sources.SnapshotLog.readChangeFeed(s, tdir, -1L, v)
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.readChangeFeedByTime]] driver-gated
    * through its SQL TVF (`snap_table_changes_by_time` — registered by
    * GraftExtensions): the same three-version ladder as
    * [[snapChangeFeed]], read back with a TIME window spanning the
    * table's recorded commit-ts provenance (first commit ts .. last
    * commit ts, inclusive both ends per the verb's contract), which
    * must resolve to the FULL version range and hash-match the exact
    * version-bounded oracle — a wrong ts→version resolution (off-by-one
    * at either bound, a silently-dropped mid-range version) changes
    * the emitted slice set and diverges. */
  val snapChangeFeedByTime: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_cft_gate_")
    try {
      val tdir = scratchP.resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_custkey")))
      graft.sources.SnapshotLog.commitAppend(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_custkey")))
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      graft.sources.SnapshotLog.deleteWhereInMOR(
        s, tdir, "o_orderkey", keys): Unit
      // the window = the provenance's own [min ts, max ts]: covers
      // every committed version, so the TVF must equal the unbounded
      // version feed (sessions pin UTC — format the instants there)
      val stamps = graft.sources.SnapshotLog.history(tdir).map(_.tsMillis)
      def lit(ms: Long): String = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      val res = s.sql(s"SELECT * FROM snap_table_changes_by_time('$tdir'," +
        s" TIMESTAMP '${lit(stamps.min)}', TIMESTAMP '${lit(stamps.max)}')")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The catalog-native `.changes` METADATA TABLE driver-gated
    * ([[graft.sources.SnapshotCatalog]] loadTable's `snap.ns.t.changes`
    * interception → V1Scan over [[graft.sources.SnapshotLog
    * .readChangeFeed]]): the same three-version ladder as
    * [[snapChangeFeed]], built under a catalog root and read back as
    * `SELECT * FROM <cat>.lake.t.changes` — one SQL identifier, no
    * TVF, no Scala verb — which must hash-match the same oracle. A
    * require() pins the bounded form too (endVersion option == the
    * sub-range TVF result). */
  val snapChangesTable: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_cmt_gate_")
    val tok = java.lang.Long.toHexString(System.nanoTime())
    val cat = s"cfcat_$tok"
    try {
      Files.createDirectories(scratchP.resolve("lake"))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val tdir = scratchP.resolve("lake").resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_custkey")))
      graft.sources.SnapshotLog.commitAppend(s, tdir,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_custkey")))
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      val v = graft.sources.SnapshotLog.deleteWhereInMOR(
        s, tdir, "o_orderkey", keys)
      // the bounded form matches the TVF's sub-range
      val bounded = s.read.option("startVersion", v)
        .table(s"$cat.lake.t.changes").collect().map(_.toString).sorted
      val tvf = s.sql(s"SELECT * FROM snap_table_changes('$tdir', " +
        s"${v - 1}, $v)").collect().map(_.toString).sorted
      require(bounded.length == tvf.length && bounded.sameElements(tvf),
        s".changes bounded read diverged from the TVF " +
          s"(${bounded.length} vs ${tvf.length})")
      val res = s.table(s"$cat.lake.t.changes")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.applyChangeFeed]] driver-gated — CDC
    * REPLICATION closed end-to-end: the source commits the even
    * orderkeys (v0), appends the odd ones (v1), MOR-deletes the 24
    * smallest (v2); the REPLICA is built purely from the change feed
    * in two version-keyed batches (bootstrap + merge) and its read
    * must equal the NOT-IN complement the oracle computes from
    * `orders` directly — the replica never reads the source's data
    * files, only the feed. */
  val snapReplicate: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_repl_gate_")
    try {
      val src = scratchP.resolve("src").toString
      val dst = scratchP.resolve("dst").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, src,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_custkey")))
      graft.sources.SnapshotLog.commitAppend(s, src,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_custkey")))
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      val v2 = graft.sources.SnapshotLog.deleteWhereInMOR(
        s, src, "o_orderkey", keys)
      require(graft.sources.SnapshotLog.applyChangeFeed(s, dst,
        graft.sources.SnapshotLog.readChangeFeed(s, src, -1L, 1L),
        "o_orderkey", 0L), "bootstrap batch must publish")
      require(graft.sources.SnapshotLog.applyChangeFeed(s, dst,
        graft.sources.SnapshotLog.readChangeFeed(s, src, 1L, v2),
        "o_orderkey", 1L), "churn batch must publish")
      // exactly-once: a replayed batch declines
      require(!graft.sources.SnapshotLog.applyChangeFeed(s, dst,
        graft.sources.SnapshotLog.readChangeFeed(s, src, 1L, v2),
        "o_orderkey", 1L), "replayed batch must decline")
      val res = graft.sources.SnapshotLog.read(s, dst)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_price_c")
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** [[graft.sources.SnapshotLog.updateWhereInMOR]] driver-gated — the
    * MOR point UPDATE (mask old rows + append post-images in ONE
    * commit): the 24 smallest orderkeys get +500 cents through the
    * sidecar path, and the read-back must equal the CASE-expression
    * oracle. The require()s pin the cost model: every pre-update file
    * is CARRIED (none rewritten), the file list GREW (the post-image
    * files), and dv entries exist. */
  val snapUpdateMor: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_morupd_gate_")
    try {
      val tdir = scratchP.resolve("t").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.repartitionByRange(8, col("o_custkey")))
      val keys: Seq[Any] = t(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
      val before = graft.sources.SnapshotLog
        .pruneFiles(tdir, "o_orderkey", None, None)._1
      val v = graft.sources.SnapshotLog.updateWhereInMOR(
        s, tdir, "o_orderkey", keys,
        Map("o_price_c" -> (col("o_price_c") + lit(500L))))
      val after = graft.sources.SnapshotLog
        .pruneFiles(tdir, "o_orderkey", None, None)._1
      require(before.forall(after.contains),
        "MOR update rewrote a pre-update data file")
      require(after.size > before.size,
        "MOR update appended no post-image files")
      require(graft.sources.SnapshotLog.dvAt(tdir, v).nonEmpty,
        "MOR update published no deletion-vector entries")
      val res = graft.sources.SnapshotLog.read(s, tdir)
      val local = java.util.Arrays.asList(res.collect(): _*)
      s.createDataFrame(local, res.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** Runtime (DPP-style) file pruning through the snapshot catalog,
    * driver-gated: commit orders CUSTKEY-clustered as a catalog table,
    * join it to a selectively-filtered customer dim on the clustered
    * key, and aggregate. Spark's own V2 parquet scan has no
    * runtime-filtering face, so the bridge scan's
    * `SupportsRuntimeV2Filtering` is what lets the dim's ACTUAL keys
    * (planted as a `dynamicpruning` IN subquery) re-prune the
    * manifest's file list at execution — the dim's 30 lowest custkeys
    * live in 1–2 of the 8 range-clustered files. The require() makes
    * this a GATE: if the runtime prune ever stops firing, the entry
    * fails loudly instead of silently scanning everything. The oracle
    * is the plain relational join — pruning must be invisible in the
    * result. Scratch is catalog-registered under a unique name because
    * Spark caches catalog instances by name (a reused name would pin
    * the first run's root). */
  val snapRuntimePruneJoin: Q = (s, dir) => {
    import java.nio.file.{Files, Path}
    val scratchP = Files.createTempDirectory("graft_dpp_gate_")
    val cat = s"snapgate_${java.lang.Long.toHexString(System.nanoTime())}"
    try {
      val tdir = scratchP.resolve("lake").resolve("fact").toString
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_price_c"))
      graft.sources.SnapshotLog.commit(s, tdir,
        orders.repartitionByRange(8, col("o_custkey")))
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", scratchP.toString)
      val fact = s.table(s"$cat.lake.fact")
      val dim = t(s, dir, "customer")
        .filter(col("c_custkey") <= 30).select(col("c_custkey"))
      val res = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_price_c")).as("sum_price_c"))
      val local = java.util.Arrays.asList(res.collect(): _*)
      // read the KEYED decision slot, not ScanPrune.last: another
      // snapshot scan planning concurrently in this session (e.g. a
      // parallel Verify) would overwrite the single last slot between
      // the fact scan's runtime prune and this read — the per-table
      // map cannot be overwritten by anyone else because the catalog
      // name is unique to this invocation
      graft.sources.ScanPrune.decisions.collectFirst {
        case (tn, d) if tn.startsWith(s"$cat.") && tn.contains(".fact@") =>
          (tn, d)
      } match {
        case Some((tn, (kept, total))) =>
          require(kept < total,
            s"runtime prune did not fire on the fact scan $tn: kept $kept/$total")
        case None => sys.error(s"no fact prune decision recorded for $cat")
      }
      s.createDataFrame(local, res.schema)
    } finally {
      // the catalog registration must not outlive the scratch it points
      // at: Spark caches catalog INSTANCES by name, so the conf keys are
      // harmless to unset (this run's instance is already cached) but a
      // long session accumulating one pair per invocation is a leak
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      s.conf.unset(s"spark.sql.catalog.$cat")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(scratchP)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** Bulk CSV ingest (reference: tests/test_clickhouse_migration.py:101 —
    * gzip CSV with header; Spark reads gzip transparently). Oracle:
    * DuckDB reads the same gzip file natively via read_csv_auto, so the
    * reference's own largest workload is hash-checked, not just
    * row-counted. */
  val csvIngest: Q = (s, _) =>
    s.read.option("header", "true").schema("id INT, name INT")
      .csv(graft.Fixtures.seqCsv)
      .agg(count(lit(1)).as("n_total"),
        count(when(col("name") > 3000, 1)).as("n_gt3000"))

  /** The reference's crown-jewel workload, driver-gated end-to-end
    * (reference: tests/test_clickhouse_migration.py:91-138 — V1 CREATE,
    * 100k gzip-CSV ingest, the five dependent sequential DMLs of
    * tests/migrations_seq/V1_sequential_dmls.json): runs the FULL
    * public API (`Migrator.migrate` twice) against a scratch database,
    * then returns the verification counts over the post-migration
    * table plus the applied ledger-version count. The oracle replays
    * the masked-update CASE chain over the same CSV in DuckDB, so the
    * e2e path crosses the hash gate instead of living spec-only. The
    * counts are collected (one row) BEFORE the scratch database is
    * dropped — the returned frame must not depend on catalog state the
    * entry already tore down. */
  val migrateSeqCounts: Q = (s, _) => {
    import java.nio.file.{Files, Path, Paths}
    // a UUID-suffixed database + a finally-deleted scratch dir: the gate
    // may run concurrently against a shared warehouse (two Verify
    // invocations), and repeated runs must not leak temp migrations /
    // ledger parquet across invocations (round-9 ADVICE)
    val db = s"graft_seq_gate_${java.util.UUID.randomUUID.toString.take(8)}"
    val scratchP = Files.createTempDirectory("graft_seq_gate_")
    val scratch = scratchP.toString
    try {
      val home = s"$scratch/migrations"
      Files.createDirectories(Paths.get(home))
      Files.writeString(Paths.get(s"$home/V1__create.sql"),
        s"CREATE TABLE $db.sample(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple() ORDER BY tuple()")
      graft.migrator.Migrator.migrate(s, db, home, s"$scratch/ledger")
      s.read.option("header", "true").schema("id INT, name INT")
        .csv(graft.Fixtures.seqCsv)
        .write.mode("append").insertInto(s"$db.sample")
      Files.writeString(Paths.get(s"$home/V2_seq_dmls.json"),
        s"""["ALTER TABLE $db.sample ADD COLUMN enabled UInt32 DEFAULT 1",
           |"ALTER TABLE $db.sample ADD COLUMN guard UInt32 DEFAULT -1",
           |"ALTER TABLE $db.sample UPDATE enabled=0 WHERE name > 3000",
           |"ALTER TABLE $db.sample UPDATE guard=0 WHERE enabled = 0",
           |"ALTER TABLE $db.sample UPDATE guard=1 WHERE enabled = 1"]""".stripMargin)
      graft.migrator.Migrator.migrate(s, db, home, s"$scratch/ledger")
      val r = s.sql(
        s"""SELECT count(*) AS total,
           count(CASE WHEN name > 3000 THEN 1 END) AS gt3000,
           count(CASE WHEN enabled = 0 THEN 1 END) AS enabled0,
           count(CASE WHEN guard = 0 THEN 1 END) AS guard0,
           count(CASE WHEN guard = 1 THEN 1 END) AS guard1,
           count(CASE WHEN guard = -1 THEN 1 END) AS guardneg
           FROM $db.sample""").collect()(0)
      val versions = s.read.parquet(s"$scratch/ledger").count()
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), versions))
        .toDF("total", "gt3000", "enabled0", "guard0", "guard1", "guardneg", "versions")
    } finally {
      try s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      finally {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.walk(scratchP)) { st =>
          st.sorted(java.util.Comparator.reverseOrder[Path]())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  val queries: Seq[(String, Q)] = Seq(
    "reconcile_pending" -> reconcilePending,
    "reconcile_tampered" -> reconcileTampered,
    "reconcile_absconded" -> reconcileAbsconded,
    "anti_join_pending" -> antiJoinPending,
    "set_except_versions" -> setExceptVersions,
    "md5_fingerprint" -> md5Fingerprint,
    "filename_predicates" -> filenamePredicates,
    "order_by_version" -> orderByVersion,
    "count_where" -> countWhere,
    "add_column_default" -> addColumnDefault,
    "masked_update" -> maskedUpdate,
    "cdc_merge_upsert" -> cdcMergeUpsert,
    "cdc_table_diff" -> cdcTableDiff,
    "snap_merge_into" -> snapMergeInto,
    "snap_merge_mor" -> snapMergeMor,
    "snap_change_feed" -> snapChangeFeed,
    "snap_change_feed_by_time" -> snapChangeFeedByTime,
    "snap_changes_table" -> snapChangesTable,
    "snap_replicate" -> snapReplicate,
    "snap_bloom_lookup" -> snapBloomLookup,
    "snap_delete_in" -> snapDeleteIn,
    "snap_delete_mor" -> snapDeleteMor,
    "snap_dml_sql" -> snapDmlSql,
    "snap_dml_pred_sql" -> snapDmlPredSql,
    "snap_merge_general_sql" -> snapMergeGeneralSql,
    "snap_constraint_sql" -> snapConstraintSql,
    "snap_lifecycle_sql" -> snapLifecycleSql,
    "snap_replace_sql" -> snapReplaceSql,
    "snap_agg_pushdown" -> snapAggPushdown,
    "snap_spj_join" -> snapSpjJoin,
    "snap_spj_dv" -> snapSpjDv,
    "snap_stream_table_sink" -> snapStreamTableSink,
    "snap_stream_upsert" -> snapStreamUpsert,
    "snap_stream_complete" -> snapStreamComplete,
    "snap_stream_cdc_replica" -> snapStreamCdcReplica,
    "snap_restore" -> snapRestore,
    "snap_update_mor" -> snapUpdateMor,
    "snap_runtime_prune_join" -> snapRuntimePruneJoin,
    "csv_ingest" -> csvIngest,
    "migrate_seq_counts" -> migrateSeqCounts)

  private val cdcMergeUpsertSql =
    """WITH snap AS (
         SELECT o_orderkey AS key, o_custkey AS s_custkey,
           o_orderstatus AS s_status,
           CAST(round(o_totalprice*100) AS BIGINT) AS s_price_c
         FROM orders),
       chg AS (
         SELECT CASE WHEN m = 4 THEN o_orderkey + 10000000 ELSE o_orderkey END AS key,
           CASE WHEN m = 0 THEN 'delete' WHEN m = 4 THEN 'insert'
                ELSE 'update' END AS op,
           o_custkey AS c_custkey,
           CAST(round(o_totalprice*100) AS BIGINT)
             + CASE WHEN m = 4 THEN 0 ELSE 500 END AS c_price_c
         FROM (SELECT *,
                 CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))
                   AS BIGINT) % 10 AS m
               FROM orders)
         WHERE m <= 4)
       SELECT key,
         COALESCE(c.c_custkey, s.s_custkey) AS custkey,
         CASE WHEN c.op = 'insert' THEN 'I' ELSE s.s_status END AS status,
         COALESCE(c.c_price_c, s.s_price_c) AS price_c
       FROM snap s FULL OUTER JOIN chg c USING (key)
       WHERE c.op IS NULL OR c.op <> 'delete'"""

  val oracles: Seq[(String, String)] = Seq(
    "reconcile_pending" ->
      s"""WITH incoming AS ($incomingSql), committed AS ($committedSql)
          SELECT i.version, i.script, i.md5
          FROM committed c FULL OUTER JOIN incoming i USING (version)
          WHERE c.md5 IS NULL""",
    "reconcile_tampered" ->
      s"""WITH incoming AS ($incomingSql),
          committed AS (
            SELECT version, script,
              CASE WHEN version % 7 = 0
                   THEN md5(CAST(version AS VARCHAR) || 'x')
                   ELSE md5 END AS md5
            FROM ($committedSql))
          SELECT version, c.md5 AS c_md5, i.md5 AS md5
          FROM committed c JOIN incoming i USING (version)
          WHERE c.md5 IS NOT NULL AND i.md5 IS NOT NULL AND i.md5 <> c.md5""",
    "reconcile_absconded" ->
      s"""WITH incoming AS ($incomingSql),
          committed AS (SELECT * FROM incoming WHERE version < 250),
          on_disk AS (SELECT * FROM incoming WHERE version % 10 <> 0)
          SELECT c.version AS version, c.script AS c_script
          FROM committed c LEFT JOIN on_disk d USING (version)
          WHERE d.md5 IS NULL""",
    "anti_join_pending" ->
      s"""WITH incoming AS ($incomingSql), committed AS ($committedSql)
          SELECT version, script, md5 FROM incoming
          WHERE version NOT IN (SELECT version FROM committed)""",
    "set_except_versions" ->
      s"""WITH incoming AS ($incomingSql), committed AS ($committedSql)
          SELECT version FROM incoming
          EXCEPT SELECT version FROM committed""",
    "md5_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",
    "filename_predicates" ->
      """WITH f AS (
           SELECT 'V' || o_orderkey ||
             CASE WHEN o_orderkey % 3 = 0 THEN '__create.sql'
                  WHEN o_orderkey % 3 = 1 THEN '_update.json'
                  ELSE '_notes.txt' END AS fname
           FROM orders WHERE o_orderkey < 500)
         SELECT fname,
           CAST(regexp_extract(fname, '^V(\d+)', 1) AS INTEGER) AS version,
           (fname LIKE '%.sql' OR fname LIKE '%.json') AS is_migration,
           contains(fname, 'update') AS has_update,
           CAST(instr(fname, '_') AS BIGINT) AS us_pos
         FROM f""",
    "order_by_version" ->
      s"""WITH incoming AS ($incomingSql), committed AS ($committedSql)
          SELECT version, script,
            row_number() OVER (ORDER BY version) AS apply_order
          FROM incoming WHERE version NOT IN (SELECT version FROM committed)""",
    "count_where" ->
      """SELECT COUNT(*) AS n_total,
         COUNT(CASE WHEN l_quantity > 30 THEN 1 END) AS n_qty_gt30,
         COUNT(CASE WHEN l_discount = 0.0 THEN 1 END) AS n_no_disc,
         COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned
         FROM lineitem""",
    "add_column_default" ->
      """SELECT p_partkey, p_name, 1 AS enabled, -1 AS guard FROM part""",
    "masked_update" ->
      """SELECT enabled, guard, COUNT(*) AS n FROM (
           SELECT CASE WHEN l_quantity > 30 THEN 0 ELSE 1 END AS enabled,
             CASE WHEN l_quantity > 30 THEN 0 ELSE 1 END AS guard
           FROM lineitem)
         GROUP BY enabled, guard""",
    "cdc_merge_upsert" -> cdcMergeUpsertSql,
    // the transactional verb promises exactly the relational merge's
    // result (the applyDiff theorem), so it shares the SAME oracle text
    // — one source of truth for the whole merge family's semantics
    "snap_merge_into" -> cdcMergeUpsertSql,
    // the MOR merge shares the COW merge's oracle verbatim — masks +
    // post-image appends and survivor rewrites are two cost models for
    // the one apply semantics
    "snap_merge_mor" -> cdcMergeUpsertSql,
    // the change feed's three slices reconstruct from the source
    // table directly: even keys inserted at v0, odd keys at v1, the
    // 24 smallest keys' PRE-IMAGES re-emitted as v2 deletes
    "snap_change_feed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey % 2 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)""",
    // the catalog-native .changes metadata table over the whole
    // history must equal the full version-bounded feed — same oracle
    "snap_changes_table" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey % 2 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)""",
    // the TIME-bounded TVF over a window spanning the whole provenance
    // must equal the full version-bounded feed — the same oracle
    "snap_change_feed_by_time" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey % 2 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c,
           'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
         FROM orders WHERE o_orderkey IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)""",
    // a replica built purely from the change feed must equal the
    // source's final state — the NOT-IN complement, computed by the
    // oracle from the source table directly
    "snap_replicate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c
         FROM orders
         WHERE o_orderkey NOT IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)""",
    // the bloom-pruned point lookup must equal the raw IN lookup —
    // pruning (stats stage, bloom stage, day-2 refresh) is invisible
    "snap_bloom_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c
         FROM orders
         WHERE o_orderkey IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)""",
    // the bloom-pruned point DELETE's survivors must be the raw NOT-IN
    // complement — same lifecycle, write side
    "snap_delete_in" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c
         FROM orders
         WHERE o_orderkey NOT IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)""",
    // the MERGE-ON-READ delete's survivors must be the SAME NOT-IN
    // complement — sidecar masking and file rewriting are two cost
    // models for one semantics
    "snap_delete_mor" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c
         FROM orders
         WHERE o_orderkey NOT IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)""",
    // the full SQL DML ladder (INSERT INTO / DELETE / UPDATE / MERGE
    // through spark.sql, each routed to its MOR verb) must equal the
    // same ladder reconstructed relationally: delete the 24 smallest
    // keys, bump the next 8 by 1e6, zero the 8 largest (MERGE matched),
    // and append the three synthetic keys (-1, -2 inserted; -3 merged)
    "snap_dml_sql" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c
           FROM orders),
         del AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24),
         upd AS (SELECT o_orderkey FROM orders
                 ORDER BY o_orderkey LIMIT 8 OFFSET 24),
         big AS (SELECT o_orderkey FROM orders
                 ORDER BY o_orderkey DESC LIMIT 8)
         SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
           CASE WHEN b.o_orderkey IN (SELECT o_orderkey FROM big)
                  THEN CAST(0 AS BIGINT)
                WHEN b.o_orderkey IN (SELECT o_orderkey FROM upd)
                  THEN b.o_price_c + 1000000
                ELSE b.o_price_c END AS o_price_c
         FROM base b
         WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM del)
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(111 AS BIGINT)
         UNION ALL
         SELECT CAST(-2 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(222 AS BIGINT)
         UNION ALL
         SELECT CAST(-3 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(333 AS BIGINT)""",
    // general-predicate SQL DML (no membership list): the range MOR
    // delete then the predicate MOR update must equal the relational
    // reconstruction — survivors above the threshold, +777 on the
    // matched status/key-suffix slice
    "snap_dml_pred_sql" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) +
             CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
               THEN 777 ELSE 0 END AS o_price_c
         FROM orders
         WHERE CAST(round(o_totalprice*100) AS BIGINT) >= 5000000""",
    // the general SQL MERGE (conditional matched clauses first-wins,
    // partial assignment, guarded insert, by-source update) must equal
    // the relational reconstruction: matched keys end in 3 — 'F' takes
    // the source price, 'O' deletes, others unchanged; unmatched keys
    // with suffix 07 zero out; three negative synthetic rows insert
    "snap_merge_general_sql" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 3 AND o_orderstatus = 'F'
                  THEN o_orderkey + 123456
                WHEN o_orderkey % 10 <> 3 AND o_orderkey % 100 = 7
                  THEN 0
                ELSE CAST(round(o_totalprice*100) AS BIGINT)
           END AS o_price_c
         FROM orders
         WHERE NOT (o_orderkey % 10 = 3 AND o_orderstatus = 'O')
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(111 AS BIGINT)
         UNION ALL
         SELECT CAST(-2 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(222 AS BIGINT)
         UNION ALL
         SELECT CAST(-3 AS BIGINT), CAST(0 AS BIGINT), 'Z', CAST(333 AS BIGINT)""",
    // CHECK constraint enforcement: the valid insert lands, the
    // violating one refuses (require()d in the query) — the final
    // table is the slice plus exactly the one valid synthetic row
    "snap_constraint_sql" ->
      """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)
             AS o_price_c
         FROM orders
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(111 AS BIGINT)""",
    // the table-addressed streaming sink: source table → change stream
    // → toTable (auto-created genesis + executor-side parquet writers
    // + idempotent per-epoch manifests) must land exactly the slice
    "snap_stream_table_sink" ->
      """SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c
         FROM orders""",
    // the update-mode (upsertKey) streaming sink: base slice + two
    // epochs of keyed post-images — %10=3 keys bumped by 111, %10=7
    // keys doubled, and a fresh key class appended; the final table
    // must equal the relational recomputation of that upsert state
    "snap_stream_upsert" ->
      """SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 10 = 3 THEN price_c + 111
                WHEN o_orderkey % 10 = 7 THEN price_c * 2
                ELSE price_c END AS o_price_c
         FROM (SELECT o_orderkey, o_custkey,
                 CAST(round(o_totalprice*100) AS BIGINT) AS price_c
               FROM orders)
         UNION ALL
         SELECT o_orderkey + 10000000, o_custkey,
           CAST(42 AS BIGINT) AS o_price_c
         FROM orders WHERE o_orderkey % 10 = 7""",
    // the complete-mode streaming sink: the final epoch's full
    // aggregate replaced the table — the oracle recomputes it
    "snap_stream_complete" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
         FROM orders GROUP BY o_orderstatus""",
    // one-line CDC replication (.changes stream → upsertKey sink):
    // the replica must equal the post-churn source — orders minus the
    // 24 smallest keys, with the next 10 priced at the sentinel
    "snap_stream_cdc_replica" ->
      """WITH dead AS (
           SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24),
         upd AS (
           SELECT o_orderkey FROM orders
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dead)
           ORDER BY o_orderkey LIMIT 10)
         SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey IN (SELECT o_orderkey FROM upd)
                THEN CAST(-1 AS BIGINT)
                ELSE CAST(round(o_totalprice*100) AS BIGINT)
           END AS o_price_c
         FROM orders
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dead)""",
    // the lifecycle ladder (CREATE TABLE genesis → enforced INSERT →
    // CTAS → RENAME's manifest-rewriting rehome → DROP) ends in a
    // per-status aggregate the oracle computes from orders directly
    "snap_lifecycle_sql" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
         FROM orders GROUP BY o_orderstatus""",
    // metadata-only aggregate pushdown: after CTAS → MOR delete (decline
    // require()d) → compact_deletes, the pushed COUNT/MIN/MAX row must
    // equal the relational aggregate over orders minus the 24 deleted
    // keys — a stale or unsound stats answer hash-diverges
    "snap_agg_pushdown" ->
      """WITH kept AS (
           SELECT * FROM orders WHERE o_orderkey NOT IN
             (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24))
         SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS min_ok,
           MAX(o_orderkey) AS max_ok,
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_od,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_od,
           COUNT(o_orderpriority) AS cnt_pri
         FROM kept""",
    // storage-partitioned join: two tables bucketed bucket(8, custkey)
    // joined shuffle-free (require()d in the plan) must equal the
    // relational join aggregate — lying co-partitioning hash-diverges
    "snap_spj_join" ->
      """SELECT c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey""",
    // SPJ through a deletion mask: the same join minus the 24 deleted
    // keys — a mask leak or a mis-bucketed masked file hash-diverges
    "snap_spj_dv" ->
      """SELECT c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey NOT IN
           (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)
         GROUP BY c_nationkey""",
    // CREATE OR REPLACE through the staging catalog: after the ladder
    // (atomic CTAS → MOR delete → staged replace, history require()d
    // intact) the table IS the per-status aggregate of orders
    "snap_replace_sql" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
         FROM orders GROUP BY o_orderstatus""",
    // RESTORE to v0 after a MOR delete and an append: the table is its
    // old self again — the plain orders slice
    "snap_restore" ->
      """SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice*100) AS BIGINT) AS o_price_c
         FROM orders""",
    // the MOR update (mask + post-image append, one commit) must equal
    // the CASE-expression rewrite of the whole table
    "snap_update_mor" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice*100) AS BIGINT) +
             CASE WHEN o_orderkey IN
               (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 24)
             THEN 500 ELSE 0 END AS o_price_c
         FROM orders""",
    // the runtime-pruned (DPP) dim join must equal the plain relational
    // join — file pruning, dynamic or static, is invisible in results
    "snap_runtime_prune_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_custkey <= 30
         GROUP BY o_orderstatus""",
    // diff-of-a-merge: v0/v1 rebuilt from the same snap/chg CTEs, then
    // the null-safe (IS NOT DISTINCT FROM) full-outer comparison — the
    // mirror of tableDiff stage for stage
    "cdc_table_diff" ->
      """WITH snap AS (
           SELECT o_orderkey AS key, o_custkey AS s_custkey,
             o_orderstatus AS s_status,
             CAST(round(o_totalprice*100) AS BIGINT) AS s_price_c
           FROM orders),
         chg AS (
           SELECT CASE WHEN m = 4 THEN o_orderkey + 10000000 ELSE o_orderkey END AS key,
             CASE WHEN m = 0 THEN 'delete' WHEN m = 4 THEN 'insert'
                  ELSE 'update' END AS op,
             o_custkey AS c_custkey,
             CAST(round(o_totalprice*100) AS BIGINT)
               + CASE WHEN m = 4 THEN 0 ELSE 500 END AS c_price_c
           FROM (SELECT *,
                   CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))
                     AS BIGINT) % 10 AS m
                 FROM orders)
           WHERE m <= 4),
         v0 AS (SELECT key, s_custkey AS custkey, s_status AS status,
                  s_price_c AS price_c FROM snap),
         v1 AS (SELECT key,
             COALESCE(c.c_custkey, s.s_custkey) AS custkey,
             CASE WHEN c.op = 'insert' THEN 'I' ELSE s.s_status END AS status,
             COALESCE(c.c_price_c, s.s_price_c) AS price_c
           FROM snap s FULL OUTER JOIN chg c USING (key)
           WHERE c.op IS NULL OR c.op <> 'delete')
         SELECT key, op, custkey, status, price_c FROM (
           SELECT COALESCE(o.key, n.key) AS key,
             CASE WHEN o.key IS NULL THEN 'insert'
                  WHEN n.key IS NULL THEN 'delete'
                  WHEN NOT (o.custkey IS NOT DISTINCT FROM n.custkey
                        AND o.status IS NOT DISTINCT FROM n.status
                        AND o.price_c IS NOT DISTINCT FROM n.price_c)
                    THEN 'update' END AS op,
             n.custkey AS custkey, n.status AS status, n.price_c AS price_c
           FROM v0 o FULL OUTER JOIN v1 n ON o.key = n.key)
         WHERE op IS NOT NULL""",
    "csv_ingest" ->
      s"""SELECT COUNT(*) AS n_total,
         COUNT(CASE WHEN name > 3000 THEN 1 END) AS n_gt3000
         FROM read_csv_auto('${graft.Fixtures.seqCsvPath}')""",
    // the masked-update CASE chain replayed over the raw CSV: enabled
    // is 0 exactly where name > 3000 (statement 3 over statement 1's
    // DEFAULT 1), guard then copies enabled's partition (statements 4+5
    // over statement 2's DEFAULT -1), and versions = the two fixture
    // migrations the ledger must have applied
    "migrate_seq_counts" ->
      s"""WITH mig AS (
           SELECT id, name,
             CASE WHEN name > 3000 THEN 0 ELSE 1 END AS enabled,
             CASE WHEN name > 3000 THEN 0 ELSE 1 END AS guard
           FROM read_csv_auto('${graft.Fixtures.seqCsvPath}'))
         SELECT COUNT(*) AS total,
           COUNT(CASE WHEN name > 3000 THEN 1 END) AS gt3000,
           COUNT(CASE WHEN enabled = 0 THEN 1 END) AS enabled0,
           COUNT(CASE WHEN guard = 0 THEN 1 END) AS guard0,
           COUNT(CASE WHEN guard = 1 THEN 1 END) AS guard1,
           COUNT(CASE WHEN guard = -1 THEN 1 END) AS guardneg,
           CAST(2 AS BIGINT) AS versions
         FROM mig""")
}
