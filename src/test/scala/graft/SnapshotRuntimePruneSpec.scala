package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import sources.{ScanPrune, SnapshotLog}

/** Runtime (dynamic-partition-pruning-style) FILE pruning on snapshot
  * catalog tables: Spark's own V2 parquet scan implements no
  * runtime-filtering face in this release, so the bridge scan
  * ([[org.apache.spark.sql.graftbridge.PruningParquetScanBuilder]])
  * adds `SupportsRuntimeV2Filtering` — when a snapshot table joins a
  * selectively-filtered dim on an advertised column, `PartitionPruning`
  * plants a `dynamicpruning` subquery on the fact scan, and at
  * execution the dim's ACTUAL keys re-prune the manifest's file list
  * (stats + bloom, same translator as planning-time pruning) before a
  * single fact file is opened. At 100 TB this is the dim-driven fact
  * skipping a partitioned warehouse takes for granted, recovered for
  * snapshot tables without Hive-style partition directories.
  *
  * The load-bearing invariant is inherited: runtime pruning may only
  * drop files a recorded fact proves dead, and the join re-checks
  * every surviving row, so a pruned result can never differ from the
  * unpruned one — the specs assert BOTH the file-count drop (via
  * [[ScanPrune.last]]) and result equality against the plain Scala
  * read path, on identity AND column-mapped (renamed) tables. */
class SnapshotRuntimePruneSpec extends SparkSpec {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_snapdpp_").toString
    Files.createDirectories(Paths.get(r, "lake"))
    // fact: 8 range-clustered files on `key` — stats prune ranges
    SnapshotLog.commit(spark, s"$r/lake/fact",
      spark.range(8000).repartitionByRange(8, col("id")).select(
        col("id").as("key"), (col("id") * 2).as("v")))
    // a renamed twin: same data, join column now logically `doc_key`
    SnapshotLog.commit(spark, s"$r/lake/mapped",
      spark.range(8000).repartitionByRange(8, col("id")).select(
        col("id").as("key"), (col("id") * 2).as("v")))
    SnapshotLog.renameColumn(s"$r/lake/mapped", "key", "doc_key")
    // dim: a parquet table (NOT a LocalRelation — constant folding
    // would swallow the Filter node DPP keys on): 40 rows, the "pick"
    // slice's keys all live inside ONE fact file's range
    spark.range(40).select(
      when(col("id") < 10, col("id") + 1200).otherwise(col("id") * 197)
        .as("d_key"),
      when(col("id") < 10, lit("pick")).otherwise(lit("other")).as("d_tag"))
      .coalesce(1).write.parquet(s"$r/dim")
    spark.conf.set("spark.sql.catalog.snapdpp", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.snapdpp.root", r)
    r
  }

  private def registered(): Unit = { root: Unit } // force fixture + catalog conf

  private lazy val dimPick = {
    registered()
    spark.read.parquet(s"$root/dim").filter(col("d_tag") === "pick")
  }

  test("a selective dim join runtime-prunes the fact's file list through the manifest stats") {
    registered()
    val fact = spark.table("snapdpp.lake.fact")
    val j = fact.join(dimPick, fact("key") === dimPick("d_key"))
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    // collect() executes j's OWN QueryExecution (head() would plan a
    // fresh limit-QueryExecution, and touching queryExecution afterwards
    // re-plans too — both overwrite ScanPrune.last with a fresh
    // planning-time decision), so: execute, read the hook, THEN explain
    val row = j.collect()(0)
    // runtime decision: the dim's 10 keys (1200..1209) live in one
    // range-clustered file (two if a sampled boundary splits them)
    val (t, kept, total) = ScanPrune.last.get
    // the dynamicpruning subquery must be ON the batch scan
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP subquery:\n$plan")
    assert(t.contains("fact"), t)
    assert(total == 8 && kept <= 2, s"runtime prune kept $kept/$total")
    // and the result is exactly the unpruned join
    val exp = SnapshotLog.read(spark, s"$root/lake/fact")
      .join(dimPick, col("key") === dimPick("d_key"))
      .agg(sum("v"), count(lit(1))).head()
    assert(row.getLong(0) == exp.getLong(0) && row.getLong(1) == exp.getLong(1))
    assert(row.getLong(1) == 10L)
  }

  test("a column-mapped (renamed) table runtime-prunes identically and matches the identity twin") {
    registered()
    val mapped = spark.table("snapdpp.lake.mapped")
    val jm = mapped.join(dimPick, mapped("doc_key") === dimPick("d_key"))
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    val rowM = jm.collect()(0)
    val (t, kept, total) = ScanPrune.last.get
    assert(jm.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "mapped table lost the DPP subquery")
    assert(t.contains("mapped"), t)
    assert(total == 8 && kept <= 2, s"runtime prune kept $kept/$total")
    // identity ≡ mapped: same aggregate from the renamed twin
    val fact = spark.table("snapdpp.lake.fact")
    val rowI = fact.join(dimPick, fact("key") === dimPick("d_key"))
      .agg(sum("v").as("sv"), count(lit(1)).as("n")).head()
    assert(rowM.getLong(0) == rowI.getLong(0) && rowM.getLong(1) == rowI.getLong(1))
  }

  test("runtime pruning composes with a planning-time predicate (static AND dynamic)") {
    registered()
    val fact = spark.table("snapdpp.lake.fact")
    // static: key < 4000 prunes the top half at planning; dynamic: the
    // dim keys then prune inside the bottom half at execution
    val j = fact.filter(col("key") < 4000)
      .join(dimPick, fact("key") === dimPick("d_key"))
      .agg(count(lit(1)).as("n"))
    val n = j.collect()(0).getLong(0)
    val (_, kept, total) = ScanPrune.last.get
    assert(n == 10L)
    assert(total == 8 && kept <= 2, s"kept $kept/$total")
  }

  test("an unselective dim (no filter) plants no runtime prune and stays correct") {
    registered()
    val fact = spark.table("snapdpp.lake.fact")
    val dim = spark.read.parquet(s"$root/dim") // unfiltered: DPP has no gain
    val j = fact.join(dim, fact("key") === dim("d_key"))
      .agg(count(lit(1)).as("n"))
    val n = j.head().getLong(0)
    assert(!j.queryExecution.executedPlan.toString.contains("dynamicpruning"))
    val exp = SnapshotLog.read(spark, s"$root/lake/fact")
      .join(dim, col("key") === dim("d_key")).count()
    assert(n == exp)
  }

  test("an EMPTY dim side prunes to ZERO files — the values-less runtime IN is false") {
    // the dim's filter matches nothing, so the materialized runtime IN
    // arrives with a ref and no values: `x IN ()` is false, the join
    // provably returns no rows, and the best possible prune keeps
    // nothing. Under default AQE the case is unreachable —
    // AQEPropagateEmptyRelation collapses the whole join when the
    // build side materializes empty, so the fact scan never executes;
    // exclude that rule to force the runtime filter to actually fire
    // (the translation still matters for plan shapes empty-propagation
    // cannot collapse). Read the decision from the KEYED map (the
    // gate's concurrency-safe slot) to pin both the new translation
    // and the new observability surface at once.
    registered()
    val exclKey = "spark.sql.adaptive.optimizer.excludedRules"
    val prev = spark.conf.getOption(exclKey)
    spark.conf.set(exclKey,
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    try {
      ScanPrune.decisions.clear()
      val fact = spark.table("snapdpp.lake.fact")
      val dimEmpty = spark.read.parquet(s"$root/dim")
        .filter(col("d_tag") === "nosuch")
      val j = fact.join(dimEmpty, fact("key") === dimEmpty("d_key"))
        .agg(count(lit(1)).as("n"))
      val n = j.collect()(0).getLong(0)
      assert(n == 0L)
      val d = ScanPrune.decisions.collectFirst {
        case (tn, dd) if tn.contains(".fact@") => dd }
      assert(d.contains((0, 8)), s"empty dim did not prune to zero files: $d")
    } finally prev match {
      case Some(v) => spark.conf.set(exclKey, v)
      case None => spark.conf.unset(exclKey)
    }
  }

  test("the runtime IN reaches parquet ROW-GROUP skipping inside kept files") {
    // the file-level prune is pinned above; this pins the layer below:
    // BatchScanExec derives its reader factory lazily from a batch it
    // may cache during planning, and only the delegating-batch +
    // columnarSupportMode arrangement (PrunedSnapshotScan) defers the
    // factory past filter() so the runtime IN lands in the reader's
    // pushed filters. Measured in NOTES_r15.md §1 (262144 → 5040 rows
    // without/with); pinned here at spec scale: one file,
    // many tight row groups, so file pruning CANNOT explain a low
    // scan-output metric — only row-group skipping can.
    registered()
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try {
      SnapshotLog.commit(spark, s"$root/lake/rg",
        spark.range(64000).repartition(1).sortWithinPartitions("id")
          .select(col("id").as("key"),
            md5(col("id").cast("string")).as("pay"),
            (col("id") * 3).as("v")))
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
    val fact = spark.table("snapdpp.lake.rg")
    // dimPick's keys 1200..1209 sit inside one row group of the single
    // 64k-row file
    val j = fact.join(dimPick, fact("key") === dimPick("d_key"))
      .agg(count(lit(1)).as("n"))
    assert(j.collect()(0).getLong(0) == 10L)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scansIn(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec => scansIn(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => (other.children ++ other.subqueries).flatMap(scansIn)
    }
    val scan = scansIn(j.queryExecution.executedPlan)
      .find(_.scan.description().contains("lake/rg"))
      .getOrElse(fail("no rg fact scan in executed plan"))
    val out = scan.metrics("numOutputRows").value
    // one kept row group of a ~16-group file: far under half the table
    assert(out > 0 && out < 32000,
      s"runtime IN did not row-group-skip: scan emitted $out of 64000")
  }

  test("a runtime filter on a stats-blind column degrades to keep-all, never a wrong result") {
    // join on v — also clustered here, so prune COULD fire; the
    // degradation case is the mapped table's untouched-stats guarantee:
    // join instead on a key the dim misses entirely
    registered()
    val fact = spark.table("snapdpp.lake.fact")
    val dimMiss = spark.read.parquet(s"$root/dim")
      .filter(col("d_tag") === "nosuch")
    val j = fact.join(dimMiss, fact("key") === dimMiss("d_key"))
      .agg(count(lit(1)).as("n"))
    assert(j.head().getLong(0) == 0L)
  }
}
