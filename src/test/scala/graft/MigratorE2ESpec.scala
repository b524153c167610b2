package graft

import java.nio.file.{Files, Paths}

import graft.migrator.{MigrationScan, Migrator, Observability, Statements}

/** End-to-end migrate() tests mirroring the reference's integration suite
  * (reference: tests/test_clickhouse_migration.py:62-138): single-.sql
  * dir, mixed .sql/.json dir, and the sequential-DML golden-count pair.
  */
class MigratorE2ESpec extends SparkSpec {

  private def stage(dir: String, files: (String, String)*): String = {
    val home = s"$scratch/$dir"
    Files.createDirectories(Paths.get(home))
    files.foreach { case (name, text) =>
      Files.writeString(Paths.get(s"$home/$name"), text)
    }
    home
  }

  private val createSample =
    "CREATE TABLE pytest.sample(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple()\nORDER BY tuple()"

  // reference tests:62-73 — single .sql migration creates one table
  test("migrate applies a single sql migration") {
    val home = stage("m1", "V1__create_test.sql" -> createSample)
    Migrator.migrate(spark, "pytest", home, s"$scratch/ledger1")
    val tables = spark.sql("SHOW TABLES IN pytest").collect().map(_.getString(1))
    assert(tables.contains("sample"))
    // re-run is a no-op (reference tests:27-30 semantics through migrate())
    Migrator.migrate(spark, "pytest", home, s"$scratch/ledger1")
    assert(spark.read.parquet(s"$scratch/ledger1").count() == 1)
    spark.sql("DROP TABLE pytest.sample")
  }

  // reference tests:75-89 — mixed .sql + multi-statement .json, array order
  test("migrate applies mixed sql and json migrations in order") {
    val home = stage("m2",
      "V1__create_test.sql" -> createSample,
      "V2_create_multiple_tables.json" ->
        """["CREATE TABLE pytest.sample1(id UInt32, name String) ENGINE MergeTree",
           |"CREATE TABLE pytest.sample2(id UInt32, name String) ENGINE MergeTree",
           |"CREATE TABLE pytest.sample3(id UInt32, name String) ENGINE MergeTree"]""".stripMargin)
    Migrator.migrate(spark, "pytest", home, s"$scratch/ledger2")
    val tables = spark.sql("SHOW TABLES IN pytest").collect().map(_.getString(1)).toSet
    assert(Set("sample", "sample1", "sample2", "sample3").subsetOf(tables))
    assert(spark.read.parquet(s"$scratch/ledger2").count() == 2)
    Seq("sample", "sample1", "sample2", "sample3")
      .foreach(t => spark.sql(s"DROP TABLE pytest.$t"))
  }

  // reference tests:91-118 — the golden-count sequential-consistency test:
  // dependent UPDATEs must observe each other's completed writes.
  test("sequential DMLs observe prior updates (queue_exec semantics)") {
    val home = stage("m3",
      "V1__create_test.sql" -> createSample,
      "V2_seq_dmls.json" ->
        """["ALTER TABLE pytest.sample ADD COLUMN enabled UInt32 DEFAULT 1",
           |"ALTER TABLE pytest.sample ADD COLUMN guard UInt32 DEFAULT -1",
           |"ALTER TABLE pytest.sample UPDATE enabled=0 WHERE name > 3000",
           |"ALTER TABLE pytest.sample UPDATE guard=0 WHERE enabled = 0",
           |"ALTER TABLE pytest.sample UPDATE guard=1 WHERE enabled = 1"]""".stripMargin)
    // apply V1, load 100k-ish rows (deterministic), then apply V2
    val ledger = s"$scratch/ledger3"
    Files.writeString(Paths.get(s"$home/V2_seq_dmls.json.hold"), "")
    val v2 = Paths.get(s"$home/V2_seq_dmls.json")
    val v2Text = Files.readString(v2)
    Files.delete(v2)
    Migrator.migrate(spark, "pytest", home, ledger)
    spark.sql(
      """INSERT INTO pytest.sample
         SELECT id, CAST(id * 37 % 7000 AS INT)
         FROM (SELECT explode(sequence(1, 20000)) AS id)""")
    Files.writeString(v2, v2Text)
    Migrator.migrate(spark, "pytest", home, ledger)

    val r = spark.sql(
      """SELECT count(*), count(CASE WHEN name > 3000 THEN 1 END),
         count(CASE WHEN enabled = 0 THEN 1 END),
         count(CASE WHEN guard = 0 THEN 1 END),
         count(CASE WHEN guard = 1 THEN 1 END),
         count(CASE WHEN guard = -1 THEN 1 END)
         FROM pytest.sample""").collect()(0)
    val (total, gt3000, enabled0, guard0, guard1, guardNeg) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(total == 20000L)
    assert(gt3000 == enabled0) // first UPDATE applied
    assert(guard0 == enabled0) // second UPDATE observed the first
    assert(guard1 == total - guard0) // third UPDATE observed the first two
    assert(guardNeg == 0L) // default sentinel fully overwritten
    spark.sql("DROP TABLE pytest.sample")
  }

  // the reference's real-world migration shape: a dir whose .json mixes
  // DDL with the FORMAT CSVWithNames bulk ingest the reference drives
  // through `gunzip | clickhouse-client` (reference tests:101), then
  // dependent DMLs over the ingested rows — golden counts preserved.
  test("migration file with INSERT…FORMAT CSVWithNames ingest keeps golden counts") {
    val home = stage("m_ingest",
      "V1__create_test.sql" ->
        "CREATE TABLE pytest.ingested(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple() ORDER BY tuple()",
      "V2_ingest_and_flag.json" ->
        s"""["INSERT INTO pytest.ingested FROM INFILE '${Fixtures.seqCsv}' FORMAT CSVWithNames",
           |"ALTER TABLE pytest.ingested ADD COLUMN enabled UInt32 DEFAULT 1",
           |"ALTER TABLE pytest.ingested UPDATE enabled=0 WHERE name > 3000"]""".stripMargin)
    Migrator.migrate(spark, "pytest", home, s"$scratch/ledger_ingest")
    val r = spark.sql(
      """SELECT count(*), count(CASE WHEN name > 3000 THEN 1 END),
               count(CASE WHEN enabled = 0 THEN 1 END)
         FROM pytest.ingested""").collect()(0)
    assert(r.getLong(0) == 100000L, s"total ${r.getLong(0)}")
    assert(r.getLong(1) == r.getLong(2), s"gt3000 ${r.getLong(1)} vs enabled0 ${r.getLong(2)}")
    assert(spark.read.parquet(s"$scratch/ledger_ingest").count() == 2)
    spark.sql("DROP TABLE pytest.ingested")
  }

  test("scan parses both V1__x and V2_y filename forms") {
    val home = stage("m4",
      "V1__double_underscore.sql" -> "SELECT 1",
      "V2_single_underscore.json" -> "[\"SELECT 1\"]",
      "V10_ten.sql" -> "SELECT 1",
      "README.md" -> "not a migration")
    val ms = MigrationScan.scan(spark, home).collect().sortBy(_.version)
    assert(ms.map(_.version).toSeq == Seq(1, 2, 10))
    // md5 matches java MessageDigest of file bytes — cross-checked by the
    // distributed variant below
    val dist = MigrationScan.scanDistributed(spark, home)
      .collect().map(r => (r.getAs[Int]("version"), r.getAs[String]("md5")))
      .sortBy(_._1)
    assert(dist.map(_._1).toSeq == Seq(1, 2, 10))
    assert(dist.map(_._2).toSeq == ms.map(_.md5).toSeq)
  }

  test("ClickHouse type mapping") {
    assert(Statements.mapType("UInt32") == "INT")
    assert(Statements.mapType("UInt64") == "BIGINT")
    assert(Statements.mapType("String") == "STRING")
    assert(Statements.mapType("DateTime") == "TIMESTAMP")
    assert(Statements.mapType("Float64") == "DOUBLE")
  }

  // the at-least-once nit pinned deliberately (Apply.executeWithDeadline
  // scaladoc): a statement that breaches the deadline has already been
  // applied, but its version must NOT be ledgered — a rerun re-applies it
  test("timed-out statement is applied but its version is not ledgered") {
    val home = stage("m6",
      "V1__slow.sql" -> "CREATE TABLE pytest.t6(id UInt32) ENGINE MergeTree")
    val ledger = s"$scratch/ledger6"
    val ex = intercept[RuntimeException] {
      Migrator.migrate(spark, "pytest", home, ledger, timeoutSec = 0L)
    }
    assert(ex.getMessage.startsWith("Transaction Timeout"))
    // applied (at-least-once), but unrecorded — the rerun's concern
    assert(spark.catalog.tableExists("pytest.t6"))
    assert(spark.read.parquet(ledger).count() == 0)
    spark.sql("DROP TABLE pytest.t6")
  }

  test("metrics listener fires per applied statement with rows/time") {
    val home = stage("m7",
      "V1__create.sql" -> "CREATE TABLE pytest.t7(id UInt32, name String) ENGINE MergeTree",
      "V2_fill.json" ->
        """["INSERT INTO pytest.t7 SELECT id, concat('n', id) FROM (SELECT explode(sequence(1, 100)) AS id)",
           |"ALTER TABLE pytest.t7 UPDATE name='x' WHERE id > 90"]""".stripMargin)
    val listener = new Observability.MigrationListener
    Migrator.migrate(spark, "pytest", home, s"$scratch/ledger7", listener = Some(listener))
    val entries = listener.entries // apply drains the bus: already complete
    // 3 statements + 2 ledger appends, each >= 1 query execution
    assert(entries.size >= 5, s"only ${entries.size} events: $entries")
    assert(entries.forall(e => e.durationNs >= 0 && !e.failed))
    // the bulk insert surfaces its row count under its own statement label
    assert(entries.exists(e =>
      e.label.contains("INSERT INTO pytest.t7") && e.rows.contains(100L)),
      entries.toString)
    // the masked UPDATE and the ledger appends are attributed too
    assert(entries.exists(_.label.contains("UPDATE name=")))
    assert(entries.exists(_.label.startsWith("ledger:")))
    // once apply returns the listener is unregistered: no further events
    val n = entries.size
    spark.sql("SELECT count(*) FROM pytest.t7").collect()
    Thread.sleep(300)
    assert(listener.entries.size == n)
    spark.sql("DROP TABLE pytest.t7")
  }

  test("listener records the failing statement's onFailure before unregistering") {
    // raise_error fires at EXECUTION time (not parse), so a real
    // onFailure event lands on the async listener bus; the finally
    // block must drain before unregistering or the event — the one the
    // observability surface most needs — is silently dropped
    val home = stage("m8",
      "V1__create.sql" -> "CREATE TABLE pytest.t8(id UInt32) ENGINE MergeTree",
      "V2__boom.sql" ->
        "INSERT INTO pytest.t8 SELECT CAST(raise_error('mid-flight failure') AS INT)")
    val listener = new Observability.MigrationListener
    intercept[Exception] {
      Migrator.migrate(spark, "pytest", home, s"$scratch/ledger8", listener = Some(listener))
    }
    val entries = listener.entries
    assert(entries.exists(e => e.failed && e.label.contains("raise_error")),
      s"failure event missing from: $entries")
    assert(spark.read.parquet(s"$scratch/ledger8").collect()
      .map(_.getAs[Int]("version")).toSeq == Seq(1))
    spark.sql("DROP TABLE pytest.t8")
  }

  test("mid-sequence failure stops later versions and is not committed") {
    val home = stage("m5",
      "V1__ok.sql" -> "CREATE TABLE pytest.t5(id UInt32) ENGINE MergeTree",
      "V2__bad.sql" -> "THIS IS NOT SQL AT ALL",
      "V3__never.sql" -> "CREATE TABLE pytest.t5b(id UInt32) ENGINE MergeTree")
    val ledger = s"$scratch/ledger5"
    intercept[Exception] {
      Migrator.migrate(spark, "pytest", home, ledger)
    }
    // V1 committed, V2 failed and not committed, V3 never ran
    val versions = spark.read.parquet(ledger).collect().map(_.getAs[Int]("version")).sorted
    assert(versions.toSeq == Seq(1))
    val tables = spark.sql("SHOW TABLES IN pytest").collect().map(_.getString(1)).toSet
    assert(tables.contains("t5") && !tables.contains("t5b"))
  }
}
