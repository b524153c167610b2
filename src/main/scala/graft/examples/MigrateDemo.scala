package graft.examples

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.GraftSession
import graft.migrator.{Migrator, Observability}

/** End-to-end demo of the public API: runs the reference's own fixture
  * migrations (CREATE TABLE dialect + JSON multi-statement + dependent
  * ALTER UPDATEs) against a scratch warehouse, twice (second run must be
  * a no-op), then demonstrates the tamper guard.
  *
  * Usage: runMain graft.examples.MigrateDemo <scratchDir>
  */
object MigrateDemo {
  def main(args: Array[String]): Unit = {
    val scratch = args.headOption.getOrElse("/tmp/graft_demo")
    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage migration fixtures: V1 creates pytest.sample, V2 (json) adds 3 tables
    val home = s"$scratch/migrations"
    Files.createDirectories(Paths.get(home))
    Files.writeString(Paths.get(s"$home/V1__create_test.sql"),
      "CREATE TABLE pytest.sample(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple() ORDER BY tuple()")
    Files.writeString(Paths.get(s"$home/V2_more_tables.json"),
      """["CREATE TABLE pytest.sample1(id UInt32, name String) ENGINE MergeTree",
         |"CREATE TABLE pytest.sample2(id UInt32, name String) ENGINE MergeTree"]""".stripMargin)

    val ledger = s"$scratch/ledger"
    Migrator.migrate(spark, "pytest", home, ledger)
    println("TABLES after run1: " + spark.sql("SHOW TABLES IN pytest").collect().map(_.getString(1)).sorted.mkString(","))

    // seed data, then a V3 with dependent sequential UPDATEs (the
    // reference's migrations_seq semantics)
    spark.sql("INSERT INTO pytest.sample SELECT id, CAST(id * 37 % 7000 AS INT) FROM (SELECT explode(sequence(1, 10000)) AS id)")
    Files.writeString(Paths.get(s"$home/V3_seq_dmls.json"),
      """["ALTER TABLE pytest.sample ADD COLUMN enabled UInt32 DEFAULT 1",
         |"ALTER TABLE pytest.sample ADD COLUMN guard UInt32 DEFAULT -1",
         |"ALTER TABLE pytest.sample UPDATE enabled=0 WHERE name > 3000",
         |"ALTER TABLE pytest.sample UPDATE guard=0 WHERE enabled = 0",
         |"ALTER TABLE pytest.sample UPDATE guard=1 WHERE enabled = 1"]""".stripMargin)
    // per-statement observability — the analog of the reference's
    // mutation monitoring: rows/bytes/time per executed statement
    val listener = new Observability.MigrationListener
    Migrator.migrate(spark, "pytest", home, ledger, listener = Some(listener))
    listener.entries.map(_.label).distinct.foreach { label =>
      val es = listener.entries.filter(_.label == label)
      val ms = es.map(_.durationNs).sum / 1e6
      val rows = es.flatMap(_.rows).maxOption.getOrElse(-1L)
      println(f"METRIC: $ms%8.1f ms  ${es.size}%d execs  rows=$rows%-6d " +
        label.replaceAll("\\s+", " ").take(60))
    }
    val counts = spark.sql(
      """SELECT count(*) AS total,
         count(CASE WHEN name > 3000 THEN 1 END) AS gt3000,
         count(CASE WHEN enabled = 0 THEN 1 END) AS enabled0,
         count(CASE WHEN guard = 0 THEN 1 END) AS guard0,
         count(CASE WHEN guard = 1 THEN 1 END) AS guard1,
         count(CASE WHEN guard = -1 THEN 1 END) AS guardneg
         FROM pytest.sample""").collect()(0)
    println(s"SEQ-CONSISTENCY: $counts (expect gt3000 == enabled0 == guard0, guard1 = total - guard0, guardneg = 0)")

    // idempotence: third run applies nothing
    Migrator.migrate(spark, "pytest", home, ledger)
    println("LEDGER: " + spark.read.parquet(ledger).orderBy("version")
      .collect().map(r => s"v${r.get(0)}").mkString(","))

    // tamper guard: editing an applied migration must raise
    Files.writeString(Paths.get(s"$home/V1__create_test.sql"),
      "CREATE TABLE pytest.sample(id UInt32, name UInt32) ENGINE MergeTree -- edited")
    try {
      Migrator.migrate(spark, "pytest", home, ledger)
      println("TAMPER: NOT DETECTED (BUG)")
    } catch {
      case e: AssertionError => println("TAMPER GUARD OK: " + e.getMessage)
    }

    // missing-migration guard
    Files.writeString(Paths.get(s"$home/V1__create_test.sql"),
      "CREATE TABLE pytest.sample(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple() ORDER BY tuple()")
    Files.delete(Paths.get(s"$home/V2_more_tables.json"))
    try {
      Migrator.migrate(spark, "pytest", home, ledger)
      println("MISSING: NOT DETECTED (BUG)")
    } catch {
      case e: AssertionError => println("MISSING GUARD OK: " + e.getMessage)
    }
    spark.stop()
  }
}
