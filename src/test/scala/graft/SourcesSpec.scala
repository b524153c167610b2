package graft

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet: gzip CSV (the reference's
  * bulk-ingest path), JSON, ORC, and partitioned parquet writes with
  * partition pruning visible in the plan.
  */
class SourcesSpec extends SparkSpec {

  test("gzip CSV ingest matches the reference workload invariants") {
    // reference: tests/test_clickhouse_migration.py:101 — gunzip | bulk
    // insert of 100k rows with header id,name
    val df = spark.read.option("header", "true").schema("id INT, name INT")
      .csv(Fixtures.seqCsv)
    assert(df.count() == 100000L)
    assert(df.filter(col("id").isNull || col("name").isNull).count() == 0)
  }

  test("the seq CSV generator is a pure function of (rows, seed) and counts name > 3000") {
    val a = java.nio.file.Paths.get(s"$scratch/seq_a.csv.gz")
    val b = java.nio.file.Paths.get(s"$scratch/seq_b.csv.gz")
    val over = Fixtures.writeSeqCsv(a, 2000, 3L)
    assert(Fixtures.writeSeqCsv(b, 2000, 3L) == over)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(a), java.nio.file.Files.readAllBytes(b)))
    val df = spark.read.option("header", "true").schema("id INT, name INT")
      .csv(a.toString)
    assert(df.count() == 2000L)
    assert(df.filter(col("name") > 3000).count() == over)
    assert(df.agg(min("name"), max("name")).head().toSeq
      .forall(v => (0 to 100000).contains(v.asInstanceOf[Int])))
  }

  test("json and orc roundtrips preserve rows and schema") {
    val src = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    src.write.mode("overwrite").json(s"$scratch/c_json")
    src.write.mode("overwrite").orc(s"$scratch/c_orc")
    val j = spark.read.schema(src.schema).json(s"$scratch/c_json")
    val o = spark.read.orc(s"$scratch/c_orc")
    assert(j.count() == src.count() && o.count() == src.count())
    assert(o.schema == src.schema)
    // exact content parity through ORC
    assert(o.except(src).isEmpty && src.except(o).isEmpty)
  }

  test("partitioned parquet write enables partition pruning") {
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .write.mode("overwrite").partitionBy("l_returnflag")
      .parquet(s"$scratch/li_part")
    val pruned = spark.read.parquet(s"$scratch/li_part")
      .filter(col("l_returnflag") === "R")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"expected partition filter in scan:\n$scan")
    val expected = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_returnflag") === "R").count()
    assert(pruned.count() == expected)
  }
}
