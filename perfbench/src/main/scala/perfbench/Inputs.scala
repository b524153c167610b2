package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every byte written is a pure function of the
  * seed, the sizes and the target paths, so one seed gives the same files
  * on every run; the program under test sees only these files. */
object Inputs {

  /** SplitMix64: a tiny, stateless-per-value generator whose stream is
    * fixed by its seed on every JVM. */
  final class SplitMix(seed: Long) {
    private var state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** Uniform over [0, n). */
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  }

  /** The `seq_dml` bulk-ingest CSV. `over3000` is `count(name > 3000)`,
    * which the paper's invariants must reproduce after the DMLs. */
  final case class SeqCsv(path: Path, rows: Int, over3000: Long)

  /** FIXTURES.md §A4 generalised to `rows` rows: header `id,name`, ids
    * 1..rows in order, names uniform over [0, 100000]. Java's gzip header
    * carries no timestamp, so the compressed bytes are deterministic too. */
  def writeSeqCsv(path: Path, rows: Int, seed: Long): SeqCsv = {
    val rng = new SplitMix(seed)
    var over = 0L
    val out = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(path), 1 << 16), UTF_8), 1 << 16)
    try {
      out.write("id,name\n")
      var id = 1
      while (id <= rows) {
        val name = rng.below(100001)
        if (name > 3000) over += 1
        out.write(Integer.toString(id)); out.write(','); out.write(Integer.toString(name)); out.write('\n')
        id += 1
      }
    } finally out.close()
    SeqCsv(path, rows, over)
  }

  /** The paper's migration set over `csv`: V1 creates the table, V2 bulk
    * loads the CSV, V3 is the five dependent DMLs of
    * tests/migrations_seq/V1_sequential_dmls.json. */
  def writeSeqMigrations(dir: Path, db: String, csv: Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("V1__create_sample.sql"),
      s"CREATE TABLE $db.sample(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple() ORDER BY tuple()")
    Files.writeString(dir.resolve("V2__load_sample.sql"),
      s"INSERT INTO $db.sample FROM INFILE '${csv.toAbsolutePath}' FORMAT CSVWithNames")
    Files.writeString(dir.resolve("V3__sequential_dmls.json"),
      Seq(
        s"ALTER TABLE $db.sample ADD COLUMN enabled UInt32 DEFAULT 1",
        s"ALTER TABLE $db.sample ADD COLUMN guard UInt32 DEFAULT -1",
        s"ALTER TABLE $db.sample UPDATE enabled=0 WHERE name > 3000",
        s"ALTER TABLE $db.sample UPDATE guard=0 WHERE enabled = 0",
        s"ALTER TABLE $db.sample UPDATE guard=1 WHERE enabled = 1")
        .map(s => "\"" + s + "\"").mkString("[", ",\n", "]\n"))
  }

  /** What `many_versions` leaves in its table: `rows` rows whose
    * `sum(id * 100003 + qty)` is `checksum`. */
  final case class Versions(versions: Int, rows: Int, checksum: Long)

  /** `versions` migration files: V1 creates `db.items`, and each of
    * V2..V`versions` inserts one seeded row through `FORMAT Values`. */
  def writeManyVersions(dir: Path, db: String, versions: Int, seed: Long): Versions = {
    Files.createDirectories(dir)
    val rng = new SplitMix(seed)
    Files.writeString(dir.resolve("V1__create_items.sql"),
      s"CREATE TABLE $db.items(id UInt32, qty UInt32, label String) ENGINE MergeTree ORDER BY tuple()")
    var checksum = 0L
    for (v <- 2 to versions) {
      val qty = rng.below(1000)
      val label = Words(rng.below(Words.length))
      checksum += v.toLong * 100003L + qty
      Files.writeString(dir.resolve(f"V${v}__add_item_$v%03d.sql"),
        s"INSERT INTO $db.items FORMAT Values ($v, $qty, '$label')")
    }
    Versions(versions, versions - 1, checksum)
  }

  /** The document vocabulary of the repository's test data (plus the
    * near-dup marker below). */
  val Words: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Row counts of the catalog fixture at scale factor `sf`, following the
    * repository's TPC-H-ish test data (sf0.1: 600k lineitem rows). */
  final case class CatalogSizes(sf: Double) {
    private def n(perSf: Double, min: Int): Int = math.max(min, math.round(perSf * sf).toInt)
    val customer: Int = n(150000, 50)
    val supplier: Int = n(10000, 10)
    val part: Int = n(200000, 100)
    val orders: Int = n(1500000, 500)
    val lineitem: Int = n(6000000, 2000)
    val events: Int = n(1000000, 1000)
    val users: Int = n(15000, 50)
    val documents: Int = n(50000, 500)
    val embeddings: Int = n(20000, 500)
  }

  /** The ten tables `SparkEntry.queries` reads, with the schemas of the
    * repository's test data (FIXTURES.md §B), each written as one parquet
    * file under `dir` like that data. Values are hashes of (seed, column,
    * row). */
  def writeCatalog(spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    val z = CatalogSizes(sf)
    def h(salt: Int, cols: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cols): _*)
    def ri(salt: Int, n: Int, key: Column = col("id")): Column = pmod(h(salt, key), lit(n.toLong))
    def u(salt: Int, key: Column = col("id")): Column = pmod(h(salt, key), lit(1000000L)) / 1e6
    def pick(salt: Int, values: Seq[String], key: Column = col("id")): Column =
      element_at(typedLit(values), (ri(salt, values.length, key) + 1).cast("int"))
    def money(salt: Int, lo: Double, span: Double): Column = round(lit(lo) + u(salt) * span, 2)
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), ri(salt, days).cast("int")).cast("timestamp")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def range(n: Int): DataFrame = spark.range(0, n.toLong, 1, 1).toDF()

    write("region", spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (name, k) => (k, name) }).toDF("r_regionkey", "r_name"))
    write("nation", spark.createDataFrame((0 until 25).map(k => (k, s"NATION_$k", k % 5)))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", range(z.customer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ri(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.85, 10999.65).as("c_acctbal"),
      pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")).as("c_mktsegment")))
    write("supplier", range(z.supplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ri(4, 25).cast("int").as("s_nationkey"),
      money(5, -999.85, 10999.65).as("s_acctbal")))
    write("part", range(z.part).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("red", "blue", "small", "large", "hot", "cold", "new")),
        pick(7, Seq("bolt", "ring", "widget", "anvil", "rod", "plate", "gear"))).as("p_name"),
      concat(lit("Brand#"), (ri(8, 25) + 1).cast("string")).as("p_brand"),
      pick(9, Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (ri(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")))
    write("orders", range(z.orders).select(
      col("id").as("o_orderkey"),
      ri(11, z.customer).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 499000.0).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    write("lineitem", range(z.lineitem).select(
      ri(16, z.orders).as("l_orderkey"),
      ri(17, z.part).as("l_partkey"),
      ri(18, z.supplier).as("l_suppkey"),
      (ri(19, 7) + 1).cast("int").as("l_linenumber"),
      (ri(20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 900.0, 104100.0).as("l_extendedprice"),
      (ri(22, 11) / 100.0).as("l_discount"),
      (ri(23, 9) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2498).as("l_shipdate")))
    val month = 30L * 24 * 3600 * 1000000L
    write("events", range(z.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * (month / z.events) +
        pmod(h(27, col("id")), lit(month / z.events))).as("ts"),
      ri(28, z.users).as("user_id"),
      pick(29, Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
      money(30, 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", ri(31, 100)).as("props")))
    // every 20th document is its predecessor plus one marker token, so the
    // dedup queries have near-duplicates to find
    val src = when(pmod(col("id"), lit(20L)) === 19, col("id") - 1).otherwise(col("id"))
    val tokens = transform(sequence(lit(1), (ri(32, 91, src) + 10).cast("int")),
      i => element_at(typedLit(Words.toSeq), (pmod(h(33, src, i), lit(Words.length.toLong)) + 1).cast("int")))
    val text = concat_ws(" ", tokens)
    write("documents", range(z.documents).select(
      col("id").as("doc_id"),
      when(src =!= col("id"), concat(text, lit(" dup"))).otherwise(text).as("text"),
      element_at(typedLit(Seq("en", "en", "en", "zh", "es", "fr", "de")),
        (ri(34, 7) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // ten labelled clusters on the unit sphere
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (pmod(h(35, col("label"), i), lit(2000001L)) - 1000000L) / 1e6 +
        (pmod(h(36, col("id"), i), lit(2000001L)) - 1000000L) / 2e6)
    write("embeddings", range(z.embeddings)
      .withColumn("label", ri(37, 10).cast("int"))
      .withColumn("raw", raw)
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label")))
  }
}
