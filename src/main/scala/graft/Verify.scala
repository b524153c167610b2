package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — dump (and list
    // in oracle_sql.json, which selfcheck iterates) only those, for
    // fast single-entry iteration; the driver always passes two args
    val onlyNames: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail loudly on a typo'd name: a silent empty filter would write an
    // empty oracle_sql.json and selfcheck would pass VACUOUSLY — a green
    // gate for a query that never ran
    onlyNames.foreach { ns =>
      val unknown = ns.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    def wanted(name: String): Boolean = onlyNames.forall(_.contains(name))
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache() // queries may persist() internals
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // two oracles read the generated §A4 CSV by path: make sure DuckDB
    // finds it even when the entries that write it failed above
    Fixtures.seqCsv
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
