package graft

/** Ad-hoc single-query timing probe: run named catalog queries in
  * isolation in a [[GraftSession]] session, as Bench runs them. The
  * isolated reading is the trustworthy one for queries whose
  * full-bench medians swing with run ordering (see NOTES_r4 on the
  * Jaccard twins); this replaces the throwaway probe mains previous
  * rounds kept re-writing.
  *
  *   sbt "runMain graft.Probe bm25_topk corpus_curation"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  * the core count, see [[GraftSession]]), SPARK_GRAFT_BENCH_REPS
  * (default 4).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe <queryName>...")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "4").toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$dir/lineitem.parquet").count() // warmup, as Bench
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[probe] unknown query: $name")
        case Some(q) =>
          val samples = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            // noop = Bench's action (full materialization of every
            // column); count() lets Catalyst prune terminal projections
            // and entire unused aggregate expressions (e.g. the rebuild
            // md5 of dedup_paragraph_rebuild), so a count-probe of a
            // map- or agg-projection-heavy query times the wrong plan.
            if (sys.env.get("SPARK_GRAFT_PROBE_ACTION").contains("count"))
              q(spark, dir).count(): Unit
            else q(spark, dir).write.mode("overwrite").format("noop").save()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            dt
          }
          println(f"[probe] $name: ${samples.map(s => f"$s%.3f").mkString(" ")} s")
      }
    }
    spark.stop()
  }
}
