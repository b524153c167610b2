package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** End-to-end training-data curation walkthrough over the documents
  * corpus — the library's LLM-pipeline surface composed the way a real
  * job runs it:
  *
  *   1. near-dup clustering (MinHash+LSH → verified pairs → connected
  *      components) and quality-aware representative election;
  *   2. per-document quality / language gates;
  *   3. keep-verdict join: a document survives if it passes the gates
  *      AND is its near-dup cluster's elected representative (or is
  *      unclustered);
  *   4. deterministic content-hash subsample of the kept set;
  *   5. curated parquet write + a one-line audit report.
  *
  * Usage: runMain graft.examples.CurationDemo /tmp/curation_out [sfDir]
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_curation")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder().appName("CurationDemo").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = docs.count()

    // 1. near-dup clusters + best-quality representative per cluster
    val best = graft.ops.TextOps.corpusCurationBest(spark, sfDir)
      .select(col("cluster"), col("best_doc"))
    val clustered = graft.ops.DedupOps.dedupClusterReps(spark, sfDir)
      .select(col("doc_id"), col("cluster_rep").as("cluster"))

    // 2./3. gates + keep verdict: pass gates AND (unclustered OR the
    // cluster's elected best member)
    val gated = graft.ops.TextOps.corpusCuration(spark, sfDir)
      .select("doc_id", "pred_lang", "n_tokens", "stop_ratio", "len_ok")
    val kept = gated
      .join(clustered, Seq("doc_id"), "left")
      .join(best, Seq("cluster"), "left")
      .withColumn("near_dup_drop",
        col("cluster").isNotNull && col("doc_id") =!= col("best_doc"))
      .filter(col("len_ok") === 1 && col("pred_lang") =!= "und"
        && col("stop_ratio") <= 0.5 && !col("near_dup_drop"))
      .select("doc_id", "pred_lang", "n_tokens")

    // 4. 10% deterministic content-hash sample of the kept set
    val sample = kept.join(
      graft.ops.TextOps.corpusSample(10)(spark, sfDir).select("doc_id"),
      Seq("doc_id"), "left_semi")

    // 5. write + report
    kept.join(docs, Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/curated")
    sample.write.mode("overwrite").parquet(s"$outDir/sample")
    val nKept = spark.read.parquet(s"$outDir/curated").count()
    val nSample = spark.read.parquet(s"$outDir/sample").count()
    val nClustered = clustered.count()
    println(s"CURATION: total=$total clustered=$nClustered kept=$nKept " +
      s"(${"%.1f".format(100.0 * nKept / total)}%) sample10=$nSample -> $outDir")
    require(nKept > 0 && nKept < total, "curation must drop something and keep something")
    spark.stop()
  }
}
