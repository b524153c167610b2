package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** The curation pipeline driven END-TO-END by the `graft-docs`
  * generator at a size the checked-in testdata never reaches — the
  * workflow a library user runs to soak-test a curation job before
  * pointing it at a real corpus:
  *
  *   1. generate an N-doc corpus (planted near-dups every 10th doc,
  *      language markers on) and land it testdata-shaped;
  *   2. near-dup clustering (MinHash+LSH → verified pairs → connected
  *      components) + quality/language gates → keep verdicts;
  *   3. curated write + one summary line with wall-clock and docs/sec.
  *
  * The kept fraction is structurally predictable: ~10% of docs are
  * planted dups (dropped unless elected representative), the es/zh
  * slice (~40%) classifies `und` and is dropped by the language gate —
  * the require() bounds encode that shape, so the demo doubles as an
  * at-scale sanity check of the whole dedup+gate stack on a corpus
  * with KNOWN ground truth.
  *
  * Usage: runMain graft.examples.GenScaleDemo /tmp/graft_genscale [nDocs]
  */
object GenScaleDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_genscale")
    val n = args.lift(1).map(_.toLong).getOrElse(100000L)
    val spark = GraftSession.builder().appName("GenScaleDemo").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()

    // 1. generate + land the corpus (vocab ∝ N keeps per-token df
    // constant — see GenCorpus; markers make the language gates real)
    val corpusDir = s"$outDir/corpus"
    spark.read.format("graft-docs")
      .option("n", n).option("partitions", 32).option("dupEvery", 10)
      .option("vocab", math.max(1000L, n / 5)).option("langMarkers", "true")
      .load()
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    // 2. cluster reps + gates (the CurationDemo verdict, at scale)
    val clustered = graft.ops.DedupOps.dedupClusterReps(spark, corpusDir)
      .select(col("doc_id"), col("cluster_rep").as("cluster"))
    val gated = graft.ops.TextOps.corpusCuration(spark, corpusDir)
      .select("doc_id", "pred_lang", "n_tokens", "stop_ratio", "len_ok")
    val kept = gated
      .join(clustered, Seq("doc_id"), "left")
      .withColumn("near_dup_drop",
        col("cluster").isNotNull && col("doc_id") =!= col("cluster"))
      .filter(col("len_ok") === 1 && col("pred_lang") =!= "und"
        && col("stop_ratio") <= 0.5 && !col("near_dup_drop"))

    // 3. curated write + report
    kept.write.mode("overwrite").parquet(s"$outDir/curated")
    val nKept = spark.read.parquet(s"$outDir/curated").count()
    val nClustered = clustered.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val rate = (n / wall).toLong
    println(f"GENSCALE: n=$n%d clustered=$nClustered%d kept=$nKept%d " +
      f"(${100.0 * nKept / n}%.1f%%) wall=$wall%.1fs docs_per_sec=$rate%d -> $outDir")
    // known ground truth: dups exist and cluster; the en/de/fr slice
    // (~60%) survives the language gate minus the dup drops
    require(nClustered >= n / 20, s"clustered=$nClustered — planted dups must band")
    require(nKept > n / 4 && nKept < (3 * n) / 4, s"kept=$nKept out of plausible range")
    spark.stop()
  }
}
