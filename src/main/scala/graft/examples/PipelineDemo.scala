package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** The COMPLETE training-data pipeline, end-to-end — every stage the
  * library provides, composed in production order over the documents
  * corpus (CurationDemo stops at the keep verdict; this demo carries
  * the corpus all the way to the persisted serving artifacts):
  *
  *   1. curation — exact/near-dup election + quality/language gates
  *      (the corpus_curation capstone);
  *   2. decontamination — drop kept docs sharing any 8-gram with the
  *      held-out benchmark split (broadcast screen);
  *   3. stratified sampling — exact per-language quota of the clean
  *      kept set (salted two-stage top-k);
  *   4. persisted artifacts:
  *      - lang-partitioned curated corpus (CorpusSink, pruned reads),
  *      - bucketed vocabulary index (tfidf/BM25 probes, no exchange),
  *      - bucketed MinHash band index (tomorrow's incremental dedup);
  *   5. an index-probe smoke check: BM25 against the persisted vocab.
  *
  * Usage: runMain graft.examples.PipelineDemo /tmp/pipeline_out [sfDir]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_pipeline")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder()
      .appName("PipelineDemo")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = docs.count()

    // 1. curation verdict (exact-dup rep + gates, one shuffle)
    val kept = graft.ops.TextOps.corpusCuration(spark, sfDir)
      .filter(col("keep") === 1).select("doc_id")

    // 2. decontamination: kept docs that leak a heldout 8-gram
    val contaminated = graft.ops.TextOps.dedupDecontaminate(spark, sfDir)
      .select("doc_id")
    val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
      .join(docs, Seq("doc_id"))

    // 3. exact per-language quota over the clean kept set
    val sampled = graft.ops.TextOps.stratifiedSample(
      clean.select("doc_id", "text", "lang"), quota = 25)

    // 4a. lang-partitioned curated corpus (pruned downstream reads)
    clean.select("doc_id", "text", "lang", "source")
      .write.mode("overwrite").partitionBy("lang")
      .parquet(s"$outDir/curated")
    // 4b. vocabulary index over the CLEAN corpus (bucketed by token)
    spark.sql("CREATE DATABASE IF NOT EXISTS pipeline")
    val nClean = clean.count()
    graft.ops.TextOps.writeVocabIndex(
      clean.select(col("doc_id"), col("text")), "pipeline.vocab")
    // 4c. band index over the clean corpus for incremental dedup
    graft.ops.DedupOps.writeBandIndex(
      clean.select(col("doc_id"), col("text")), "pipeline.band_index")

    // 5. probe the persisted vocab: BM25 over the curated corpus
    val top = graft.ops.TextOps.bm25AgainstVocab(
      spark, clean.select(col("doc_id"), col("text")), "pipeline.vocab", nClean)
      .collect()

    val nSampled = sampled.count()
    val langs = spark.read.parquet(s"$outDir/curated")
      .groupBy("lang").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")
    println(s"PIPELINE: total=$total kept=${kept.count()} " +
      s"contaminated=${contaminated.count()} clean=$nClean " +
      s"sampled=$nSampled langs[$langs] " +
      s"bm25top=${top.headOption.map(_.getLong(0)).getOrElse(-1L)} -> $outDir")
    require(nClean > 0 && nClean <= total && top.nonEmpty,
      "pipeline must keep a nonempty clean corpus and score it")
    spark.stop()
  }
}
