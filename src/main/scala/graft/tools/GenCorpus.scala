package graft.tools

import graft.GraftSession

/** Materialize a `graft-docs` generated corpus as a testdata-shaped
  * directory (documents.parquet + the sf0.1 embeddings copied in), so
  * ScaleBench can run the doc-family operators at corpus sizes the
  * disk-replica study cannot reach (the generator is O(0) disk until
  * this write; the write itself is the only cost).
  *
  * The vocabulary defaults to nDocs/5 (min 1000): with a FIXED vocab,
  * each token's document frequency grows linearly with N, so inverted-index
  * joins and LSH band buckets inflate quadratically and a growth study
  * would measure the corpus's densification, not the operator. Scaling
  * vocab ∝ N holds per-token df constant — the same structural
  * invariance ScaleReplicas achieves by remapping replica tokens.
  * Every 10th document is a planted ~6% near-duplicate of its
  * predecessor (DocGen dupEvery=10), so the dedup family has a
  * linear-in-N candidate/edge population to chew on at every size.
  * Usage: GenCorpus <outDir> <nDocs> [seed] [vocab]
  */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenCorpus <outDir> <nDocs> [seed] [vocab]")
    val (out, n) = (args(0), args(1).toLong)
    val seed = if (args.length > 2) args(2).toLong else 42L
    val vocab = if (args.length > 3) args(3).toInt else math.max(1000L, n / 5).toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.format("graft-docs")
      .option("n", n).option("seed", seed).option("partitions", 32)
      .option("vocab", vocab).option("dupEvery", 10)
      .load()
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"GENCORPUS: $out n=$n seed=$seed vocab=$vocab")
    spark.stop()
  }
}
