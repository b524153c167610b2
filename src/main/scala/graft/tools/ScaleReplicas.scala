package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Scale-replica generator for the measured-scaling study (SCALING.md).
  *
  * Replicates the sf0.1 `documents` and `embeddings` tables N× into a
  * scratch directory, with each non-zero replica's TOKEN SPACE remapped
  * (every token gets a `~r` suffix). Remapping makes replicas
  * similarity-DISJOINT: a replica document shares no shingles, minhash
  * bands, winnow fingerprints, or vocabulary with any other replica, so
  * the near-dup/retrieval structure of the corpus scales exactly
  * linearly with the replica count. A plain N× copy would instead make
  * every copy a near-dup of its original and multiply candidate pairs
  * by N² — a superlinearity built into the DATA that would corrupt the
  * operator-scaling exponents the study fits.
  *
  * Embeddings are replicated with offset vec_ids and identical vectors
  * (labels preserved): cluster structure is unchanged, population per
  * cell grows N× — the right shape for index-build scaling.
  *
  * Usage: ScaleReplicas <srcSfDir> <outDir> <factor>
  */
object ScaleReplicas {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleReplicas <srcSfDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 until factor).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * docStride)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$r"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val vecStride = embs.agg(max(col("vec_id"))).head().getLong(0) + 1
    (0 until factor).map { r =>
      embs.select((col("vec_id") + lit(r * vecStride)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"""{"out":"$out","factor":$factor,"documents":$nd,"embeddings":$ne}""")
    spark.stop()
  }
}
