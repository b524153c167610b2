package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.SimilarityOps

/** The ANN serving lifecycle end-to-end — the FAISS usage model on the
  * persisted index, with exact accounting require()d at each step:
  *
  *   1. BUILD once (`writeAnnIndex`): models + cell-bucketed codes +
  *      id-bucketed vector store;
  *   2. SERVE the standard 50-query batch (`annAgainstIndex`) — the
  *      result must equal the inline train-in-query capstone
  *      row-for-row (train == serve);
  *   3. APPEND a day-2 batch (`appendToAnnIndex`, frozen-model
  *      encode — no retraining) — the models must be byte-identical
  *      before and after, and an appended duplicate must carry its
  *      source's (cell, codes) row verbatim;
  *   4. SERVE the grown index — appended ids come back with a full
  *      top-k drawn from their model-assigned cell, existing queries
  *      still answer.
  *
  * Usage: runMain graft.examples.AnnServeDemo [sfDir]
  */
object AnnServeDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder()
      .appName("AnnServeDemo")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_annserve_").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.sql("CREATE DATABASE annserve")
    val prefix = "annserve.ann"

    // 1. build
    SimilarityOps.writeAnnIndex(spark, dir, prefix)
    val nIndexed = spark.table(s"${prefix}_codes").count()

    // 2. serve == inline train-in-query, row for row
    val queries = spark.table(s"${prefix}_vectors")
      .filter(col("vec_id") < 50).select("vec_id", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    val served = rows(SimilarityOps.annAgainstIndex(spark, queries, prefix))
    val inline = rows(SimilarityOps.annIvfPqTopk(spark, dir))
    require(served == inline && served.size == 150,
      s"serve != inline: ${served.size} vs ${inline.size}")

    // 3. day-2 append: duplicates of the 5 lowest vectors, new ids
    val modelBefore = SimilarityOps.readAnnModel(spark, prefix)
    val day2 = spark.table(s"${prefix}_vectors").filter(col("vec_id") < 5)
      .select((col("vec_id") + 50000L).as("vec_id"), col("v"))
    SimilarityOps.appendToAnnIndex(spark, day2, prefix)
    require(SimilarityOps.readAnnModel(spark, prefix) == modelBefore,
      "append must not touch the models")
    val codes = spark.table(s"${prefix}_codes")
      .filter(col("vec_id") < 5 || col("vec_id") >= 50000L).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Long](2)))).toMap
    (0L until 5L).foreach { i =>
      require(codes(i + 50000L) == codes(i),
        s"duplicate $i must carry its source's (cell, codes)")
    }

    // 4. serve the grown index: appended ids answer from their cell
    val grownQ = spark.table(s"${prefix}_vectors")
      .filter(col("vec_id") >= 50000L).select("vec_id", "v")
    val grown = rows(SimilarityOps.annAgainstIndex(spark, grownQ, prefix))
    require(grown.map(_._1) == (50000L until 50005L).toSet &&
      grown.size == 15, s"grown serve: ${grown.size}")
    grown.foreach { case (qid, _, bucket, _, _) =>
      require(bucket == codes(qid - 50000L)._1,
        s"$qid served outside its model cell")
    }
    val again = rows(SimilarityOps.annAgainstIndex(spark, queries, prefix))
    require(again.map(_._1) == (0L until 50L).toSet,
      "existing queries must still answer on the grown index")

    println(s"ANNSERVE: indexed=$nIndexed served=${served.size} " +
      s"appended=5 grown_served=${grown.size} model_frozen=true")
    spark.stop()
  }
}
