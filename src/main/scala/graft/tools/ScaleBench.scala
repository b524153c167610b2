package graft.tools

import scala.collection.mutable

import graft.GraftSession

/** Doc-family scaling bench for SCALING.md's measured-exponent study.
  *
  * Runs the dedup/retrieval/clustering headliners (the document- and
  * embedding-backed queries — no TPC-H tables needed, so it can point
  * at a ScaleReplicas output directory) with the same pass-interleaved
  * median-of-reps discipline as graft.Bench, and prints one JSON line.
  *
  * Usage: ScaleBench <sfDir> [reps]
  */
object ScaleBench {

  /** The scaling subjects: every multi-second headliner from the clean
    * driver bench plus the rest of the dedup family — each one linear
    * by design, which is exactly the claim the exponents check. */
  val subjects: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard_capped",
    "dedup_winnow", "dedup_paragraph", "dedup_cluster_reps",
    "bm25_topk", "text_tfidf_top_terms", "text_perplexity_bucket",
    "text_repetition", "embedding_kmeans", "ann_ivf_kmeans",
    // round-7 third-session doc-family additions
    "dedup_substring", "dedup_edit_distance",
    "text_line_filter_c4", "text_pii_scrub",
    // the approx twin of text_perplexity_bucket — included so the
    // exact-vs-sketch growth contrast is measured, not just asserted
    "text_perplexity_bucket_approx",
    // round-7 sixth-session additions: the MG two-pass heavy hitters
    // (bounded-state sketch — must scale like the map families) and
    // the winnow-index containment audit (candidate-bounded join)
    "text_heavy_hitters", "text_heavy_hitters_mg", "dedup_containment",
    // round-8 PQ family: index build (training passes + in-row encode —
    // must scale like the map families), the flat ADC+rerank probe
    // (50-query bounded scan — linear in N), and the composed
    // cell-restricted probe (pair count ~ 50 × N/K — linear with a
    // K-fold smaller constant)
    "embedding_pq_codes", "ann_pq_rerank", "ann_ivfpq_topk",
    // round-8 continuation: the CMS screen joins the standing growth
    // subjects (its 1×/10×/30× trio study is in SCALING.md; keeping it
    // here means future rounds re-measure it for free)
    "text_heavy_hitters_cms")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleBench <sfDir> [reps] [only=a,b,c]")
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val only = args.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet)
    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_scale_wh_").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count() // warmup
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()

    // only= may name ANY catalog query (not just the standing subjects)
    // so generated-corpus studies can probe additional operators
    val run = only.fold(subjects)(o =>
      (subjects ++ o.toSeq.sorted).distinct
        .filter(q => o.contains(q) && graft.SparkEntry.queries.contains(q)))
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    for (_ <- 1 to reps; name <- run) {
      val t0 = System.nanoTime()
      // FULL materialization via the noop sink — count() lets Catalyst
      // prune terminal projections, so for pure-map operators (C4 line
      // filter, PII scrub, the edit-distance DP column) it times the
      // SCAN, not the operator. A growth study must pay for every
      // output column; graft.Bench adopted the same action once this
      // study exposed the pruning artifact (BASELINE.md documents the
      // affected re-anchors).
      try graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => System.err.println(s"[scalebench] $name: $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    def fm(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = samples.map { case (k, v) => "\"" + k + "\":" + fm(median(v.toSeq)) }
      .mkString("{", ",", "}")
    val raw = samples.map { case (k, v) => "\"" + k + "\":" + v.map(fm).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    println(s"""{"dir":"$dir","n_docs":$nDocs,"n_vecs":$nVecs,"queries":$qs,"samples":$raw}""")
    spark.stop()
  }
}
