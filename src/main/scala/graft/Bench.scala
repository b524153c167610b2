package graft

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark main — one JSON line with per-query wall-clock seconds.
  *
  * Headline set: a fixed, stable subset covering every operator family
  * (scan/agg, multiway join, window, set op, reconcile, dedup exact +
  * LSH + Jaccard, ANN, text, events). Kept stable across rounds so the
  * BASELINE.md 2× envelope stays comparable.
  *
  * Sampling is PASS-INTERLEAVED: the full headline sequence runs
  * `reps` times end-to-end (pass 1: q1..qN, pass 2: q1..qN, ...), and
  * each query reports the MEDIAN of its cross-pass samples. Rounds 4-6
  * proved the old back-to-back scheme (q1×3, q2×3, ...) fragile: one
  * host-contention window poisons ALL samples of whichever queries it
  * overlaps (BENCH_r06 `text_repetition` 10.8/6.4/7.6 s vs 0.17 s clean
  * reality), so no clean sample survives and the median lies.
  * Interleaving decorrelates: a window of the same length now costs at
  * most one sample per query, and the median discards it. Per-sample
  * start timestamps and per-pass windows are emitted so a contaminated
  * region is diagnosable from the artifact without a rerun.
  *
  * The JSON line is emitted from a finally block over incrementally
  * collected state, so a crash mid-run (or a single failing query)
  * still produces a parseable artifact with everything measured up to
  * that point plus an "error" field.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_agg", "q3_topk", "q5_region_revenue", "window_rank",
    "agg_distinct", "set_except", "reconcile_pending",
    // round 9: `dedup_ngram_jaccard` (uncapped) and
    // `ann_bruteforce_topk` retired from the headline to hold the
    // stdout contract line under its ~2 KB tail budget — each kept a
    // strictly-covering twin in the gate (the `_capped` max-df scale
    // path; the brute-force truth recomputed inside `ann_recall_at_k`).
    // Anchors retained in tools/anchors.json; BASELINE.md records the
    // retirement for comparability.
    "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped", "dedup_simhash",
    "ann_ivf_label", "ann_ivf_centroid",
    "text_quality", "text_fingerprint", "events_sessionize",
    "asof_join_signup", "asof_join_custom",
    "json_extract",
    // round 4: the iterative connected-components loop (the only
    // nontrivial execution pattern previously without 2x-gate coverage)
    // and the capstone curation pipeline (the closest thing to a real
    // user workload)
    "dedup_cluster_reps", "corpus_curation",
    // round 4 (late): the retrieval pair — the vocabulary-join TF-IDF
    // ranking and the broadcast-stats BM25 scorer — plus the broadcast
    // heldout decontamination screen and the double-vocabulary-join LM
    // quality filter
    "text_tfidf_top_terms", "bm25_topk",
    "dedup_decontaminate", "text_bigram_logprob",
    // round 5: the Gopher-family repetition signals (in-row token
    // stats + per-doc bigram heavy hitter), winnowing fingerprint
    // dedup (native rolling-hash + window-minima expression), and the
    // two training-prep ops (in-row chunking, per-shard bin packing)
    "text_repetition", "dedup_winnow", "doc_chunking", "corpus_pack_bins",
    // round 5 (late): the clustering/selection family — iterative
    // Lloyd's with the shuffle-free literal-centroid assignment,
    // SemDeDup within-cluster drops, corpus-wide segment dedup, and
    // DSIR importance top-k
    "embedding_kmeans", "dedup_semantic", "dedup_paragraph",
    "corpus_importance_dsir", "text_perplexity_bucket",
    "corpus_mix_rebalance", "ann_ivf_kmeans", "corpus_sample_weighted",
    "dedup_paragraph_rebuild",
    // round 7: Lee-et-al exact-substring dedup (every-alignment
    // 50-token span hashing + first-occurrence mask) — completes the
    // sub-document dedup taxonomy in the 2x gate
    "dedup_substring",
    // round 7 (late): the two measured accuracy audits — est-vs-true
    // Jaccard on the LSH candidate set and IVF recall@3 vs brute-force
    // ground truth. Both run once per index/dedup build in production,
    // so their cost belongs in the gate alongside the builds they audit
    "dedup_minhash_accuracy", "ann_recall_at_k",
    // round 7 (late): the third accuracy audit — SimHash bit-agreement
    // vs the Charikar angle prediction on the same bounded candidate set
    "dedup_simhash_accuracy",
    // round 7 (late): the edit-distance confirm pass over the banded
    // candidate set, the two corpus-cleaning ops (C4 line rule, PII
    // scrub — linear map-side family), and the two-role dimension join
    "dedup_edit_distance", "text_line_filter_c4", "text_pii_scrub",
    "q7_nation_volume",
    // round 7 (final session): the heaviest of the subquery-shape
    // additions — EXISTS + NOT EXISTS over the same fact table,
    // decorrelated to semi + anti hash joins (three lineitem passes)
    "q21_waiting_supplier",
    // round 7 (fifth session): the outer-join count-of-counts histogram
    // (predicate inside the join condition) and the IN-over-aggregate
    // semi join with re-aggregation + top-k — the two remaining TPC-H
    // shapes heavy enough to belong in the 2x gate
    "q13_customer_distribution", "q18_large_orders",
    // round 7 (sixth session): the suite-completing TPC-H additions
    // heavy enough for the 2x gate — the no-join pushdown benchmark,
    // the LIKE-gated 3-dim fact chain, and the distinct-pair-set
    // NOT IN + COUNT(DISTINCT)
    "q6_revenue_delta", "q9_product_profit", "q16_supplier_count",
    // round 7 (sixth session): the Misra-Gries two-pass heavy hitters —
    // the only ObjectHashAggregate sketch topology in the catalog
    "text_heavy_hitters_mg",
    // round 8: the bloom decontamination screen (bloom_filter_agg
    // scalar subquery + confirm join — the scale twin of
    // dedup_decontaminate, benched beside it). Its round-8 sibling
    // `ann_pq_rerank` (flat PQ probe) was RETIRED from the headline in
    // round 14 per the round-9 precedent: its coverage is dominated by
    // `ann_ivfpq_topk` (the composed serving plan — itself retired in
    // round 16, see below) +
    // `ann_index_probe_srv` (the persisted serve path), it keeps
    // CodegenGateSpec coverage and its anchors.json entry, and BASELINE
    // records the retirement — frees ~4 s of bench wall and contract-
    // line budget.
    "dedup_decontaminate_bloom",
    // round 8 (late)'s `ann_ivfpq_topk` (the composed two-level IVF-PQ
    // probe) was RETIRED from the headline in round 16 per the same
    // round-9/round-14 precedent as ann_pq_rerank: its ~4 s sample is
    // training-dominated (k-means + codebooks rebuilt per sample),
    // which the amortized `ann_index_probe_srv` serve-path headliner
    // below measures more honestly; it keeps its gate entry, its
    // CodegenGateSpec coverage, and its anchors.json entry, and
    // BASELINE.md records the retirement — frees ~4 s of bench wall.
    // round 8 (continuation): the CDC merge kernel (the catalog's only
    // FULL-OUTER fact-sized join — a shuffle regime nothing else in the
    // gate exercises) and the CMS screen-then-confirm heavy hitters
    // (count_min_sketch aggregate + native estimate screen — benched
    // beside the MG twin it complements)
    "cdc_merge_upsert", "text_heavy_hitters_cms",
    // round 9: the composed MRL serving probe — truncate-then-PQ with
    // full-width rerank, the third compression-triad member's serving
    // shape, and (post-r16) the ONE surviving training-inclusive ANN
    // headliner: the train-in-query cost class stays measured by
    // exactly one entry instead of three
    "ann_mrl_pq_topk",
    // round 9 (late): the change feed (the gate's second fact-sized
    // FullOuter — the merge's read-side inverse), the sketch-screened
    // exact quantile selection, and the BPE train+tokenize pass (the
    // only iterative-training + rendered-model map entry in the gate)
    "cdc_table_diff", "quantile_select_exact", "bpe_token_count",
    // round 10: the trigram Stupid-Backoff scorer — the heaviest
    // text-family entry on its own generated ladder (SCALING.md) and
    // the round-9 multi-process serde study's highest-exposure query,
    // previously the only measured heavyweight without an envelope
    "text_trigram_backoff")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)

    // Incrementally collected state: the finally block below serializes
    // whatever is here, so a mid-run crash still yields a parseable line.
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val starts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWindows = mutable.ArrayBuffer.empty[(Double, Double)]
    var fatal: Option[String] = None
    var spark: SparkSession = null
    // bloom-bench scratch snapshot table (sf-sized) — deleted in finally
    // so repeated bench invocations don't accumulate copies in /tmp
    var bloomScratch: java.nio.file.Path = null

    def epoch(): Double = System.currentTimeMillis() / 1000.0

    try {
      spark = GraftSession.builder()
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_bench_wh_").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      // warmup: JVM/codegen/parquet-footer costs land here, not in query 1
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()

      // the persisted-index retrieval topology — the actual 100 TB shape
      // for the scoring family: the vocabulary index is a batch job built
      // once and amortized over every scoring run, so the index build
      // sits OUTSIDE the timed passes and each sample times one BM25 +
      // one TF-IDF scoring pass probing the bucketed index (exchange-free
      // on the vocab side, BucketingSpec)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      var nDocs = 0L
      val retrievalReady =
        try {
          spark.sql("CREATE DATABASE IF NOT EXISTS graft_bench_retr")
          graft.ops.TextOps.writeVocabIndex(docs, "graft_bench_retr.vocab")
          // the LM model tables, same amortized-index posture: built
          // once outside the timed passes, each sample is one scoring
          // pass probing the bucketed n-gram tables (the inline
          // text_trigram_backoff headliner pays the model training in
          // every sample; this pair is the measured train-vs-serve gap)
          graft.ops.TextOps.writeNgramIndex(docs, "graft_bench_retr.ngram")
          nDocs = docs.count()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] retrieval index build: $e"); false
        }
      // the ANN serving index, same amortized posture: models +
      // bucketed codes + bucketed vector store built once outside the
      // passes, each sample is one 50-query probe (bucket-pruned code
      // scan + shortlist rerank) — the measured train-vs-serve gap
      // against the inline ann_mrl_pq_topk headliner (and the retired
      // ann_ivfpq_topk anchor), which pay the full training in every
      // sample. Own flag: its failure must not
      // retire the retrieval pair (and vice versa).
      val annReady =
        try {
          spark.sql("CREATE DATABASE IF NOT EXISTS graft_bench_retr")
          graft.ops.SimilarityOps.writeAnnIndex(spark, sfDir,
            "graft_bench_retr.ann")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ann index build: $e"); false
        }
      // the snapshot log's bloom index, same amortized posture: table +
      // per-file blooms built once outside the passes, each sample is
      // one 24-key point lookup (index scan + pruned file read) — the
      // id-lookup serving shape. Own flag, like the other index builds.
      var bloomTable: String = null
      var bloomKeys: Seq[Any] = null
      val bloomReady =
        try {
          import org.apache.spark.sql.functions.col
          bloomScratch = java.nio.file.Files
            .createTempDirectory("graft_bench_bloom_")
          bloomTable = bloomScratch.resolve("t").toString
          val orders = spark.read.parquet(s"$sfDir/orders.parquet")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          graft.sources.SnapshotLog.commit(spark, bloomTable,
            orders.repartitionByRange(16, col("o_custkey")))
          graft.sources.SnapshotLog.writeBloomIndex(spark, bloomTable,
            "o_orderkey", expectedItemsPerFile = 256 * 1024, fpp = 0.01)
          bloomKeys = orders.select(col("o_orderkey"))
            .orderBy(col("o_orderkey")).limit(24).collect().map(_.get(0)).toSeq
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] bloom index build: $e"); false
        }

      val names = headline.filter(SparkEntry.queries.contains) ++
        Seq("migrate_seq_100k") ++
        (if (retrievalReady)
          Seq("retrieval_index_probe", "trigram_index_probe") else Nil) ++
        (if (annReady) Seq("ann_index_probe_srv") else Nil) ++
        (if (bloomReady) Seq("snap_bloom_probe_srv") else Nil)

      def runOnce(name: String): Unit = name match {
        case "migrate_seq_100k" => timeMigrateSeq(spark): Unit
        case "retrieval_index_probe" =>
          graft.ops.TextOps.bm25AgainstVocab(spark, docs,
            "graft_bench_retr.vocab", nDocs).count()
          graft.ops.TextOps.tfidfAgainstVocab(spark, docs,
            "graft_bench_retr.vocab", nDocs).count(): Unit
        case "trigram_index_probe" =>
          graft.ops.TextOps.trigramAgainstIndex(spark, docs,
            "graft_bench_retr.ngram")
            .write.mode("overwrite").format("noop").save()
        // NOT the gate entry `ann_index_probe` (which builds its index
        // inside the query — the correctness shape); this times the
        // SERVE half alone against the setup-built index
        case "ann_index_probe_srv" =>
          graft.ops.SimilarityOps.annAgainstIndex(spark,
            spark.table("graft_bench_retr.ann_vectors")
              .filter(org.apache.spark.sql.functions.col("vec_id") <
                graft.ops.SimilarityOps.PqQueryCount)
              .select("vec_id", "v"),
            "graft_bench_retr.ann")
            .write.mode("overwrite").format("noop").save()
        // NOT the gate entry `snap_bloom_lookup` (which builds table +
        // index inside the query); this times the point-lookup SERVE
        // half alone against the setup-built index
        case "snap_bloom_probe_srv" =>
          graft.sources.SnapshotLog.readWhereIn(spark, bloomTable,
            "o_orderkey", bloomKeys)
            .write.mode("overwrite").format("noop").save()
        // FULL materialization via the noop sink. Through round 7 the
        // action was count(), under which Catalyst prunes terminal
        // projections — for pure-map operators (text cleaning, the
        // edit-distance DP column, simhash) count() times the SCAN,
        // not the operator (discovered by the round-7 scaling study:
        // dedup_edit_distance read 0.53 s under count() vs 5.7 s real).
        // Agg/join-terminal queries are unaffected (their compute
        // feeds cardinality). Affected map-family anchors re-recorded
        // under the new action — BASELINE.md documents which.
        case q => SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      }

      for (_ <- 1 to reps) {
        val p0 = epoch()
        for (name <- names) {
          val s0 = epoch()
          val t0 = System.nanoTime()
          try runOnce(name)
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e") }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache() // no cross-query cache effects in timings
          samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
          starts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s0
        }
        passWindows += ((p0, epoch()))
      }
    } catch { case e: Throwable =>
      fatal = Some(e.toString)
      System.err.println(s"[bench] fatal: $e")
    } finally {
      def median(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2 // midpoint for even n
      }
      // Locale-proof formatting: the f-interpolator honors the default
      // locale, and a comma decimal separator would corrupt the JSON.
      def fm(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\r\n\t]", " ")
      // stdout medians at 2 decimals: the contract line lives in a ~2 KB
      // tail budget and one char per query is ~65 chars of headroom; the
      // envelope margins are 2×, so 10 ms precision loses nothing. The
      // detail file keeps 3 decimals.
      def fm2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      val all = samples.toSeq.filter(_._2.nonEmpty)
      val qs = all.map { case (k, v) => "\"" + k + "\":" + fm(median(v.toSeq)) }
        .mkString("{", ",", "}")
      val qs2 = all.map { case (k, v) => "\"" + k + "\":" + fm2(median(v.toSeq)) }
        .mkString("{", ",", "}")
      val raw = all.map { case (k, v) => "\"" + k + "\":" + v.map(fm).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
      val st = all.map { case (k, _) =>
        "\"" + k + "\":" + starts.getOrElse(k, mutable.ArrayBuffer.empty[Double])
          .map(fm).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val pw = passWindows.map { case (a, b) => s"[${fm(a)},${fm(b)}]" }
        .mkString("[", ",", "]")
      val total = all.map { case (_, v) => median(v.toSeq) }.sum
      val err = fatal.map(m => s""","error":"${esc(m)}"""").getOrElse("")
      // The stdout contract line must stay COMPACT: downstream capture
      // keeps only the final ~2000 chars of output, and in rounds 1-6
      // the raw-sample arrays pushed the line past that limit, so its
      // head (and hence parseability) was lost every round. Medians-only
      // on stdout; full per-sample diagnostics go to a detail file
      // (+ stderr) referenced from the line.
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
      val detail =
        s"""{"metric":"total","value":${fm(total)},"unit":"sec","queries":$qs,"samples":$raw,"sample_starts":$st,"passes":$pw,"reps":$reps,"sf":"${esc(sfDir)}"$err}"""
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detail + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] detail write: $e") }
      System.err.println(s"[bench] detail: $detail")
      println(s"""{"metric":"total","value":${fm2(total)},"unit":"sec","queries":$qs2,"sf":"${esc(sfDir)}","detail":"${esc(detailPath)}"$err}""")
      Console.out.flush()
      if (bloomScratch != null) try {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(bloomScratch)) { w =>
          w.iterator().asScala.toSeq
            .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      } catch { case _: Throwable => () }
      if (spark != null) try spark.stop() catch { case _: Throwable => () }
    }
  }

  private def timeMigrateSeq(spark: SparkSession): Double = {
    import java.nio.file.{Files, Paths}
    // a failed prior rep leaves the database behind — clear it so one
    // bad sample doesn't poison the remaining reps
    spark.sql("DROP DATABASE IF EXISTS graft_bench CASCADE")
    val scratch = Files.createTempDirectory("graft_bench_migrate_").toString
    val home = s"$scratch/migrations"
    Files.createDirectories(Paths.get(home))
    Files.writeString(Paths.get(s"$home/V1__create.sql"),
      "CREATE TABLE graft_bench.sample(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple() ORDER BY tuple()")
    val t0 = System.nanoTime()
    graft.migrator.Migrator.migrate(spark, "graft_bench", home, s"$scratch/ledger")
    spark.read.option("header", "true").schema("id INT, name INT")
      .csv(Fixtures.seqCsv)
      .write.mode("append").insertInto("graft_bench.sample")
    Files.writeString(Paths.get(s"$home/V2_seq_dmls.json"),
      """["ALTER TABLE graft_bench.sample ADD COLUMN enabled UInt32 DEFAULT 1",
        |"ALTER TABLE graft_bench.sample ADD COLUMN guard UInt32 DEFAULT -1",
        |"ALTER TABLE graft_bench.sample UPDATE enabled=0 WHERE name > 3000",
        |"ALTER TABLE graft_bench.sample UPDATE guard=0 WHERE enabled = 0",
        |"ALTER TABLE graft_bench.sample UPDATE guard=1 WHERE enabled = 1"]""".stripMargin)
    graft.migrator.Migrator.migrate(spark, "graft_bench", home, s"$scratch/ledger")
    val r = spark.sql(
      """SELECT count(*), count(CASE WHEN name > 3000 THEN 1 END),
         count(CASE WHEN enabled = 0 THEN 1 END), count(CASE WHEN guard = 0 THEN 1 END),
         count(CASE WHEN guard = 1 THEN 1 END), count(CASE WHEN guard = -1 THEN 1 END)
         FROM graft_bench.sample""").collect()(0)
    require(r.getLong(0) == 100000L && r.getLong(1) == r.getLong(2)
      && r.getLong(2) == r.getLong(3) && r.getLong(4) == r.getLong(0) - r.getLong(3)
      && r.getLong(5) == 0L, s"consistency check failed: $r")
    val dt = (System.nanoTime() - t0) / 1e9
    spark.sql("DROP DATABASE graft_bench CASCADE")
    dt
  }
}
