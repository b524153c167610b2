package graft

/** Standing plan-shape guards — the "would this plan survive a 100×
  * scale-up" properties, pinned as tests so a refactor that silently
  * loses a pushdown, a broadcast, or a pruned schema fails here
  * instead of shipping as a 100 TB regression. Each assertion targets
  * a property the query's scale story depends on, not incidental plan
  * text.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // finalize AQE so the real joins/exchanges are visible
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter_project pushes its predicate and prunes the scan schema") {
    val plan = executedPlan("filter_project")
    assert(plan.contains("PushedFilters: ["), plan)
    // the pushdown list must not be empty
    assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"), plan)
    // projection reaches the reader: lineitem has 16 columns, the query
    // needs a handful — a ReadSchema carrying l_comment means pruning broke
    assert(!plan.contains("l_comment"), plan)
  }

  test("q5_region_revenue broadcasts the small dimension tables") {
    val plan = executedPlan("q5_region_revenue")
    // region/nation/supplier joins must not shuffle the fact table once
    // AQE sees the sizes: at least one broadcast join in the final plan
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("asof_join_signup plans through AsOfJoin with no window fallback") {
    val plan = executedPlan("asof_join_signup")
    assert(plan.contains("AsOfJoin"), plan)
    // the rewrite must have REPLACED the window form, not supplemented it
    assert(!plan.contains("RunningWindowFunction"), plan)
    assert(!plan.contains("last("), plan)
  }

  test("ann_ivf_centroid and multiprobe assign via one broadcast centroid table") {
    Seq("ann_ivf_centroid", "ann_ivf_multiprobe").foreach { q =>
      val plan = executedPlan(q)
      // the N×K assignment is a broadcast nested-loop over the TINY
      // centroid table — a non-broadcast cartesian here would be the
      // corpus×corpus disaster. This BNLJ is the DELIBERATE didactic
      // half of the pair documented on annIvfCentroid: the
      // ann_ivf_kmeans test below pins its absence in the in-row
      // literal-fold shape you'd ship at scale.
      assert(plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      // the probe is an equi-join on the learned bucket
      assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("ShuffledHashJoin"), s"$q:\n$plan")
    }
  }

  test("ann_ivf_broadcast_assign folds over the broadcast model row — no window argmin") {
    val plan = executedPlan("ann_ivf_broadcast_assign")
    // the model arrives as ONE broadcast row (the scalar-broadcast
    // pattern): the nested-loop join is a model append, never an N×K
    // row expansion, so the assignment needs no argmin window — the
    // ONLY window in the plan is the probe's per-query top-k (qid).
    // Compare ann_ivf_centroid above, which pays BNLJ expansion + a
    // vec_id window; this entry is its large-K replacement.
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    val windows = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(plan.toLowerCase).map(_.group(1)).toSeq
    assert(windows.nonEmpty && windows.forall(_ == "qid"),
      s"argmin window leaked into the assignment: $windows\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup_minhash_lsh keeps the hot-bucket anti-join broadcast") {
    val plan = executedPlan("dedup_minhash_lsh")
    // the MinhashMaxBucket cap is applied via broadcast anti-join —
    // if it degrades to a shuffled anti-join the cap costs a full
    // shuffle of the band index
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan)
  }

  test("dedup_incremental joins new-batch bands against the corpus, not all-pairs") {
    val plan = executedPlan("dedup_incremental")
    // the hot-bucket cap stays a broadcast anti-join on the EXISTING side
    assert(plan.contains("LeftAnti"), plan)
    // candidate generation is an equi-join on the band bucket — a
    // nested-loop or cross join here would be the all-pairs disaster
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.matches("(?s).*BroadcastNestedLoopJoin.*Inner.*"), plan)
  }

  test("bm25_topk is one broadcast stats row + a map-side score + top-k, no global sort") {
    val plan = executedPlan("bm25_topk")
    // the corpus statistics join must be a broadcast of the 1-row agg —
    // a shuffled join here would shuffle the whole corpus to attach
    // three scalars
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // limit+orderBy must fuse into TakeOrderedAndProject (per-partition
    // top-k then merge) — a global Sort of all scored docs is the
    // 100 TB failure mode
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.matches("(?s).*Exchange rangepartitioning.*"), plan)
  }

  test("tfidf joins the vocabulary on the token, not a corpus broadcast") {
    val plan = executedPlan("text_tfidf_top_terms")
    // the single-row doc count is broadcast; the tf↔df join may be
    // broadcast at this SF, but there must be no cartesian anywhere
    assert(!plan.contains("CartesianProduct"), plan)
    // the per-doc top-k window partitions by doc_id — a missing
    // partition spec would collapse to one partition
    assert(!plan.contains("No Partition Defined"), plan)
  }

  test("dedup_winnow fingerprints in-row and pairs via the inverted-index equi-join") {
    val plan = executedPlan("dedup_winnow")
    // the native expression must be in the plan (extension loaded here):
    // its absence means the interpreted HOF chain came back
    assert(plan.contains("winnow_fps"), plan)
    // pair generation is the fingerprint equi-join — never all-pairs
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.matches("(?s).*BroadcastNestedLoopJoin.*Inner.*"), plan)
  }

  test("doc_chunking is pure in-row work over the scan") {
    val df = SparkEntry.queries("doc_chunking")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // transform+explode+hash never needs an Exchange
    assert(!plan.contains("Exchange"), plan)
  }

  test("corpus_pack_bins windows stay sharded — no single-partition funnel") {
    val plan = executedPlan("corpus_pack_bins")
    // both windows must partition by their (source, shard[, bin]) keys;
    // an empty partition spec would serialize the corpus through one
    // partition — the global-running-sum failure mode packing avoids
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("No Partition Defined"), plan)
    assert(!plan.matches("(?s).*Exchange rangepartitioning.*"), plan)
  }

  test("corpus_sample is a pure map-side filter over the scan") {
    val df = SparkEntry.queries("corpus_sample")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // no Exchange at all: the deterministic-hash sample must not shuffle
    assert(!plan.contains("Exchange"), plan)
  }

  test("embedding_kmeans final assignment is in-row: no joins, no shuffles") {
    // the returned plan is the last Lloyd assignment: the centroid model
    // is a driver-side literal folded per row — a Join or Exchange here
    // means the per-iteration shuffle-free claim regressed
    val plan = executedPlan("embedding_kmeans")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("dedup_semantic evaluates cosine only inside a cluster equi-join") {
    Seq("dedup_semantic", "dedup_semantic_kmeans").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      // the cluster join must be an equi-join (hash or sort-merge), and
      // the per-cluster pair condition rides it — never a nested loop
      // over the corpus (the kmeans variant's assignment is an in-row
      // literal fold, so no BNLJ appears there either)
      assert(!plan.matches("(?s).*BroadcastNestedLoopJoin.*Inner.*"), s"$q:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("ShuffledHashJoin"), s"$q:\n$plan")
    }
  }

  test("dedup_paragraph flags occurrences via groupBy-min + equi-join, never a window") {
    val plan = executedPlan("dedup_paragraph")
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the skew-immunity argument: first-occurrence comes from a partial
    // aggregation, NOT a per-key window partition AQE cannot split
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min") || plan.contains("partial_first")
      || plan.contains("HashAggregate"), plan)
  }

  test("corpus_importance_dsir takes its top-k without a global sort or window") {
    val plan = executedPlan("corpus_importance_dsir")
    // TakeOrderedAndProject, not Sort+Window over one partition
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text_perplexity_bucket computes thresholds as one aggregate, not a window/ntile") {
    val plan = executedPlan("text_perplexity_bucket")
    assert(!plan.contains("Window"), plan)
    assert(!plan.matches("(?s).*Exchange rangepartitioning.*"), plan)
  }

  test("corpus_mix_rebalance broadcasts its 1-row totals back onto the per-language table") {
    val plan = executedPlan("corpus_mix_rebalance")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan)
  }

  test("ann_ivf_kmeans assigns in-row — no nested-loop assignment join survives") {
    val plan = executedPlan("ann_ivf_kmeans")
    // the annIvfCentroid shape pays a BroadcastNestedLoopJoin for the
    // N×K assignment; the trained-model form must not — the model is a
    // literal in the projection, and the only join is the bucket probe
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("dedup_paragraph_rebuild shares the groupBy-min shape, no window funnel") {
    val plan = executedPlan("dedup_paragraph_rebuild")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("multiset set ops plan through replicate-rows, not row-level joins") {
    Seq("set_intersect_all", "set_except_all").foreach { q =>
      val plan = executedPlan(q).toLowerCase
      // Spark's INTERSECT ALL / EXCEPT ALL rewrite: per-side count
      // aggregation + Generate(replicate_rows) re-expansion of the
      // multiplicities — the shape that makes bag semantics one
      // aggregate instead of a per-duplicate join
      assert(plan.contains("replicaterows") || plan.contains("generate"), s"$q:\n$plan")
      assert(!plan.contains("cartesianproduct"), s"$q:\n$plan")
    }
  }

  test("corpus_sample_weighted keeps the corpus side shuffle-free behind a broadcast join") {
    val plan = executedPlan("corpus_sample_weighted")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dedup_substring shares the paragraph skew-immune shape: groupBy-min, no window") {
    val plan = executedPlan("dedup_substring")
    // stride-1 spans make the span table ~span× the segment table, so
    // the paragraph family's skew argument matters MORE here: first
    // occurrence must come from partial aggregation (absorbed map-side
    // for a boilerplate span), never a per-key window partition
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("dedup_minhash_accuracy bounds true-Jaccard work to the candidate set") {
    val plan = executedPlan("dedup_minhash_accuracy")
    // the inverted-index token join must be an equi-join driven by the
    // candidate pairs — an all-pairs or cartesian token comparison
    // would be the quadratic this audit exists to avoid
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("ann_recall_at_k probes via hash joins; only the bounded truth side is nested-loop") {
    val plan = executedPlan("ann_recall_at_k")
    assert(!plan.contains("CartesianProduct"), plan)
    // the IVF candidate sides and the truth→candidate recall joins are
    // equi-joins; the deliberate exception is the 50-query brute-force
    // ground truth (vec_id <> vec_id), the documented bounded audit
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("multimodal_ann joins only inside LSH buckets") {
    val plan = executedPlan("multimodal_ann")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("q17_small_quantity decorrelates: one per-part aggregate, no per-row subquery") {
    val plan = executedPlan("q17_small_quantity")
    // RewriteCorrelatedScalarSubquery must turn the WHERE-clause
    // subquery into an aggregate joined back — a surviving correlated
    // Subquery node would mean a per-outer-row rescan at scale
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("subquery"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q7_nation_volume broadcasts both nation roles with the member filter applied") {
    val plan = executedPlan("q7_nation_volume")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the 2-name member filter must reach the nation scans (dimension
    // pushdown), not run post-join over the fact stream
    assert(plan.contains("n_name"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(n_name)") ||
      plan.matches("(?s).*PushedFilters: \\[.*In\\(n_name.*"), plan)
  }

  test("grouping_sets_agg reads the input once through a single Expand") {
    val plan = executedPlan("grouping_sets_agg")
    // four grouping sets must NOT mean four scans/unions (formatted
    // mode prints the tree twice + node details, so count DISTINCT
    // scan node ids, not raw occurrences)
    assert(plan.contains("Expand"), plan)
    val scanIds = "Scan parquet\\s*\\((\\d+)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"scan ids $scanIds\n$plan")
    assert(!plan.contains("Union"), plan)
  }

  test("dedup_edit_distance attaches text via hash joins on the candidate pairs") {
    val plan = executedPlan("dedup_edit_distance")
    // the Levenshtein DP must only ever see banded candidate pairs —
    // a cartesian/BNLJ here is the all-pairs quadratic the banding avoids
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("q4_order_priority decorrelates EXISTS to one left-semi hash join") {
    val plan = executedPlan("q4_order_priority")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // no surviving correlated subquery: the EXISTS must be a join
    assert(!plan.toLowerCase.contains("subqueryexec"), plan)
  }

  test("q21_waiting_supplier plans EXISTS as semi and NOT EXISTS as anti, all hash joins") {
    val plan = executedPlan("q21_waiting_supplier")
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q22_dormant_balance evaluates the scalar aggregates once and anti-joins orders") {
    val plan = executedPlan("q22_dormant_balance")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the uncorrelated scalar aggregates surface as one-time subqueries
    // feeding a literal, not per-row re-evaluation: customer must be
    // scanned a bounded number of times (outer + pos CTE ≤ 3 scans)
    val custScans = "Scan parquet .*customer".r.findAllIn(plan).length
    assert(custScans <= 3, s"customer scanned $custScans times\n$plan")
  }

  test("q2_min_cost_supplier decorrelates the scalar MIN to a join, no per-row re-scan") {
    val plan = executedPlan("q2_min_cost_supplier")
    // the correlated MIN must become one per-part aggregate joined back;
    // a surviving per-row subquery would re-run the 4-table inner join
    // once per outer lineitem
    assert(!plan.toLowerCase.contains("subqueryexec"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("q18_large_orders plans the IN-aggregate as a left-semi hash join") {
    val plan = executedPlan("q18_large_orders")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q20_dominant_suppliers keeps both aggregates one-pass and the IN a semi join") {
    val plan = executedPlan("q20_dominant_suppliers")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q13_customer_distribution keeps the filter inside the outer join") {
    val plan = executedPlan("q13_customer_distribution")
    // the orderpriority predicate must gate the ORDERS side of the
    // outer join (join-condition placement), never filter customers —
    // a post-join Filter on the null-extended side would silently drop
    // the zero-order customers the histogram exists to count
    assert(plan.contains("LeftOuter") || plan.contains("RightOuter"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q6_revenue_delta pushes all three predicates and joins nothing") {
    val plan = executedPlan("q6_revenue_delta")
    // the no-join query: its entire 100 TB story is predicate pushdown —
    // the date window must reach the parquet reader so row-group stats
    // can exclude most of the corpus
    assert(plan.contains("PushedFilters: ["), plan)
    assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"), plan)
    assert(!plan.contains("Join"), plan)
    // projection pruning: 4 needed columns, not 16
    assert(!plan.contains("l_comment"), plan)
  }

  test("q9_product_profit filters part before broadcasting it") {
    val plan = executedPlan("q9_product_profit")
    // the LIKE gate runs on the tiny dim pre-broadcast; the fact table
    // then hash-probes it — a cartesian or post-join LIKE would scan-
    // multiply lineitem by the unfiltered part table
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the contains-filter must sit under the broadcast exchange side
    assert(plan.contains("Contains") || plan.contains("contains"), plan)
  }

  test("q10_returned_items takes its top-20 without a global sort") {
    val plan = executedPlan("q10_returned_items")
    // orderBy+limit must fuse to TakeOrderedAndProject — a full range-
    // partitioned sort of every customer is the 100 TB failure mode
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.matches("(?s).*Exchange rangepartitioning.*"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the returnflag predicate reaches the lineitem reader
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_returnflag.*"), plan)
  }

  test("q12_ship_priority pushes the ship-date window and aggregates once") {
    val plan = executedPlan("q12_ship_priority")
    // the one-year window must reach the lineitem scan; the delay-class
    // derivation and both conditional counts are then one aggregation —
    // no second pass, no join fan-out
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate.*"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q16_supplier_count plans the NOT IN as a broadcast anti-join on the pair set") {
    val plan = executedPlan("q16_supplier_count")
    // the supplier exclusion must be a broadcast left-anti hash join —
    // and everything downstream of the DISTINCT is bounded by the
    // (part,supp) pair set, never raw lineitem
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dedup_containment pairs via the fingerprint index with the hot-fp cap broadcast") {
    val plan = executedPlan("dedup_containment")
    // hot-fingerprint cap must stay a broadcast anti-join; candidate
    // generation is the fp equi-join; token intersection is bounded to
    // the candidate pairs — no cartesian/BNLJ anywhere
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("text_heavy_hitters_mg sketches via ObjectHashAggregate and recounts only candidates") {
    // r19: the sketch pass runs at DataFrame-construction time (the
    // driver-sized (sketch, N) row is collected, the kmeans-centroid
    // pattern), so the TERMINAL plan is the recount pass alone. Pin
    // the sketch pass's shape directly instead: the MG
    // TypedImperativeAggregate must plan as ObjectHashAggregate
    // (partial per partition — one <=k-entry summary crosses the wire)
    // fused with the stream-length count in ONE aggregation.
    val sketchPass = graft.ops.TextOps.hhItems(spark, sfDir)
      .agg(org.apache.spark.sql.functions.expr(
        s"mg_sketch(item, ${graft.ops.TextOps.HhSketchK})").as("sk"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
    sketchPass.write.mode("overwrite").format("noop").save()
    val sketchPlan = sketchPass.queryExecution.executedPlan.toString
    assert(sketchPlan.contains("ObjectHashAggregate"), sketchPlan)
    assert(sketchPlan.contains("mg_sketch"), sketchPlan)
    // the recount pass screens the corpus against the <=k-item literal
    // IN-set BEFORE any shuffle: a map-side filter + one aggregation —
    // no join of the full token stream at all
    val plan = executedPlan("text_heavy_hitters_mg")
    assert(plan.contains("Filter"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("events_session_window plans one session aggregation, no self-join") {
    val plan = executedPlan("events_session_window")
    // session_window is a groupBy-native operator: one user-keyed
    // exchange feeding the session aggregation — a join or window
    // fallback would double the shuffle surface
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate")
      || plan.contains("SessionWindow"), plan)
  }

  test("embedding_pq_codes encodes in-row: no joins, no corpus exchange") {
    // training collects only the 8×16×8 model; the returned plan is the
    // encode pass — all 8 subspace assignments are literal-codebook
    // folds per row, so a Join or Exchange means the one-pass
    // index-build claim regressed
    val plan = executedPlan("embedding_pq_codes")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("ann_pq_topk scans codes with the queries broadcast; rerank joins by hash") {
    // the ADC scan is the deliberately-bounded audit BNLJ (50 broadcast
    // query rows × corpus codes — the ann_recall_at_k class); what must
    // NOT appear is a CartesianProduct or a shuffled join of the corpus
    val adc = executedPlan("ann_pq_topk")
    assert(!adc.contains("CartesianProduct"), adc)
    assert(adc.contains("BroadcastNestedLoopJoin"), adc)
    // the rerank stage fetches its ≤ 50×20 shortlist vectors via
    // hash joins — the point-lookup shape, never a second corpus BNLJ
    // beyond the same shortlist scan
    val rer = executedPlan("ann_pq_rerank")
    assert(!rer.contains("CartesianProduct"), rer)
    assert(rer.contains("BroadcastHashJoin") || rer.contains("SortMergeJoin")
      || rer.contains("ShuffledHashJoin"), rer)
  }

  test("ann_mrl_topk's brute-force scan is the bounded truncated-metric audit") {
    // the MRL entry is NOT a serving plan: it is the ground-truth audit
    // of the truncated-prefix metric (10 query rows broadcast × corpus
    // — the ann_ivf_centroid / ann_recall_at_k class of deliberate,
    // bounded BNLJ). The serving shape for MRL is ann_mrl_pq_topk
    // (truncate-then-PQ). What must never appear is an unbroadcast
    // CartesianProduct — that would be corpus × corpus
    val plan = executedPlan("ann_mrl_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ann_mrl_pq_topk shares the PQ serving shape: bounded ADC scan, hash-join rerank") {
    // the composed truncate-then-PQ probe runs through the SAME
    // pqAdcScored/pqRerank definitions as ann_pq_rerank, so its
    // plan must show the same two stages: the bounded 50-query ADC
    // code scan (audit-class BNLJ over 2-byte codes, not raw vectors)
    // and hash-join point-lookups for the full-width exact rerank
    val plan = executedPlan("ann_mrl_pq_topk")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("ann_ivfpq_topk probes by cell equi-join — no corpus nested loop at all") {
    // the composed two-level index: the coarse cell key turns the ADC
    // scan from ann_pq_topk's bounded BNLJ into a plain equi-join — the
    // property that makes the probe read ONE cell per query at scale.
    // A BroadcastNestedLoopJoin anywhere here means the cell
    // restriction regressed. The MRL triple composition must keep the
    // same shape — its ADC scan is also cell-equi-joined
    Seq("ann_ivfpq_topk", "ann_mrl_ivfpq_topk").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("ShuffledHashJoin"), s"$q:\n$plan")
    }
  }

  test("dedup_decontaminate_bloom screens via a reused scalar subquery, then equi-joins") {
    val plan = executedPlan("dedup_decontaminate_bloom")
    // the bloom must ride as a subquery result (one evaluation,
    // query-scoped constant), the pre-screen filter must reference
    // might_contain, and the confirm join must be an equi-join — a
    // CartesianProduct or a bloom-side shuffle join would defeat the
    // map-side screen
    assert(plan.contains("might_contain"), plan)
    assert(plan.toLowerCase.contains("subquery"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("cdc_merge_upsert applies the whole batch in ONE full-outer equi-join") {
    val plan = executedPlan("cdc_merge_upsert")
    // the merge's scale contract: inserts/updates/deletes all ride one
    // keyed join — a second anti-join pass for deletes, or a nested
    // loop, would double/explode the snapshot traffic
    assert(plan.contains("FullOuter"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan)
  }

  test("quantile_select_exact sorts only the screened slice — top-k, never a rank window") {
    // the screen-confirm quantile selection must keep its scale shape:
    // the candidate slice feeds a distributed TakeOrderedAndProject
    // (top-k), and no Window (a global row_number rank would serialize
    // the corpus through one partition — the NTILE shape this entry
    // exists to avoid). The full-table work is the one (count, sketch)
    // aggregate, which runs eagerly before this plan.
    val plan = executedPlan("quantile_select_exact")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("quantile_select_by_lang never windows a group's candidate slice: salted stage-1, merge-sized stage-2") {
    // the round-9 scale-killer, pinned fixed: a window partition cannot
    // be split WITHIN a key, so NO window may run over a language's
    // ≥boundary candidate slice (linear in corpus size for the head
    // language; O(language) under a boundary plateau). The kernel's
    // stage-1 windows must partition by (lang, id-hash SALT) — the
    // pmod(hash(..)) expression in a partition spec is the witness —
    // and the only lang-partitioned window is the stage-2 merge over
    // the ≤ salts·k stage-1 survivors (output-sized, corpus- and
    // plateau-independent). Bounds/needs stay broadcast; no nested-loop
    // or cartesian bounds join.
    val plan = executedPlan("quantile_select_by_lang")
    assert(plan.split("Window").length > 2,
      s"expected salted stage-1 + merge stage-2 windows:\n$plan")
    assert(plan.contains("pmod") && plan.contains("hash"),
      s"stage-1 window must partition by the id-hash salt:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cdc_table_diff reads two versions through one full-outer equi-join") {
    // the change feed is the merge's read-side inverse and must keep
    // its plan class: both versions keyed through one FullOuter join,
    // churn-sized output — never a nested loop or a per-key window
    val plan = executedPlan("cdc_table_diff")
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("cdc_changelog_compact compacts via partial-agg groupBy, never a window") {
    val plan = executedPlan("cdc_changelog_compact")
    // latest-per-key must stay an equi-aggregation (AQE can split a
    // skewed key's partial aggs; a row_number window partition it
    // cannot) and needs no join at all
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    // max(struct) carries a struct buffer, which is not hash-aggregable,
    // so Spark plans SortAggregate — still a PARTIAL + FINAL pair (the
    // scale property: map-side combine bounds the shuffle by distinct
    // keys), just sorted within partitions instead of hashed
    assert(plan.contains("SortAggregate") || plan.contains("HashAggregate"), plan)
    assert(plan.split("Aggregate").length > 2,
      s"expected a partial+final aggregate pair:\n$plan")
  }

  test("cdc_scd2_intervals windows per key — no single-partition funnel") {
    val plan = executedPlan("cdc_scd2_intervals")
    assert(plan.contains("Window"), plan)
    // the window must be keyed (hashpartitioning on user_id), never a
    // global sort's SinglePartition exchange
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("user_id"), plan)
  }

  test("text_heavy_hitters_cms screens map-side via a scalar-subquery sketch") {
    val plan = executedPlan("text_heavy_hitters_cms")
    // the grid rides as a subquery constant; the screen references the
    // estimate inside a Filter BEFORE the recount aggregation; the
    // sketch aggregate itself is object-hash (TypedImperativeAggregate)
    assert(plan.contains("graft_cms_estimate"), plan)
    assert(plan.toLowerCase.contains("subquery"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("layout_zorder_key is pure in-row bit arithmetic over the scan") {
    val plan = executedPlan("layout_zorder_key")
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  /** Every node of the executed plan, descending through AQE's
    * QueryStageExec leaves (stages hide their plan from TreeNode
    * traversal — CLAUDE.md convention). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collect { case n => n }.flatMap {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: allNodes(q.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: allNodes(a.executedPlan)
      case n => Seq(n)
    }

  private def executedNodes(name: String)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    allNodes(df.queryExecution.executedPlan)
  }

  test("text_bigram_logprob derives its vocabulary table once (r20 pin)") {
    // The r19 claim that AQE would reuse the ab exchange between the
    // probe join and the n_a re-aggregation was measured FALSE (the ab
    // corpus Generate executed twice). The r20 shape persists ab, so
    // the TOP-LEVEL executed plan must carry exactly ONE corpus
    // Generate (the probe-side bigram explode) and read the vocabulary
    // table from cache at least twice (join side + n_a side). A second
    // top-level Generate means the sharing regressed.
    spark.catalog.clearCache()
    val nodes = executedNodes("text_bigram_logprob")
    val gens = nodes.count(_.isInstanceOf[
      org.apache.spark.sql.execution.GenerateExec])
    val imrScans = nodes.count(
      _.getClass.getSimpleName.startsWith("InMemoryTableScan"))
    assert(gens == 1, s"expected 1 top-level Generate, got $gens")
    assert(imrScans >= 2, s"expected >=2 InMemoryTableScans, got $imrScans")
    spark.catalog.clearCache()
  }

  test("accuracy audits run the LSH pair subtree once (r20 pin)") {
    // pairs is persisted; without it the whole post-signature LSH
    // subtree executed twice (10 Generates measured in r19's executed
    // plan). The two remaining top-level Generates are the two
    // deliberate token-index join sides.
    Seq("dedup_minhash_accuracy", "dedup_simhash_accuracy").foreach { q =>
      spark.catalog.clearCache()
      val nodes = executedNodes(q)
      val gens = nodes.count(_.isInstanceOf[
        org.apache.spark.sql.execution.GenerateExec])
      val imrScans = nodes.count(
        _.getClass.getSimpleName.startsWith("InMemoryTableScan"))
      assert(gens <= 2, s"$q: expected <=2 top-level Generates, got $gens")
      assert(imrScans >= 2, s"$q: expected >=2 InMemoryTableScans, got $imrScans")
      spark.catalog.clearCache()
    }
  }
}
