#!/bin/bash
# Regenerate the PLANS_r*.md audit artifact: AQE-final formatted plans
# of the scale-critical catalog queries (extension-loaded, sf0.01).
# Usage: tools/dump_plans.sh > PLANS_rN_body.txt
set -e
cd "$(dirname "$0")/.."
# the PLANS_r*.md dumps were taken at local[8] / 8 shuffle partitions
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}"
sbt -batch "runMain graft.Explain dedup_substring dedup_minhash_accuracy ann_recall_at_k multimodal_ann dedup_minhash_lsh ann_ivf_centroid bm25_topk text_tfidf_top_terms dedup_decontaminate corpus_sample_stratified asof_join_signup dedup_incremental text_repetition dedup_winnow corpus_pack_bins embedding_kmeans dedup_semantic dedup_paragraph corpus_importance_dsir text_perplexity_bucket corpus_mix_rebalance ann_ivf_kmeans corpus_sample_weighted" 2>&1 \
  | sed -n '/########## /,$p' | sed 's/^\[info\] //'
