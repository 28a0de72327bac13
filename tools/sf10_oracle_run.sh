#!/bin/bash
# VERDICT r12 mandate #3: oracle-run the non-codec families above
# sf0.1 — each family at ITS dense tier (the one that actually scales
# its input): dedup/winnowing at docs10 (documents x10, token-salted),
# ANN/embedding at emb25 (embeddings x25), the B-series window class +
# the two data-dependent CDC queries at sf10 (facts x100).
#
# Resumable (check_sf10.py skips already-green results in the output
# json), one incremental write per query; the query count is derived
# and echoed below rather than hard-coded here.
#
# Usage: tools/sf10_oracle_run.sh [outJson]
cd /root/repo
OUT=${1:-CORRECTNESS_SF10_r15.json}
# dedup_ngram_jaccard is back in (r14): its oracle now mirrors the
# lossless prefix-filter candidate generation (bag-equal with the
# all-pairs definition at sf0.01/sf0.1, verified; ~91 s at docs10 vs
# the old all-pairs SQL grinding >35 min unfinished).
# Slow-verify winnow-DP families run LAST so a grind can't block the
# rest of the board (the runner is resumable + incremental).
DEDUP="dedup_exact dedup_minhash_lsh dedup_simhash
 dedup_lines dedup_keep_best dedup_clusters dedup_bloom
 dedup_incremental dedup_prefix_suffix ngram_novelty
 contamination_ngram text_winnowing dedup_containment
 decontaminate_winnow source_dedup_matrix lsh_recall_audit
 dedup_edit_distance dedup_substring_spans dedup_span_chars
 dedup_cut_apply dedup_ngram_jaccard quality_dsir corpus_phrases"
ANN="ann_topk_bruteforce ann_lsh_bucketed ann_ivf ann_matryoshka_topk
 knn_graph pq_encode pq_adc_topk neardup_cosine dedup_semantic
 embedding_quantize embedding_dim_stats embedding_covariance
 embedding_pca_project embedding_random_projection hard_negatives
 cluster_label_tfidf"
WINDOWS="q_window_topn q_window_running q_window_ranks q_range_frame
 q_ntile_cume q_first_last q_rolling_distinct q_gaps_islands q_sessionize
 q_concurrency_gauge q_percentile_exact q_median_mode
 cdc_event_queue_drain cdc_span_lifecycle
 q3_join_topn q5_multijoin q_semi_join q_anti_join q_asof_join
 q_range_join q_funnel q_retention"
# r13 stretch: the byte-exact wire family at skew01 (hot-user events) -
# skewed keys are where the salted-join and byte-fold batch paths could
# mis-batch; every wire byte is hash-compared. The three RECURSIVE-fold
# oracles (codec_open_wire_bytes, sink_batch_bytes, sink_batch_flush)
# go through the python fold-replay checker instead: DuckDB's
# recursive CTE grinds for hours on deep groups (the skew tier's 21k
# hot partition; measured ~90 min without completing), while the
# imperative replay of the same rule (a third engine) is seconds.
SKEW="codec_craft codec_craft_decode codec_craft_resolved codec_checksum
 codec_open_wire codec_open_wire_decode
 codec_avro_binary codec_avro_decode codec_simple_avro
 codec_simple_avro_decode sink_batch_frame q_salted_skew_join"
echo "sf10 oracle run: $(echo $DEDUP $ANN $WINDOWS $SKEW | wc -w) check_sf10 queries + 3 fold-replay queries -> $OUT"
# r15 (VERDICT r14 mandate #2 + stretch #8): the top sf10 wall-time
# cells that lacked ANY dense-tier oracle — the eventstore/materialize/
# dynstream A-series family plus the sink render paths and the
# B-series heavy aggs/rollup class. Runs at /tmp/sf10 (facts x100).
R15_SF10="sink_kafka_messages cdc_eventstore_key q_corr_agg_subquery
 q_approx_quantile sink_encoder_group q_share_of_total cdc_txn_match
 cdc_dynstream_path_assign cdc_dispatcher_checkpoint cdc_table_progress
 session_transcripts cdc_event_seq_check cdc_scan_emit cdc_kv_key_codec
 cdc_event_physical cdc_scan_tasks cdc_schema_asof q_distinct_agg
 cdc_changefeed_overview cdc_syncpoint q_full_outer
 q_rollup q_cube q_grouping_sets q_json_extract split_leakage"
# r15-touched dedup family: re-verified at the NEW HEAD (the r14 board
# ran at a89137f; ngram_jaccard's verify filter and containment's gate
# changed in r15)
R15_DOCS10="dedup_ngram_jaccard dedup_containment quality_dsir
 corpus_phrases"
rc=0
if [ "${R15_ONLY:-1}" = "1" ]; then
  python3 tools/check_sf10.py /tmp/sf10   "$OUT" $R15_SF10  || rc=1
  python3 tools/check_sf10.py /tmp/docs10 "$OUT" $R15_DOCS10 || rc=1
else
  python3 tools/check_sf10.py /tmp/docs10 "$OUT" $DEDUP   || rc=1
  python3 tools/check_sf10.py /tmp/emb25  "$OUT" $ANN     || rc=1
  python3 tools/check_sf10.py /tmp/sf10   "$OUT" $WINDOWS || rc=1
  python3 tools/check_sf10.py /tmp/skew01 "$OUT" $SKEW    || rc=1
  python3 tools/sink_fold_check.py /tmp/skew01 "$OUT"     || rc=1
  python3 tools/check_sf10.py /tmp/sf10   "$OUT" $R15_SF10  || rc=1
fi
exit $rc
