#!/bin/bash
# Chunked sf10 verify: fresh JVM per family chunk so shuffle spill files
# are reclaimed between chunks (one JVM running every declared query
# accumulated ~80 GB of spills at sf10 and hit ENOSPC). Natural mode:
# check.py globs parts. HarnessSpec checks that CHUNKS lists exactly the
# declared queries.
set -u
SF=${SF:-testdata-sf10}
OUT=${OUT:-verify_out_r10_sf10}
CHUNKS=(
  "catalog_audit catalog_benford catalog_checksum catalog_columns catalog_corr catalog_drift catalog_histogram catalog_histogram_depth catalog_profile"
  "dedup_exact dedup_minhash dedup_simhash dedup_fuzzy dedup_fuzzy2"
  "dedup_jaccard dedup_embed_scaled dedup_embed_planted dedup_incremental dedup_incremental_compacted"
  "dedup_clusters"
  "etl_cleanse etl_count etl_dedup_employees etl_dim_upsert etl_employee_upsert etl_fact_upsert etl_publish etl_quarantine etl_scd2 etl_snapshot_diff etl_surrogate_keys etl_union_evolve"
  "events_asof events_asof_inner events_asof_multi events_attribution events_cdc events_funnel events_interval"
  "events_new_users events_props events_rolling events_sessions events_slo events_spike events_transitions events_wau events_window events_window_sliding"
  "join_anti join_basket join_salted join_semi join_skew_aqe"
  "kpi_anomalies kpi_anomalies_at_scale kpi_anomalies_dept kpi_by_dept kpi_cube kpi_delta_by_dept kpi_delta_company kpi_gapfill kpi_headcount_approx kpi_headcount_audit kpi_moving_avg"
  "layout_zorder layout_zorder3 layout_hilbert layout_dpp_star layout_bloom_smj layout_partition_z kpi_pareto kpi_pivot kpi_quantile_audit kpi_quartiles kpi_retention kpi_rollup kpi_slope kpi_summary kpi_trend kpi_winsorize"
  "media_decode media_decode_persisted media_frames media_meta"
  "pipeline_curate pipeline_decontam pipeline_decontam_embed pipeline_epochs pipeline_match pipeline_mixture pipeline_pack pipeline_pack_bpe pipeline_split sample_stratified"
  "similar_ann_ivf similar_ann_kmeans similar_ann_kmeans_persisted similar_ann_partitioned similar_ann_scaled similar_topk"
  "text_bigrams text_bm25 text_boilerplate text_bpe_train text_bpe_train512 text_bpe_train512_floor text_tokens_bpe512 text_deciles text_fingerprint text_heavy text_index text_langid text_langid_eval"
  "text_linedup text_perplexity text_perplexity_persisted text_repetition text_scrub text_stats text_tfidf text_tokens_bpe text_tokens_bpe_trained text_top_by_source text_vocab text_vocab_setops text_winnow"
)
i=0
for chunk in "${CHUNKS[@]}"; do
  i=$((i+1))
  echo "=== chunk $i/${#CHUNKS[@]}: $chunk"
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_VERIFY_NATURAL=1 \
    sbt -batch "runMain graft.Verify $SF $OUT $chunk" 2>&1 \
    | grep -E "VERIFY|error\]|Exception|No space" | grep -v "WARN" | tail -20
  df -h / | tail -1
done
echo "=== all chunks done"
