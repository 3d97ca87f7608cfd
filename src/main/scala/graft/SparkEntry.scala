package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators.{Cluster, Curate, Dedup, Etl, Events, Kpi, Multimodal, Sample, Similarity, Text, TimeJoin}
import graft.sources.Catalog

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one implemented operator/capability from
  * SURVEY.md §2 (or a training-data extension), instantiated over the
  * driver's testdata tables; [[oracleSql]] carries the DuckDB-equivalent
  * statement for every SQL-expressible query.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Kpi.byDept(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kpi_summary" -> ((s, d) => Kpi.summary(s, d)),
    "kpi_by_dept" -> ((s, d) => Kpi.byDept(s, d)),
    "kpi_delta_company" -> ((s, d) => Kpi.deltaCompany(s, d)),
    "kpi_delta_by_dept" -> ((s, d) => Kpi.deltaByDept(s, d)),
    "kpi_anomalies" -> ((s, d) => Kpi.anomalies(s, d)),
    "kpi_anomalies_dept" -> ((s, d) => Kpi.anomalies(s, d,
      threshold = Kpi.AnomDeptThreshold, limit = Kpi.AnomDeptLimit,
      dept = Some(Kpi.AnomDept))),
    // Analytics surface beyond the reference's endpoints: month-series
    // trend (lag), ROLLUP grouping sets, pivot
    "kpi_trend" -> ((s, d) => Kpi.qTrend(s, d)),
    "kpi_moving_avg" -> ((s, d) => Kpi.qMovingAvg(s, d)),
    "kpi_rollup" -> ((s, d) => Kpi.qRollup(s, d)),
    "kpi_cube" -> ((s, d) => Kpi.qCube(s, d)),
    "kpi_quartiles" -> ((s, d) => Kpi.qQuartiles(s, d)),
    "kpi_pivot" -> ((s, d) => Kpi.qPivot(s, d)),
    // Cohort retention matrix (first-active-month cohorts over the
    // distinct-reduced activity set)
    "kpi_retention" -> ((s, d) => Kpi.qRetention(s, d)),
    // Robust aggregation: per-dept p05/p95 winsorized totals (discrete
    // order statistics — the clamp stays in exact decimal)
    "kpi_winsorize" -> ((s, d) => Kpi.qWinsorize(s, d)),
    // LEFT ANTI join surfaced as analytics (inactive customers per dept)
    "join_anti" -> ((s, d) => Kpi.qInactive(s, d)),
    // LEFT SEMI dual: active-employee roster (existence-only join)
    "join_semi" -> ((s, d) => Kpi.qSemi(s, d)),
    // Month-spine gap-fill with order-free forward fill
    "kpi_gapfill" -> ((s, d) => Kpi.qGapFill(s, d)),
    // ETL half (SURVEY §2.1/§2.2: S1, S4, S5, P2-P5, J6, A6, A7, A8, O3)
    // over the checked-in fixture CSVs.
    "etl_cleanse" -> ((s, _) => Etl.qCleanse(s)),
    "etl_dedup_employees" -> ((s, _) => Etl.qDedupEmployees(s)),
    "etl_surrogate_keys" -> ((s, _) => Etl.qSurrogateKeys(s)),
    "etl_dim_upsert" -> ((s, _) => Etl.qDimUpsert(s)),
    "etl_employee_upsert" -> ((s, _) => Etl.qEmployeeUpsert(s)),
    "etl_fact_upsert" -> ((s, _) => Etl.qFactUpsert(s)),
    "etl_count" -> ((s, _) => Etl.qCount(s)),
    // Manifest-pointer multi-table atomic commit over the same 3-table
    // lifecycle (summary computed FROM the published generations)
    "etl_publish" -> ((s, _) => Etl.qPublish(s)),
    // the rename-free commit-log protocol (object-store posture), same
    // lifecycle and oracle - a commit protocol changes cost, not answers
    "etl_publish_log" -> ((s, _) => Etl.qPublishLog(s)),
    "etl_snapshot_diff" -> ((s, _) => Etl.qSnapshotDiff(s)),
    // SCD Type-2 versioned-dimension maintenance (close + reopen in one
    // full-outer pass)
    "etl_scd2" -> ((s, _) => Etl.qScd2(s)),
    // S9 catalog introspection + data-level profiling
    "catalog_columns" -> ((s, _) => Catalog.columns(s)),
    "catalog_profile" -> ((s, d) => Catalog.qProfile(s, d)),
    // Orderless per-partition fingerprint (cross-engine data validation)
    // + equi-width value histogram (integer-exact bucket math)
    "catalog_checksum" -> ((s, d) => Catalog.qChecksum(s, d)),
    "catalog_histogram" -> ((s, d) => Catalog.qHistogram(s, d)),
    // Z-order clustered layout: 2-D box predicate served by footer-stat
    // row-group skipping (oracle runs on the original table — a layout
    // may change cost, never an answer)
    "layout_zorder" -> ((s, d) => sources.ZOrder.qZOrder(s, d)),
    "layout_zorder3" -> ((s, d) => sources.ZOrder.qZOrder3(s, d)),
    // The same 3-D box over a HILBERT-clustered layout (N-D Skilling
    // transpose kernel) — a curve swap may change scan cost, never an
    // answer, so the oracle is qZOrder3's on the original table
    "layout_hilbert" -> ((s, d) => sources.ZOrder.qHilbert3(s, d)),
    // Month-partitioned fact + dim-filter star: the months are resolved
    // at RUNTIME from the calendar dim, so dynamic partition pruning —
    // not the literal-collapse rewrite — prunes the fact scan
    "layout_dpp_star" -> ((s, d) => sources.Partitioned.qDppStar(s, d)),
    // The same star past the broadcast cliff: SMJ regime pinned, the
    // runtime bloom filter prunes the fact side of the shuffle
    // (might_contain machine-checked in PlanAuditSpec)
    "layout_bloom_smj" -> ((s, d) => sources.BloomJoin.qBloomStar(s, d)),
    // Composed layout: month partitions × z tiles within each month —
    // directory pruning AND footer skipping in one scan (ZORDERLAB_r13's
    // arm_partition_compose graduated to a gated query)
    "layout_partition_z" -> ((s, d) => sources.Partitioned.qPartitionZ(s, d)),
    // Training-data dedup family over `documents`
    "dedup_exact" -> ((s, d) => Dedup.qExact(s, d)),
    "dedup_minhash" -> ((s, d) => Dedup.qMinhash(s, d)),
    "dedup_jaccard" -> ((s, d) => Dedup.qJaccard(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.qSimhash(s, d)),
    // Embedding near-dup at production banding (8×16-bit bands, 0.95
    // verify). The narrow demo banding (10×6-bit, 0.45) was RETIRED from
    // the declared surface in round 10: ProbeCand measured its 640-bucket
    // value space quadratic in corpus size (sf10 exclusion in r9); it
    // lives on as a DedupSpec/PlanAuditSpec fixture via Dedup.qEmbed.
    "dedup_embed_scaled" -> ((s, d) => Dedup.qEmbedScaled(s, d)),
    // Planted-replica twin: the driver-sf base corpus correctly yields
    // 0 rows above (max cosine 0.513), so this gate plants verbatim
    // replicas through the same wide-band + verify arithmetic to keep
    // a NON-VACUOUS driver-visible row at every sf
    "dedup_embed_planted" -> ((s, d) => Dedup.qEmbedPlanted(s, d)),
    // Incremental: new batch vs persisted corpus band index
    "dedup_incremental" -> ((s, d) => Dedup.qIncremental(s, d)),
    // Same batch vs the COMPACTED index (ingest partitions folded into
    // the bucketed steady-state table) — compaction may change cost,
    // never a candidate
    "dedup_incremental_compacted" -> ((s, d) => Dedup.qIncrementalCompacted(s, d)),
    // Edit-distance fuzzy entity matching (deletion-neighborhood
    // blocking, levenshtein-verified)
    "dedup_fuzzy" -> ((s, d) => Dedup.qFuzzy(s, d)),
    // d<=2 entity resolution: planted two-edit twins + total-recall column
    "dedup_fuzzy2" -> ((s, d) => Dedup.qFuzzy2(s, d)),
    // Cluster formation over the verified near-dup pairs (connected
    // components via iterative min-label propagation)
    "dedup_clusters" -> ((s, d) => Cluster.qClusters(s, d)),
    // The O(log n) large-star/small-star fallback FORCED as the component
    // algorithm (the path deep graphs degrade to) — same oracle: component
    // identity is algorithm-independent
    "dedup_clusters_stars" -> ((s, d) => Cluster.qClustersStars(s, d)),
    // Deterministic stratified hash sampling (training-data mixing)
    "sample_stratified" -> ((s, d) => Sample.qSample(s, d)),
    // End-to-end curation: exact dedup -> near-dup clusters -> quality
    // gate -> stratified mixture sample, composed from the operators above
    "pipeline_curate" -> ((s, d) => Curate.qCurate(s, d)),
    // Similarity search over `embeddings`
    "similar_topk" -> ((s, d) => Similarity.qTopK(s, d)),
    "similar_ann_ivf" -> ((s, d) => Similarity.qIvf(s, d)),
    // Lloyd-trained codebook ANN — the deterministic fixed-count
    // training loop UNROLLS into the oracle SQL, so even the iterative
    // path is hash-gated; SimilaritySpec additionally gates recall.
    "similar_ann_kmeans" -> ((s, d) => Similarity.qIvfKmeans(s, d)),
    // Same ANN against the PERSISTED codebook artifact (train-once,
    // read-thereafter; fingerprint-keyed freshness)
    "similar_ann_kmeans_persisted" -> ((s, d) => Similarity.qIvfKmeansPersisted(s, d)),
    // The full 100 TB posture: member assignment ALSO persisted, written
    // partitionBy(cell); the probe's nprobe cells prune the member scan
    // at the directory level via dynamic partition pruning (machine-
    // checked in PlanAuditSpec) — no per-query full-corpus assignment
    "similar_ann_partitioned" -> ((s, d) => Similarity.qIvfKmeansPartitioned(s, d)),
    // Corpus-SCALED partitioned ANN: nlist = isqrt(n) hash-mod seeds +
    // nprobe = ceil(cells/10) — a fixed ~10% scanned fraction at every
    // corpus size, vs the fixed-nlist family's measured recall decay
    // (ANNLAB r16/r17); count -> isqrt -> seed selection -> Lloyd all
    // mirrored in the oracle SQL
    "similar_ann_scaled" -> ((s, d) => Similarity.qIvfScaled(s, d)),
    // Text analysis over `documents`
    "text_stats" -> ((s, d) => Text.qStats(s, d)),
    "text_langid" -> ((s, d) => Text.qLangId(s, d)),
    "text_fingerprint" -> ((s, d) => Text.qFingerprint(s, d)),
    "text_winnow" -> ((s, d) => Text.qWinnow(s, d)),
    "text_vocab" -> ((s, d) => Text.qVocab(s, d)),
    "text_bm25" -> ((s, d) => Text.qBm25(s, d)),
    "text_top_by_source" -> ((s, d) => Text.qTopBySource(s, d)),
    "text_deciles" -> ((s, d) => Text.qDeciles(s, d)),
    "text_vocab_setops" -> ((s, d) => Text.qVocabSetOps(s, d)),
    "text_bigrams" -> ((s, d) => Text.qBigrams(s, d)),
    "text_tfidf" -> ((s, d) => Text.qTfidf(s, d)),
    // PII scrubbing (RE2-safe rule set, redaction fingerprint) and
    // token-budget training-shard packing
    "text_scrub" -> ((s, d) => Text.qScrub(s, d)),
    "pipeline_pack" -> ((s, d) => Text.qPack(s, d)),
    // BPE tokenizer: trained-merges subword counts (codegen'd replace
    // chain, zero UDF) + the pack twin budgeted in BPE tokens
    "text_tokens_bpe" -> ((s, d) => Text.qTokensBpe(s, d)),
    "text_bpe_train" -> ((s, d) => Text.qBpeTrain(s, d)),
    "text_tokens_bpe_trained" -> ((s, d) => Text.qTokensBpeTrained(s, d)),
    "pipeline_pack_bpe" -> ((s, d) => Text.qPackBpe(s, d)),
    // BPE at production VOCAB scale (r16): exact batched training to 512
    // merges on the fixed entity corpus, gated against an independent
    // sequential-greedy recursion; apply through the native rank-map
    // kernel with all merges bound as one constant (cost independent of
    // vocab size — the r15 replace-chain cliff)
    "text_bpe_train512" -> ((s, d) => Text.qBpeTrain512(s, d)),
    // 512-merge train over the min_frequency-floored word table (floor
    // mirrored in the oracle's HAVING) — the crawl-scale regime: the
    // floor puts a Zipf word table back inside the zero-jobs-per-merge
    // driver loop (BPELAB r17)
    "text_bpe_train512_floor" -> ((s, d) => Text.qBpeTrain512Floor(s, d)),
    "text_tokens_bpe512" -> ((s, d) => Text.qTokensBpe512(s, d)),
    // Exact heavy hitters via per-partition Misra-Gries candidates +
    // broadcast verify (never shuffles a non-candidate token)
    "text_heavy" -> ((s, d) => operators.Heavy.qHeavy(s, d)),
    // Benchmark decontamination: train-vs-eval k-gram overlap report
    "pipeline_decontam" -> ((s, d) => operators.Decontam.qReport(s, d)),
    // Semantic twin: cosine contamination vs the broadcast benchmark set,
    // planted bench replicas keep the row non-vacuous at every sf
    "pipeline_decontam_embed" -> ((s, d) => operators.Decontam.qEmbedReport(s, d)),
    // Deterministic train/val/test split manifest (salted-hash assignment)
    "pipeline_split" -> ((s, d) => Sample.qSplit(s, d)),
    // Per-dept exact least-squares trend slope (closed form, int/decimal sums)
    "kpi_slope" -> ((s, d) => Kpi.qSlope(s, d)),
    // Declarative expectations audit (fused per-table rule aggregates + FK anti-join)
    "catalog_audit" -> ((s, d) => sources.Catalog.qAudit(s, d)),
    // Skew-salted join gated against the plain-join oracle
    "join_salted" -> ((s, d) => operators.Skew.qSalted(s, d)),
    // Rung-1 skew lever: AQE split REQUIRED to engage on a planted hot key
    "join_skew_aqe" -> ((s, d) => operators.Skew.qSkewAqe(s, d)),
    // Event-time windows + sessionization over `events`
    "events_window" -> ((s, d) => Events.qTumbling(s, d)),
    "events_window_sliding" -> ((s, d) => Events.qSliding(s, d)),
    "events_sessions" -> ((s, d) => Events.qSessions(s, d)),
    "events_props" -> ((s, d) => Events.qProps(s, d)),
    // Temporal joins beyond built-ins: as-of (point-in-time, union+window
    // formulation) and interval containment (bin-bucketed equi-join), plus
    // a value-range rolling window frame
    "events_asof" -> ((s, d) => TimeJoin.qAsof(s, d)),
    // The same as-of semantics through the NATIVE custom operator
    // (AsOfJoinNode/Strategy/Exec via SparkSessionExtensions) — one
    // oracle, two implementations
    "events_asof_native" -> ((s, d) => TimeJoin.qAsofNative(s, d)),
    // Composite-key (user_id, day) + inner variants of the native as-of
    // operator — multi-column equi-key merge, and unmatched-left drop
    "events_asof_multi" -> ((s, d) => TimeJoin.qAsofMulti(s, d)),
    "events_asof_inner" -> ((s, d) => TimeJoin.qAsofInner(s, d)),
    "events_interval" -> ((s, d) => TimeJoin.qInterval(s, d)),
    "events_rolling" -> ((s, d) => Events.qRolling(s, d)),
    // Ordered-sequence funnel in one window pass
    "events_funnel" -> ((s, d) => Events.qFunnel(s, d)),
    // Multimodal binary columns (decode kernels stubbed; plumbing real)
    "media_meta" -> ((s, d) => Multimodal.qMediaMeta(s, d)),
    "media_frames" -> ((s, d) => Multimodal.qFrames(s, d)),
    // REAL image decode: PNG-encode (javax.imageio) then genuinely
    // decode back; the raster dims must reproduce the oracle's formula
    "media_decode" -> ((s, d) => Multimodal.qMediaDecode(s, d)),
    // Same decode against the PERSISTED encoded-media artifact (encode
    // paid once at ingest — the warehouse steady state; same oracle)
    "media_decode_persisted" -> ((s, d) => Multimodal.qMediaDecodePersisted(s, d)),
    // HLL sketch next to exact distinct — rows+schema-gated with the
    // VALUE waived by design (the sketch is engine-specific, so the
    // oracle substitutes the exact distinct and hash_match is expected
    // false; see Kpi.headcountApproxOracleSql). The engine-independent
    // property — the estimate's relative error bound vs the exact
    // count — is hash-gated separately as kpi_headcount_audit; KpiSpec
    // also bounds the error.
    "kpi_headcount_approx" -> ((s, d) => Kpi.headcountApprox(s, d)),
    // Same anomalies semantics via the spillable sort-based exact median
    // (SURVEY §7.2 scale path) — same oracle, different physical plan.
    "kpi_anomalies_at_scale" -> ((s, d) => Kpi.anomalies(s, d, scalableMedian = true)),
    // Within-doc n-gram repetition ratio (Gopher quality-gate family)
    "text_repetition" -> ((s, d) => Text.qRepetition(s, d)),
    // Cross-document span dedup (C4 three-sentence-span rule over word
    // chunks): keep the globally-first occurrence, rebuild doc text
    "text_linedup" -> ((s, d) => Text.qLineDedup(s, d)),
    // CDC-log apply: last-write-wins + delete tombstones via a
    // map-side-combinable max(struct) aggregate, no window
    "events_cdc" -> ((s, d) => Events.qCdc(s, d)),
    // Source-weighted epoch resampling (the "2.5 epochs of wiki" mixture
    // step): hash-deterministic fractional epochs, zero shuffles
    "pipeline_epochs" -> ((s, d) => Sample.qEpochs(s, d)),
    // Corpus-bigram-LM fluency scoring with integer-exact surprisal bits
    // (the perplexity-filter shape, made hash-gate deterministic)
    "text_perplexity" -> ((s, d) => Text.qPerplexity(s, d)),
    // Same scoring against the PERSISTED bigram-LM artifact (the
    // train pass amortizes to zero across the query stream)
    "text_perplexity_persisted" -> ((s, d) => Text.qPerplexityPersisted(s, d)),
    // Benford first-digit audit (fraud/synthetic-data screen) over the
    // exact integer cents of o_totalprice
    "catalog_benford" -> ((s, d) => Catalog.qBenford(s, d)),
    // Two-sample distribution drift between year windows: shared integer
    // bucket grid, one conditional-arm aggregate, chi-square terms
    "catalog_drift" -> ((s, d) => Catalog.qDrift(s, d)),
    // Pareto/ABC concentration of per-dept totals (exact-decimal cumsum)
    "kpi_pareto" -> ((s, d) => Kpi.qPareto(s, d)),
    // Event-rate spike detection: hourly counts vs trailing-24-observed
    // baseline, variance from exact integer sums
    "events_spike" -> ((s, d) => Events.qSpikes(s, d)),
    // Market-basket brand co-occurrence with support/confidence/lift;
    // pairs built in-row from sorted basket sets, never a self-join
    "join_basket" -> ((s, d) => operators.Basket.qBasket(s, d)),
    // Frequency-based boilerplate removal (drop EVERY occurrence of a
    // chunk seen in >= BoilerDf distinct docs — lineDedup's complement)
    "text_boilerplate" -> ((s, d) => Text.qBoilerplate(s, d)),
    // Capped inverted index: exact df/cf + first-K posting lists,
    // rank-filtered BEFORE collect so stopword postings never OOM
    "text_index" -> ((s, d) => operators.Index.qIndex(s, d)),
    // Daily new/returning decomposition; cumulative distinct users as a
    // running sum of news (no per-day distinct over a growing prefix)
    "events_new_users" -> ((s, d) => Events.qNewUsers(s, d)),
    // HLL-vs-exact error-budget audit: the engine-independent boolean
    // the hash gate CAN check (the sketch value itself is rows-only)
    "kpi_headcount_audit" -> ((s, d) => Kpi.headcountAudit(s, d)),
    // Dead-letter routing: which RAW rows violated which rules, before
    // cleanse's silent repairs hide them (in-row rule array, no shuffle)
    "etl_quarantine" -> ((s, _) => Etl.qQuarantine(s)),
    // Schema-evolution union: name-aligned, null-padded, lineage-tagged
    "etl_union_evolve" -> ((s, _) => Etl.qUnionEvolve(s)),
    // Histogram-matching downsample: match a candidate source's length
    // distribution to a target's shape, exact-integer acceptance test
    "pipeline_match" -> ((s, d) => Sample.qMatch(s, d)),
    // Last-touch conversion attribution in ONE user-keyed window pass
    "events_attribution" -> ((s, d) => Events.qAttribution(s, d)),
    // percentile_approx error-budget audit (rank bound p45..p55), same
    // engine-independent-boolean pattern as the HLL audit
    "kpi_quantile_audit" -> ((s, d) => Kpi.quantileAudit(s, d)),
    // Pairwise correlation screen: one pass of exact integer moments,
    // signed r² (sqrt-free) with doubles only at the final cast
    "catalog_corr" -> ((s, d) => Catalog.qCorr(s, d)),
    // Equi-depth (decile-cut) histogram: two passes, no global window
    "catalog_histogram_depth" -> ((s, d) => Catalog.qHistogramDepth(s, d)),
    // Markov transition matrix of user journeys: one lag window pass
    "events_transitions" -> ((s, d) => Events.qTransitions(s, d)),
    // Hourly SLO breach report; breach decided by exact integer
    // cross-multiplication, never a float threshold
    "events_slo" -> ((s, d) => Events.qSlo(s, d)),
    // Classifier-eval confusion matrix for langId vs the labeled lang
    "text_langid_eval" -> ((s, d) => Text.qLangIdEval(s, d)),
    // Corpus-mixture composition: per-source doc/token counts + shares
    "pipeline_mixture" -> ((s, d) => Text.qMixture(s, d)),
    // DAU/WAU/stickiness: trailing distinct via bounded explode of the
    // collapsed activity frame, never a per-day re-count
    "events_wau" -> ((s, d) => Events.qWau(s, d)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "kpi_summary" -> Kpi.summarySql(),
    "kpi_by_dept" -> Kpi.byDeptSql(),
    "kpi_delta_company" -> Kpi.deltaCompanySql(),
    "kpi_delta_by_dept" -> Kpi.deltaByDeptSql(),
    "kpi_anomalies" -> Kpi.anomaliesSql(),
    "kpi_anomalies_dept" -> Kpi.anomaliesSql(
      threshold = Kpi.AnomDeptThreshold, limit = Kpi.AnomDeptLimit,
      dept = Some(Kpi.AnomDept)),
    "kpi_trend" -> Kpi.trendSql(),
    "kpi_moving_avg" -> Kpi.movingAvgSql(),
    "kpi_rollup" -> Kpi.rollupSql(),
    "kpi_cube" -> Kpi.cubeSql(),
    "kpi_quartiles" -> Kpi.quartilesSql(),
    "kpi_pivot" -> Kpi.pivotSql(),
    "kpi_retention" -> Kpi.retentionSql(),
    "kpi_winsorize" -> Kpi.winsorizeSql(),
    "join_anti" -> Kpi.inactiveSql(),
    "join_semi" -> Kpi.semiSql(),
    "kpi_gapfill" -> Kpi.gapFillSql(),
    "etl_cleanse" -> Etl.qCleanseSql,
    "etl_dedup_employees" -> Etl.qDedupEmployeesSql,
    "etl_surrogate_keys" -> Etl.qSurrogateKeysSql,
    "etl_dim_upsert" -> Etl.qDimUpsertSql,
    "etl_employee_upsert" -> Etl.qEmployeeUpsertSql,
    "etl_fact_upsert" -> Etl.qFactUpsertSql,
    "etl_count" -> Etl.qCountSql,
    "etl_publish" -> Etl.qPublishSql,
    "etl_publish_log" -> Etl.qPublishSql,
    "etl_snapshot_diff" -> Etl.qSnapshotDiffSql,
    "etl_scd2" -> Etl.qScd2Sql,
    "catalog_columns" -> Catalog.columnsSql,
    "catalog_profile" -> Catalog.qProfileSql,
    "catalog_checksum" -> Catalog.qChecksumSql,
    "catalog_histogram" -> Catalog.qHistogramSql,
    "layout_zorder" -> sources.ZOrder.qZOrderSql,
    "layout_zorder3" -> sources.ZOrder.qZOrder3Sql,
    // same oracle as layout_zorder3: identical box, curve only moves cost
    "layout_hilbert" -> sources.ZOrder.qZOrder3Sql,
    "layout_dpp_star" -> sources.Partitioned.qDppStarSql,
    "layout_bloom_smj" -> sources.BloomJoin.qBloomStarSql,
    "layout_partition_z" -> sources.Partitioned.qPartitionZSql,
    "dedup_exact" -> Dedup.qExactSql,
    "dedup_minhash" -> Dedup.qMinhashSql,
    "dedup_jaccard" -> Dedup.qJaccardSql,
    "dedup_simhash" -> Dedup.qSimhashSql,
    "dedup_embed_scaled" -> Dedup.qEmbedScaledSql,
    "dedup_embed_planted" -> Dedup.qEmbedPlantedSql,
    "dedup_incremental" -> Dedup.qIncrementalSql,
    // the SAME oracle: pre- vs post-compaction candidate identity IS the gate
    "dedup_incremental_compacted" -> Dedup.qIncrementalSql,
    "dedup_fuzzy" -> Dedup.qFuzzySql,
    "dedup_fuzzy2" -> Dedup.qFuzzy2Sql,
    "dedup_clusters" -> Cluster.qClustersSql,
    // the SAME oracle: the star variant must produce identical components
    "dedup_clusters_stars" -> Cluster.qClustersSql,
    "sample_stratified" -> Sample.qSampleSql,
    "pipeline_curate" -> Curate.qCurateSql,
    "similar_topk" -> Similarity.qTopKSql,
    "similar_ann_ivf" -> Similarity.qIvfSql,
    "similar_ann_kmeans" -> Similarity.qIvfKmeansSql(),
    "similar_ann_kmeans_persisted" -> Similarity.qIvfKmeansSql(),
    "similar_ann_partitioned" -> Similarity.qIvfKmeansSql(),
    "similar_ann_scaled" -> Similarity.qIvfScaledSql(),
    "text_stats" -> Text.qStatsSql,
    "text_langid" -> Text.qLangIdSql,
    "text_fingerprint" -> Text.qFingerprintSql,
    "text_winnow" -> Text.qWinnowSql,
    "text_vocab" -> Text.qVocabSql,
    "text_bm25" -> Text.qBm25Sql,
    "text_top_by_source" -> Text.qTopBySourceSql,
    "text_deciles" -> Text.qDecilesSql,
    "text_vocab_setops" -> Text.qVocabSetOpsSql,
    "text_bigrams" -> Text.qBigramsSql,
    "text_tfidf" -> Text.qTfidfSql,
    "text_scrub" -> Text.qScrubSql,
    "pipeline_pack" -> Text.qPackSql,
    "text_tokens_bpe" -> Text.qTokensBpeSql,
    "text_bpe_train" -> Text.qBpeTrainSql,
    "text_tokens_bpe_trained" -> Text.qTokensBpeTrainedSql,
    "text_bpe_train512" -> Text.qBpeTrain512Sql,
    "text_bpe_train512_floor" -> Text.qBpeTrain512FloorSql,
    "text_tokens_bpe512" -> Text.qTokensBpe512Sql,
    "pipeline_pack_bpe" -> Text.qPackBpeSql,
    "text_heavy" -> operators.Heavy.qHeavySql,
    "pipeline_decontam" -> operators.Decontam.qReportSql,
    "pipeline_decontam_embed" -> operators.Decontam.qEmbedReportSql,
    "pipeline_split" -> Sample.qSplitSql,
    "kpi_slope" -> Kpi.slopeSql(),
    "catalog_audit" -> sources.Catalog.qAuditSql,
    "join_salted" -> operators.Skew.qSaltedSql,
    "join_skew_aqe" -> operators.Skew.qSkewAqeSql,
    "events_window" -> Events.qTumblingSql,
    "events_window_sliding" -> Events.qSlidingSql,
    "events_sessions" -> Events.qSessionsSql,
    "events_props" -> Events.qPropsSql,
    "events_asof" -> TimeJoin.qAsofSql,
    "events_asof_native" -> TimeJoin.qAsofSql,
    "events_asof_multi" -> TimeJoin.qAsofMultiSql,
    "events_asof_inner" -> TimeJoin.qAsofInnerSql,
    "events_interval" -> TimeJoin.qIntervalSql,
    "events_rolling" -> Events.qRollingSql,
    "events_funnel" -> Events.qFunnelSql,
    "media_meta" -> Multimodal.qMediaMetaSql,
    "media_frames" -> Multimodal.qFramesSql,
    "media_decode" -> Multimodal.qMediaDecodeSql,
    "media_decode_persisted" -> Multimodal.qMediaDecodeSql,
    "kpi_anomalies_at_scale" -> Kpi.anomaliesSql(),
    "text_repetition" -> Text.qRepetitionSql,
    "text_linedup" -> Text.qLineDedupSql,
    "events_cdc" -> Events.qCdcSql,
    "pipeline_epochs" -> Sample.qEpochsSql,
    "text_perplexity" -> Text.qPerplexitySql,
    "text_perplexity_persisted" -> Text.qPerplexitySql,
    "catalog_benford" -> Catalog.qBenfordSql,
    "catalog_drift" -> Catalog.qDriftSql,
    "kpi_pareto" -> Kpi.paretoSql(),
    "events_spike" -> Events.qSpikesSql,
    "join_basket" -> operators.Basket.qBasketSql,
    "text_boilerplate" -> Text.qBoilerplateSql,
    "text_index" -> operators.Index.qIndexSql,
    "events_new_users" -> Events.qNewUsersSql,
    "kpi_headcount_audit" -> Kpi.headcountAuditSql(),
    // value-waived rows+schema gate; hash divergence on `approx` is the
    // documented engine-specific HLL (bound gated by kpi_headcount_audit)
    "kpi_headcount_approx" -> Kpi.headcountApproxOracleSql(),
    "etl_quarantine" -> Etl.qQuarantineSql,
    "etl_union_evolve" -> Etl.qUnionEvolveSql,
    "pipeline_match" -> Sample.qMatchSql,
    "events_attribution" -> Events.qAttributionSql,
    "kpi_quantile_audit" -> Kpi.quantileAuditSql(),
    "catalog_corr" -> Catalog.qCorrSql,
    "catalog_histogram_depth" -> Catalog.qHistogramDepthSql,
    "events_transitions" -> Events.qTransitionsSql,
    "events_slo" -> Events.qSloSql,
    "text_langid_eval" -> Text.qLangIdEvalSql,
    "pipeline_mixture" -> Text.qMixtureSql,
    "events_wau" -> Events.qWauSql,
  )

  /** Queries whose VALUES are waived by design, with the reason — the
    * self-describing annotation the gate artifacts carry so a reader
    * never has to re-derive "waived-by-design vs failing" from SURVEY.
    * Verify dumps this as `waivers.json` next to `oracle_sql.json`;
    * tools/check.py folds it into each CORRECTNESS record. */
  def valueWaived: Map[String, String] = Map(
    "kpi_headcount_approx" ->
      ("no_oracle_by_design: engine-specific HLL++ estimate (DuckDB has " +
        "no bit-identical twin); rows+schema gated here, the 5% error " +
        "bound hash-gated by kpi_headcount_audit"),
  )
}
