"""Query registry — the single source for __spark_entry__.queries() /
oracle_sql() and for bench.py's headline set.

Every entry pairs a Spark implementation with its DuckDB oracle SQL
(None only for genuinely non-SQL-reproducible ops, e.g. ANN with
recall<1 — the driver then records a rows-only check).

Ordering contract: the correctness driver evaluates only the FIRST 50
entries each round. Entries are defined below grouped by theme; the
effective order is the 50 names of ``_WINDOW`` (positions 1-50), then
``_DEFERRED_NEW`` (entries added after the window was set: they
rotate in next round and the list empties), then everything else in
definition order. Rotation rule: every entry whose newest green driver
evidence is about to fall off the freshness horizon of
max(2, ceil(|registry| / 50)) CORRECTNESS reports, and every entry
with no green evidence, must sit inside the window; free slots go to
the oldest-evidence cohort in definition order.
``tools/rotation_plan.py`` computes the next window mechanically (run
it when a CORRECTNESS report lands), ``tests/test_registry_order.py``
enforces the rule, and ``tools/oracle_sweep.py`` checks every
oracle-paired entry against DuckDB at sf0.01 between driver rounds.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import curation_q, dims_q, events_q, llm_q, relational


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


QUERIES: list[QueryDef] = [
    # ----------------------------------------------------------------
    # Tier 1 — never driver-green. r1: env/hash fail; r2: past the
    # 50-entry window (or canonicalizer err). Highest evidence priority.
    # ----------------------------------------------------------------
    QueryDef("q_lang_quality", llm_q.q_lang_quality, llm_q.Q_LANG_QUALITY_SQL,
             "lang-ID confusion rollup + quality mass"),
    QueryDef("q_geo_enrichment", llm_q.q_geo_enrichment,
             llm_q.Q_GEO_ENRICHMENT_SQL,
             "vectorized geohash/H3/timezone enrichment (U1-U3), "
             "recursive-CTE geohash oracle"),
    QueryDef("q_simhash", llm_q.q_simhash, llm_q.Q_SIMHASH_SQL,
             "SimHash signatures, 60 effective bits, bit-exact DuckDB oracle"),
    QueryDef("q_embedding_topk_lsh", llm_q.q_embedding_topk_lsh, None,
             "ANN top-k via hyperplane LSH (recall<1 -> rows-only check)"),
    QueryDef("q_user_event_arrays", events_q.q_user_event_arrays,
             events_q.Q_USER_EVENT_ARRAYS_SQL,
             "collect_list/array_agg surface: sorted arrays + arg_min/max "
             "(array outputs stringified for the harness; typed variant "
             "pytest-covered)"),
    QueryDef("q_approx_profile", events_q.q_approx_profile, None,
             "HLL distinct + quantile sketches (estimates are "
             "implementation-defined -> rows-only; bounds pytest-checked)"),
    # ----------------------------------------------------------------
    # Tier 2 — added in r2 (and r3), never driver-checked.
    # ----------------------------------------------------------------
    QueryDef("q_editdist_verify", llm_q.q_editdist_verify,
             llm_q.Q_EDITDIST_VERIFY_SQL,
             "edit-distance verification of LSH candidates (native "
             "levenshtein, prefix-bounded)"),
    QueryDef("q_dedup_clusters", llm_q.q_dedup_clusters,
             llm_q.Q_DEDUP_CLUSTERS_SQL,
             "near-dup clusters: connected components + canonical pick"),
    QueryDef("q_embedding_topk_ivf", llm_q.q_embedding_topk_ivf,
             llm_q.Q_EMBEDDING_TOPK_IVF_SQL,
             "IVF ANN top-k (label-cell coarse quantizer, nprobe=2)"),
    QueryDef("q_winnow_fingerprints", llm_q.q_winnow_fingerprints,
             llm_q.Q_WINNOW_FINGERPRINTS_SQL,
             "winnowing (rolling-hash selection) fingerprints — MOSS "
             "partial-overlap scheme, digest oracle-exact"),
    QueryDef("q_token_stats", llm_q.q_token_stats,
             llm_q.Q_TOKEN_STATS_SQL,
             "whitespace vs BPE-ish sub-word token accounting per "
             "language (lookaround-free oracle identity)"),
    QueryDef("q_winnow_overlap", llm_q.q_winnow_overlap,
             llm_q.Q_WINNOW_OVERLAP_SQL,
             "partial-overlap pairs via shared winnow selections "
             "(selection-hash equi-join, no cross product)"),
    QueryDef("q_time_travel", relational.q_time_travel,
             relational.Q_TIME_TRAVEL_SQL,
             "timestampAsOf twin: CDF reconstruction of the pre-mutation "
             "state hash-equals the untouched source"),
    QueryDef("q_ivm_refresh", relational.q_ivm_refresh,
             relational.Q_IVM_REFRESH_SQL,
             "incremental view maintenance: CDF-fed O(changes) refresh "
             "hash-equals the full O(table) aggregate"),
    QueryDef("q_audio_windows", llm_q.q_audio_windows,
             llm_q.Q_AUDIO_WINDOWS_SQL,
             "multimodal audio leg: windowed byte-energy features over "
             "binary payloads (Arrow mapInPandas, md5-free integer oracle)"),
    QueryDef("q_row_fingerprints", relational.q_row_fingerprints,
             relational.Q_ROW_FINGERPRINTS_SQL,
             "SCD2 row-hash (F4 sha2 idiom) + epoch/timestamp round trip "
             "(F3), oracle-exact"),
    QueryDef("q_embedding_dedup", llm_q.q_embedding_dedup,
             llm_q.Q_EMBEDDING_DEDUP_SQL,
             "SemDeDup-style embedding dedup: cosine pairs -> connected "
             "components -> canonical keep-list"),
    QueryDef("q_sequence_packing", llm_q.q_sequence_packing,
             llm_q.Q_SEQUENCE_PACKING_SQL,
             "GPT-style concat-and-split packing into 128-token training "
             "windows (shard-partitioned cumsum, integer-exact ranges)"),
    QueryDef("q_embedding_dedup_fast", llm_q.q_embedding_dedup_fast, None,
             "cluster-blocked SemDeDup (pairs within IVF cells only, "
             "O(n^2/K); rows-only — float centroids + recall<1, pytest-"
             "pinned >=0.95 vs the exact twin)"),
    QueryDef("q_neardup_verified_fast", llm_q.q_neardup_verified_fast, None,
             "near-dup pipeline, xxhash64 MinHash family (production "
             "path, 6x faster; rows-only — native hash not in DuckDB)"),
    QueryDef("q_embedding_topk_ivf_fast", llm_q.q_embedding_topk_ivf_fast, None,
             "IVF ANN, float partial-sum centroids (production path; "
             "rows-only — float training not oracle-hashable)"),
    QueryDef("q_embedding_quantized", llm_q.q_embedding_quantized,
             llm_q.Q_EMBEDDING_QUANTIZED_SQL,
             "int8 scalar quantization — engine-exact compressed codes"),
    QueryDef("q_frame_sampling", llm_q.q_frame_sampling,
             llm_q.Q_FRAME_SAMPLING_SQL,
             "video frame-sample plumbing: every-Nth fixed-size frame via "
             "Arrow mapInPandas, md5-of-slice oracle"),
    QueryDef("q_pii_redaction", llm_q.q_pii_redaction,
             llm_q.Q_PII_REDACTION_SQL,
             "email/IP/phone scrub with per-kind counts"),
    QueryDef("q_sentence_split", llm_q.q_sentence_split,
             llm_q.Q_SENTENCE_SPLIT_SQL,
             "Python UDTF lateral join == declarative unnest twin"),
    QueryDef("q_contamination", curation_q.q_contamination,
             curation_q.Q_CONTAMINATION_SQL,
             "8-gram eval-set decontamination (broadcast eval grams)"),
    QueryDef("q_boilerplate_ngrams", curation_q.q_boilerplate_ngrams,
             curation_q.Q_BOILERPLATE_NGRAMS_SQL,
             "corpus trigram doc-frequency top-50 (boilerplate signal)"),
    QueryDef("q_quality_rules", curation_q.q_quality_rules,
             curation_q.Q_QUALITY_RULES_SQL,
             "Gopher-style composite keep/drop rule battery"),
    QueryDef("q_doc_top_terms", curation_q.q_doc_top_terms,
             curation_q.Q_DOC_TOP_TERMS_SQL,
             "characteristic terms per doc: integer-exact tf-idf ordering, "
             "per-doc window rank"),
    QueryDef("q_repetition_profile", curation_q.q_repetition_profile,
             curation_q.Q_REPETITION_PROFILE_SQL,
             "Gopher line/n-gram repetition filters (dup-line mass, "
             "dup-5-gram fraction) — map-only array HOFs"),
    QueryDef("q_unigram_lm", curation_q.q_unigram_lm,
             curation_q.Q_UNIGRAM_LM_SQL,
             "CCNet-style LM quality score: mean -log2 p(token) under "
             "the corpus unigram distribution"),
    QueryDef("q_dsir", curation_q.q_dsir, curation_q.Q_DSIR_SQL,
             "DSIR importance resampling weights: hashed-bigram "
             "log-likelihood ratio vs the English target slice"),
    QueryDef("q_curated_corpus", curation_q.q_curated_corpus,
             curation_q.Q_CURATED_CORPUS_SQL,
             "END-TO-END curation: quality -> decontam -> exact dedup -> "
             "LSH near-dup -> chunking, full-pipeline oracle replay"),
    QueryDef("q_corpus_splits", llm_q.q_corpus_splits,
             llm_q.Q_CORPUS_SPLITS_SQL,
             "deterministic train/val/test carve + per-(lang,split) accounting"),
    QueryDef("q_source_mixing", llm_q.q_source_mixing,
             llm_q.Q_SOURCE_MIXING_SQL,
             "sqrt-temperature corpus mixing (integer-exact rates)"),
    QueryDef("q_sample_per_source", llm_q.q_sample_per_source,
             llm_q.Q_SAMPLE_PER_SOURCE_SQL,
             "exactly-k deterministic reservoir per source"),
    QueryDef("q_stream_attribution", events_q.q_stream_attribution,
             events_q.Q_STREAM_ATTRIBUTION_SQL,
             "watermarked stream-stream interval join (click attribution)"),
    # ---- added mid-r4 AFTER the window rotation locked (see _DEFERRED_NEW)
    QueryDef("q_span_dedup", curation_q.q_span_dedup,
             curation_q.Q_SPAN_DEDUP_SQL,
             "corpus-level exact span dedup (C4/RefinedWeb line-dedup "
             "shape), keep-first + text reassembly"),
    QueryDef("q_linear_quality", curation_q.q_linear_quality,
             curation_q.Q_LINEAR_QUALITY_SQL,
             "fastText-style hashed linear classifier scoring (map-only "
             "array HOFs, hash-derived stand-in weights)"),
    QueryDef("q_contamination_bloom", curation_q.q_contamination_bloom, None,
             "Bloom-bitmap decontamination production path (rows-only: "
             "xxhash64 bitmap; pytest pins flagged >= exact, FP bound)"),
    QueryDef("q_session_windows", events_q.q_session_windows,
             events_q.Q_SESSION_WINDOWS_SQL,
             "NATIVE session_window streaming agg, append mode — oracle "
             "replays gap-merge + watermark emission rule"),
    QueryDef("q_bpe_merges", llm_q.q_bpe_merges, None,
             "distributed BPE tokenizer training, 64 merges on the "
             "batched path (batch=8, <=16 passes asserted; iterative "
             "-> rows-only; pytest pins classic AND batched merge "
             "lists exactly vs a pure-Python reference). CHANGED in "
             "r6 (was 16 merges batch=1) -> must rotate into the r7 "
             "window."),
    QueryDef("q_inverted_index", llm_q.q_inverted_index,
             llm_q.Q_INVERTED_INDEX_SQL,
             "postings-list construction: top-50 terms by doc_freq with "
             "ordered posting strings (search-infra surface)"),
    QueryDef("q_pq_codes", llm_q.q_pq_codes, None,
             "product-quantization codes (m=8, ksub=16): 64 floats -> "
             "8 bytes/vector (rows-only; pytest pins codebook+codes "
             "bit-for-bit vs numpy reference)"),
    # ----------------------------------------------------------------
    # Tier 3 — r1-green, unchecked in r2 (stale evidence).
    # ----------------------------------------------------------------
    QueryDef("q_text_profile", llm_q.q_text_profile, llm_q.Q_TEXT_PROFILE_SQL,
             "token count / lang-id / fingerprint per doc"),
    QueryDef("q_exact_dedup", llm_q.q_exact_dedup, llm_q.Q_EXACT_DEDUP_SQL,
             "exact dedup groups via md5 fingerprint"),
    QueryDef("q_jaccard_pairs", llm_q.q_jaccard_pairs, llm_q.Q_JACCARD_PAIRS_SQL,
             "bigram-shingle Jaccard near-dup pairs"),
    QueryDef("q_minhash_signatures", llm_q.q_minhash_signatures,
             llm_q.Q_MINHASH_SIGNATURES_SQL, "md5 MinHash signatures (8 hashes)"),
    QueryDef("q_lsh_candidates", llm_q.q_lsh_candidates,
             llm_q.Q_LSH_CANDIDATES_SQL, "LSH banding candidate pairs"),
    QueryDef("q_neardup_verified", llm_q.q_neardup_verified,
             llm_q.Q_NEARDUP_VERIFIED_SQL,
             "MinHash->LSH->exact-Jaccard verified near-dup pipeline"),
    QueryDef("q_embedding_topk", llm_q.q_embedding_topk,
             llm_q.Q_EMBEDDING_TOPK_SQL, "brute-force cosine top-5 (ids+rank)"),
    QueryDef("q_embedding_neardup", llm_q.q_embedding_neardup,
             llm_q.Q_EMBEDDING_NEARDUP_SQL, "embedding-cosine near-dup pairs"),
    QueryDef("q_multimodal_features", llm_q.q_multimodal_features,
             llm_q.Q_MULTIMODAL_FEATURES_SQL,
             "binary payload + Arrow mapInPandas features"),
    QueryDef("q_chunking", llm_q.q_chunking, llm_q.Q_CHUNKING_SQL,
             "fixed-size token chunks with overlap (training-data prep)"),
    QueryDef("q_vocabulary", llm_q.q_vocabulary, llm_q.Q_VOCABULARY_SQL,
             "corpus token frequency / vocabulary building"),
    QueryDef("q_label_centroids", llm_q.q_label_centroids,
             llm_q.Q_LABEL_CENTROIDS_SQL,
             "per-label embedding centroids via posexplode + exact sums"),
    QueryDef("q_stratified_sample", llm_q.q_stratified_sample,
             llm_q.Q_STRATIFIED_SAMPLE_SQL,
             "per-language hash-sampling rates (corpus mixing)"),
    QueryDef("q_dim_time", dims_q.q_dim_time, dims_q.Q_DIM_TIME_SQL,
             "minute-of-day generator (F10-F12)"),
    # ----------------------------------------------------------------
    # Tier 4 — rotation slice of the r2-green set: refresh evidence for
    # the flagship + the operators most load-bearing for SURVEY §2.
    # ----------------------------------------------------------------
    QueryDef("q01_pricing_summary", relational.q01_pricing_summary,
             relational.Q01_SQL, "scan+filter+multi-agg (A1,P4,P10,F12)"),
    QueryDef("q_user_lifecycle_pivot", events_q.q_user_lifecycle_pivot,
             events_q.Q_USER_LIFECYCLE_PIVOT_SQL,
             "conditional-max pivot — the trip_fact idiom (A4)"),
    QueryDef("q03_shipping_priority", relational.q03_shipping_priority,
             relational.Q03_SQL, "3-way join + agg + total-order top-k (J2,A1,W1)"),
    QueryDef("q_sessionization", events_q.q_sessionization,
             events_q.Q_SESSIONIZATION_SQL, "gap sessionization via lag+cumsum (W2)"),
    QueryDef("q_scd2_history", events_q.q_scd2_history,
             events_q.Q_SCD2_HISTORY_SQL, "SCD2 change-detect semantics as a query"),
    QueryDef("q_streaming_event_counts", events_q.q_streaming_event_counts,
             events_q.Q_STREAMING_EVENT_COUNTS_SQL,
             "Structured Streaming availableNow agg == batch (ST1/ST2)"),
    QueryDef("q_streaming_windowed_counts", events_q.q_streaming_windowed_counts,
             events_q.Q_STREAMING_WINDOWED_COUNTS_SQL,
             "watermarked tumbling windows, append mode (ST4) — oracle "
             "replays the emission rule"),
    QueryDef("q_funnel", events_q.q_funnel,
             events_q.Q_FUNNEL_SQL,
             "ordered-step funnel via chained conditional mins"),
    QueryDef("q_retention_cohorts", events_q.q_retention_cohorts,
             events_q.Q_RETENTION_COHORTS_SQL,
             "weekly retention matrix (first-seen cohorts)"),
    QueryDef("q_asof_attribution", events_q.q_asof_attribution,
             events_q.Q_ASOF_ATTRIBUTION_SQL,
             "as-of join: purchase -> latest prior click (union+window)"),
    QueryDef("q_cohort_set_ops", relational.q_cohort_set_ops,
             relational.Q_COHORT_SET_OPS_SQL,
             "INTERSECT/EXCEPT cohort tagging (SO extension)"),
    QueryDef("q_salted_brand_revenue", relational.q_salted_brand_revenue,
             relational.Q_SALTED_BRAND_REVENUE_SQL,
             "salted skew join == plain join (oracle proves equivalence)"),
    QueryDef("q_unpivot_balances", relational.q_unpivot_balances,
             relational.Q_UNPIVOT_BALANCES_SQL,
             "native unpivot/melt == ANSI UNPIVOT (inverse of A4 pivot)"),
    QueryDef("q_dim_date", dims_q.q_dim_date, dims_q.Q_DIM_DATE_SQL,
             "sequence/explode calendar generator"),
    # ----------------------------------------------------------------
    # Tier 5 — r2-green, evidence in CORRECTNESS_r02.json; past the
    # driver window this round, rotate forward next round.
    # ----------------------------------------------------------------
    QueryDef("q05_region_revenue", relational.q05_region_revenue,
             relational.Q05_SQL, "6-way join, broadcast dims (J2)"),
    QueryDef("q06_forecast_revenue", relational.q06_forecast_revenue,
             relational.Q06_SQL, "pushdown filter + scalar agg (P4,P8)"),
    QueryDef("q_market_segment", relational.q_market_segment,
             relational.Q_MARKET_SEGMENT_SQL, "filtered counts count(when) (A2)"),
    QueryDef("q_top_customers", relational.q_top_customers,
             relational.Q_TOP_CUSTOMERS_SQL, "ranking window per partition (W1)"),
    QueryDef("q_order_gaps", relational.q_order_gaps,
             relational.Q_ORDER_GAPS_SQL, "lag window + datediff (W2,F16)"),
    QueryDef("q_union_entities", relational.q_union_entities,
             relational.Q_UNION_ENTITIES_SQL, "union all + agg (SO1,SO2)"),
    QueryDef("q_customers_no_orders", relational.q_customers_no_orders,
             relational.Q_CUSTOMERS_NO_ORDERS_SQL, "left-anti join (J5)"),
    QueryDef("q_priority_filters", relational.q_priority_filters,
             relational.Q_PRIORITY_FILTERS_SQL, "isin/between/like/startswith (P5-P9)"),
    QueryDef("q_customer_tiers", relational.q_customer_tiers,
             relational.Q_CUSTOMER_TIERS_SQL, "case-when tiering (F8) + countDistinct"),
    QueryDef("q_rollup_revenue", relational.q_rollup_revenue,
             relational.Q_ROLLUP_REVENUE_SQL, "rollup grouping sets (extension)"),
    QueryDef("q_cube_orders", relational.q_cube_orders,
             relational.Q_CUBE_ORDERS_SQL, "cube grouping sets (extension)"),
    QueryDef("q_part_stats", relational.q_part_stats,
             relational.Q_PART_STATS_SQL, "string/math scalar funcs + agg (P1-P3,F5)"),
    QueryDef("q12_late_shipments", relational.q12_late_shipments,
             relational.Q12_LATE_SHIPMENTS_SQL,
             "join + conditional counts + date arithmetic (A2,F8)"),
    QueryDef("q14_promo_revenue", relational.q14_promo_revenue,
             relational.Q14_PROMO_REVENUE_SQL, "revenue-share ratio of exact sums"),
    QueryDef("q04_priority_semi", relational.q04_priority_semi,
             relational.Q04_PRIORITY_SEMI_SQL, "left-semi join / EXISTS (J-family)"),
    QueryDef("q10_returned_items", relational.q10_returned_items,
             relational.Q10_RETURNED_ITEMS_SQL,
             "returned-value customers: 4-way join + top-20 (J2,W1)"),
    QueryDef("q_customer_deciles", relational.q_customer_deciles,
             relational.Q_CUSTOMER_DECILES_SQL, "ntile + dense_rank deciles (W2)"),
    QueryDef("q07_nation_volume", relational.q07_nation_volume,
             relational.Q07_SQL, "two-nation volume, broadcast dims (J2,F9)"),
    QueryDef("q08_market_share", relational.q08_market_share,
             relational.Q08_SQL, "market-share ratio of conditional sums (A3)"),
    QueryDef("q09_product_profit", relational.q09_product_profit,
             relational.Q09_SQL, "profit by nation/year, LIKE-pruned parts"),
    QueryDef("q13_customer_distribution", relational.q13_customer_distribution,
             relational.Q13_SQL, "outer-join count-of-counts histogram (J,A)"),
    QueryDef("q15_top_supplier", relational.q15_top_supplier,
             relational.Q15_SQL, "agg-view max via 1-row broadcast join"),
    QueryDef("q17_small_qty_revenue", relational.q17_small_qty_revenue,
             relational.Q17_SQL, "decorrelated scalar subquery (agg+join)"),
    QueryDef("q18_large_orders", relational.q18_large_orders,
             relational.Q18_SQL, "HAVING semi join + TakeOrdered top-100"),
    QueryDef("q19_disjunctive_revenue", relational.q19_disjunctive_revenue,
             relational.Q19_SQL, "OR-of-conjunction predicates (P4 stress)"),
    QueryDef("q21_waiting_supplier", relational.q21_waiting_supplier,
             relational.Q21_SQL, "EXISTS/NOT-EXISTS decorrelated to aggs"),
    QueryDef("q22_idle_customers", relational.q22_idle_customers,
             relational.Q22_SQL, "global-avg scalar broadcast + anti join"),
    QueryDef("q_props_json", events_q.q_props_json,
             events_q.Q_PROPS_JSON_SQL, "JSON path extraction (F1,F2)"),
    QueryDef("q_moving_value", events_q.q_moving_value,
             events_q.Q_MOVING_VALUE_SQL, "rowsBetween frame aggregates (W2 ext)"),
    QueryDef("q_daily_timeseries", events_q.q_daily_timeseries,
             events_q.Q_DAILY_TIMESERIES_SQL, "date_trunc time-series rollup"),
    QueryDef("q_top_purchasers", events_q.q_top_purchasers,
             events_q.Q_TOP_PURCHASERS_SQL, "filtered agg + global top-k"),
    QueryDef("q_event_quantiles", events_q.q_event_quantiles,
             events_q.Q_EVENT_QUANTILES_SQL,
             "exact grouped quantiles via applyInPandas (UDAF extension)"),
    QueryDef("q_time_rollup_multires", events_q.q_time_rollup_multires,
             events_q.Q_TIME_ROLLUP_MULTIRES_SQL,
             "hour+day rollup grains in one grouping-sets pass"),
    QueryDef("q_error_after_purchase", events_q.q_error_after_purchase,
             events_q.Q_ERROR_AFTER_PURCHASE_SQL,
             "range join via interval binning (errors within 6h of purchase)"),
    # ------------------------------------------------------------------
    # Tier 7 — added later in r4 (deferred-new lane, see _DEFERRED_NEW).
    # ------------------------------------------------------------------
    QueryDef("q_bm25_search", llm_q.q_bm25_search, llm_q.Q_BM25_SEARCH_SQL,
             "BM25 ranked retrieval (Okapi k1/b) top-20, decimal-exact"),
    QueryDef("q_export_manifest", llm_q.q_export_manifest,
             llm_q.Q_EXPORT_MANIFEST_SQL,
             "training-export shard manifest: md5 shards + "
             "order-insensitive content digest"),
    QueryDef("q_embedding_topk_ivfpq", llm_q.q_embedding_topk_ivfpq, None,
             "IVFADC ANN: IVF cells + PQ residual codes + asymmetric "
             "distance scan (float k-means -> rows-only; pytest pins "
             "recall vs brute force)"),
    QueryDef("q_embedding_topk_ivfpq_search", llm_q.q_embedding_topk_ivfpq_search,
             None,
             "IVFADC search over a PREBUILT index — the amortized "
             "per-batch production cost (rows-only; pytest pins "
             "prebuilt == one-shot)"),
    QueryDef("q_csv_roundtrip", llm_q.q_csv_roundtrip,
             llm_q.Q_CSV_ROUNDTRIP_SQL,
             "CSV source coverage: quoted/escaped write + PERMISSIVE "
             "schema read, digest-proven byte-exact round trip"),
    QueryDef("q_jsonl_roundtrip", llm_q.q_jsonl_roundtrip,
             llm_q.Q_JSONL_ROUNDTRIP_SQL,
             "JSON-lines source coverage: corrupt-record-quarantine "
             "read path, digest-proven round trip"),
    QueryDef("q_orc_roundtrip", llm_q.q_orc_roundtrip,
             llm_q.Q_ORC_ROUNDTRIP_SQL,
             "ORC source/sink coverage, digest-proven round trip"),
    QueryDef("q_gapfill_daily", events_q.q_gapfill_daily,
             events_q.Q_GAPFILL_DAILY_SQL,
             "time-series gap fill: dense per-user day grid + "
             "forward-fill (sequence+explode, key-partitioned window)"),
    QueryDef("q_pagerank_trading", relational.q_pagerank_trading,
             relational.Q_PAGERANK_TRADING_SQL,
             "PageRank (3 damped iterations) on the symmetrized "
             "customer-supplier graph, DECIMAL-exact iterations"),
    QueryDef("q_pagerank_trading_fast", relational.q_pagerank_trading_fast,
             None,
             "PageRank production twin: double-precision iterations, "
             "no per-element decimal tax (float sums -> rows-only; "
             "pytest pins mass~=1 + top-10 overlap vs the exact twin)"),
    QueryDef("q_kmeans_clusters", llm_q.q_kmeans_clusters, None,
             "label-free bounded-Lloyd k-means corpus clustering "
             "(float means -> rows-only; pytest pins recovery + numpy "
             "replay)"),
    QueryDef("q_incremental_neardup", llm_q.q_incremental_neardup,
             llm_q.Q_INCREMENTAL_NEARDUP_SQL,
             "incremental near-dup: materialized base signatures + "
             "delta batch, pairs touching the delta only"),
    QueryDef("q_customer_percentiles", relational.q_customer_percentiles,
             relational.Q_CUSTOMER_PERCENTILES_SQL,
             "percent_rank/cume_dist/nth_value analytic windows over "
             "segment spend, explicit full-partition ROWS frame"),
    QueryDef("q_snapshot_diff", relational.q_snapshot_diff,
             relational.Q_SNAPSHOT_DIFF_SQL,
             "row-level diff of two CDF snapshots (added/removed/"
             "changed per status) — table_changes summarized"),
    QueryDef("q_image_resize", llm_q.q_image_resize,
             llm_q.Q_IMAGE_RESIZE_SQL,
             "multimodal resize leg: nearest-neighbor byte-grid resize "
             "via Arrow mapInPandas, digest-pinned pixel gather"),
    QueryDef("q_hard_negatives", llm_q.q_hard_negatives,
             llm_q.Q_HARD_NEGATIVES_SQL,
             "contrastive hard-negative mining: per-query top-5 "
             "most-similar different-label vectors"),
    QueryDef("q_training_export", curation_q.q_training_export,
             curation_q.Q_TRAINING_EXPORT_SQL,
             "CAPSTONE: full curation pipeline kept-set -> shard "
             "manifest (the warehouse-to-training handoff, full-replay "
             "oracle)"),
    QueryDef("q_masked_read", relational.q_masked_read,
             relational.Q_MASKED_READ_SQL,
             "fine-grained access control: row filter + column masks "
             "(Lakeguard/UC-style) folded into the plan"),
    QueryDef("q_interpolate_daily", events_q.q_interpolate_daily,
             events_q.Q_INTERPOLATE_DAILY_SQL,
             "linear-interpolation gap fill (forward-fill's companion "
             "mode), decimal-exact"),
    # ------------------------------------------------------------------
    # Tier 8 — added in r6 (deferred-new lane, see _DEFERRED_NEW).
    # ------------------------------------------------------------------
    QueryDef("q_bpe_encode", llm_q.q_bpe_encode, None,
             "corpus tokenization with trained BPE merges (batched "
             "trainer + Arrow mapInPandas encoder, distinct-word "
             "cache) -> per-language token accounting (rows-only: "
             "iterative trainer upstream; encoder pytest-pinned vs "
             "encode_word)"),
    QueryDef("q_hybrid_search_rrf", llm_q.q_hybrid_search_rrf,
             llm_q.Q_HYBRID_SEARCH_RRF_SQL,
             "hybrid retrieval: reciprocal-rank fusion (RRF k=60) of "
             "the BM25 lexical top-20 and the dense cosine top-20 over "
             "the shared doc/vec id space"),
    QueryDef("q_bigram_lm", curation_q.q_bigram_lm,
             curation_q.Q_BIGRAM_LM_SQL,
             "order-2 LM quality score: add-one-smoothed bigram "
             "conditionals under corpus counts (the word-order signal "
             "q_unigram_lm cannot see)"),
    QueryDef("q_mmr_rerank", llm_q.q_mmr_rerank, None,
             "MMR diversity re-rank of the cosine top-50 pool "
             "(lambda=0.7, k=10) — the post-ANN rerank stage "
             "(rows-only: greedy float argmax; pytest pins picks vs "
             "an independent numpy replay)"),
    QueryDef("q_quality_buckets", curation_q.q_quality_buckets,
             curation_q.Q_QUALITY_BUCKETS_SQL,
             "CCNet head/middle/tail carve: per-language quality "
             "terciles of the unigram-LM score (ntile per-lang window) "
             "summarized per (lang, tier)"),
    QueryDef("q_dup_span_removal", curation_q.q_dup_span_removal,
             curation_q.Q_DUP_SPAN_REMOVAL_SQL,
             "Lee-et-al duplicate-substring removal: sliding 8-gram "
             "first-occurrence keep, position-coverage delete, "
             "reassembly (any-alignment companion to q_span_dedup)"),
    QueryDef("q_cms_heavy_hitters", llm_q.q_cms_heavy_hitters,
             llm_q.Q_CMS_HEAVY_HITTERS_SQL,
             "Count-Min sketch (D=4 x W=512, md5-salted rows) point "
             "estimates for the exact top-20 tokens — deterministic "
             "integer cells, oracle-checked sketch"),
    QueryDef("q_winsorized_stats", events_q.q_winsorized_stats,
             events_q.Q_WINSORIZED_STATS_SQL,
             "percentile outlier clipping (winsorize p01/p99 per "
             "event_type): exact-percentile bounds, clip counts, "
             "DECIMAL-policy winsorized mass"),
    QueryDef("q_kmv_distinct", events_q.q_kmv_distinct,
             events_q.Q_KMV_DISTINCT_SQL,
             "KMV (k-minimum md5 values) cardinality sketch vs exact "
             "distinct per event_type — the deterministic, "
             "oracle-checked counterpart to the rows-only HLL profile"),
    # -- the four TPC-H numbers the battery was missing (02/11/16/20),
    # -- adapted to this schema's lineitem-as-partsupp bridge; with
    # -- these the full classic 22 are covered (q01..q22).
    QueryDef("q02_min_cost_supplier", relational.q02_min_cost_supplier,
             relational.Q02_SQL,
             "adapted TPC-H Q02: cheapest EUROPE supplier per STANDARD "
             "part (per-part window min with suppkey tiebreak, "
             "decorrelated from the classic correlated MIN)"),
    QueryDef("q11_important_parts", relational.q11_important_parts,
             relational.Q11_SQL,
             "adapted TPC-H Q11: parts above 0.1% of ASIA-region "
             "revenue — global scalar threshold via 1-row broadcast, "
             "decimal-exact two-level total"),
    QueryDef("q16_supplier_diversity", relational.q16_supplier_diversity,
             relational.Q16_SQL,
             "adapted TPC-H Q16: distinct-supplier counts per part spec "
             "with a NOT-IN denylist (left-anti) over deficit suppliers"),
    QueryDef("q20_dominant_suppliers", relational.q20_dominant_suppliers,
             relational.Q20_SQL,
             "adapted TPC-H Q20: AMERICA suppliers shipping >50% of a "
             "red part's 1997 volume (nested correlated agg "
             "decorrelated into two-level grouped sums)"),
    # -- late-r6 analytics batch 2: graph triangles, record linkage,
    # -- sequence mining, distribution profiling.
    QueryDef("q_triangle_suppliers", relational.q_triangle_suppliers,
             relational.Q_TRIANGLE_SUPPLIERS_SQL,
             "triangle counting on the supplier co-supply graph "
             "(degree-oriented wedge join; completes the graph trio "
             "with PageRank and connected components)"),
    QueryDef("q_fuzzy_part_match", relational.q_fuzzy_part_match,
             relational.Q_FUZZY_PART_MATCH_SQL,
             "record linkage: noun-blocked levenshtein fuzzy join over "
             "part names (blocking-key + verify, never all-pairs)"),
    QueryDef("q_event_transitions", events_q.q_event_transitions,
             events_q.Q_EVENT_TRANSITIONS_SQL,
             "first-order Markov transition matrix over per-user event "
             "sequences (lag window + row-normalized probabilities)"),
    QueryDef("q_value_histogram", events_q.q_value_histogram,
             events_q.Q_VALUE_HISTOGRAM_SQL,
             "per-type equi-width value histogram (broadcast min/max "
             "bounds + clamped bucket arithmetic)"),
    QueryDef("q_entity_clusters", relational.q_entity_clusters,
             relational.Q_ENTITY_CLUSTERS_SQL,
             "entity resolution capstone: blocked fuzzy join -> "
             "connected components -> canonical representative "
             "(recursive-reachability oracle)"),
    QueryDef("q_trailing_7day", events_q.q_trailing_7day,
             events_q.Q_TRAILING_7DAY_SQL,
             "time-RANGE window frame: per-user trailing 7-day rolling "
             "sum over daily DECIMAL totals (rangeBetween on the day "
             "ordinal == RANGE INTERVAL 6 DAY PRECEDING)"),
    # Tier 9 — added in r7 (deferred-new lane, see _DEFERRED_NEW).
    QueryDef("q_containment_pairs", llm_q.q_containment_pairs,
             llm_q.Q_CONTAINMENT_PAIRS_SQL,
             "directed shingle containment |A∩B|/|A| (quote/excerpt "
             "detector): prefix-filtered SSJoin candidates vs a naive "
             "all-pairs oracle"),
    QueryDef("q_pareto_parts", relational.q_pareto_parts,
             relational.Q_PARETO_PARTS_SQL,
             "2-D Pareto skyline via sort-scan window vs an "
             "independent NOT-EXISTS dominance oracle"),
    QueryDef("q_column_profile", relational.q_column_profile,
             relational.Q_COLUMN_PROFILE_SQL,
             "ANALYZE-style per-column profile (nulls / exact distinct "
             "/ min / max as text) in one aggregate pass"),
    QueryDef("q_kanon_risk", relational.q_kanon_risk,
             relational.Q_KANON_RISK_SQL,
             "k-anonymity equivalence-class audit over the customer "
             "quasi-identifier pair (governance)"),
    QueryDef("q_benford_totals", relational.q_benford_totals,
             relational.Q_BENFORD_TOTALS_SQL,
             "Benford first-digit profile of order totals with inlined "
             "expected mass (fraud/data-entry screen)"),
    QueryDef("q_event_lift", events_q.q_event_lift,
             events_q.Q_EVENT_LIFT_SQL,
             "market-basket association (support/confidence/lift) over "
             "event-type pairs at user grain — ratios of exact counts, "
             "no logs"),
    QueryDef("q_oov_rate", llm_q.q_oov_rate,
             llm_q.Q_OOV_RATE_SQL,
             "out-of-vocabulary rate per source vs a reference-corpus "
             "vocabulary (tokenizer health / domain drift)"),
    QueryDef("q_copurchase_brands", relational.q_copurchase_brands,
             relational.Q_COPURCHASE_BRANDS_SQL,
             "item-item collaborative filtering over order baskets: "
             "co-occurrence counts scored by cosine (IEEE-exact sqrt) "
             "and overlap coefficient"),
    QueryDef("q_gini_revenue", relational.q_gini_revenue,
             relational.Q_GINI_REVENUE_SQL,
             "Gini concentration of customer revenue per market "
             "segment — integer-cents rank formula, one final double "
             "division"),
    QueryDef("q_mad_outliers", events_q.q_mad_outliers,
             events_q.Q_MAD_OUTLIERS_SQL,
             "Hampel median/MAD robust-outlier screen per event_type "
             "(counts + rates; companion to the winsorize clip)"),
    QueryDef("q_user_streaks", events_q.q_user_streaks,
             events_q.Q_USER_STREAKS_SQL,
             "gaps-and-islands: per-user consecutive-active-day "
             "streaks via the day_ordinal - row_number island key"),
    QueryDef("q_chisq_drift", llm_q.q_chisq_drift,
             llm_q.Q_CHISQ_DRIFT_SQL,
             "chi-square length-distribution drift per source vs the "
             "corpus over the full contingency grid (log-free PSI "
             "cousin)"),
    QueryDef("q_conversion_latency", events_q.q_conversion_latency,
             events_q.Q_CONVERSION_LATENCY_SQL,
             "per-funnel-step time-to-convert stats (median/p90/mean "
             "seconds) over the strictly-ordered first-touch chain"),
    QueryDef("q_fk_integrity", relational.q_fk_integrity,
             relational.Q_FK_INTEGRITY_SQL,
             "referential-integrity audit: orphan counts and rates "
             "for every FK edge of the star schema in one report"),
    QueryDef("q_revenue_concentration", relational.q_revenue_concentration,
             relational.Q_REVENUE_CONCENTRATION_SQL,
             "Lorenz head stats per segment: min top-k customers "
             "covering 50%/90% of revenue and the top-decile share "
             "(integer cumulative-sum thresholds)"),
    QueryDef("q_corr_profile", relational.q_corr_profile,
             relational.Q_CORR_PROFILE_SQL,
             "Pearson correlation matrix from exact integer "
             "sufficient statistics (one scan, decimal(38,0) sums), "
             "not order-sensitive streaming corr()"),
    QueryDef("q_supplier_reach", relational.q_supplier_reach,
             relational.Q_SUPPLIER_REACH_SQL,
             "bounded 3-hop BFS reachability over the supplier "
             "co-supply graph (frontier join + anti-join per hop)"),
    QueryDef("q_label_agreement", llm_q.q_label_agreement,
             llm_q.Q_LABEL_AGREEMENT_SQL,
             "Cohen's kappa between two document labelers per source "
             "(chance-corrected agreement; exact-integer pe==1 guard)"),
    QueryDef("q_geo_radius_join", relational.q_geo_radius_join,
             relational.Q_GEO_RADIUS_JOIN_SQL,
             "spatial radius join via grid-cell blocking + 3x3 probe "
             "+ exact distance verify (md5-fraction coordinates)"),
    QueryDef("q_lag1_autocorr", events_q.q_lag1_autocorr,
             events_q.Q_LAG1_AUTOCORR_SQL,
             "lag-1 autocorrelation per event type from exact decimal "
             "sufficient statistics over a lead() window"),
    QueryDef("q_ranksum_sources", llm_q.q_ranksum_sources,
             llm_q.Q_RANKSUM_SOURCES_SQL,
             "Mann-Whitney rank-sum test per source vs rest of corpus "
             "(tie-corrected z; ranks from the distinct-value table, "
             "no global row window)"),
    QueryDef("q_weighted_median", relational.q_weighted_median,
             relational.Q_WEIGHTED_MEDIAN_SQL,
             "quantity-weighted median price per flag via integer "
             "cumulative-weight threshold (left weighted median)"),
    QueryDef("q_ols_trend", relational.q_ols_trend,
             relational.Q_OLS_TREND_SQL,
             "least-squares daily-revenue trend per segment (slope + "
             "R^2 from exact integer sufficient statistics, no "
             "windows)"),
    QueryDef("q_cusum_changepoint", events_q.q_cusum_changepoint,
             events_q.Q_CUSUM_CHANGEPOINT_SQL,
             "CUSUM changepoint localization per event type: the peak "
             "of the integer-exact D_t = n*cum_t - t*S statistic and "
             "its time index"),
    # Tier 10 — added in r8 (deferred-new lane, see _DEFERRED_NEW).
    QueryDef("q_seasonal_decomposition", events_q.q_seasonal_decomposition,
             events_q.Q_SEASONAL_DECOMPOSITION_SQL,
             "day-of-week seasonal index per event type (the "
             "decomposition/forecast class): ratio-of-integer-ratios, "
             "ISO weekday probed across engines"),
    # Tier 11 — added in r9 (deferred-new lane, see _DEFERRED_NEW).
    QueryDef("q_peak_concurrency", events_q.q_peak_concurrency,
             events_q.Q_PEAK_CONCURRENCY_SQL,
             "peak simultaneous user sessions per day (the interval-"
             "algebra / sweep-line class): 30-min sessionization -> "
             "+1/-1 boundary deltas -> distributed running sum via "
             "range-partition + broadcast prefix offsets, never a "
             "single-partition global window; all-integer, exact"),
    # Tier 12 — added in r10 (deferred-new lane, see _DEFERRED_NEW).
    QueryDef("q_quantile_sketch", llm_q.q_quantile_sketch, None,
             "mergeable t-digest quantile summary (the bounded-size "
             "percentile primitive): per-source digests + global "
             "rollup MERGED from the summaries, never re-reading the "
             "corpus; estimates implementation-defined -> rows-only, "
             "rank-error <= 1.5/delta pytest-pinned vs exact"),
    QueryDef("q_weighted_sample", llm_q.q_weighted_sample,
             llm_q.Q_WEIGHTED_SAMPLE_SQL,
             "systematic PPS weighted sampling (row-level weight-"
             "proportional selection): hash-randomized order + "
             "distributed integer prefix sum + integer-division "
             "interval test — no pow/ln keys, hash-exact in any "
             "engine"),
    QueryDef("q_spatial_neighbors", llm_q.q_spatial_neighbors,
             llm_q.Q_SPATIAL_NEIGHBORS_SQL,
             "spatial radius SELF-join at pair grain (operatorized "
             "form of the q_geo_radius_join inline pattern): grid-"
             "cell 5-cell half-neighborhood equi-join (r11: 9N -> 5N "
             "exploded rows), each unordered pair once; IEEE-exact "
             "squared-distance residual, fully oracle-paired vs "
             "DuckDB brute force"),
    QueryDef("q_lpa_communities", relational.q_lpa_communities,
             relational.Q_LPA_COMMUNITIES_SQL,
             "label-propagation communities on the part co-order "
             "graph (the community-detection class, distinct from CC "
             "transitive closure): synchronous mode-of-neighbors with "
             "total tie-break, fixed 3 rounds — all-integer, DuckDB "
             "replays the iteration as chained CTEs, fully "
             "oracle-paired"),
    # Tier 13 — added in r11 (deferred-new lane, see _DEFERRED_NEW).
    QueryDef("q_kcore_parts", relational.q_kcore_parts,
             relational.Q_KCORE_PARTS_SQL,
             "k-core by synchronous degree peeling on the repeat-"
             "co-purchase part graph (the density-FILTERING class the "
             "graph family lacked — the spam/link-farm primitive): "
             "peeling is fixpoint-stable, so the fixed-R chained-CTE "
             "replay is exact at any R — all-integer, no tie-breaks, "
             "fully oracle-paired"),
    # Tier 14 — added in r12 (deferred-new lane, see _DEFERRED_NEW).
    QueryDef("q_neardup_incremental", llm_q.q_neardup_incremental,
             llm_q.Q_NEARDUP_INCREMENTAL_SQL,
             "incremental near-dup UPSERT: delta docs vs a materialized "
             "LSH band index — candidate generation is O(delta), a "
             "broadcast probe of the stored index, where the existing "
             "q_incremental_neardup (signature REUSE) only skips the "
             "re-hash and still self-joins all corpus bands per batch; "
             "this is the IVM pattern applied to near-dup state. Output "
             "contract is the batch re-run's pairs touching >=1 delta "
             "doc, so the oracle replays the batch pipeline and filters "
             "— fully oracle-paired"),
    # Tier 15 — added in r13 (deferred-new lane, see _DEFERRED_NEW).
    QueryDef("q_ivf_upsert", llm_q.q_ivf_upsert, llm_q.Q_IVF_UPSERT_SQL,
             "incremental ANN index maintenance (the ANN counterpart "
             "of q_neardup_incremental): the delta's embeddings are "
             "assigned to the EXISTING base-trained IVF centroids "
             "O(delta·K) broadcast work (similarity.ivf_upsert, with a "
             "distortion-drift retrain guard pinned in pytest), the "
             "search runs over the maintained state via ivf_search; "
             "assignment is pointwise-deterministic so the maintained "
             "state equals full re-assignment and the oracle replays "
             "it — fully oracle-paired"),
]

# Driver window for the current round (module docstring: ordering
# contract and rotation rule), as printed by tools/rotation_plan.py.
_WINDOW: list[str] = [
    # r15 window (tools/rotation_plan.py, oldest evidence first).
    # r11-latest-green lane: falls off the 4-report horizon now that
    # r14 is on disk (the 5 entries displaced from r14's window, then
    # the rest of the cohort in definition order)
    "q_neardup_verified_fast", "q_embedding_quantized",
    "q_frame_sampling", "q_pii_redaction",
    "q_sentence_split", "q_contamination",
    "q_span_dedup", "q_linear_quality",
    "q_error_after_purchase", "q_bpe_encode",
    "q_hybrid_search_rrf", "q_mmr_rerank",
    "q_quality_buckets", "q_cms_heavy_hitters",
    "q_winsorized_stats", "q_kmv_distinct",
    "q02_min_cost_supplier", "q11_important_parts",
    "q16_supplier_diversity", "q20_dominant_suppliers",
    "q_fuzzy_part_match", "q_event_transitions",
    "q_value_histogram", "q_entity_clusters",
    "q_trailing_7day", "q_quantile_sketch",
    "q_weighted_sample", "q_spatial_neighbors",
    "q_lpa_communities",
    # fill lane: the 21 oldest r12-latest-green entries
    "q_boilerplate_ngrams",
    "q_doc_top_terms", "q_corpus_splits",
    "q_source_mixing", "q_sample_per_source",
    "q_stream_attribution", "q_contamination_bloom",
    "q_session_windows", "q_bpe_merges",
    "q_inverted_index", "q_pq_codes",
    "q_text_profile", "q_exact_dedup",
    "q_jaccard_pairs", "q_minhash_signatures",
    "q_lsh_candidates", "q_neardup_verified",
    "q_embedding_topk", "q_embedding_neardup",
    "q_multimodal_features", "q_chunking",
]

# Entries added after the current window was set (module docstring);
# tests/test_registry_order.py pins that they follow the window and
# that the next rotation empties this list.
_DEFERRED_NEW: list[str] = []

_by_name = {q.name: q for q in QUERIES}
assert len(_WINDOW) == 50 and set(_WINDOW) <= set(_by_name)
QUERIES = (
    [_by_name[n] for n in _WINDOW]
    + [_by_name[n] for n in _DEFERRED_NEW]
    + [
        q
        for q in QUERIES
        if q.name not in set(_WINDOW) and q.name not in set(_DEFERRED_NEW)
    ]
)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # external drivers create their own SparkSession — ship the
        # package to its Python workers before any UDF-bearing plan runs
        from ..core.session import ship_package

        ship_package(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: _wrap(q.fn) for q in QUERIES}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES if q.oracle is not None}
