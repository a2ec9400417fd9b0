"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All implementations live in the package
``_multi_source_retail_data_integration_hub_spark``; this module only
exposes its query registry in the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from _multi_source_retail_data_integration_hub_spark.plans import (  # noqa: E402
    ORACLE,
    QUERIES,
)
from _multi_source_retail_data_integration_hub_spark.plans import (  # noqa: E402,F401
    analytics,  # registers q01..q08, q52, q54-q55, q57-q58, q64-q65, q76, q82-q87, q127, q130-q132
    dashboard,  # registers q09..q16, q50 (incl. unpivot), q144 (top-N per group), q146 (Pareto curve scale path)
    events_ts,  # registers q29..q31, q48, q51, q62-q63, q113, q118-q119, q126, q166 (windows, sessions, CDC, lateral/recursive SQL, streaming-vs-batch, sequence dataset construction)
    grouped_map,  # registers q39..q40, q61 (grouped map, frame windows, cogroup)
    incremental,  # registers q111, q121 (mergeable-partial + CDC-aware mart refresh)
    multimodal_plan,  # registers q32, q59-q60, q165 (binary payload features, frames, image dHash near-dup)
    quality,  # registers q115 (declarative data-quality expectations)
    rollups,  # registers q38, q46 (rollup, cube)
    scale_ops,  # registers q33..q35, q45, q49, q81, q110, q123, q128-q129, q145 (JSON, salting, sketches, pagerank, skew/checksum audits, mart HLL rollup)
    scd2_query,  # registers q77 (oracle-checked SCD2 merge)
    temporal,  # registers q36 (as-of join), q44 (interval join)
    tpch_shapes,  # registers q88..q99 (Q2/Q9/Q11/Q13/Q15-Q22 shapes)
    similarity,  # registers q26..q28, q37, q41-q42, q53, q158, q164, q167 (embedding ANN, dedup, contrastive pair + hard-negative mining, SemDeDup cluster-scoped dedup)
    training_data,  # registers q17..q25, q47, q56, q100-q109, q112, q114, q116, q120, q122, q124-q125, q147-q157, q159-q163 (dedup, text analysis, curation, BM25, sampling, simhash joins incl. production 32/4/3, bigram LM, winnowing + span-trim dedup + boilerplate spans, DSIR importance scoring + quota selection, hybrid BM25+ANN RRF retrieval, length-bucketed batching, DSIR calibration curve, temperature mixture, content-defined chunking, cross-source overlap, q168 Gopher rule bundle, q169 epoch shuffle, q170 KL drift audit, q171 curation funnel)
    # (q172 k-anonymity + q176 feature corr live in analytics; q173
    # centroid drift in similarity; q174 tokenizer fertility in
    # training_data; q175 audience overlap in scale_ops; q177 MAD
    # outliers in events_ts; q178 semdedup probe in similarity —
    # q174-q178 head the r10 window after their r9 deferral)
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Window layout (the driver records the first ~50 registered queries
# per round, against freshly regenerated testdata):
#   1. q000_generation_fingerprint FIRST (red => the two engines compared
#      different testdata generations; see CORRECTNESS_NOTES.md). The
#      per-table guards q00c/d/e/l/o stay REGISTERED (incident
#      diagnosis) but are pinned past the recorded window via
#      _RETIRED_GUARDS.
#   2. Queries with no driver row yet (q187+, none registered today) —
#      picked up automatically by _ordered()'s is-new check; a late
#      registration that must not displace the backfill goes in
#      _DEFER_TO_NEXT_WINDOW.
#   3. Backfill, oldest driver row first: _BACKFILL lists EVERY
#      non-guard query in the order tools/regen_backfill.py derives
#      from the committed CORRECTNESS_r*.json artifacts, so the window
#      rotates as rows refresh.
#   4. q997_generation_fingerprint_tail pinned LAST in the window — the
#      byte-identical twin of q000, so head/tail disagreement proves a
#      MID-window regeneration and agreement brackets the window.
_WINDOW_SIZE = 50

_GUARD_HEAD = [
    "q000_generation_fingerprint",
]

_GUARD_TAIL = "q997_generation_fingerprint_tail"

# Registered for incident diagnosis (a red q000 pinpoints WHICH table
# regenerated by running these by hand) but excluded from the recorded
# window and from bench.py's suite loop — r8 proved the protocol no
# longer needs per-table granularity every round (r8 verdict ask #7).
_RETIRED_GUARDS = [
    "q00c_fingerprint_customer",
    "q00d_fingerprint_documents",
    "q00e_fingerprint_events",
    "q00l_fingerprint_lineitem",
    "q00o_fingerprint_orders",
]

# The r9 deferral (q174-q178) was resolved in r10 — all five were
# driver-scored green in CORRECTNESS_r10. The list is kept (empty) so
# the window protocol's "registered late, defer rather than displace"
# mechanism stays available for future rounds.
_DEFER_TO_NEXT_WINDOW: list[str] = []

# Backfill order once the guard + new blocks are placed: EVERY
# non-guard query, keyed oldest-newest-driver-row first (computed from
# CORRECTNESS_r*.json by tools/regen_backfill.py), then ascending query
# number within a round.
# Whatever misses the 50-slot window carries to the next round
# unchanged — the list only needs regenerating when a round's artifact
# lands (the leading stale block rotates to the back).
_BACKFILL = [
    # -- newest driver row: round 11 --
    "q07_catalog_stats",
    "q08_quarterly_yoy",
    "q27_lsh_buckets",
    "q28_ann_lsh_topk",
    "q29_tumbling_daily",
    "q30_sessionization",
    "q31_sliding_weekly",
    "q32_multimodal_features",
    "q33_json_extract",
    "q34_salted_agg",
    "q35_approx_distinct",
    "q36_asof_join",
    "q38_rollup",
    "q39_user_gap_stats",
    "q40_moving_avg",
    "q43_multiselect_kpis",
    "q44_interval_join",
    "q45_stratified_sample",
    "q46_cube",
    "q48_funnel",
    "q49_approx_median",
    "q50_unpivot",
    "q51_recent_event_seq",
    "q59_audio_features",
    "q60_frame_samples",
    "q61_cogroup_timelines",
    "q62_cdc_apply",
    "q63_median_impute",
    "q85_lsh_hot_buckets",
    "q100_repetition_signals",
    "q101_decontamination",
    "q104_ann_recall",
    "q105_embedding_quantization",
    "q106_mixture_sample",
    "q107_sequence_packing",
    "q108_snapshot_diff",
    "q110_bloom_membership",
    "q138_regex_pretokenize",
    "q140_hll_distinct_rollup",
    "q141_bpe_tokenize",
    "q142_decile_cutpoints",
    "q143_quantile_rollup",
    # -- newest driver row: round 12 --
    "q09_calendar_dim",
    "q10_row_hash",
    "q11_kpi_summary",
    "q12_heatmap",
    "q13_histogram",
    "q17_exact_dedup",
    "q18_token_stats",
    "q19_quality_score",
    "q81_heavy_hitters",
    "q82_volume_shipping",
    "q83_returned_top_customers",
    "q84_local_supplier_volume",
    "q86_promo_share",
    "q87_market_share",
    "q88_best_price_supplier",
    "q89_product_profit",
    "q90_important_parts",
    "q91_custdist",
    "q92_top_supplier",
    "q93_supplier_diversity",
    "q94_small_order_drain",
    "q95_large_orders",
    "q96_disjunctive_revenue",
    "q97_excess_shipments",
    "q98_sole_failing_supplier",
    "q99_dormant_customers",
    "q102_forecast_revenue",
    "q103_priority_mix",
    "q109_vocab_coverage",
    "q111_incremental_mart",
    "q112_bpe_pairs",
    "q113_rolling_anomaly",
    "q114_rare_token_score",
    "q115_data_expectations",
    "q117_variant_props_stats",
    "q118_lateral_topk",
    "q119_purchase_streaks",
    "q120_crossdoc_dups",
    "q128_key_skew_audit",
    "q129_table_checksum",
    "q139_multilane_checksum",
    "q144_topn_per_segment",
    "q145_mart_distinct_rollup",
    "q146_pareto_curve",
    "q147_simhash_neardup",
    "q148_bigram_surprisal",
    "q149_winnowing_fingerprints",
    "q150_winnowing_matches",
    # -- newest driver row: round 13 --
    "q14_quantiles",
    "q15_name_union",
    "q16_pareto",
    "q20_lang_id_confusion",
    "q21_fingerprint_dedup",
    "q22_ngram_jaccard",
    "q121_cdc_mart",
    "q122_bm25_search",
    "q123_supplier_pagerank",
    "q124_priority_sample",
    "q125_incremental_neardup",
    "q126_streaming_tumbling",
    "q127_golden_record",
    "q130_ab_test",
    "q131_market_basket",
    "q132_rfm_segments",
    "q133_pseudonymize",
    "q151_simhash_neardup_wide",
    "q152_winnow_dup_spans",
    "q153_winnow_span_trim",
    "q154_boilerplate_spans",
    "q155_dsir_importance",
    "q156_dsir_select",
    "q157_hybrid_rrf",
    "q158_contrastive_pairs",
    "q159_length_buckets",
    "q160_dsir_calibration",
    "q161_temperature_mixture",
    "q162_cdc_chunks",
    "q163_source_overlap",
    "q164_hard_negatives",
    "q165_image_dhash_neardup",
    "q166_user_sequences",
    "q167_semdedup",
    "q168_gopher_rules",
    "q169_epoch_shuffle",
    "q170_source_kl_drift",
    "q171_curation_funnel",
    "q172_k_anonymity",
    "q173_centroid_drift",
    "q179_persisted_lsh_candidates",
    "q180_persisted_top_terms",
    "q181_lsh_cap_recall",
    "q182_persisted_winnow_matches",
    "q183_persisted_simhash_pairs",
    "q184_persisted_ivf_topk",
    "q185_streaming_band_ingest",
    "q186_streaming_dedup_on_arrival",
    # -- newest driver row: round 14 --
    "q01_monthly_sales_trend",
    "q02_category_share",
    "q03_customer_segments",
    "q04_segment_status_pivot",
    "q05_weekday_analysis",
    "q06_top_customers",
    "q23_minhash_signatures",
    "q24_lsh_candidates",
    "q25_simhash",
    "q26_cosine_topk",
    "q37_cosine_neardup",
    "q41_ivf_assign",
    "q42_ann_ivf_topk",
    "q47_top_terms",
    "q52_customers_no_orders",
    "q53_dup_clusters",
    "q54_spend_deciles",
    "q55_profile",
    "q56_corpus_pipeline",
    "q57_set_ops",
    "q58_above_nation_avg",
    "q64_revenue_by_nation",
    "q65_shipping_priority",
    "q66_pricing_summary",
    "q67_grouping_sets",
    "q68_forward_fill",
    "q69_session_window_batch",
    "q70_pii_scrub",
    "q71_fuzzy_part_match",
    "q72_lang_reservoir",
    "q73_embedding_stats",
    "q74_doc_chunking",
    "q75_late_orders_semi",
    "q76_spend_percentiles",
    "q77_scd2_merge",
    "q78_image_resize",
    "q79_retention_cohorts",
    "q80_minhash_accuracy",
    "q116_neardup_keep_best",
    "q134_lsh_subsplit",
    "q135_cluster_split",
    "q136_streaming_dedup",
    "q137_bpe_merges",
    "q174_tokenizer_fertility",
    "q175_audience_overlap",
    "q176_feature_corr",
    "q177_mad_outliers",
    "q178_semdedup_probe",
]


def _ordered(mapping: dict) -> dict:
    head = [k for k in _GUARD_HEAD if k in mapping]
    # Queries NEW this round (q187+) have no prior driver row; they slot
    # in right after the guard block so their first row lands now
    # (q179-q186 gained their first driver rows in CORRECTNESS_r13 and
    # rotate via _BACKFILL like everything else).
    covered_prior = {"q000"} | {f"q{i:02d}" for i in range(1, 100)} | {
        f"q{i}" for i in range(100, 187)
    }
    never_new = (
        set(_GUARD_HEAD)
        | set(_RETIRED_GUARDS)
        | {_GUARD_TAIL}
        | set(_DEFER_TO_NEXT_WINDOW)
    )

    def _is_covered(name: str) -> bool:
        return name in never_new or name.split("_", 1)[0] in covered_prior

    placed = set(head)
    new = sorted(k for k in mapping if k not in placed and not _is_covered(k))
    placed.update(new)
    window = head + new
    # Structural guarantee (r7 advice): the tail guard must land INSIDE
    # the ~50-row recorded window. If the head+new+chronic blocks ever
    # outgrow the window, spill the excess past the tail guard rather
    # than silently pushing q997 out of the artifact.
    overflow: list[str] = []
    if len(window) > _WINDOW_SIZE - 1:
        window, overflow = window[: _WINDOW_SIZE - 1], window[_WINDOW_SIZE - 1 :]
    for k in _BACKFILL:
        if len(window) >= _WINDOW_SIZE - 1:
            break
        if k in mapping and k not in placed:
            window.append(k)
            placed.add(k)
    if _GUARD_TAIL in mapping:
        window.append(_GUARD_TAIL)
        placed.add(_GUARD_TAIL)
    tail = overflow + [k for k in _BACKFILL if k in mapping and k not in placed]
    placed.update(tail)
    rest = [k for k in mapping if k not in placed]
    return {k: mapping[k] for k in window + tail + rest}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (monthly sales trend with MoM growth) on sf0.001."""
    return QUERIES["q01_monthly_sales_trend"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(ORACLE)
