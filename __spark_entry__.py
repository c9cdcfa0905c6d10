"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``cds_etl_spark`` (see SURVEY.md §2 for the
operator inventory each query exercises).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cds_etl_spark.plans import ORACLE_SQL, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return QUERIES["qs10_groupby_agg_tpch_q1"](spark, "/root/testdata/sf0.001")


# The round driver grades the FIRST 50 registry entries. Rounds rotate
# which queries occupy that window so every query accumulates a recent
# green driver row (full history of r01-r11 windows: git log on this
# file). Every name below MUST exist in the registry —
# tests/test_sql_surface.py asserts set(_GRADE_FIRST) <= set(QUERIES)
# so a typo fails loudly instead of silently falling back to
# registration order (the r03 defect).
_GRADE_FIRST = [
    # -- r17 window (first 50 graded). Rule (VERDICT r16 item 4):
    #    IMPLEMENTATION CHANGE => NEXT-WINDOW PRIORITY. Every query whose
    #    implementation changed since its latest official grade goes at
    #    the head of the next window, so it re-earns its grade in the
    #    round after the change; the rest of the window takes the rows
    #    with the OLDEST latest official grade (ties alphabetical),
    #    computed from CORRECTNESS_r01..r16 hash_match history. A hint
    #    removal proven plan-identical (same normalized plan and build
    #    sides) is not an implementation change.
    #    Head: the 14 queries rewritten in r16. --
    "qs137_sketch_heavy_hitters",
    "qs171_cms_join_size",
    "qs293_dedup_threshold_sweep",
    "qs341_shingle_containment",
    "qs81_connected_dedup",
    "qs91_llm_pipeline_manifest",
    "qs94_pagerank",
    "qs108_triangle_count",
    "qs120_graph_bfs",
    "qs172_weighted_shortest_path",
    "qs249_kcore_decomposition",
    "qs250_label_propagation",
    "qs138_repetition_rowlocal",
    "qs156_robust_outliers",
    # -- oldest latest grade: 36 r08 rows. --
    "qs209_seasonal_decompose",
    "qs211_herfindahl_index",
    "qs212_readability",
    "qs213_knn_accuracy",
    "qs214_degree_assortativity",
    "qs215_ndcg_retrieval_eval",
    "qs216_did_estimator",
    "qs217_laspeyres_index",
    "qs218_dbscan_core_points",
    "qs219_abc_classification",
    "qs220_segment_migration",
    "qs221_mase_forecast_eval",
    "qs222_jaccard_link_prediction",
    "qs223_event_study_lift",
    "qs224_log_odds_keywords",
    "qs225_golden_record",
    "qs226_vocab_coverage",
    "qs227_ks_two_sample",
    "qs228_simpson_detector",
    "qs229_eb_shrinkage",
    "qs232_xmr_control_chart",
    "qs233_blocking_recall_eval",
    "qs234_wilson_interval",
    "qs235_token_burstiness",
    "qs236_mix_shift_decomposition",
    "qs237_seasonal_index_ratio",
    "qs238_order_aging_buckets",
    "qs239_tukey_fences",
    "qs240_lexical_diversity",
    "qs242_cusum_drift",
    "qs243_spearman_corr",
    "qs244_langid_kappa_eval",
    "qs245_gains_lift_deciles",
    "qs246_nelson_aalen",
    "qs247_position_attribution",
    "qs251_price_elasticity",
]


def _ordered(mapping: dict) -> dict:
    first = {n: mapping[n] for n in _GRADE_FIRST if n in mapping}
    rest = {n: v for n, v in mapping.items() if n not in first}
    return {**first, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator from SURVEY.md §2."""
    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() entry.

    Keys absent here (non-SQL-expressible ops) get the driver's weaker
    rows-only check.
    """
    return _ordered(dict(ORACLE_SQL))
