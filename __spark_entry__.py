"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Importing the engine package populates its query registry as a side
effect; we expose copies of the registry dicts so the driver owns its
iteration order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import real_time_event_streaming_analytics_platform_spark as engine
from real_time_event_streaming_analytics_platform_spark.session import ensure_utc


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (R3 /series minute aggregation) on sf0.001.

    The driver passes its own SparkSession, so force the session confs
    the catalog depends on (UTC timezone, parquet nanosAsLong) before
    reading.
    """
    ensure_utc(spark)
    return engine.QUERIES["r3_series_minute"](spark, "/root/testdata/sf0.001")


# The driver records correctness rows for the FIRST 50 queries() entries
# only; more queries have oracles than slots, so some must yield.
#
# Rotation (the standing alternation): the 100 oracle-backed queries
# split into two halves of 50 that take the window in turn. The half
# below is the one green in CORRECTNESS_r13.json and CORRECTNESS_r14.json
# (the same 50/50-green window both rounds, since the r14 list was not
# rotated). It yields its slots, and the other 50, last green in r12,
# fill the window. No new oracle has been added since r13, so the
# census is still exactly the 2 x 50 two-round-freshness ceiling.
#
# Machine-asserted by tests/test_coverage_counts.py::test_rotation_freshness:
# every oracle-backed query is either in the window or green in the two
# latest CORRECTNESS files. Every demoted query stays registered and
# oracle-checked locally each session (tests/test_oracle_queries.py).
_DEMOTED = [
    # Reference r-series ops; the returning r3/r4/r8/r11 re-verify the
    # family (entry() smoke-runs r3 on every pass regardless).
    "r1_project_filter",
    "r2_keyed_agg",
    "r5_percentile_cont",
    "r6_percentile_rank",
    "r7_rolling_zscore",
    "r8b_rolling_mad",
    "r9_alerts_scan",
    "r10_conditional_agg",
    "r12_relative_time",
    "r13_json_extract",
    "r13b_variant_json",
    "r14_severity_case",
    "r15_cooldown_dedup",
    "r16_alertmanager_ingest",
    # Relational: joins, windows, grouping, sampling, set ops; the
    # returning q02-q08/q10-q14/q27 relatives re-verify.
    "q01_pricing_summary",
    "q07_theta_self_join",
    "q09_ranking_window",
    "q09b_analytic_funcs",
    "q12_set_ops",
    "q14d_grouping_battery",
    "q26b_hash_sample",
    "q26c_stratified_sample",
    "q28_unpivot",
    # Scalar/date/profile battery; the returning q20/q32/q37/q39-q41
    # relatives re-verify.
    "q15_correlated_subquery",
    "q16_string_funcs",
    "q17_in_between",
    "q18_having",
    "q19_null_handling",
    "q20b_date_diff_buckets",
    "q21_array_explode",
    "q22_asof_prior_click",
    "q23_sessionization",
    "q29_gapfill_series",
    "q30_recursive_hierarchy",
    "q31_lateral_topk",
    "q34_funnel",
    "q35_scd2",
    "q36_cohort_retention",
    "q38_quality_checks",
    # Dedup/documents; the returning q24/d1/d3/d4/t7/t8 hold the family.
    "d2_jaccard_scoring",
    "d3b_substring_dedup_clip",
    "x24_cross_source_contamination",
    # Text/quality; the returning t1-t4b/t6/t9/x16/x17/x19 re-verify.
    "t5_pii_scrub",
    "t6b_gopher_rules",
    "x17b_surprisal_quartile_approx",
    # Pipeline/curation; the returning x4-x9/x18 re-verify.
    "x10_curation_funnel",
    "x25_dsir_resample",
    "x28_source_token_budget",
    "x29_temperature_resample",
    "x30_shard_manifest",
]



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame; every
    computed column is aliased identically in the Spark plan and the
    oracle SQL. Builders call ``ensure_utc`` via ``catalog.load``.

    Ordering: oracle-backed queries first (registration order, minus the
    explicitly demoted variants), then the demoted oracle-backed
    variants, then rows-only queries — so the driver's 50-row
    correctness window lands on 50 distinct oracle-checkable operators.
    """
    keys = list(engine.QUERIES)
    priority = [k for k in keys if k in engine.ORACLE and k not in _DEMOTED]
    demoted = [k for k in keys if k in _DEMOTED]
    rows_only = [k for k in keys if k not in engine.ORACLE]
    ordered = priority + demoted + rows_only
    assert sorted(ordered) == sorted(keys)
    return {k: engine.QUERIES[k] for k in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checkable query.

    Keys absent here but present in ``queries()`` are genuinely
    non-SQL-expressible ops (approx sketches, stateful streaming) —
    the driver records a weaker rows-only check for those.
    """
    return dict(engine.ORACLE)
