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

import json
import os
import re
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


def _newest_greens() -> set[str]:
    """Queries with a green ``hash_match`` row in the newest
    CORRECTNESS_r{N}.json beside this file; empty when there is none."""
    root = os.path.dirname(os.path.abspath(__file__))
    rounds = {}
    for name in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if m:
            rounds[int(m.group(1))] = os.path.join(root, name)
    if not rounds:
        return set()
    with open(rounds[max(rounds)]) as f:
        return {k for k, v in json.load(f).items() if v.get("hash_match")}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame; every
    computed column is aliased identically in the Spark plan and the
    oracle SQL. Builders call ``ensure_utc`` via ``catalog.load``.

    Ordering: correctness rows are recorded for the FIRST 50 entries
    only, and more queries have oracles than slots. So the
    oracle-backed queries without a green row in the newest CORRECTNESS
    file go first, then the oracle-backed queries green there, then the
    rows-only queries; registration order within each group. The window
    thus rotates by itself: a query that earned a green row yields its
    slot to one that did not (tests/test_coverage_counts.py::
    test_rotation_freshness). With no CORRECTNESS file, every
    oracle-backed query counts as not green.
    """
    keys = list(engine.QUERIES)
    green = _newest_greens()
    oracle = [k for k in keys if k in engine.ORACLE]
    ordered = (
        [k for k in oracle if k not in green]
        + [k for k in oracle if k in green]
        + [k for k in keys if k not in engine.ORACLE]
    )
    return {k: engine.QUERIES[k] for k in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checkable query.

    Keys absent here but present in ``queries()`` are genuinely
    non-SQL-expressible ops (approx sketches, stateful streaming) —
    the driver records a weaker rows-only check for those.
    """
    return dict(engine.ORACLE)
