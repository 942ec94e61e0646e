"""Central registry of (query builder, DuckDB oracle SQL) pairs.

Every operator module registers its queries here; ``__spark_entry__.py``
exposes the dicts to the driver. Each builder is
``(spark: SparkSession, sf_dir: str) -> DataFrame``; each oracle is ANSI
SQL that DuckDB runs against the same parquet tables (pre-registered
views ``region nation customer supplier part orders lineitem events
documents embeddings``).

Conventions (SURVEY.md §2c):
- every computed column aliased identically in Spark and SQL;
- double aggregates ROUND(..., 2);
- timestamps output as strings (``yyyy-MM-dd HH:mm:ss``) or epoch-second
  BIGINTs — never raw timestamp objects;
- DuckDB integer SUMs cast to BIGINT (DuckDB sums INTEGER into HUGEINT,
  Spark into LONG);
- no NOW()/uuid()/rand(); relative times anchor to (SELECT max(ts) ...).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Executor-storage discipline: index-building queries (x2d LSH keys,
# x3c/x3d/x3e ANN indexes) persist frames that several subplans of the
# SAME query read. Those frames must not outlive the query in a
# long-lived serving session, but they can't be unpersisted inside the
# builder either — the returned DataFrame is executed lazily by the
# caller, and persist() only pays off during that execution. So
# builders register their frames here, and the NEXT query invocation
# (by which point any caller has consumed the previous result —
# driver, bench, and tests all build→execute→build) releases them;
# ``release_tracked`` is also public for callers that want storage
# freed immediately after consuming a result.
#
# Contract: results are consumed (collected/written) before the next
# builder runs. Interleaving build→build→consume stays CORRECT —
# unpersist only drops the cache, so the consumed plan recomputes its
# subplans — but forfeits the persist()'s dedup of multi-subplan work.
# The list is lock-guarded so concurrent serving threads can't corrupt
# it; such callers should prefer release_tracked() right after each
# consume rather than relying on the next-invocation sweep.
import threading

_TRACKED: list[DataFrame] = []
_TRACKED_LOCK = threading.Lock()


def track_persist(df: DataFrame) -> DataFrame:
    """persist() + register for release at the next query invocation."""
    with _TRACKED_LOCK:
        _TRACKED.append(df)
    return df.persist()


def release_tracked() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    with _TRACKED_LOCK:
        frames = list(_TRACKED)
        _TRACKED.clear()
    for f in frames:
        f.unpersist()
    return len(frames)


def query(name: str, oracle: Optional[str] = None):
    """Decorator: register a query builder and (optionally) its oracle SQL.

    Omitting ``oracle`` means the driver records a weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops — approx sketches,
    custom stateful streaming).
    """

    def deco(fn: QueryFn) -> QueryFn:
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked()  # previous query's index frames
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return wrapped

    return deco
