"""Stateful streaming anomaly detection + cooldown dedup.

The scale-correct twin of the batch window-frame queries (R7/R8b): the
batch form partitions by a 5-value key, funneling the whole table into
≤5 sorted tasks — fine as a correctness oracle, a straggler at 100 TB.
This processor instead keeps a rolling deque of the last 100 metrics per
key in `applyInPandasWithState` state (RocksDB-backed): sequential
per-key updates, no global per-key sort, state evicted by Spark's state
store. Mirrors AnomalyDetectionJob.java:178-246 (RollingStats) and
:279-368 (scoring), with one deliberate difference: mean/σ are computed
two-pass over the deque (matching the batch oracle) instead of the
reference's running sum/sumsq accumulators, so S4 parity with R7/r8b is
exact rather than within float error.

Cooldown dedup (services/alert-service/main.py:186-202) is the second
stateful stage: per (source, severity), suppress alerts within the
cooldown interval of the last notification — event-time based, so
replays are deterministic (S5).

This module is the only implementation of both operators.
streaming/state_v2.py reuses `_score_rows` solely for the initialState
warm-start, which the v1 API cannot express.

Topology note: Spark allows ONE applyInPandasWithState per streaming
query, so anomaly scoring and cooldown run as two chained queries with a
table between them — the same process split the reference uses (anomaly
job → alerts.v1 topic → alert service): stage 1 `anomaly_stream(...)` →
parquet/Kafka sink; stage 2 reads that sink as a stream →
`cooldown_stream(...)`.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ROLLING_WINDOW = 100
MIN_EVENTS = 10
Z_THRESHOLD = 3.0
MAD_THRESHOLD = 3.0

ANOMALY_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("z_score", DoubleType()),
        StructField("mad_score", DoubleType()),
        StructField("anomaly_type", StringType()),
        StructField("severity", StringType()),
        StructField("is_anomaly", BooleanType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("vals", ArrayType(DoubleType()))])


def _median(sorted_vals: list[float]) -> float:
    n = len(sorted_vals)
    if n == 0:
        return 0.0
    if n % 2 == 0:
        return (sorted_vals[n // 2 - 1] + sorted_vals[n // 2]) / 2.0
    return sorted_vals[n // 2]


def _quant6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def _score_one(vals: list[float], x: float) -> tuple[float, float, str, str, bool]:
    """Score one event against its rolling window (AFTER appending it,
    matching RollingStats.add-then-score, ANO:298-320)."""
    n = len(vals)
    mean = sum(vals) / n
    var = max(0.0, sum((v - mean) ** 2 for v in vals) / n)
    sd = math.sqrt(var)
    z = (x - mean) / sd if sd > 0 else 0.0
    s = sorted(vals)
    med = _median(s)
    mad = _median(sorted(abs(v - med) for v in vals))
    mad_score = abs(x - med) / mad if mad > 0 else 0.0
    zq = abs(_quant6(z))
    is_z = zq > Z_THRESHOLD
    is_mad = mad_score > MAD_THRESHOLD
    is_anomaly = is_z or is_mad
    if is_anomaly:
        if zq > 4.0 or mad_score > 4.0:
            severity = "critical"
        elif zq > 3.5 or mad_score > 3.5:
            severity = "warning"
        else:
            severity = "info"
    else:
        severity = "info"
    a_type = "z-score" if is_z else ("mad" if is_mad else "normal")
    return z, mad_score, a_type, severity, is_anomaly


def _concat_nonempty(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    chunks = [p for p in pdfs if len(p)]
    return pd.concat(chunks) if chunks else None


def _score_rows(source: str, vals: list[float], rows: pd.DataFrame) -> dict:
    """Advance the rolling deque over one micro-batch's rows (mutating
    ``vals`` in place — the caller persists it to state) and return the
    scored output columns. Used by anomaly_stream and by the warm-start
    processor in streaming/state_v2.py."""
    # deterministic intra-batch order (SURVEY.md §7.3(2))
    rows = rows.sort_values(["ts", "event_id"])
    out = {c: [] for c in ANOMALY_SCHEMA.fieldNames()}
    for r in rows.itertuples(index=False):
        x = float(r.metric)
        vals.append(x)
        if len(vals) > ROLLING_WINDOW:
            vals.pop(0)
        if len(vals) < MIN_EVENTS:
            continue
        z, mad_score, a_type, severity, is_anom = _score_one(vals, x)
        out["event_id"].append(r.event_id)
        out["source"].append(source)
        out["ts"].append(r.ts)
        out["value"].append(x)
        out["z_score"].append(z)
        out["mad_score"].append(mad_score)
        out["anomaly_type"].append(a_type)
        out["severity"].append(severity)
        out["is_anomaly"].append(is_anom)
    return out


def _detect(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    vals: list[float] = list(state.get[0]) if state.exists else []
    rows = _concat_nonempty(pdfs)
    if rows is None:
        state.update((vals,))
        yield pd.DataFrame({c: [] for c in ANOMALY_SCHEMA.fieldNames()})
        return
    out = _score_rows(key[0], vals, rows)
    state.update((vals,))
    yield pd.DataFrame(out)


def anomaly_stream(parsed: DataFrame) -> DataFrame:
    """Per-source stateful rolling anomaly scores (streaming or batch —
    applyInPandasWithState requires a stream; batch parity uses r8b)."""
    return parsed.groupBy("source").applyInPandasWithState(
        _detect,
        outputStructType=ANOMALY_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def anomaly_batch_oracle(parsed: DataFrame) -> DataFrame:
    """Batch window-frame mirror of the stateful processor — the S4
    parity oracle: r8b's scorer over reference-shaped events
    (key=source, value=metric), unrounded. Same array-math median/MAD,
    same quantized-z thresholds; two-pass mean/σ over the frame."""
    from pyspark.sql import functions as F

    from ..operators.reference import rolling_mad_scores

    return rolling_mad_scores(parsed, "source", "metric").select(
        "event_id",
        "source",
        "ts",
        "value",
        F.col("z").alias("z_score"),
        "mad_score",
        "anomaly_type",
        "severity",
        "is_anomaly",
    )


# ---------------------------------------------------------------------------
# Cooldown dedup (O28).
# ---------------------------------------------------------------------------

COOLDOWN_SECONDS = 300

_COOLDOWN_OUT = StructType(
    [
        StructField("source", StringType()),
        StructField("severity", StringType()),
        StructField("event_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("suppressed_since_last", LongType()),
    ]
)

# State carries BOTH the last emission epoch and the running suppressed
# count: a suppressed tally that lived only in a local variable would
# reset at every micro-batch boundary, making suppressed_since_last
# depend on batch sizing — the same input split 1-file-per-trigger vs
# one availableNow batch must produce identical rows (the S5 contract).
_COOLDOWN_STATE = StructType(
    [
        StructField("last_epoch", DoubleType()),
        StructField("suppressed", LongType()),
    ]
)


def _cooldown(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    if state.exists:
        last, suppressed = state.get[0], int(state.get[1] or 0)
    else:
        last, suppressed = None, 0
    rows = _concat_nonempty(pdfs)
    if rows is None:
        yield pd.DataFrame({c: [] for c in _COOLDOWN_OUT.fieldNames()})
        return
    rows = rows.sort_values(["ts", "event_id"])
    out = {c: [] for c in _COOLDOWN_OUT.fieldNames()}
    for r in rows.itertuples(index=False):
        epoch = r.ts.timestamp()
        if last is not None and (epoch - last) < COOLDOWN_SECONDS:
            suppressed += 1
            continue
        out["source"].append(key[0])
        out["severity"].append(key[1])
        out["event_id"].append(r.event_id)
        out["ts"].append(r.ts)
        out["suppressed_since_last"].append(suppressed)
        suppressed = 0
        last = epoch
    # `last` cannot be None here: a non-empty batch with no prior state
    # always emits its first row (no NaN sentinel needed — storing one
    # would make the cooldown comparison depend on NaN semantics).
    state.update((last, suppressed))
    yield pd.DataFrame(out)


def cooldown_stream(alerts: DataFrame) -> DataFrame:
    """Suppress repeat notifications per (source, severity) within the
    cooldown window; event-time based so replays are deterministic."""
    return alerts.groupBy("source", "severity").applyInPandasWithState(
        _cooldown,
        outputStructType=_COOLDOWN_OUT,
        stateStructType=_COOLDOWN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
