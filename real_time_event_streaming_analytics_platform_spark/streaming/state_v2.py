"""State API v2 (`transformWithStateInPandas`) operators: the stateful
streams the v1 `applyInPandasWithState` API in streaming/anomaly.py
cannot express.

- Warm-start: rolling anomaly scoring bootstrapped from batch history
  through ``initialState`` (the scoring itself is anomaly._score_rows,
  the one implementation; anomaly_stream remains the stream operator).
- MapState exact distinct users, ListState burst escalation, event-time
  timers for stale sources, and per-key running quantiles.

Every stream here needs the RocksDB state store (the HDFS-backed default
provider has no column-family support), which SessionFactory.builder
sets, and a usable protobuf runtime (``PROTOBUF_BLOCKER is None``).
Where no protobuf wheel is installed, _pbshim/sitecustomize.py supplies
a vendored runtime; its module doc explains the version-check relax.

The shim runs at module import so it is applied inside Spark's Python
WORKERS too: the processor classes below are pickled by reference, and
unpickling one in a worker imports this module before the state
client's lazy ``StateMessage_pb2`` import runs.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.group import GroupedData

from .._pbshim import sitecustomize as _pbshim


def ensure_protobuf() -> str | None:
    """Make ``google.protobuf`` and Spark's ``StateMessage_pb2``
    importable. Returns None on success, else a human-readable blocker
    string (the caller — and tests/test_state_v2.py's skip guard —
    surface it).

    When the vendored runtime is in use, PYTHONPATH is also exported with
    the ``_pbshim`` sitecustomize directory + the vendored runtime, so
    Python processes the JVM spawns later (the TWS driver worker, the
    daemon-forked executor workers) apply the same shim at startup.
    That export only reaches the JVM's children if this runs BEFORE the
    SparkSession (and thus the JVM) is created — tests/conftest.py
    imports this module at collection time for exactly that reason."""
    if _pbshim.BLOCKER is not None:
        return _pbshim.BLOCKER
    if _pbshim.USING_VENDORED:
        parts = [os.path.dirname(os.path.abspath(_pbshim.__file__)), _pbshim.VENDORED]
        existing = os.environ.get("PYTHONPATH", "")
        if existing:
            parts += [p for p in existing.split(os.pathsep) if p not in parts]
        os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
    except Exception as exc:  # noqa: BLE001 — report any load failure
        return f"StateMessage_pb2 failed to load: {exc!r}"
    return None


#: applied at import time so worker-side unpickling of a processor
#: class re-applies the shim in each worker process (see module doc)
PROTOBUF_BLOCKER = ensure_protobuf()

if PROTOBUF_BLOCKER is None:
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
else:  # keep the module importable so the blocker string is reachable
    StatefulProcessor = object  # type: ignore[misc,assignment]

from .anomaly import (  # noqa: E402  (needs the shim applied first)
    ANOMALY_SCHEMA,
    _STATE_SCHEMA,
    _concat_nonempty,
    _score_rows,
)


def _transform(
    grouped: GroupedData, processor, schema, time_mode: str = "none", **kwargs
) -> DataFrame:
    """Append-mode transformWithStateInPandas of ``processor`` over
    ``grouped``; raises with the blocker when state API v2 is unusable."""
    if PROTOBUF_BLOCKER is not None:
        raise RuntimeError(f"state API v2 unavailable: {PROTOBUF_BLOCKER}")
    return grouped.transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=schema,
        outputMode="append",
        timeMode=time_mode,
        **kwargs,
    )


class WarmStartAnomalyProcessor(StatefulProcessor):
    """Per-source rolling-100 anomaly scorer bootstrapped from HISTORY.

    Spark calls handleInitialState once per key in the first batch with
    that key's row from the ``initialState`` GroupedData, BEFORE any
    input rows — the operational restart story (redeploy the streaming
    job without replaying the whole event log to rebuild rolling
    windows; the reference's Flink job restores from savepoints,
    AnomalyDetectionJob.java:281-291). The initial frame carries one row
    per source: (source, vals array) — the tail of each key's metric
    history, exactly what anomaly_warmstart_frame builds. A key without
    an initial row starts from an empty deque. Input rows are then
    scored by anomaly._score_rows, exactly as anomaly_stream scores
    them."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("rolling", _STATE_SCHEMA)

    def handleInitialState(self, key, initialState, timerValues) -> None:
        vals = [float(x) for x in initialState["vals"].iloc[0]]
        self._state.update((vals,))

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues: "TimerValues"
    ) -> Iterator[pd.DataFrame]:
        stored = self._state.get() if self._state.exists() else None
        vals: list[float] = list(stored[0]) if stored else []
        pdf = _concat_nonempty(rows)
        if pdf is None:
            self._state.update((vals,))
            # yield nothing: a bare column-less empty frame defaults to
            # float64 dtypes, which Arrow refuses to cast to the ts
            # TimestampType (same hazard StaleSourceDetector hit)
            yield from ()
            return
        out = _score_rows(key[0], vals, pdf)
        self._state.update((vals,))
        yield pd.DataFrame(out)


def anomaly_warmstart_frame(history: DataFrame) -> DataFrame:
    """Per-source initial state from historical parsed events: the last
    ROLLING_WINDOW metric values in (ts, event_id) order — the exact
    deque anomaly_stream would hold after processing that history.
    One small row per key (few KB), shuffled once on the key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .anomaly import ROLLING_WINDOW

    w = Window.partitionBy("source").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        history.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= ROLLING_WINDOW)
        .groupBy("source")
        .agg(
            F.collect_list(
                F.struct("_rn", F.col("metric").cast("double").alias("metric"))
            ).alias("_pairs")
        )
        .select(
            "source",
            # _rn descends with recency, so sorting _rn DESC yields
            # oldest→newest — the deque order _score_rows expects
            F.expr(
                "transform(array_sort(_pairs, (a, b) -> b._rn - a._rn), p -> p.metric)"
            ).alias("vals"),
        )
    )


def anomaly_stream_v2_warmstart(parsed: DataFrame, history: DataFrame) -> DataFrame:
    """Rolling anomaly scores of ``parsed``, with each source's deque
    bootstrapped from a batch history frame; the stream continues the
    rolling windows exactly where the history left off (pinned by
    test_s25: warm-start == anomaly_stream replaying history + stream)."""
    init = anomaly_warmstart_frame(history).groupBy("source")
    return _transform(
        parsed.groupBy("source"),
        WarmStartAnomalyProcessor(),
        ANOMALY_SCHEMA,
        initialState=init,
    )


# ---------------------------------------------------------------------------
# Streaming exact distinct-user cardinality — keyed MapState. The v1
# API forces the whole per-key state through ONE value tuple, so a
# growing set must be serialized and rewritten wholesale every batch;
# MapState stores each member as its own state-store entry, so a batch
# only writes the users it actually saw (RocksDB point writes). This
# is the EXACT form of the cardinality surface; at 100 TB the engine's
# answer is the mergeable HLL sketch family (functions/sketches.py
# x11), and this operator is its per-key streaming exact twin for
# keys whose user sets fit the store.
# ---------------------------------------------------------------------------

class DistinctUsersProcessor(StatefulProcessor):
    """Per-source running exact distinct-user count. MapState maps
    user_id → 1; per batch, only NEW users cost a state write, and the
    running total rides a ValueState counter so emission never
    iterates the full map."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._seen = handle.getMapState("seen", "user_id string", "one integer")
        self._n = handle.getValueState("n", "n bigint")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues: "TimerValues"
    ) -> Iterator[pd.DataFrame]:
        pdf = _concat_nonempty(rows)
        if pdf is None:
            yield from ()
            return
        stored = self._n.get() if self._n.exists() else None
        n = int(stored[0]) if stored else 0
        max_ts = pdf["ts"].max()
        for user in pd.unique(pdf["user_id"].dropna()):
            if not self._seen.containsKey((user,)):
                self._seen.updateValue((user,), (1,))
                n += 1
        self._n.update((n,))
        yield pd.DataFrame(
            {"source": [key[0]], "asof": [max_ts], "distinct_users": [n]}
        )


def distinct_users_stream(parsed: DataFrame) -> DataFrame:
    """Running exact distinct-user count per source; one row per
    (source, batch) with the max event time seen (`asof`) — take each
    source's max-asof row for the current totals."""
    return _transform(
        parsed.groupBy("source"),
        DistinctUsersProcessor(),
        "source string, asof timestamp, distinct_users bigint",
    )


# ---------------------------------------------------------------------------
# Burst escalation — keyed ListState. An alert stream where any single
# alert is routine but k alerts within a trailing window demand
# escalation (the paging-policy layer above cooldown dedup). State is
# the LIST of in-window alert timestamps per source: appended as
# alerts arrive, pruned as the window slides past — ListState stores
# each element as its own state-store entry, matching the
# append-mostly access pattern. Event-time based, so replays and batch
# splits are deterministic (same contract as cooldown/S5).
# ---------------------------------------------------------------------------

#: escalate when this many alerts land within ESCALATION_WINDOW_SECONDS
ESCALATION_K = 3
ESCALATION_WINDOW_SECONDS = 600


class BurstEscalationProcessor(StatefulProcessor):
    """Per-source trailing-window alert counter: emits one escalation
    row for EVERY alert whose arrival leaves ≥ K alerts inside the
    trailing window (count includes the alert itself) — a pure
    function of event times, so the batch oracle is a RANGE-frame
    window count and output is independent of micro-batch sizing."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._recent = handle.getListState("recent", "epoch double")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues: "TimerValues"
    ) -> Iterator[pd.DataFrame]:
        pdf = _concat_nonempty(rows)
        if pdf is None:
            yield from ()
            return
        recent = [t[0] for t in self._recent.get()] if self._recent.exists() else []
        pdf = pdf.sort_values(["ts", "event_id"])
        out = {"source": [], "event_id": [], "ts": [], "n_in_window": []}
        for r in pdf.itertuples(index=False):
            epoch = r.ts.timestamp()
            recent.append(epoch)
            # prune everything the trailing window slid past; the list
            # is sorted (event-time processing order), so one scan.
            # Boundary INCLUSIVE (keep epoch >= cur - W) to match the
            # batch RANGE-frame oracle; the count is as-of arrival in
            # (ts, event_id) order (with tied timestamps a RANGE frame
            # counts the whole peer group — callers wanting tie-exact
            # parity use distinct event times, as alerts in practice
            # have)
            cutoff = epoch - ESCALATION_WINDOW_SECONDS
            while recent and recent[0] < cutoff:
                recent.pop(0)
            if len(recent) >= ESCALATION_K:
                out["source"].append(key[0])
                out["event_id"].append(r.event_id)
                out["ts"].append(r.ts)
                out["n_in_window"].append(len(recent))
        self._recent.put([(t,) for t in recent])
        if out["source"]:
            yield pd.DataFrame(out)
        else:
            yield from ()


def burst_escalation_stream(alerts: DataFrame) -> DataFrame:
    """ListState trailing-window escalation per source. Input:
    (source, event_id, ts) alert rows."""
    return _transform(
        alerts.groupBy("source"),
        BurstEscalationProcessor(),
        "source string, event_id string, ts timestamp, n_in_window bigint",
    )


# ---------------------------------------------------------------------------
# Stale-source detection — event-time TIMERS, the capability the v1
# API cannot express. applyInPandasWithState only wakes a key when
# input for it arrives (or on a coarse whole-key GroupStateTimeout); a
# "source went silent" alert needs the OPPOSITE trigger — emit when
# input does NOT arrive. v2's registerTimer + handleExpiredTimer fires
# the key when the WATERMARK passes the deadline, input or not.
# ---------------------------------------------------------------------------

#: silence threshold: a source with no events for this long (event
#: time) is announced as stale
STALE_GAP_SECONDS = 120

from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STALE_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("last_seen", TimestampType()),
        StructField("announced_at", TimestampType()),
    ]
)

_LAST_SEEN_STATE = StructType([StructField("last_ms", LongType())])


class StaleSourceDetector(StatefulProcessor):
    """Announce (source, last_seen, deadline) once the event-time
    watermark passes last_seen + STALE_GAP_SECONDS with no newer event.

    Every input batch for a key slides its single deadline timer
    forward (delete + re-register), so a timer only survives to expiry
    if the source actually went silent; on expiry the state clears, so
    a source that later resumes starts a fresh cycle (and re-announces
    on its next silence)."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._handle = handle
        self._last = handle.getValueState("last_seen", _LAST_SEEN_STATE)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues: "TimerValues"
    ) -> Iterator[pd.DataFrame]:
        pdf = _concat_nonempty(rows)
        if pdf is None:
            # yield nothing: a bare column-less empty frame defaults to
            # float64 dtypes, which Arrow refuses to cast to timestamp
            yield from ()
            return
        new_max_ms = int(pdf["ts"].max().timestamp() * 1000)
        stored = self._last.get() if self._last.exists() else None
        last_ms = max(stored[0], new_max_ms) if stored else new_max_ms
        for t in list(self._handle.listTimers()):
            self._handle.deleteTimer(t)
        self._handle.registerTimer(last_ms + STALE_GAP_SECONDS * 1000)
        self._last.update((last_ms,))
        yield from ()

    def handleExpiredTimer(
        self, key, timerValues: "TimerValues", expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        stored = self._last.get() if self._last.exists() else None
        if stored is None:
            yield from ()
            return
        out = pd.DataFrame(
            {
                "source": [key[0]],
                # naive UTC timestamps; the session timezone is UTC
                "last_seen": [pd.Timestamp(stored[0], unit="ms")],
                "announced_at": [
                    pd.Timestamp(expiredTimerInfo.getExpiryTimeInMs(), unit="ms")
                ],
            }
        )
        self._last.clear()
        yield out


def stale_source_stream(parsed: DataFrame) -> DataFrame:
    """Event-time-timer detector over the parsed event stream, in
    timeMode=eventTime (timers fire when the watermark passes their
    deadline). The input must already carry an event-time watermark on
    ``ts`` — entries.parse_events applies the standard 10 s one (O2),
    and redefining a watermark downstream is disallowed by Spark."""
    return _transform(
        parsed.groupBy("source"), StaleSourceDetector(), STALE_SCHEMA, "eventTime"
    )


# ---------------------------------------------------------------------------
# Per-key running quantiles — the KLL surface on the keyed state API
# (VERDICT r10 #7). The production form for STORED quantiles stays the
# foreachBatch epoch materializer (sinks.kll_sketch_writer: JVM
# Datasketches bytes in parquet, exactly-once via epoch keys, merged at
# read); that shape is a per-epoch BATCH aggregation, so a keyed-state
# twin holds the sketch INSIDE the processor instead, where JVM
# aggregate functions are unreachable. State per key is a DetKLL
# (functions/sketches.py) — pure-Python, deterministic compaction — so
# identical event streams under different micro-batch splits leave
# IDENTICAL sketch state and running estimates; the S33 parity test
# pins batch-split invariance plus a rank-accuracy bar vs the exact
# per-key percentiles, the same contract the x13 family carries.
# ---------------------------------------------------------------------------

_KLL_STATE_SCHEMA = (
    "levels array<array<double>>, offsets array<int>, n bigint"
)


class RunningQuantilesProcessor(StatefulProcessor):
    """Per-key streaming p50/p95/p99 over ``metric``: fold each batch's
    values (in (ts, event_id) order — DetKLL state is insertion-order
    exact) into the key's sketch, emit one running-estimate row per
    (key, batch)."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("kll", _KLL_STATE_SCHEMA)
        self._asof = handle.getValueState("asof", "mx timestamp")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues: "TimerValues"
    ) -> Iterator[pd.DataFrame]:
        from ..functions.sketches import DetKLL

        pdf = _concat_nonempty(rows)
        if pdf is None:
            yield from ()
            return
        stored = self._state.get() if self._state.exists() else None
        sk = DetKLL.from_state(stored)
        pdf = pdf.sort_values(["ts", "event_id"])
        sk.extend(float(v) for v in pdf["metric"].dropna())
        self._state.update(sk.to_state())
        # asof is the RUNNING max event time (kept in state), not this
        # batch's max: a late-arriving batch folds fresher quantiles
        # into the sketch but carries older timestamps, and the
        # documented "take each source's max-asof row" selection must
        # land on the row with the most data — monotone asof (like
        # monotone n) guarantees that; per-batch max does not.
        prev = self._asof.get()[0] if self._asof.exists() else None
        asof = pdf["ts"].max()
        if prev is not None and prev > asof:
            asof = prev
        self._asof.update((asof,))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "asof": [asof],
                "n": [sk.n],
                "p50": [sk.quantile(0.5)],
                "p95": [sk.quantile(0.95)],
                "p99": [sk.quantile(0.99)],
            }
        )


def running_quantiles_stream(parsed: DataFrame) -> DataFrame:
    """Per-source running p50/p95/p99 of ``metric``; one row per
    (source, batch) with the RUNNING max event time seen (`asof`,
    monotone per source — held in state so a late-arriving batch still
    emits a row that supersedes earlier ones) — take each source's
    max-(asof, n) row for current estimates. Input: parsed events
    carrying (source, event_id, ts, metric)."""
    return _transform(
        parsed.groupBy("source"),
        RunningQuantilesProcessor(),
        "source string, asof timestamp, n bigint,"
        " p50 double, p95 double, p99 double",
    )
