"""Engine observability — the Spark twin of the reference's Prometheus
surface (services/alert-service/main.py:27-31 counters/gauges,
infra/docker-compose/prometheus.yml scrape targets).

The reference exports service-level counters (alerts_processed_total,
notifications_sent_total), a processing-time histogram, and an
active-alerts gauge refreshed from the database. The idiomatic Spark
twin hangs a ``StreamingQueryListener`` off the session: every
micro-batch's QueryProgress already carries the numbers Prometheus
would scrape — input/processed rows per second, batch duration,
event-time watermark, state-store rows/memory — so the listener just
projects them into a registry; nothing is instrumented by hand inside
operators (zero cost on the data path).

``MetricsRegistry`` is a dependency-free counter/gauge store with
Prometheus text exposition — swap in prometheus_client in a deployment
that has it; the names/labels are already in its format.
"""

from __future__ import annotations

import threading
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql.streaming.listener import (
    QueryIdleEvent,
    QueryProgressEvent,
    QueryStartedEvent,
    QueryTerminatedEvent,
    StreamingQueryListener,
)

_SEVERITIES = ("critical", "warning", "info")  # ASVC:349


class MetricsRegistry:
    """Thread-safe counters + gauges keyed by (metric, labels)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[tuple, float] = defaultdict(float)
        self._gauges: dict[tuple, float] = {}

    @staticmethod
    def _key(name: str, labels: dict | None) -> tuple:
        return (name, tuple(sorted((labels or {}).items())))

    def inc(self, name: str, labels: dict | None = None, value: float = 1.0) -> None:
        with self._lock:
            self._counters[self._key(name, labels)] += value

    def set(self, name: str, labels: dict | None = None, value: float = 0.0) -> None:
        with self._lock:
            self._gauges[self._key(name, labels)] = value

    def zero_all(self, name: str) -> None:
        """Reset every existing label-set of gauge ``name`` to 0."""
        with self._lock:
            for k in self._gauges:
                if k[0] == name:
                    self._gauges[k] = 0.0

    def get(self, name: str, labels: dict | None = None) -> float | None:
        k = self._key(name, labels)
        with self._lock:
            if k in self._counters:
                return self._counters[k]
            return self._gauges.get(k)

    def render(self) -> str:
        """Prometheus text exposition format, deterministically ordered."""

        def fmt(key: tuple, v: float) -> str:
            name, labels = key
            lbl = ",".join(f'{k}="{val}"' for k, val in labels)
            # .17g round-trips any double ({v:g} truncates to 6
            # significant digits — a counter at 1,234,567 would expose
            # as 1.23457e+06 and only move in steps of 10)
            sv = format(v, ".17g")
            return f"{name}{{{lbl}}} {sv}" if lbl else f"{name} {sv}"

        with self._lock:
            lines = [fmt(k, v) for k, v in self._counters.items()]
            lines += [fmt(k, v) for k, v in self._gauges.items()]
        return "\n".join(sorted(lines)) + "\n"


class EngineMetricsListener(StreamingQueryListener):
    """Per-query streaming metrics from QueryProgress events.

    Counters: streaming_input_rows_total, streaming_batches_total.
    Gauges (latest batch): streaming_input_rows_per_second,
    streaming_processed_rows_per_second, streaming_batch_duration_ms,
    streaming_watermark_lag_seconds (event-time max − watermark, the
    freshness number an operator pages on), streaming_state_rows,
    streaming_state_memory_bytes, streaming_state_commit_ms (state-store
    commit time summed over the stateful operators). All labeled
    {query=<name or id>}.

    Listener callbacks run off the query thread (and off the data
    path); a listener exception can never fail the stream.
    """

    def __init__(self, registry: MetricsRegistry) -> None:
        self.registry = registry
        self._labels: dict = {}  # query id -> last label dict

    # -- required interface -------------------------------------------------
    def onQueryStarted(self, event: QueryStartedEvent) -> None:
        self.registry.inc(
            "streaming_queries_started_total", {"query": event.name or str(event.id)}
        )

    def onQueryProgress(self, event: QueryProgressEvent) -> None:
        p = event.progress
        label = {"query": p.name or str(p.id)}
        self._labels[str(p.id)] = label
        reg = self.registry

        def _num(v) -> float:
            # Spark reports NaN for the rate metrics on triggers with no
            # prior timestamp, and NaN is truthy — 'v or 0.0' kept it
            return 0.0 if v is None or v != v else float(v)

        reg.inc("streaming_batches_total", label)
        reg.inc("streaming_input_rows_total", label, float(p.numInputRows))
        reg.set("streaming_input_rows_per_second", label, _num(p.inputRowsPerSecond))
        reg.set(
            "streaming_processed_rows_per_second",
            label,
            _num(p.processedRowsPerSecond),
        )
        total_ms = (p.durationMs or {}).get("triggerExecution", 0)
        reg.set("streaming_batch_duration_ms", label, float(total_ms))
        et = p.eventTime or {}
        if "watermark" in et and "max" in et:
            from datetime import datetime

            iso = lambda s: datetime.fromisoformat(s.replace("Z", "+00:00"))
            try:
                lag = (iso(et["max"]) - iso(et["watermark"])).total_seconds()
                reg.set("streaming_watermark_lag_seconds", label, max(lag, 0.0))
            except ValueError:
                pass
        rows = sum(s.numRowsTotal for s in p.stateOperators)
        mem = sum(s.memoryUsedBytes for s in p.stateOperators)
        commit_ms = sum(s.commitTimeMs for s in p.stateOperators)
        if p.stateOperators:
            reg.set("streaming_state_rows", label, float(rows))
            reg.set("streaming_state_memory_bytes", label, float(mem))
            reg.set("streaming_state_commit_ms", label, float(commit_ms))

    def onQueryIdle(self, event: QueryIdleEvent) -> None:
        pass

    def onQueryTerminated(self, event: QueryTerminatedEvent) -> None:
        self.registry.inc(
            "streaming_queries_terminated_total",
            {"status": "error" if event.exception else "clean"},
        )
        # zero the dead query's THROUGHPUT gauges — otherwise dashboards
        # show its last rates as if it were still running, masking an
        # outage. State-size gauges are left at their final values: they
        # describe the checkpointed state a restart will reload, and
        # post-run consumers (the S13 harness, batch-style availableNow
        # drains) read them after termination.
        label = self._labels.pop(str(event.id), None)
        if label is not None:
            for g in (
                "streaming_input_rows_per_second",
                "streaming_processed_rows_per_second",
                "streaming_watermark_lag_seconds",
            ):
                if self.registry.get(g, label) is not None:
                    self.registry.set(g, label, 0.0)


def update_active_alert_gauges(registry: MetricsRegistry, anomalies: DataFrame) -> None:
    """ACTIVE_ALERTS gauge refresh — twin of ASVC:331-355: reset every
    severity to 0, then set the unresolved trailing-hour counts from
    ``serving.api.active_alert_counts`` (the same query the reference
    runs against PostgreSQL)."""
    from ..serving.api import active_alert_counts

    # Zero EVERY severity the gauge has ever carried, not just the fixed
    # trio: Alertmanager webhook labels pass through verbatim (e.g.
    # 'page'), and a reset limited to the trio would leave such a gauge
    # stuck at its last nonzero value after the alert resolves.
    registry.zero_all("active_alerts")
    for sev in _SEVERITIES:
        registry.set("active_alerts", {"severity": sev}, 0.0)
    for r in active_alert_counts(anomalies).collect():
        registry.set("active_alerts", {"severity": r["severity"]}, float(r["n"]))
