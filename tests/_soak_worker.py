"""Subprocess worker for the S21 streaming soak (VERDICT r13 #1).

Runs the soak's two streaming queries (sliding aggregates → HotStore
upsert, anomaly stream → parquet) in a FRESH SparkSession in its own
JVM and dumps every observable the parent's assertions need as JSON.

Why a subprocess: in-process, the soak inherits the test session — by
the time a full-suite run reaches it the session is aged by thousands
of stages and the FIRST microbatch alone can exceed the observation
window, which forced an adaptive extension loop (up to 4×/300 s) that
blew the driver's whole-suite time budget (VERIFY_r13 tests_ok: false).
A fresh session commits tens of batches inside the floor window, so the
extension never fires and the test's wall-clock is deterministic:
~JVM-start + SOAK_SECONDS (the 2× hard cap is a never-taken safety).

Usage: python _soak_worker.py OUT_JSON SOAK_SECONDS CHECKPOINT_DIR
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _series(query):
    """[(numRowsTotal, event-time max iso, watermark iso)] per data batch."""
    out = []
    for p in query.recentProgress:
        if p["numInputRows"] == 0 or not p.get("stateOperators"):
            continue
        et = p.get("eventTime", {})
        out.append(
            (
                sum(s["numRowsTotal"] for s in p["stateOperators"]),
                et.get("max"),
                et.get("watermark"),
            )
        )
    return out


def main() -> None:
    out_json, soak_s, ckroot = sys.argv[1], int(sys.argv[2]), sys.argv[3]

    # exports the protobuf-shim PYTHONPATH before the JVM launches (see
    # conftest.py) — must precede SparkSession construction
    from real_time_event_streaming_analytics_platform_spark.streaming import (  # noqa: F401
        state_v2 as _state_v2_shim,
    )

    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.serving.hotstore import (
        HotStore,
    )
    from real_time_event_streaming_analytics_platform_spark.session import (
        SessionFactory,
    )
    from real_time_event_streaming_analytics_platform_spark.sources.synthetic import (
        register,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.anomaly import (
        anomaly_stream,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        parse_events,
        sliding_aggregates,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.metrics import (
        EngineMetricsListener,
        MetricsRegistry,
    )

    # the engine's own session, so the soak runs the state store the
    # engine ships (RocksDB, changelog commits)
    spark = (
        SessionFactory.builder("soak-worker", cpus=4)
        # the worker runs beside the test session's JVM: Spark's default
        # 1g heap, not the engine's default of half the machine
        .config("spark.driver.memory", "1g")
        # recentProgress is capped at 100 entries by default; a fast
        # machine runs >100 batches in the soak and the cap would
        # silently drop the RAMP third, degenerating the plateau
        # assertion into tail-vs-tail
        .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    registry = MetricsRegistry()
    listener = EngineMetricsListener(registry)
    spark.streams.addListener(listener)
    register(spark)

    # event time advances 100 ms/row × 1200 rows = 2 min per batch, so a
    # ~minute soak sweeps hours of event time — many complete
    # window+watermark eviction cycles, which is what the plateau
    # assertion needs
    raw = (
        spark.readStream.format("synthetic_events")
        .option("seed", 23)
        .option("rowsPerBatch", 1200)
        .option("intervalMs", 100)
        .load()
    )
    parsed = parse_events(raw)

    store = HotStore()
    keys_seen: set = set()
    upsert = store.upsert_writer(window="1m")

    def track_and_upsert(batch_df, batch_id):
        rows = batch_df.select("source", "window_start").collect()
        keys_seen.update((r["source"], str(r["window_start"])) for r in rows)
        upsert(batch_df, batch_id)

    agg_q = (
        sliding_aggregates(parsed)
        .writeStream.queryName("soak_agg")
        .outputMode("update")
        .foreachBatch(track_and_upsert)
        .option("checkpointLocation", f"{ckroot}/ck_agg")
        .trigger(processingTime="0 seconds")
        .start()
    )
    anom_q = (
        anomaly_stream(parsed)
        .where(F.col("is_anomaly"))
        .writeStream.queryName("soak_anom")
        .format("parquet")
        .option("path", f"{ckroot}/alerts")
        .option("checkpointLocation", f"{ckroot}/ck_anom")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        # soak_s is the FLOOR of the observation window; the assertions
        # need ≥9 data-carrying committed batches (12 = 9 + margin) to
        # judge the plateau. On this fresh session batches commit in
        # ~1 s, so the extension below is a never-taken safety net with
        # a 2× hard cap — total worker wall-clock is deterministic.
        deadline = time.monotonic() + soak_s
        hard_cap = time.monotonic() + 2 * soak_s
        while time.monotonic() < deadline:
            time.sleep(1)
        while len(_series(agg_q)) < 12 and time.monotonic() < hard_cap:
            time.sleep(2)
    finally:
        agg_q.stop()
        anom_q.stop()
        spark.streams.removeListener(listener)

    result = {
        "agg_series": _series(agg_q),
        "anom_series": _series(anom_q),
        "n_keys_seen": len(keys_seen),
        "store_len": len(store),
        "metrics": {
            q: {
                "batches_total": registry.get(
                    "streaming_batches_total", {"query": q}
                ),
                "state_rows_present": registry.get(
                    "streaming_state_rows", {"query": q}
                )
                is not None,
            }
            for q in ("soak_agg", "soak_anom")
        },
        "lag_gauge": registry.get(
            "streaming_watermark_lag_seconds", {"query": "soak_agg"}
        ),
        "render_has_batches_total": "streaming_batches_total"
        in registry.render(),
    }
    spark.stop()
    with open(out_json, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
