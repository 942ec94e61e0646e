"""The stream job of the ``batch`` workload: both reference jobs and the
alert service, drained with ``trigger(availableNow=True)`` over a
backlog of event files written before any timing starts.

Pipeline A (aggregation job): parse_events → sliding_aggregates →
foreachBatch(HotStore.upsert_writer, then rollup_writer).
Pipeline B (anomaly job): parse_events(require_positive_metric) →
anomaly_stream → alerts parquet. A and B run side by side in one
session, as the reference runs its two jobs. When both have drained, the
alert service reads the alerts table as a stream → match_rules →
cooldown_stream → deliver_batch (the body of ``notifier_sink``'s
foreachBatch) with a recording transport.

Every run of the job starts fresh queries (new checkpoints, a new
HotStore, new output tables) over the same input files, so every run
does the same work and must give the same outputs. A warm-up run drains
a copy of the first file only, through the same queries, and is not
checked. The backlog is read one file per micro-batch. Spark drops rows
later than the watermark the previous micro-batch started with, so the
late events of the third file take the late-drop path.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime, timedelta

import pandas as pd

import datagen

FILES = 3  # one per micro-batch
PER_FILE = 500
PERIOD_MS = 250  # event-time slot of one file: the reference producer's 2,000 events/s
LATE_EVERY = 100  # 1% of the events of the last file are late
RULES = [
    ("crit-any", True, [], "critical"),
    ("warn-web-api", True, ["web", "api"], "warning"),
]
ALERT_SCHEMA = (
    "event_id string, source string, ts timestamp, value double, z_score double, "
    "mad_score double, anomaly_type string, severity string, is_anomaly boolean"
)


def _line(e: dict) -> str:
    return json.dumps({k: v for k, v in e.items() if k != "late"})


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


class StreamJob:
    """The job's input (one backlog per seed) and its runs."""

    def __init__(self, bench, seed: int) -> None:
        self.bench = bench
        base = datagen.BASE_TS + timedelta(hours=seed % 8000)
        self.backlog = datagen.stream_events(
            seed, FILES, PER_FILE, PERIOD_MS, base, LATE_EVERY, first_late_file=FILES - 1
        )
        self.events = [e for evs in self.backlog for e in evs]
        self.in_dir = os.path.join(bench.work, "stream", "in")
        self.warm_dir = os.path.join(bench.work, "stream", "warm")
        os.makedirs(self.in_dir)
        os.makedirs(self.warm_dir)
        mtime = time.time() - 3600
        for k, evs in enumerate(self.backlog):  # distinct mtimes fix the read order
            datagen.write_file_atomic(evs, self.in_dir, f"f-{k:05d}.jsonl", mtime=mtime + k)
        datagen.write_file_atomic(self.backlog[0], self.warm_dir, "f-00000.jsonl", mtime=mtime)
        if os.environ.get("PERFBENCH_PLANT") == "drop_event":  # self-test: one lost event
            last = os.path.join(self.in_dir, f"f-{FILES - 1:05d}.jsonl")
            with open(last) as fh:
                lines = fh.readlines()
            with open(last, "w") as fh:
                fh.writelines(lines[1:])
            os.utime(last, (mtime + FILES, mtime + FILES))
        self.runs = 0
        self._expected: dict = {}

    # ------------------------------------------------------------------ run

    def run(self, spark, warm: bool = False) -> dict:
        """One drain of the backlog (with ``warm``, of the one-file
        warm-up copy) through A and B, then the alert service. Returns
        timings, outputs and each query's progress."""
        from pyspark.sql import functions as F

        from real_time_event_streaming_analytics_platform_spark.serving.hotstore import HotStore
        from real_time_event_streaming_analytics_platform_spark.serving.rules import (
            make_rules,
            match_rules,
        )
        from real_time_event_streaming_analytics_platform_spark.streaming.anomaly import (
            anomaly_stream,
            cooldown_stream,
        )
        from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
            parse_events,
            read_event_stream,
            sliding_aggregates,
        )
        from real_time_event_streaming_analytics_platform_spark.streaming.notify import (
            NotifierConfig,
            deliver_batch,
        )
        from real_time_event_streaming_analytics_platform_spark.streaming.sinks import rollup_writer

        tr = self.bench.tracer
        self.runs += 1
        out = os.path.join(self.bench.work, "stream", f"run{self.runs}")
        alerts_path = os.path.join(out, "alerts")
        log_dir = os.path.join(out, "delivery")
        os.makedirs(alerts_path)
        os.makedirs(log_dir)
        store = HotStore()
        r = {
            "store": store,
            "rollup_path": os.path.join(out, "rollup"),
            "alerts_path": alerts_path,
            "sinks": [],
            "notified": [],
            "deliver_ms": [],
        }
        upsert = store.upsert_writer(window="1m")
        rollup = rollup_writer(r["rollup_path"])

        def sink_a(df, bid):
            df.persist()
            t0 = time.perf_counter()
            tr.call("streaming.sinks:hotstore_upsert", upsert, df, bid)
            t1 = time.perf_counter()
            tr.call("streaming.sinks:rollup", rollup, df, bid)
            t2 = time.perf_counter()
            df.unpersist()
            r["sinks"].append({"upsert_ms": (t1 - t0) * 1e3, "rollup_ms": (t2 - t1) * 1e3})

        config = NotifierConfig(email_enabled=False, webhook_enabled=True, custom_webhooks=["bench://hook"])

        def transport(message):
            r["notified"].append(message["alert_id"])

        def deliver(df, epoch):
            t0 = time.perf_counter()
            tr.call("streaming.notify:deliver_batch", deliver_batch, df, epoch, config, transport, log_dir)
            r["deliver_ms"].append((time.perf_counter() - t0) * 1e3)

        def source():
            return read_event_stream(spark, self.warm_dir if warm else self.in_dir, max_files_per_trigger=1)

        parsed_a = tr.call("streaming.entries:parse_events", parse_events, source())
        agg = tr.call("streaming.entries:sliding_aggregates", sliding_aggregates, parsed_a)
        w_agg = (
            agg.writeStream.foreachBatch(sink_a)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(out, "ck_agg"))
        )
        parsed_b = tr.call(
            "streaming.entries:parse_events", parse_events, source(), require_positive_metric=True
        )
        scored = tr.call("streaming.anomaly:anomaly_stream", anomaly_stream, parsed_b)
        w_anom = (
            scored.where(F.col("is_anomaly"))
            .writeStream.format("parquet")
            .option("path", alerts_path)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(out, "ck_anomaly"))
        )
        rules = make_rules(spark, RULES)
        alert_stream = spark.readStream.schema(ALERT_SCHEMA).parquet(alerts_path)
        matched = tr.call(
            "serving.rules:match_rules", match_rules,
            alert_stream.select("event_id", "source", "severity", "ts"), rules,
        )
        cooled = tr.call(
            "streaming.anomaly:cooldown_stream", cooldown_stream,
            matched.select("source", "severity", "event_id", "ts"),
        )
        w_notify = (
            cooled.writeStream.foreachBatch(deliver)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(out, "ck_notify"))
        )

        t0 = time.perf_counter()
        w0 = time.time()
        q_agg, q_anom = w_agg.start(), w_anom.start()
        q_agg.awaitTermination()
        q_anom.awaitTermination()
        t_ab = time.perf_counter()
        w_ab = time.time()
        q_notify = w_notify.start()
        q_notify.awaitTermination()
        t1 = time.perf_counter()
        r.update(
            wall_s=t1 - t0,
            ab_s=t_ab - t0,
            notify_s=t1 - t_ab,
            window=(w0, w_ab, time.time()),
            prog_agg=[p for p in q_agg.recentProgress if p is not None],
            prog_anom=[p for p in q_anom.recentProgress if p is not None],
            prog_notify=[p for p in q_notify.recentProgress if p is not None],
        )
        return r

    # ---------------------------------------------------------------- check

    def expect(self, spark) -> None:
        """Build the expected outputs for the micro-batches the job reads
        (file k in micro-batch k), before any run needs them."""
        key = tuple(range(FILES))
        if key not in self._expected:
            self._expected[key] = self._expect(spark, key)

    def check(self, spark, r) -> tuple[set, dict]:
        """Every backlog event is checked through every output it
        reaches: the HotStore and the rollup against batch
        ``sliding_aggregates``, the alerts table against
        ``anomaly_batch_oracle``, the notifications against an offline
        ``match_rules`` + cooldown pass. The expected outputs are built
        from the generated events, not from the files the job read.
        Returns the ids of events missing from or wrong in any output,
        and a summary."""
        file_batch = tuple(_file_batches(r["prog_anom"], PER_FILE, FILES))
        if file_batch not in self._expected:
            self._expected[file_batch] = self._expect(spark, file_batch)
        want = self._expected[file_batch]
        failed: set[str] = set()
        info = {"events": len(self.events), "late_events": len(want["late"])}

        # -- aggregation job: HotStore + rollup == batch sliding_aggregates
        hot = {}
        for d in r["store"].kpi(window="1m", limit=10**9):
            key = want["by_str"].get((d["source"], d["window_start"]), (d["source"], "?" + d["window_start"]))
            hot[key] = (d["count_events"], d["avg_metric"], d["error_rate"])
        rollup = {
            (x["source"], x["ws"]): (x["count_events"], x["avg_metric"], x["error_rate"])
            for x in spark.read.parquet(r["rollup_path"])
            .select("source", "ws", "count_events", "avg_metric", "error_rate")
            .collect()
        }
        bad = set()
        for got in (hot, rollup):
            for key in set(want["agg"]) | set(got):
                w, g = want["agg"].get(key), got.get(key)
                if w is None or g is None or w[0] != g[0] or not _close(w[1], g[1]) or not _close(w[2], g[2]):
                    bad.add(key)
        info["agg_windows"] = len(want["agg"])
        info["agg_bad_windows"] = len(bad)
        for src, ws in bad:
            if ws.startswith("?"):  # a window the oracle does not have
                failed.update(want["late"])
                continue
            start = datetime.fromisoformat(ws.replace("Z", "+00:00"))
            for e in self.events:
                ts = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00"))
                if e["source"] == src and 0 <= (ts - start).total_seconds() < 60:
                    failed.add(e["event_id"])
        dropped = sum(sum(op.get("numRowsDroppedByWatermark", 0) for op in p["stateOperators"]) for p in r["prog_agg"])
        info["agg_rows_dropped_by_watermark"] = dropped
        if want["late"] and dropped == 0:  # late rows neither aggregated nor counted
            failed.update(want["late"])

        # -- anomaly job: alerts table == anomaly_batch_oracle
        def key(x):
            return (x["severity"], x["anomaly_type"], round(x["z_score"], 6), round(x["mad_score"], 6))

        got_alerts = {x["event_id"]: x for x in spark.read.parquet(r["alerts_path"]).collect()}
        for eid in set(want["alerts"]) | set(got_alerts):
            w, g = want["alerts"].get(eid), got_alerts.get(eid)
            if w is None or g is None or key(w) != key(g):
                failed.add(eid)
        info["alerts"] = len(got_alerts)

        # -- alert service: notifications == offline match_rules + cooldown
        got_ids = sorted(r["notified"])
        if got_ids != want["notified"]:
            failed.update(set(got_ids) ^ set(want["notified"]))
            failed.update(a for a in got_ids if got_ids.count(a) > 1)  # a duplicate delivery
        info["matched"] = want["matched"]
        info["notifications_expected"] = len(want["notified"])
        info["notifications"] = len(got_ids)
        info["notify_data_batches"] = sum(1 for p in r["prog_notify"] if p["numInputRows"] > 0)
        return failed, info

    def _expect(self, spark, file_batch) -> dict:
        from pyspark.sql import functions as F

        from real_time_event_streaming_analytics_platform_spark.serving.rules import (
            make_rules,
            match_rules,
        )
        from real_time_event_streaming_analytics_platform_spark.streaming.anomaly import (
            COOLDOWN_SECONDS,
            anomaly_batch_oracle,
        )
        from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
            parse_events,
            sliding_aggregates,
        )

        # from pandas, so the lines go to the JVM once, through Arrow
        raw = spark.createDataFrame(pd.DataFrame({"raw": [_line(e) for e in self.events]}))
        late = sorted(e["event_id"] for e in self.events if e.get("late"))
        agg = {}
        for x in (
            sliding_aggregates(parse_events(raw).where(~F.col("event_id").isin(late)))
            .withColumn("ws", F.date_format("window_start", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
            .collect()
        ):
            agg[(x["source"], x["ws"])] = (x["count_events"], x["avg_metric"], x["error_rate"], str(x["window_start"]))
        by_str = {(s, v[3]): (s, ws) for (s, ws), v in agg.items()}

        # The stateful scorer sees rows in micro-batch order, then (ts,
        # event_id) inside a batch; events later than the watermark are
        # scored too, where they arrive. The oracle orders by (ts,
        # event_id), so it gets a ts shifted by 10 days per micro-batch of
        # the file that carried the event: the same order, hence the same
        # rolling windows.
        nb = 10**6
        batches = spark.createDataFrame(
            [(f"e{k:05d}", b if b is not None else nb) for k, b in enumerate(file_batch)], "file string, bidx int"
        )
        parsed_b = (
            parse_events(raw, require_positive_metric=True)
            .withColumn("file", F.substring("event_id", 1, 6))
            .join(F.broadcast(batches), "file")
        )
        shifted = parsed_b.withColumn("ts", F.col("ts") + F.make_dt_interval(days=F.col("bidx") * 10))
        oracle = (
            anomaly_batch_oracle(shifted.drop("file", "bidx"))
            .where(F.col("is_anomaly"))
            .drop("ts")
            .join(parsed_b.select("event_id", "ts"), "event_id")
        )
        alerts = {x["event_id"]: x for x in oracle.collect()}

        # the alert service reads the whole alerts table in one micro-batch,
        # so its cooldown sees the matched alerts in (ts, event_id) order
        alert_rows = spark.createDataFrame(
            [(x["event_id"], x["source"], x["severity"], x["ts"]) for x in alerts.values()],
            "event_id string, source string, severity string, ts timestamp",
        )
        matched = match_rules(alert_rows, make_rules(spark, RULES)).collect()
        last: dict = {}
        notified = []
        for x in sorted(matched, key=lambda x: (x["ts"], x["event_id"])):
            k, t = (x["source"], x["severity"]), x["ts"].timestamp()
            if k not in last or t - last[k] >= COOLDOWN_SECONDS:
                notified.append(x["event_id"])
                last[k] = t
        return {
            "late": late,
            "agg": agg,
            "by_str": by_str,
            "alerts": alerts,
            "matched": len(matched),
            "notified": sorted(notified),
        }


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def _file_batches(progress, lines_per_file: int, n_files: int) -> list[int | None]:
    """Index into ``progress`` of the micro-batch that consumed each file,
    from the cumulative numInputRows (files are read in mtime order and
    whole)."""
    out, cum, i, ends = [], 0, 0, []
    for p in progress:
        cum += p["numInputRows"]
        ends.append(cum)
    for k in range(n_files):
        need = (k + 1) * lines_per_file
        while i < len(ends) and ends[i] < need:
            i += 1
        out.append(i if i < len(ends) else None)
    return out


def layers(runs: list[dict], checks: list[dict]) -> dict:
    """Per-layer metrics of the timed runs, from Spark's progress reports
    and the sink-side timings: medians over every data micro-batch of
    every run; state sizes and counts from the last run."""

    def data(key):
        return [p for r in runs for p in r[key] if p["numInputRows"] > 0]

    def dur(key, *names):
        return _p50([sum(p["durationMs"].get(n, 0) for n in names) for p in data(key)])

    def op_p50(key, field):
        return _p50([sum(o.get(field, 0) for o in p["stateOperators"]) for p in data(key)])

    def op_last(key, field):
        prog = runs[-1][key]
        return sum(o.get(field, 0) for o in prog[-1]["stateOperators"]) if prog else 0

    def op_sum(key, field):
        return sum(o.get(field, 0) for p in runs[-1][key] for o in p["stateOperators"])

    last, chk = runs[-1], checks[-1]
    sinks = [s for r in runs for s in r["sinks"]]
    return {
        "streaming.entries.agg.batch_ms_p50": dur("prog_agg", "triggerExecution"),
        "streaming.entries.agg.add_batch_ms_p50": dur("prog_agg", "addBatch"),
        "streaming.entries.agg.planning_ms_p50": dur("prog_agg", "queryPlanning"),
        "streaming.entries.agg.commit_ms_p50": dur("prog_agg", "walCommit", "commitOffsets"),
        "streaming.entries.agg.rows_per_batch_p50": _p50([p["numInputRows"] for p in data("prog_agg")]),
        "streaming.entries.agg.state_rows": op_last("prog_agg", "numRowsTotal"),
        "streaming.entries.agg.state_bytes": op_last("prog_agg", "memoryUsedBytes"),
        "streaming.entries.agg.state_commit_ms_p50": op_p50("prog_agg", "commitTimeMs"),
        "streaming.entries.agg.late_rows_dropped": op_sum("prog_agg", "numRowsDroppedByWatermark"),
        "streaming.anomaly.batch_ms_p50": dur("prog_anom", "triggerExecution"),
        "streaming.anomaly.update_ms_p50": op_p50("prog_anom", "allUpdatesTimeMs"),
        "streaming.anomaly.state_rows": op_last("prog_anom", "numRowsTotal"),
        "streaming.anomaly.state_bytes": op_last("prog_anom", "memoryUsedBytes"),
        "streaming.anomaly.rows_scored": sum(p["numInputRows"] for p in last["prog_anom"]),
        "streaming.anomaly.cooldown.pass_ratio": chk["notifications"] / max(1, chk["matched"]),
        "streaming.sinks.hotstore_upsert_ms_p50": _p50([s["upsert_ms"] for s in sinks]),
        "streaming.sinks.rollup_ms_p50": _p50([s["rollup_ms"] for s in sinks]),
        "streaming.sinks.rows_written": op_sum("prog_agg", "numRowsUpdated"),
        "serving.hotstore.keys": len(last["store"]),
        "serving.rules.matched_per_alert": chk["matched"] / max(1, chk["alerts"]),
        "streaming.notify.deliver_ms_p50": _p50([d for r in runs for d in r["deliver_ms"]]),
        "streaming.notify.messages": len(last["notified"]),
        "streaming.job.ab_s_p50": _p50([r["ab_s"] for r in runs]),
        "streaming.job.notify_s_p50": _p50([r["notify_s"] for r in runs]),
    }
