"""S-series streaming behavior tests (SURVEY.md §2c S1-S7):
S1 watermark drops late data; S2 batch↔streaming aggregate parity;
S3/S6 exactly-once file sink + checkpoint restart; S3b a checkpoint from
the previous session settings resumes exactly; S4 stateful anomaly
parity with the batch window-frame oracle; S5 cooldown suppression;
S7 session windows consistent with batch sessionization."""

import glob
import math
import os
import shutil
import tempfile
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_analytics_platform_spark.sources.fixtures import (
    BASE_TS,
    generate_events,
    write_jsonl,
)
from real_time_event_streaming_analytics_platform_spark.streaming.anomaly import (
    anomaly_batch_oracle,
    anomaly_stream,
    cooldown_stream,
    COOLDOWN_SECONDS,
)
from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
    parse_events,
    read_event_stream,
    run_available_now,
    run_to_parquet,
    session_counts,
    sliding_aggregates,
)


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="sgr-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _read_batch(spark, path):
    """Batch twin of read_event_stream → parse_events (same plan)."""
    raw = spark.read.text(path).withColumnRenamed("value", "raw")
    return parse_events(raw)


def test_s1_watermark_drops_late_rows(spark, tmpdir):
    # file a: events t=0..118s → commits watermark ~108s; file b: filler
    # at t=125s (the commit from a takes effect one batch later — Spark
    # applies the watermark computed through batch N-1 at batch N+1's
    # filter); file c: one LATE event at t=5s + filler at t=130s. By the
    # time c processes, the operator watermark is ≥108s, so the t=5s
    # event's window [0,60) is finalized and the row must be dropped.
    on_time = generate_events(60, seed=1, interval_ms=2000)  # 0..118s
    filler = generate_events(1, seed=3, base_ts=BASE_TS + timedelta(seconds=125))
    late = generate_events(1, seed=2, base_ts=BASE_TS + timedelta(seconds=5))
    filler2 = generate_events(1, seed=4, base_ts=BASE_TS + timedelta(seconds=130))
    write_jsonl(on_time, f"{tmpdir}/in", prefix="a")
    write_jsonl(filler, f"{tmpdir}/in", prefix="b")
    write_jsonl(late + filler2, f"{tmpdir}/in", prefix="c")

    stream = parse_events(read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1))
    counts = stream.groupBy(F.window("ts", "1 minute")).agg(F.count("*").alias("n"))
    result = run_available_now(
        counts, f"{tmpdir}/ck", output_mode="append", name="s1"
    ).collect()

    got = {r["window"].start.second + r["window"].start.minute * 60: r["n"] for r in result}
    # window [0,60): 30 on-time events; the late t=5s event must be dropped
    assert got.get(0) == 30, got
    # batch run over the same files COUNTS the late row — proving the
    # streaming drop is the watermark, not the data
    batch = _read_batch(spark, f"{tmpdir}/in")
    batch_n = batch.where(F.col("ts") < F.lit("2024-01-01 00:01:00").cast("timestamp")).count()
    assert batch_n == 31


def test_s2_batch_stream_aggregate_parity(spark, tmpdir):
    events = generate_events(500, seed=7, interval_ms=500, out_of_order_ms=3000)
    write_jsonl(events, f"{tmpdir}/in", n_files=4)

    stream_res = run_available_now(
        sliding_aggregates(
            parse_events(read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1))
        ),
        f"{tmpdir}/ck",
        output_mode="complete",
        name="s2",
    ).collect()
    batch_res = sliding_aggregates(_read_batch(spark, f"{tmpdir}/in")).collect()
    _assert_agg_parity(stream_res, batch_res)


def _keyed(rows):
    return {(r["window_start"], r["source"]): r for r in rows}


def _assert_agg_parity(stream_rows, batch_rows):
    """Streaming sliding_aggregates rows == the batch plan's rows."""
    s, b = _keyed(stream_rows), _keyed(batch_rows)
    assert set(s) == set(b)
    for k in s:
        assert s[k]["count_events"] == b[k]["count_events"], k
        assert math.isclose(s[k]["avg_metric"], b[k]["avg_metric"], rel_tol=1e-9), k
        assert math.isclose(s[k]["sum_metric"], b[k]["sum_metric"], rel_tol=1e-9), k
        assert math.isclose(s[k]["error_rate"], b[k]["error_rate"], rel_tol=1e-9), k
        # sketches merge in different orders between modes — tolerance
        assert math.isclose(s[k]["p95_metric"], b[k]["p95_metric"], rel_tol=0.05), k


def test_s3_s6_checkpoint_exactly_once(spark, tmpdir):
    batch_a = generate_events(100, seed=11)
    write_jsonl(batch_a, f"{tmpdir}/in", prefix="a")
    stream = parse_events(read_event_stream(spark, f"{tmpdir}/in"))
    run_to_parquet(stream, f"{tmpdir}/out", f"{tmpdir}/ck")
    assert spark.read.parquet(f"{tmpdir}/out").count() == 100

    # "restart": new files arrive, same checkpoint — only the new files
    # are processed, nothing is duplicated or lost
    batch_b = generate_events(50, seed=12, base_ts=BASE_TS + timedelta(seconds=60))
    write_jsonl(batch_b, f"{tmpdir}/in", prefix="b")
    stream2 = parse_events(read_event_stream(spark, f"{tmpdir}/in"))
    run_to_parquet(stream2, f"{tmpdir}/out", f"{tmpdir}/ck")
    out = spark.read.parquet(f"{tmpdir}/out")
    assert out.count() == 150
    assert out.select("event_id").distinct().count() == 150


def test_s3b_old_checkpoint_resumes_and_changelog_replay_is_exact(spark, tmpdir):
    """A checkpoint written under the previous session settings (8 state
    partitions, RocksDB changelog checkpointing off, the default
    checkpoint file manager) resumes under the engine's settings, across
    two restarts: the upserted result equals batch sliding_aggregates and
    the state keeps its recorded 8 partitions. A fresh query commits one
    state partition per core, through changelog files."""
    events = generate_events(600, seed=31, interval_ms=500)
    upserted: dict = {}

    def upsert(df, _bid):
        upserted.update(_keyed(df.collect()))

    def drain(session, name, ck):
        q = (
            sliding_aggregates(
                parse_events(read_event_stream(session, f"{tmpdir}/in", max_files_per_trigger=1))
            )
            .writeStream.queryName(name)
            .foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [p for p in q.recentProgress if p is not None]

    old = spark.newSession()
    old.conf.set("spark.sql.shuffle.partitions", "8")
    old.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
    old.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    write_jsonl(events[:200], f"{tmpdir}/in", prefix="a")
    drain(old, "s3b_old", f"{tmpdir}/ck")
    assert not glob.glob(f"{tmpdir}/ck/state/0/*/*.changelog")

    for prefix, chunk in (("b", events[200:400]), ("c", events[400:])):
        write_jsonl(chunk, f"{tmpdir}/in", prefix=prefix)
        progress = drain(spark, f"s3b_{prefix}", f"{tmpdir}/ck")
        assert sum(p["numInputRows"] for p in progress) == 200
        assert {o["numShufflePartitions"] for p in progress for o in p["stateOperators"]} == {8}
    batch = sliding_aggregates(_read_batch(spark, f"{tmpdir}/in")).collect()
    _assert_agg_parity(list(upserted.values()), batch)

    upserted.clear()
    drain(spark, "s3b_fresh", f"{tmpdir}/ck_fresh")
    _assert_agg_parity(list(upserted.values()), batch)
    parts = [d for d in os.listdir(f"{tmpdir}/ck_fresh/state/0") if d.isdigit()]
    assert len(parts) == spark.sparkContext.defaultParallelism
    for d in parts:
        assert glob.glob(f"{tmpdir}/ck_fresh/state/0/{d}/*.changelog"), d


def test_s4_stateful_anomaly_parity_with_batch_oracle(spark, tmpdir):
    events = generate_events(1500, seed=21, interval_ms=300, outlier_rate=0.08)
    write_jsonl(events, f"{tmpdir}/in", n_files=3)

    stream = parse_events(
        read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1),
        require_positive_metric=True,
    )
    got = run_available_now(
        anomaly_stream(stream), f"{tmpdir}/ck", output_mode="append", name="s4"
    ).collect()
    expect = anomaly_batch_oracle(
        _read_batch(spark, f"{tmpdir}/in").where(F.col("metric") > 0)
    ).collect()

    def canon(rows):
        return sorted(
            (
                r["event_id"],
                round(r["z_score"], 6),
                round(r["mad_score"], 6),
                r["anomaly_type"],
                r["severity"],
                r["is_anomaly"],
            )
            for r in rows
        )

    assert len(got) == len(expect)
    assert canon(got) == canon(expect)


def test_s5_cooldown_suppression(spark, tmpdir):
    # alerts every 30 s per (source, severity) — only one per cooldown
    # interval may pass
    events = generate_events(200, seed=31, interval_ms=30000)  # 30s apart
    write_jsonl(events, f"{tmpdir}/in")
    stream = parse_events(read_event_stream(spark, f"{tmpdir}/in"))
    alerts = stream.select(
        "source", F.col("status").alias("severity"), "event_id", "ts"
    )
    out = run_available_now(
        cooldown_stream(alerts), f"{tmpdir}/ck", output_mode="append", name="s5"
    ).collect()

    by_key = {}
    for r in sorted(out, key=lambda r: r["ts"]):
        by_key.setdefault((r["source"], r["severity"]), []).append(r["ts"])
    assert by_key, "no notifications emitted"
    for key, times in by_key.items():
        for a, b in zip(times, times[1:]):
            assert (b - a).total_seconds() >= COOLDOWN_SECONDS, (key, a, b)


def test_s7_session_windows_match_batch_sessionization(spark, tmpdir):
    # 3 bursts per user separated by >30 min gaps
    chunks = []
    for i, offset in enumerate([0, 3600, 7200]):
        chunks += generate_events(
            60, seed=41 + i, base_ts=BASE_TS + timedelta(seconds=offset), interval_ms=1000
        )
    write_jsonl(chunks, f"{tmpdir}/in", n_files=3)

    stream = parse_events(read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1))
    emitted = run_available_now(
        session_counts(stream), f"{tmpdir}/ck", output_mode="append", name="s7"
    ).collect()

    batch = _read_batch(spark, f"{tmpdir}/in")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        batch.withColumn(
            "is_new", F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n"), F.min("ts").alias("start"), F.max("ts").alias("end"))
        .collect()
    )
    max_ts = batch.agg(F.max("ts")).first()[0]
    final_watermark = max_ts - timedelta(seconds=10)
    closed = {
        (r["user_id"], r["start"], r["n"])
        for r in sess
        if r["end"] + timedelta(minutes=30) <= final_watermark
    }
    got = {(r["user_id"], r["session_start"], r["n"]) for r in emitted}
    assert got == closed, (len(got), len(closed))


def test_s8_stream_stream_interval_join(spark, tmpdir):
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import interval_join

    events = generate_events(400, seed=61, interval_ms=1000)
    write_jsonl(events, f"{tmpdir}/in", n_files=2)
    left = parse_events(read_event_stream(spark, f"{tmpdir}/in"))
    right = parse_events(read_event_stream(spark, f"{tmpdir}/in"))
    joined = interval_join(left, right, key="user_id", within="2 minutes")
    got = run_available_now(joined, f"{tmpdir}/ck", output_mode="append", name="s8").collect()

    batch = _read_batch(spark, f"{tmpdir}/in")
    l = batch.select(
        F.col("user_id").alias("l_key"), F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts")
    )
    r = batch.select(
        F.col("user_id").alias("r_key"), F.col("event_id").alias("r_event_id"), F.col("ts").alias("r_ts")
    )
    expect = l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 2 MINUTES"))
        & (F.col("r_ts") <= F.col("l_ts")),
    ).collect()
    key = lambda rows: sorted((x["l_event_id"], x["r_event_id"]) for x in rows)
    assert key(got) == key(expect)
    assert got, "interval join produced no pairs"


def test_s9_streaming_dedup_within_watermark(spark, tmpdir):
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        dedup_within_watermark,
    )

    events = generate_events(150, seed=71, interval_ms=500)
    dupes = events[:30]  # replay the first 30 events (same event_ids)
    write_jsonl(events, f"{tmpdir}/in", prefix="a")
    write_jsonl(dupes, f"{tmpdir}/in", prefix="b")
    stream = parse_events(read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1))
    out = run_available_now(
        dedup_within_watermark(stream), f"{tmpdir}/ck", output_mode="append", name="s9"
    ).collect()
    ids = [r["event_id"] for r in out]
    assert len(ids) == 150, len(ids)  # duplicates suppressed
    assert len(set(ids)) == 150


def test_corrupt_lines_dropped_at_parse(spark, tmpdir):
    import os

    events = generate_events(50, seed=91)
    write_jsonl(events, f"{tmpdir}/in", prefix="a")
    with open(f"{tmpdir}/in/zz-corrupt.jsonl", "w") as fh:
        fh.write('{not json}\nnull\n\n{"event_id": null}\n{"event_id": "x"}\n')
    os.utime(f"{tmpdir}/in/zz-corrupt.jsonl", (1600090000, 1600090000))
    stream = parse_events(read_event_stream(spark, f"{tmpdir}/in"))
    out = run_available_now(stream, f"{tmpdir}/ck", "append", "corrupt").collect()
    # the {"event_id": "x"} row parses but has no metric -> dropped too
    assert len(out) == 50


def test_s10_full_alert_pipeline_end_to_end(spark, tmpdir):
    """The complete reference dataflow (README.md:21-31): events →
    stateful anomaly scoring → rule matching (stream-static broadcast
    join) → cooldown dedup → notifications, as two chained streaming
    queries with a table boundary (the alerts.v1 topic analogue)."""
    from real_time_event_streaming_analytics_platform_spark.serving.rules import (
        make_rules,
        match_rules,
    )

    events = generate_events(1000, seed=101, interval_ms=400, outlier_rate=0.15)
    write_jsonl(events, f"{tmpdir}/in", n_files=2)

    # stage 1: anomaly job → alerts table
    parsed = parse_events(
        read_event_stream(spark, f"{tmpdir}/in"), require_positive_metric=True
    )
    run_to_parquet(
        anomaly_stream(parsed).where(F.col("is_anomaly")), f"{tmpdir}/alerts", f"{tmpdir}/ck1"
    )
    n_alerts = spark.read.parquet(f"{tmpdir}/alerts").count()
    assert n_alerts > 0

    # stage 2: alert service — rule match (stream-static join) + cooldown
    rules = make_rules(spark, [("crit-any", True, [], "critical")])
    alert_stream = (
        spark.readStream.schema(spark.read.parquet(f"{tmpdir}/alerts").schema)
        .parquet(f"{tmpdir}/alerts")
    )
    matched = match_rules(
        alert_stream.select("event_id", "source", "severity", "ts"), rules
    )
    notified = run_available_now(
        cooldown_stream(matched.select("source", "severity", "event_id", "ts")),
        f"{tmpdir}/ck2",
        output_mode="append",
        name="s10",
    ).collect()

    crit = spark.read.parquet(f"{tmpdir}/alerts").where(F.col("severity") == "critical")
    assert crit.count() > 0
    assert notified, "no notifications through the full pipeline"
    # every notification is a critical alert that matched the rule
    crit_ids = {r["event_id"] for r in crit.collect()}
    assert all(r["event_id"] in crit_ids for r in notified)
    # cooldown enforced per key
    by_key = {}
    for r in sorted(notified, key=lambda r: r["ts"]):
        by_key.setdefault((r["source"], r["severity"]), []).append(r["ts"])
    for key, times in by_key.items():
        for a, b in zip(times, times[1:]):
            assert (b - a).total_seconds() >= COOLDOWN_SECONDS, (key, a, b)

def test_s11_notifier_fanout_exactly_once_across_restart(spark, tmpdir):
    """O28 last mile (reference ASVC:232-330): every post-cooldown alert
    — and ONLY those — reaches the recorded notifier on every enabled
    channel exactly once, across a stop + new-data + restart of the
    sink (same checkpoint + delivery log)."""
    from real_time_event_streaming_analytics_platform_spark.streaming.notify import (
        NotifierConfig,
        RecordedTransport,
        notifier_sink,
    )

    config = NotifierConfig(
        email_enabled=True,
        email_recipients=["ops@example.com"],
        slack_enabled=True,
        slack_webhook_url="http://example.com/slack",
        webhook_enabled=True,
        custom_webhooks=["http://example.com/hook"],
    )

    # 30 s apart → several cooldown passes per key; tranche b strictly
    # after a so micro-batch splits align with event time
    tranche_a = generate_events(120, seed=201, interval_ms=30000)
    write_jsonl(tranche_a, f"{tmpdir}/in", prefix="a", n_files=2)

    def alert_cols(df):
        return df.select("source", F.col("status").alias("severity"), "event_id", "ts")

    def run_once(transport):
        stream = parse_events(
            read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1)
        )
        q = (
            notifier_sink(
                cooldown_stream(alert_cols(stream)),
                config,
                transport,
                delivery_log=f"{tmpdir}/dlog",
            )
            .option("checkpointLocation", f"{tmpdir}/ckn")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t1 = RecordedTransport()
    run_once(t1)
    assert t1.sent, "first run delivered nothing"

    tranche_b = generate_events(
        60, seed=202, base_ts=BASE_TS + timedelta(seconds=3600), interval_ms=30000
    )
    write_jsonl(tranche_b, f"{tmpdir}/in", prefix="b")
    t2 = RecordedTransport()
    run_once(t2)
    assert t2.sent, "restart delivered nothing for the new tranche"

    # independent single-shot cooldown run over ALL input = expected set
    expect = run_available_now(
        cooldown_stream(alert_cols(_read_batch_stream(spark, f"{tmpdir}/in"))),
        f"{tmpdir}/ck_expect",
        output_mode="append",
        name="s11_expect",
    ).collect()
    want = {
        (ch, r["event_id"])
        for r in expect
        for ch in ("email", "slack", "webhook")
    }
    got = [(m["channel"], m["alert_id"]) for m in t1.sent + t2.sent]
    assert len(got) == len(set(got)), "duplicate notification delivered"
    assert set(got) == want
    # channel payload shapes (ASVC:250-325)
    by_ch = {m["channel"]: m for m in t1.sent}
    assert by_ch["email"]["to"] == ["ops@example.com"]
    assert "subject" in by_ch["email"] and "Alert:" in by_ch["email"]["subject"]
    assert by_ch["slack"]["payload"]["attachments"][0]["fields"]
    assert by_ch["webhook"]["url"] == "http://example.com/hook"


def _read_batch_stream(spark, path):
    """The same event stream re-read from scratch (fresh source, no
    shared checkpoint) for an independent expected-output run."""
    return parse_events(read_event_stream(spark, path, max_files_per_trigger=1))


def test_notifier_replayed_epoch_is_skipped(spark, tmpdir):
    """Micro-batch replay safety: re-delivering an epoch whose done
    marker exists is a no-op — the transactional-sink contract that
    makes notification delivery idempotent under failure replays."""
    from datetime import datetime

    from real_time_event_streaming_analytics_platform_spark.streaming.notify import (
        NotifierConfig,
        RecordedTransport,
        deliver_batch,
    )

    df = spark.createDataFrame(
        [
            ("web", "critical", "e1", datetime(2024, 1, 1, 0, 0, 0)),
            ("db", "warning", "e2", datetime(2024, 1, 1, 0, 1, 0)),
        ],
        "source string, severity string, event_id string, ts timestamp",
    )
    cfg = NotifierConfig(
        email_recipients=["ops@example.com"], custom_webhooks=["http://h"]
    )
    t = RecordedTransport()
    n1 = deliver_batch(df, 0, cfg, t, f"{tmpdir}/dlog")
    n2 = deliver_batch(df, 0, cfg, t, f"{tmpdir}/dlog")  # replay
    assert n1 == 4  # 2 alerts x (email + webhook)
    assert n2 == 0 and len(t.sent) == 4
    # a NEW epoch still delivers
    assert deliver_batch(df, 1, cfg, t, f"{tmpdir}/dlog") == 4


def test_s13_metrics_listener_matches_query_progress(spark, tmpdir):
    """Observability twin (ASVC:27-31 + prometheus.yml): after a
    streaming run with the listener attached, the registry's numbers
    must equal the query's own recentProgress — rows counted, batches
    counted, state rows, watermark lag — and render in Prometheus text
    format."""
    import time

    from real_time_event_streaming_analytics_platform_spark.streaming.metrics import (
        EngineMetricsListener,
        MetricsRegistry,
    )

    events = generate_events(300, seed=211, interval_ms=1000)
    write_jsonl(events, f"{tmpdir}/in", n_files=3)

    registry = MetricsRegistry()
    listener = EngineMetricsListener(registry)
    spark.streams.addListener(listener)
    try:
        q = (
            sliding_aggregates(
                parse_events(
                    read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1)
                )
            )
            .writeStream.format("noop")
            .queryName("s13_metrics")
            .option("checkpointLocation", f"{tmpdir}/ck")
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p is not None]
        want_rows = sum(p["numInputRows"] for p in progress)
        want_batches = len(progress)
        label = {"query": "s13_metrics"}
        # listener delivery is async — poll until the totals land
        deadline = time.time() + 30
        while time.time() < deadline:
            if registry.get("streaming_batches_total", label) == want_batches:
                break
            time.sleep(0.2)
        assert registry.get("streaming_batches_total", label) == want_batches
        assert registry.get("streaming_input_rows_total", label) == want_rows
        assert want_rows == 300
        assert registry.get("streaming_batch_duration_ms", label) >= 0
        # the windowed agg holds state; the final watermark trails max ts
        assert registry.get("streaming_state_rows", label) > 0
        lag = registry.get("streaming_watermark_lag_seconds", label)
        assert lag is not None and lag >= 0
        # the commit-cost gauge is the latest batch's summed state commit
        want_commit = sum(o["commitTimeMs"] for o in progress[-1]["stateOperators"])
        assert registry.get("streaming_state_commit_ms", label) == want_commit
        text = registry.render()
        assert 'streaming_input_rows_total{query="s13_metrics"} 300' in text
    finally:
        spark.streams.removeListener(listener)


def test_active_alert_gauges_match_counts(spark):
    """ACTIVE_ALERTS twin (ASVC:331-355): gauges equal the
    active_alert_counts query, absent severities read 0."""
    from datetime import datetime

    from real_time_event_streaming_analytics_platform_spark.serving.api import (
        active_alert_counts,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.metrics import (
        MetricsRegistry,
        update_active_alert_gauges,
    )

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("web", "critical", t0, False),
        ("web", "critical", t0, False),
        ("db", "warning", t0, False),
        ("db", "warning", t0, True),  # resolved → excluded
        ("db", "info", datetime(2024, 1, 1, 9, 0, 0), False),  # stale → excluded
    ]
    anomalies = spark.createDataFrame(
        rows, "source string, severity string, ts timestamp, resolved boolean"
    )
    registry = MetricsRegistry()
    update_active_alert_gauges(registry, anomalies)
    want = {r["severity"]: r["n"] for r in active_alert_counts(anomalies).collect()}
    assert want == {"critical": 2, "warning": 1}
    assert registry.get("active_alerts", {"severity": "critical"}) == 2
    assert registry.get("active_alerts", {"severity": "warning"}) == 1
    assert registry.get("active_alerts", {"severity": "info"}) == 0
    assert 'active_alerts{severity="critical"} 2' in registry.render()


def test_kafka_source_plan_constructs_or_connector_absent(spark):
    """O1 transport: read_kafka_stream must build an analyzable plan when
    the spark-sql-kafka connector is on the classpath. This container
    ships without it, so the expected outcome here is the explicit
    'Failed to find data source: kafka' — anything else is a real bug in
    the builder. All parse/watermark/window logic downstream of the
    source is covered by the file-twin S-tests either way."""
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        parse_events,
        read_kafka_stream,
    )

    try:
        stream = read_kafka_stream(spark, "localhost:9092", topic="events.v1")
    except Exception as exc:
        assert "kafka" in str(exc).lower()
        pytest.skip(f"spark-sql-kafka connector not on classpath: {type(exc).__name__}")
    parsed = parse_events(stream)
    assert parsed.isStreaming
    assert {"event_id", "source", "ts", "metric"} <= set(parsed.columns)


def test_s11_streaming_curation_parity_and_planted_dups(spark, tmpdir):
    """The streaming curation pipeline (quality → decontaminate → mix →
    watermark-bounded exact dedup) must keep exactly the docs the batch
    stage logic keeps, with keeper = first arrival; planted later
    replays of kept docs are suppressed by the dedup state."""
    import json

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _BENCH_PRED,
        _MIX_THRESH_SPARK,
        _QUAL_MIN_TOKENS,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.curation import (
        bench_gram_set,
        curate_doc_stream,
        read_doc_stream,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    bench = bench_gram_set(docs)
    assert bench, "benchmark slice produced no grams"

    # fixture: one JSONL file sorted by doc_id (arrival order == id
    # order), plus replays of the first 20 docs under fresh ids from
    # odd-numbered (keep-all-mix) sources 60s later — exact-dup plants.
    rows = sorted(
        docs.select("doc_id", "source", "text").collect(), key=lambda r: r["doc_id"]
    )
    base = 1_700_000_000
    lines = [
        {"doc_id": r["doc_id"], "ts": base + i, "source": r["source"], "text": r["text"]}
        for i, r in enumerate(rows)
    ]
    plants = []
    for j, r in enumerate(rows[:20]):
        pid = 2_000_003 + j * 2  # odd ids; none are % 97 == 0 for this range
        assert pid % 97 != 0
        plants.append(
            {"doc_id": pid, "ts": base + len(rows) + 60 + j, "source": "src1", "text": r["text"]}
        )
    import os

    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    with open(f"{tmpdir}/in/docs.jsonl", "w") as fh:
        for ln in lines + plants:
            fh.write(json.dumps({**ln, "ts": _iso(ln["ts"])}) + "\n")

    stream = read_doc_stream(spark, f"{tmpdir}/in")
    got = run_available_now(
        curate_doc_stream(stream, bench), f"{tmpdir}/ck", "append", "s11"
    ).collect()
    got_ids = sorted(r["doc_id"] for r in got)

    # batch expectation with the SAME stage order and first-arrival keeper
    fixture = spark.createDataFrame(
        [(ln["doc_id"], ln["source"], ln["text"], i) for i, ln in enumerate(lines + plants)],
        "doc_id long, source string, text string, arrival long",
    )
    toks = "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
    eligible = (
        fixture.where(~F.expr(_BENCH_PRED))
        .withColumn("_toks", F.expr(toks))
        .where(
            (F.expr("size(_toks)") >= _QUAL_MIN_TOKENS)
            & (
                (F.expr("size(_toks)") - F.expr("size(array_distinct(_toks))")) * 2
                <= F.expr("size(_toks)")
            )
        )
        .where(
            F.expr(
                f"substring(md5(cast(doc_id as string)), 1, 2) <= ({_MIX_THRESH_SPARK})"
            )
        )
    )
    # decontamination in the batch twin: any 4-gram in the bench set
    bench_df = spark.createDataFrame([(g,) for g in bench], "g string")
    contaminated = (
        eligible.selectExpr("doc_id", "text")
        .withColumn("_words", F.expr(toks))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(_words) < 4 THEN array() "
                    "ELSE sequence(1, size(_words) - 3) END"
                )
            ).alias("_i"),
            "_words",
        )
        .select("doc_id", F.expr("concat_ws(' ', slice(_words, _i, 4))").alias("g"))
        .join(F.broadcast(bench_df), "g")
        .select("doc_id")
        .distinct()
    )
    clean = eligible.join(contaminated, "doc_id", "left_anti")
    from pyspark.sql import Window

    first = Window.partitionBy(F.md5(F.lower("text"))).orderBy("arrival")
    expect = (
        clean.withColumn("_rn", F.row_number().over(first))
        .where(F.col("_rn") == 1)
        .select("doc_id")
        .collect()
    )
    expect_ids = sorted(r["doc_id"] for r in expect)
    assert got_ids == expect_ids
    # every planted replay whose original survived must be suppressed
    kept = set(got_ids)
    orig_by_text = {r["text"]: r["doc_id"] for r in rows[:20]}
    suppressed = [p for p in plants if orig_by_text[p["text"]] in kept]
    assert suppressed, "fixture produced no suppressible plants"
    assert all(p["doc_id"] not in kept for p in suppressed)


def _iso(epoch: int) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(epoch, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def test_s32_streaming_gopher_stage_parity(spark, tmpdir):
    """S32 (VERDICT r09 #6): the streaming curation pipeline with the
    Gopher reject stage enabled must keep exactly the docs the batch
    stage logic (quality → gopher → mix → decontaminate → first-arrival
    dedup) keeps — the t6b battery is map-only column algebra, so the
    SAME expression tree runs in both engines. The corpus does real
    work here: ~44% of synthetic docs are gopher-flagged, so enabling
    the stage must strictly shrink the S11 survivor set."""
    import json
    import os

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _BENCH_PRED,
        _MIX_THRESH_SPARK,
        _QUAL_MIN_TOKENS,
    )
    from real_time_event_streaming_analytics_platform_spark.functions.text import (
        with_gopher_flag,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.curation import (
        bench_gram_set,
        curate_doc_stream,
        read_doc_stream,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    bench = bench_gram_set(docs)
    rows = sorted(
        docs.select("doc_id", "source", "text").collect(), key=lambda r: r["doc_id"]
    )
    base = 1_700_000_000
    lines = [
        {"doc_id": r["doc_id"], "ts": base + i, "source": r["source"], "text": r["text"]}
        for i, r in enumerate(rows)
    ]
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    with open(f"{tmpdir}/in/docs.jsonl", "w") as fh:
        for ln in lines:
            fh.write(json.dumps({**ln, "ts": _iso(ln["ts"])}) + "\n")

    stream = read_doc_stream(spark, f"{tmpdir}/in")
    got = run_available_now(
        curate_doc_stream(stream, bench, gopher=True), f"{tmpdir}/ck", "append", "s32"
    ).collect()
    got_ids = sorted(r["doc_id"] for r in got)

    # batch twin with the same stage order and first-arrival keeper
    fixture = spark.createDataFrame(
        [(ln["doc_id"], ln["source"], ln["text"], i) for i, ln in enumerate(lines)],
        "doc_id long, source string, text string, arrival long",
    )
    toks = "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
    eligible = (
        with_gopher_flag(fixture.where(~F.expr(_BENCH_PRED)))
        .withColumn("_toks", F.expr(toks))
        .where(
            (F.expr("size(_toks)") >= _QUAL_MIN_TOKENS)
            & (
                (F.expr("size(_toks)") - F.expr("size(array_distinct(_toks))")) * 2
                <= F.expr("size(_toks)")
            )
        )
        .where(~F.col("gopher_flagged"))
        .where(
            F.expr(
                f"substring(md5(cast(doc_id as string)), 1, 2) <= ({_MIX_THRESH_SPARK})"
            )
        )
    )
    bench_df = spark.createDataFrame([(g,) for g in bench], "g string")
    contaminated = (
        eligible.selectExpr("doc_id", "text")
        .withColumn("_words", F.expr(toks))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(_words) < 4 THEN array() "
                    "ELSE sequence(1, size(_words) - 3) END"
                )
            ).alias("_i"),
            "_words",
        )
        .select("doc_id", F.expr("concat_ws(' ', slice(_words, _i, 4))").alias("g"))
        .join(F.broadcast(bench_df), "g")
        .select("doc_id")
        .distinct()
    )
    clean = eligible.join(contaminated, "doc_id", "left_anti")
    from pyspark.sql import Window

    first = Window.partitionBy(F.md5(F.lower("text"))).orderBy("arrival")
    expect_ids = sorted(
        r["doc_id"]
        for r in clean.withColumn("_rn", F.row_number().over(first))
        .where(F.col("_rn") == 1)
        .select("doc_id")
        .collect()
    )
    assert got_ids == expect_ids
    # the stage did real work: strictly fewer survivors than without it
    no_gop = run_available_now(
        curate_doc_stream(
            read_doc_stream(spark, f"{tmpdir}/in"), bench
        ),
        f"{tmpdir}/ck2",
        "append",
        "s32b",
    ).count()
    assert len(got_ids) < no_gop


def test_s12_incremental_dedup_stream_matches_batch_probe(spark, tmpdir):
    """Streaming ingest dedup (foreachBatch probe against the standing
    MinHash signature index) must flag exactly the docs the batch probe
    flags, independent of how arrivals split into micro-batches."""
    import json
    import os

    from real_time_event_streaming_analytics_platform_spark._shingle import signature_df
    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        probe_signature_index,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.curation import (
        incremental_dedup_stream,
        read_doc_stream,
    )

    cached_before = len(list(spark.sparkContext._jsc.sc().getRDDStorageInfo()))
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    index_sig = signature_df(docs).persist()

    # arriving shard: near-copies of the first 10 corpus docs (one word
    # appended) under fresh ids — every planted copy must be flagged
    # against the standing index — plus 5 synthetic docs that match
    # nothing, exercising the no-flag path in the same stream
    base_rows = sorted(
        docs.select("doc_id", "source", "text").collect(), key=lambda r: r["doc_id"]
    )
    arriving = [
        {"doc_id": r["doc_id"] + 500000, "source": r["source"],
         "text": r["text"] + " zzstreammarker"}
        for r in base_rows[:10]
    ]
    clean_ids = []
    for j in range(5):
        clean_ids.append(900000 + j)
        arriving.append(
            {"doc_id": 900000 + j, "source": "srcz",
             "text": " ".join(f"zzclean{j}w{k}" for k in range(30))}
        )
    base = 1_700_000_000
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    # two files -> two micro-batches with maxFilesPerTrigger=1
    for part, chunk in enumerate((arriving[:5], arriving[5:])):
        with open(f"{tmpdir}/in/shard{part}.jsonl", "w") as fh:
            for i, ln in enumerate(chunk):
                fh.write(json.dumps({**ln, "ts": _iso(base + part * 60 + i)}) + "\n")

    stream = read_doc_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1)
    writer, release = incremental_dedup_stream(stream, index_sig, f"{tmpdir}/flags")
    q = (
        writer.option("checkpointLocation", f"{tmpdir}/ck_inc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    release()  # drop the stream's cached index frames
    # output is partitioned by epoch (batch=N subdirs; replays rewrite
    # their own partition) — read the root, project the data columns
    got = {
        (r["doc_id"], r["n_dups"], r["first_match"])
        for r in spark.read.parquet(f"{tmpdir}/flags")
        .select("doc_id", "n_dups", "first_match")
        .collect()
    }

    # batch twin over the SAME arriving frame, in one shot
    arriving_df = spark.createDataFrame(
        [(ln["doc_id"], ln["text"]) for ln in arriving], "doc_id long, text string"
    )
    want = {
        (r["doc_id"], r["n_dups"], r["first_match"])
        for r in probe_signature_index(signature_df(arriving_df), index_sig).collect()
    }
    index_sig.unpersist()
    assert got == want
    # every planted near-copy is caught; no synthetic clean doc is flagged
    flagged = {d for d, _, _ in got}
    assert {r["doc_id"] + 500000 for r in base_rows[:10]} <= flagged
    assert not (set(clean_ids) & flagged)
    # leak check: release() + unpersist leave no NEW cached RDDs behind
    cached_after = len(list(spark.sparkContext._jsc.sc().getRDDStorageInfo()))
    assert cached_after <= cached_before


def test_s19_stream_stream_left_outer_join_emits_unmatched(spark, tmpdir):
    """Left-outer interval join: matched pairs are EXACTLY the batch
    inner join; unmatched left rows (null right columns) appear only
    when the batch anti-join agrees, and state eviction actually emits
    some — the 'events that triggered no alert' streaming shape. Rows
    whose join window is still open at end-of-stream stay in state and
    must NOT be emitted as unmatched."""
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        interval_join,
    )

    events = generate_events(400, seed=67, interval_ms=1000)
    write_jsonl(events, f"{tmpdir}/in", n_files=2)
    left = parse_events(read_event_stream(spark, f"{tmpdir}/in"))
    right = parse_events(read_event_stream(spark, f"{tmpdir}/in")).where(
        F.col("status") == "error"
    )
    joined = interval_join(left, right, key="user_id", within="1 minute", how="left_outer")
    got = run_available_now(
        joined, f"{tmpdir}/ck", output_mode="append", name="s19"
    ).collect()

    batch = _read_batch(spark, f"{tmpdir}/in")
    l = batch.select(
        F.col("user_id").alias("l_key"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    r = batch.where(F.col("status") == "error").select(
        F.col("user_id").alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 MINUTE"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    inner = {
        (x["l_event_id"], x["r_event_id"]) for x in l.join(r, cond).collect()
    }
    unmatched_all = {
        x["l_event_id"] for x in l.join(r, cond, "left_anti").collect()
    }

    got_matched = {
        (x["l_event_id"], x["r_event_id"]) for x in got if x["r_event_id"] is not None
    }
    got_nulls = {x["l_event_id"] for x in got if x["r_event_id"] is None}
    assert got_matched == inner
    assert got_nulls <= unmatched_all  # no false unmatched, ever
    assert got_nulls, "watermark never evicted any unmatched left row"
    # and no left row appears both matched and null-padded
    assert not got_nulls & {a for a, _ in got_matched}


def test_s5b_cooldown_suppressed_count_is_batch_size_independent(spark, tmpdir):
    """The suppressed_since_last counter lives in GroupState, not a
    per-batch local: the same alerts replayed one-file-per-trigger must
    produce EXACTLY the rows of the single-batch run — a counter that
    resets at micro-batch boundaries drops suppressed alerts that
    straddle them."""
    events = generate_events(120, seed=93, interval_ms=30000)  # 30s apart

    def run(n_files, tag, max_files):
        d = f"{tmpdir}/{tag}"
        write_jsonl(events, f"{d}/in", n_files=n_files)
        stream = parse_events(
            read_event_stream(spark, f"{d}/in", max_files_per_trigger=max_files)
        )
        alerts = stream.select(
            "source", F.col("status").alias("severity"), "event_id", "ts"
        )
        out = run_available_now(
            cooldown_stream(alerts), f"{d}/ck", output_mode="append", name=f"s5b_{tag}"
        ).collect()
        return sorted(
            (r["source"], r["severity"], r["event_id"], r["suppressed_since_last"])
            for r in out
        )

    one = run(1, "one", None)
    split = run(8, "split", 1)
    assert one == split
    # and the counter is not identically zero (suppression does happen)
    assert any(s > 0 for *_, s in one)


def test_s34_streaming_temperature_stage_parity(spark, tmpdir):
    """S34: the streaming curation pipeline with FROZEN temperature
    rates must keep exactly the docs the batch stage logic (quality →
    mix → temperature → decontaminate → first-arrival dedup) keeps —
    the rate table is a stream-static broadcast join + the same
    integer-exact keep expression, so parity is structural. A planted
    doc whose lang is ABSENT from the frozen table must pass the
    stage untouched (NULL rate → keep, the frozen-model coverage rule
    ADVICE r10 pinned for langid_stream)."""
    import json
    import os

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _BENCH_PRED,
        _MIX_THRESH_SPARK,
        _QUAL_MIN_TOKENS,
        temp_keep_expr,
        temperature_rates,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.curation import (
        DOC_STREAM_SCHEMA,
        bench_gram_set,
        curate_doc_stream,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        WATERMARK,
        run_available_now,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    rates = temperature_rates(docs)
    bench = bench_gram_set(docs)
    rows = sorted(
        docs.select("doc_id", "source", "lang", "text").collect(),
        key=lambda r: r["doc_id"],
    )
    lines = [
        {
            "doc_id": r["doc_id"],
            "ts": _iso(1_700_000_000 + i),
            "source": r["source"],
            "lang": r["lang"],
            "text": r["text"],
        }
        for i, r in enumerate(rows)
    ]
    # planted unknown-language doc: passes quality (24 distinct words,
    # zero repetition), odd source keeps everything under mix — the
    # NULL-rate branch must keep it
    planted_text = " ".join(f"plantedword{i}" for i in range(24))
    lines.append(
        {
            "doc_id": 999_999,
            "ts": _iso(1_700_000_000 + len(lines)),
            "source": "src1",
            "lang": "xx",
            "text": planted_text,
        }
    )
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    with open(f"{tmpdir}/in/docs.jsonl", "w") as fh:
        for ln in lines:
            fh.write(json.dumps(ln) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema(DOC_STREAM_SCHEMA + ", lang string")
        .option("maxFilesPerTrigger", 1000)
        .load(f"{tmpdir}/in")
        .withColumn("ts", F.to_timestamp("ts"))
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .withWatermark("ts", WATERMARK)
    )
    got = run_available_now(
        curate_doc_stream(stream, bench, temp_rates=rates),
        f"{tmpdir}/ck",
        "append",
        "s34",
    ).collect()
    got_ids = sorted(r["doc_id"] for r in got)
    assert 999_999 in got_ids  # NULL-rate coverage rule

    # batch twin with the same stage order and first-arrival keeper
    fixture = spark.createDataFrame(
        [
            (ln["doc_id"], ln["source"], ln["lang"], ln["text"], i)
            for i, ln in enumerate(lines)
        ],
        "doc_id long, source string, lang string, text string, arrival long",
    )
    toks = "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
    eligible = (
        fixture.where(~F.expr(_BENCH_PRED))
        .withColumn("_toks", F.expr(toks))
        .where(
            (F.expr("size(_toks)") >= _QUAL_MIN_TOKENS)
            & (
                (F.expr("size(_toks)") - F.expr("size(array_distinct(_toks))")) * 2
                <= F.expr("size(_toks)")
            )
        )
        .where(
            F.expr(
                f"substring(md5(cast(doc_id as string)), 1, 2) <= ({_MIX_THRESH_SPARK})"
            )
        )
        .join(F.broadcast(rates.select("lang", "rate_256")), "lang", "left")
        .where(temp_keep_expr(F.col("rate_256")))
    )
    bench_df = spark.createDataFrame([(g,) for g in bench], "g string")
    from real_time_event_streaming_analytics_platform_spark._shingle import WORDS_EXPR
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        DECON_WIDTH,
    )

    pos = F.expr(
        f"CASE WHEN size(_words) < {DECON_WIDTH} THEN array() "
        f"ELSE sequence(1, size(_words) - {DECON_WIDTH - 1}) END"
    )
    contaminated = (
        eligible.withColumn("_words", F.expr(WORDS_EXPR))
        .select("doc_id", F.explode(pos).alias("_i"), "_words")
        .select(
            "doc_id",
            F.expr(f"concat_ws(' ', slice(_words, _i, {DECON_WIDTH}))").alias("g"),
        )
        .join(F.broadcast(bench_df), "g")
        .select("doc_id")
        .distinct()
    )
    clean = eligible.join(contaminated, "doc_id", "left_anti")
    from pyspark.sql import Window

    first = Window.partitionBy(F.md5(F.lower("text"))).orderBy("arrival")
    expect_ids = sorted(
        r["doc_id"]
        for r in clean.withColumn("_rn", F.row_number().over(first))
        .where(F.col("_rn") == 1)
        .select("doc_id")
        .collect()
    )
    assert got_ids == expect_ids
    # the stage did real work: strictly fewer survivors than without it
    no_temp = run_available_now(
        curate_doc_stream(stream, bench),
        f"{tmpdir}/ck2",
        "append",
        "s34_base",
    ).count()
    assert len(got_ids) < no_temp
