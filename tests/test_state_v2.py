"""State API v2 (transformWithStateInPandas) operators, run end-to-end
through the v2 runtime (RocksDB state store + the protobuf state-server
protocol): initialState warm-start against a v1 replay (S25), event-time
timers (S24), MapState (S26), ListState (S28) and running quantiles
(S33).

Skips with the exact blocker string when no usable protobuf runtime
exists (state_v2.PROTOBUF_BLOCKER); _pbshim/sitecustomize.py documents
how a vendored runtime is used when no protobuf wheel is installed."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_analytics_platform_spark.sources.fixtures import (
    generate_events,
    write_jsonl,
)
from real_time_event_streaming_analytics_platform_spark.streaming import state_v2
from real_time_event_streaming_analytics_platform_spark.streaming.anomaly import (
    anomaly_stream,
)
from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
    parse_events,
    read_event_stream,
    run_available_now,
)

pytestmark = pytest.mark.skipif(
    state_v2.PROTOBUF_BLOCKER is not None,
    reason=f"state API v2 blocked: {state_v2.PROTOBUF_BLOCKER}",
)


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="sgr-statev2-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _canon(rows):
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


def test_s25_warmstart_initial_state_matches_full_replay(spark, tmpdir):
    """initialState bootstrap, pinned across the two state APIs: a v2
    stream warm-started from a batch history frame must score the
    streamed rows EXACTLY as the v1 anomaly_stream replaying the whole
    history — the rolling deques continue where the history left off
    (redeploy-without-replay, the savepoint-restore story). Same 1500
    events: v1 replay over 3 files vs history=first 500 (batch) +
    v2 stream=last 1000 (2 files, 1 per trigger, so the ValueState deque
    crosses micro-batches). The "kiosk" source appears only in the live
    files: it has no initialState row and must start from an empty
    deque."""
    all_events = generate_events(1500, seed=21, interval_ms=300, outlier_rate=0.08)
    for e in all_events[500::20]:
        e["source"] = "kiosk"
    write_jsonl(all_events, f"{tmpdir}/all", n_files=3)
    write_jsonl(all_events[:500], f"{tmpdir}/hist", prefix="hist")
    write_jsonl(all_events[500:], f"{tmpdir}/live", n_files=2, prefix="live")

    replay = run_available_now(
        anomaly_stream(
            parse_events(
                read_event_stream(spark, f"{tmpdir}/all", max_files_per_trigger=1),
                require_positive_metric=True,
            )
        ),
        f"{tmpdir}/ck_replay",
        output_mode="append",
        name="s25_replay",
    ).collect()

    raw_hist = spark.read.text(f"{tmpdir}/hist").withColumnRenamed("value", "raw")
    history = parse_events(raw_hist).where(F.col("metric") > 0)
    warm = run_available_now(
        state_v2.anomaly_stream_v2_warmstart(
            parse_events(
                read_event_stream(spark, f"{tmpdir}/live", max_files_per_trigger=1),
                require_positive_metric=True,
            ),
            history,
        ),
        f"{tmpdir}/ck_warm",
        output_mode="append",
        name="s25_warm",
    ).collect()

    assert len(warm) > 0
    assert "kiosk" in {r["source"] for r in warm}
    # every streamed event scored in the replay must also be scored
    # warm (the bootstrap deque carries the history's MIN_EVENTS count)
    live_ids = {e["event_id"] for e in all_events[500:]}
    replay_tail = [r for r in replay if r["event_id"] in live_ids]
    assert {r["event_id"] for r in warm} == {r["event_id"] for r in replay_tail}
    assert _canon(warm) == _canon(replay_tail)


def test_s26_mapstate_distinct_users_matches_batch(spark, tmpdir):
    """MapState: running exact distinct-user count per source emits one
    row per (source, batch); each source's final row must equal batch
    COUNT(DISTINCT user_id), and the per-source running counts must be
    non-decreasing (new users only ever add)."""
    events = generate_events(900, seed=51, interval_ms=400)
    write_jsonl(events, f"{tmpdir}/in", n_files=3)

    stream = parse_events(
        read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1)
    )
    got = run_available_now(
        state_v2.distinct_users_stream(stream),
        f"{tmpdir}/ck",
        output_mode="append",
        name="s26",
    ).collect()

    raw = spark.read.text(f"{tmpdir}/in").withColumnRenamed("value", "raw")
    expect = {
        r["source"]: r["d"]
        for r in parse_events(raw)
        .groupBy("source")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }

    by_source = {}
    for r in sorted(got, key=lambda r: r["asof"]):
        by_source.setdefault(r["source"], []).append(r["distinct_users"])
    assert set(by_source) == set(expect)
    for source, counts in by_source.items():
        assert counts == sorted(counts), (source, counts)  # non-decreasing
        assert counts[-1] == expect[source], (source, counts[-1], expect[source])


def test_s28_liststate_burst_escalation_matches_batch_oracle(spark, tmpdir):
    """ListState: trailing-window burst escalation emits exactly the
    alerts whose arrival leaves ≥ K alerts inside the window,
    identical to the batch RANGE-frame oracle over the same files
    (distinct event times per source, so frame peers = the row
    itself), across multi-file micro-batches."""
    events = generate_events(300, seed=61, interval_ms=20000)  # 20s apart
    write_jsonl(events, f"{tmpdir}/in", n_files=3)

    def alerts():
        stream = parse_events(
            read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1)
        )
        return stream.select("source", "event_id", "ts")

    got = run_available_now(
        state_v2.burst_escalation_stream(alerts()),
        f"{tmpdir}/ck",
        output_mode="append",
        name="s28",
    ).collect()

    from pyspark.sql import Window

    raw = spark.read.text(f"{tmpdir}/in").withColumnRenamed("value", "raw")
    batch = parse_events(raw).select("source", "event_id", "ts")
    w = (
        Window.partitionBy("source")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-state_v2.ESCALATION_WINDOW_SECONDS, 0)
    )
    expect = (
        batch.withColumn("n_in_window", F.count("*").over(w))
        .where(F.col("n_in_window") >= state_v2.ESCALATION_K)
        .collect()
    )

    def canon(rows):
        return sorted(
            (r["source"], r["event_id"], r["ts"], r["n_in_window"]) for r in rows
        )

    assert len(got) > 0, "fixture produced no bursts — raise density"
    assert canon(got) == canon(expect)


def test_s24_event_time_timer_detects_stale_source(spark, tmpdir):
    """Event-time timers: the capability v1 cannot express — a key must
    fire WITHOUT input when the watermark passes its deadline.

    Construction (all event time): sources A/B/C emit every 10 s;
    B stops at t=300 s; the others continue to t=800 s across two
    files. Batch 1 (ts ≤ 400) leaves B's deadline timer at 300+120=420;
    batch 2 advances the watermark to ~790 with no further B events, so
    exactly B fires. A and C slide their timers to 920, beyond the
    final watermark — no emission. The construction makes every gap
    decision land far from the watermark (±≥100 s), so the result is
    insensitive to the exact per-batch watermark bookkeeping."""
    import json
    import os
    from datetime import timedelta

    from real_time_event_streaming_analytics_platform_spark.sources.fixtures import BASE_TS

    def ev(source, sec, i):
        ts = BASE_TS + timedelta(seconds=sec)
        return {
            "event_id": f"st-{source}-{i:06d}",
            "source": source,
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
            "attributes": {"user_id": "user_1", "metric": 1.0, "status": "ok"},
        }

    file1, file2, i = [], [], 0
    for sec in range(0, 400, 10):
        for source in ("web", "mobile", "device"):
            if source == "mobile" and sec > 300:
                continue
            (file1 if sec < 400 else file2).append(ev(source, sec, i))
            i += 1
    for sec in range(400, 801, 10):
        for source in ("web", "device"):
            file2.append(ev(source, sec, i))
            i += 1
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    for n, chunk in (("a.jsonl", file1), ("b.jsonl", file2)):
        with open(f"{tmpdir}/in/{n}", "w") as f:
            f.write("\n".join(json.dumps(e) for e in chunk))
        os.utime(f"{tmpdir}/in/{n}", (1_600_000_000 + (n == "b.jsonl"),) * 2)

    stream = parse_events(
        read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1)
    )
    got = run_available_now(
        state_v2.stale_source_stream(stream),
        f"{tmpdir}/ck",
        output_mode="append",
        name="s24",
    ).collect()

    assert len(got) == 1, got
    row = got[0]
    # collected timestamps are naive (session timezone UTC)
    base_naive = BASE_TS.replace(tzinfo=None)
    assert row["source"] == "mobile"
    assert row["last_seen"] == base_naive + timedelta(seconds=300)
    assert row["announced_at"] == base_naive + timedelta(
        seconds=300 + state_v2.STALE_GAP_SECONDS
    )


def test_s33_running_quantiles_matches_exact_and_split_invariant(spark, tmpdir):
    """Keyed v2 KLL surface (VERDICT r10 #7): per-source running
    p50/p95/p99 from the DetKLL ValueState. Three pins: (a) each
    source's final n equals the batch row count; (b) each final
    estimate's EMPIRICAL RANK in the exact sorted metrics is within
    ±2.5% of its target — the x13 family's bar (DetKLL measures ~0.3%
    at these sizes; 2.5% leaves drift margin); (c) replaying the same
    files as ONE micro-batch instead of three yields a bit-identical
    final row per source — the determinism the JVM KLL cannot promise
    and the whole reason DetKLL exists."""
    import bisect

    events = generate_events(1200, seed=71, interval_ms=300)
    write_jsonl(events, f"{tmpdir}/in", n_files=3)

    def run(max_files: int, name: str, ck: str):
        stream = parse_events(
            read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=max_files)
        )
        return run_available_now(
            state_v2.running_quantiles_stream(stream),
            ck,
            output_mode="append",
            name=name,
        ).collect()

    got = run(1, "s33a", f"{tmpdir}/ck1")
    got_one = run(3, "s33b", f"{tmpdir}/ck2")

    raw = spark.read.text(f"{tmpdir}/in").withColumnRenamed("value", "raw")
    exact = {}
    for r in parse_events(raw).select("source", "metric").collect():
        exact.setdefault(r["source"], []).append(float(r["metric"]))
    for vals in exact.values():
        vals.sort()

    def finals(rows):
        out = {}
        for r in sorted(rows, key=lambda r: (r["asof"], r["n"])):
            out[r["source"]] = r
        return out

    fin = finals(got)
    assert set(fin) == set(exact)
    for source, row in fin.items():
        vals = exact[source]
        assert row["n"] == len(vals), (source, row["n"], len(vals))
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            rank = bisect.bisect_right(vals, row[col]) / len(vals)
            assert abs(rank - q) <= 0.025, (source, col, row[col], rank)

    # split invariance: one-batch replay ends in the identical row
    fin_one = finals(got_one)
    assert set(fin_one) == set(fin)
    for source in fin:
        a, b = fin[source], fin_one[source]
        assert (a["n"], a["p50"], a["p95"], a["p99"]) == (
            b["n"], b["p50"], b["p95"], b["p99"],
        ), source


def test_s33c_asof_monotone_under_late_arrivals(spark, tmpdir):
    """A late-arriving micro-batch (older event times than an earlier
    batch) folds FRESHER quantiles into the sketch but carries older
    timestamps — asof must be the RUNNING max event time (state-held,
    monotone per source), so the documented max-(asof, n) selection
    lands on the row with the most data instead of a superseded one."""
    import os
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)
    newer = generate_events(300, seed=81, base_ts=t0, interval_ms=100)
    late = generate_events(
        300, seed=82, base_ts=t0 - timedelta(minutes=10), interval_ms=100
    )
    write_jsonl(newer, f"{tmpdir}/in", n_files=1, prefix="a_newer")
    write_jsonl(late, f"{tmpdir}/in", n_files=1, prefix="b_late")
    # pin processing order: the newer-timestamped file arrives FIRST
    now = 1_700_000_000
    for name, mt in (("a_newer", now), ("b_late", now + 100)):
        for f in os.listdir(f"{tmpdir}/in"):
            if f.startswith(name):
                os.utime(f"{tmpdir}/in/{f}", (mt, mt))

    stream = parse_events(
        read_event_stream(spark, f"{tmpdir}/in", max_files_per_trigger=1)
    )
    rows = run_available_now(
        state_v2.running_quantiles_stream(stream),
        f"{tmpdir}/ck",
        output_mode="append",
        name="s33c",
    ).collect()

    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    multi = {s: rs for s, rs in by_src.items() if len(rs) >= 2}
    assert multi, "expected at least one source present in both batches"
    for s, rs in multi.items():
        asofs = [r["asof"] for r in rs]
        # monotone per source in emission order (n is monotone too)
        rs_by_n = sorted(rs, key=lambda r: r["n"])
        assert [r["asof"] for r in rs_by_n] == sorted(asofs)
        # max-(asof, n) selection lands on the row with the most data
        best = max(rs, key=lambda r: (r["asof"], r["n"]))
        assert best["n"] == max(r["n"] for r in rs), s
