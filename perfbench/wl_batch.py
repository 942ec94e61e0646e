"""``batch``: one client running jobs one after another: registered
queries and the stream job.

Each query is built through ``plans.registry.QUERIES[name]`` and
materialized with ``write.format("noop")`` (every column, every row),
never with ``count()``, which Catalyst may prune. The set mixes the
reference's own operators (``operators/reference.py``) with heavy
operators from ``operators/relational.py`` and ``functions/``. The
stream job (``streamjob.py``) drains a pre-written backlog through both
reference streaming jobs and the alert service. No other workload runs
any of this code.

Set-up includes one warm pass that collects every query's result and,
on a second thread at the same time, drains the stream job's one-file
warm-up backlog and then builds the stream job's expected outputs. The
collected query results are the ones checked: against DuckDB where the
registry has an oracle (compared by ``tests/oracle.py``), otherwise
against a row count and order-insensitive value hash pinned in
``expected.json``. The timed phase runs the stream job once, then the
query set ``passes`` times (one pass per ``PASS_SECONDS`` of
``seconds``), always in the same order, so every run times the same
work. The timed stream run's outputs are checked event by event against
batch oracles.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

import datagen
import harness
import oracle
import streamjob
from tests.oracle import compare, duck_connection

SF = 0.01
DATA_VARIANTS = 4  # table data is generated from seed % DATA_VARIANTS
PASS_SECONDS = 10  # one timed query pass per 10 s of --seconds, at least one (a pass takes ~8 s)
QUERIES = {
    "operators.reference": [
        "r3_series_minute",
        "r6b_percentile_approx",
        "r7_rolling_zscore",
        "r11_kpi_latest_per_key",
        "r15_cooldown_dedup",
    ],
    "operators.relational": ["q03_multiway_join", "q07_theta_self_join"],
    "functions": ["x16_bm25_topk", "x24_cross_source_contamination"],
}
STREAM = "stream_job"
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def family_of(name: str) -> str:
    return next(f for f, qs in QUERIES.items() if name in qs)


def pin_key(name: str, sf: float, variant: int) -> str:
    return f"{name}@sf{sf:g}@v{variant}"


def run(bench, seed: int, seconds: float, scale=None) -> dict:
    from real_time_event_streaming_analytics_platform_spark.plans.registry import ORACLE
    from real_time_event_streaming_analytics_platform_spark.plans.registry import (
        QUERIES as REGISTRY,
    )

    sf = scale or SF
    variant = seed % DATA_VARIANTS
    tables = os.path.join(bench.work, "tables")
    datagen.write_tables(tables, sf, variant)
    names = [n for qs in QUERIES.values() for n in qs]
    job = streamjob.StreamJob(bench, seed)
    jobs = names + [STREAM]
    tr = bench.tracer
    results: dict = {}
    warm_s: dict = {}
    stream_runs: list[dict] = []

    def build(name):
        with tr.span("plans.registry:build"):
            return REGISTRY[name](bench.spark, tables)

    def warm_stream(spark):
        t0 = time.perf_counter()
        try:
            job.run(spark, warm=True)
        except Exception as e:  # the timed run will fail too, and be counted
            print(f"perfbench: {STREAM} warm-up failed: {e!r}", file=sys.stderr, flush=True)
        warm_s[STREAM] = time.perf_counter() - t0
        t0 = time.perf_counter()
        try:
            job.expect(spark)
        except Exception as e:  # the check builds them again, and raises there
            print(f"perfbench: {STREAM} expected outputs failed: {e!r}", file=sys.stderr, flush=True)
        warm_s["stream_expected"] = time.perf_counter() - t0

    def prepare(spark):
        # warm pass: the stream job's one-file warm-up, then its expected
        # outputs, on their own thread beside the queries (the stream's
        # micro-batches spend much of their time in commits and sinks).
        # The queries' collected results are checked below.
        stream = threading.Thread(target=warm_stream, args=(spark,), name="warm-stream")
        stream.start()
        for name in names:
            t0 = time.perf_counter()
            try:
                results[name] = build(name).toPandas()
            except Exception as e:  # a query that raises fails its check
                results[name] = e
            warm_s[name] = time.perf_counter() - t0
        stream.join()

    setup_s, setup_detail = harness.setup(bench, prepare)
    if os.environ.get("PERFBENCH_PLANT") == "drop_row":  # self-test: a lost row
        first = names[0]
        results[first] = results[first].iloc[1:]
    spark = bench.spark
    sc = spark.sparkContext
    floor_before = harness.job_floor_ms(spark)

    # ---- timed phase: the stream job, then the query passes ---------------------
    passes = max(1, round(seconds / PASS_SECONDS))
    order = [(STREAM, 0)] + [(name, p) for p in range(passes) for name in names]
    runs: list[dict] = []
    failed_runs = 0
    steal0 = harness.steal_ticks()
    wall0 = time.time()
    t_start = time.perf_counter()
    cpu0 = harness.cpu_seconds()
    with tr.span("phase:batch"):
        for name, p in order:
            group = f"q:{name}:{p}"
            sc.setJobGroup(group, name)
            w_start = time.time()
            t0 = time.perf_counter()
            try:
                with tr.span("query", request=group):
                    if name == STREAM:
                        stream_runs.append(job.run(spark))
                    else:
                        df = build(name)
                        with tr.span(f"{family_of(name)}:execute"):
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed_runs += 1
                print(f"perfbench: {name} failed: {e!r}", file=sys.stderr, flush=True)
            wall_s = time.perf_counter() - t0
            runs.append({"name": name, "group": group, "wall_s": wall_s, "window": (w_start, time.time())})
    elapsed = time.perf_counter() - t_start
    cpu = harness.cpu_seconds() - cpu0
    wall1 = time.time()
    steal = harness.steal_share(steal0)
    floor_after = harness.job_floor_ms(spark)

    # ---- output checks: warm-pass query results, the timed stream run ---------
    t_check = time.perf_counter()
    pins = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            pins = json.load(fh)
    checks = {}
    con = duck_connection(tables)
    for name in names:
        got = results.get(name)
        if isinstance(got, Exception):
            checks[name] = f"raised: {got!r}"[:300]
        elif name in ORACLE:
            ok, msg = compare(oracle.Collected(got), con, ORACLE[name])
            checks[name] = "ok" if ok else msg[:300]
        else:
            pin = pins.get(pin_key(name, sf, variant))
            have = oracle.fingerprint(got)
            if pin is None:
                checks[name] = f"no pinned result for {pin_key(name, sf, variant)}"
            else:
                checks[name] = "ok" if have == pin else f"fingerprint {have} != pinned {pin}"
    con.close()
    failed_checks = sum(1 for v in checks.values() if v != "ok")
    check_s = {"queries": time.perf_counter() - t_check}
    # the stream job: every event, checked through every output
    t_check = time.perf_counter()
    stream_checks, failed_events = [], 0
    for r in stream_runs:
        bad, info = job.check(spark, r)
        failed_events += len(bad)
        stream_checks.append(info)
    checked_events = len(stream_runs) * len(job.events)
    lost = 1 - len(stream_runs)  # a run that raised left no outputs
    failed_events += lost * len(job.events)
    checked_events += lost * len(job.events)
    checks[STREAM] = stream_checks
    check_s["stream"] = time.perf_counter() - t_check

    per_job = {n: sorted(r["wall_s"] for r in runs if r["name"] == n) for n in jobs}
    # one sample per job (its median over the passes), so the median and
    # tail always range over the same jobs
    lat = harness.summary([statistics.median(v) * 1e3 for v in per_job.values()])
    families = {f: [r for r in runs if r["name"] in qs] for f, qs in QUERIES.items()}
    attempted = len(runs) + len(names) + checked_events
    failed = failed_runs + failed_checks + failed_events
    timed_stream = stream_runs
    out = {
        "setup_s": setup_s,
        "setup": setup_detail,
        "attempted": attempted,
        "failed": failed,
        "p50_ms": lat["p50"],
        "tail_ms": lat["tail"],
        "tail_pct": lat["tail_pct"],
        "samples": lat["n"],
        "throughput_per_s": len(runs) / elapsed,
        "cpu_ms_per_op": cpu * 1e3 / len(runs),
        "workload_metrics": {
            "batch_wall_s": sum(statistics.median(v) for v in per_job.values()),
            "passes": passes,
            "sf": sf,
            "data_variant": variant,
            "stream_job_s": statistics.median(per_job[STREAM]),
            "capacity_eps": statistics.median([len(job.events) / r["ab_s"] for r in timed_stream])
            if timed_stream
            else 0.0,
            "error_rate": failed / attempted,
        },
        "per_job_s": per_job,
        "warm_pass_s": warm_s,
        "check_s": check_s,
        "checks": checks,
        "families": families,
        "stream_windows": [r["window"] for r in timed_stream],
        "phase_window": (wall0, wall1),
        "host_steal_share": steal,
        "layers": {"session.job_floor_ms": statistics.median([floor_before, floor_after])},
    }
    if timed_stream:
        out["layers"].update(streamjob.layers(timed_stream, stream_checks))
    return out
