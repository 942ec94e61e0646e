"""``dashboard``: a closed-loop read mix over the serving layer, with one
writer beside the readers.

Three reader threads each send their next request when the previous one
returns, cycling five request types (whole cycles: a reader finishes its
cycle after ``seconds``) over the cached ``events`` table and
its minute rollup. Every reader cycles the same order from a different
starting type, on every seed, so which reads overlap does not change
with the seed (the seed changes the data):

- ``kpi``: /kpi through the engine (``serving.api.kpi`` with ``hot_anchor``)
- ``kpi_hotstore``: /kpi through ``HotStore.kpi`` (no Spark job)
- ``series_rollup``: /series, trailing hour, served from the rollup
- ``series_raw``: /series, hourly buckets over the trailing day, raw events
- ``alerts``: /alerts, critical only, limit 1000

One writer thread pushes a new minute of aggregates every second through
``HotStore.upsert_writer`` and ``serving.api.hot_store_writer``. No
streaming query runs, so serving and the Spark scheduler do the work.

Set-up ends with a warm pass: every engine request type on every reader
thread at once, with the writer's path run once into throwaway stores.
Every reply is checked: engine reads against the first reply of the same
type in the warm pass (the writer never touches those tables), and
HotStore reads against the store's contents for some writer position
between the read's start and end.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import threading
import time
from datetime import timedelta

import datagen
import harness

READERS = 3
REQUESTS = ("kpi", "kpi_hotstore", "series_rollup", "series_raw", "alerts")
WRITE_PERIOD_S = 1.0
SF = 0.1


def _rows(result) -> list:
    """Reply rows with doubles rounded to 9 significant digits, so a
    reply compares equal whatever order Spark summed its partials in."""
    return [tuple(float(f"{v:.9g}") if isinstance(v, float) else v for v in r) for r in result]


def run(bench, seed: int, seconds: float, scale=None) -> dict:
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.serving.api import (
        alerts,
        hot_anchor,
        hot_store_writer,
        kpi,
        series,
    )
    from real_time_event_streaming_analytics_platform_spark.serving.hotstore import HotStore

    tr = bench.tracer
    tables = os.path.join(bench.work, "tables")
    datagen.write_tables(tables, scale or SF, seed, names=("events",))
    st: dict = {}
    schema = "source string, window_start timestamp, count_events long, avg_metric double"

    def prepare(spark):
        events = (
            tr.call("catalog:load", load, spark, tables, "events")
            .select("event_id", "ts", F.col("event_type").alias("source"), F.col("value").alias("metric"))
            .cache()
        )
        events.count()
        # the minute rollup the aggregation job maintains (metrics_1min shape)
        hot = (
            events.groupBy("source", F.date_trunc("minute", "ts").alias("window_start"))
            .agg(F.count("*").alias("count_events"), F.avg("metric").alias("avg_metric"))
            .withColumn("window", F.lit("1m"))
            .coalesce(1)
            .cache()
        )
        hot.count()
        anchor = tr.call("serving.api:hot_anchor", hot_anchor, hot)
        scored = events.select(
            "event_id", "ts", "source",
            F.when(F.col("metric") > 400, "critical").otherwise("info").alias("severity"),
        )
        store = HotStore()
        live = hot.where(F.col("window_start") >= F.lit(anchor) - F.expr("INTERVAL 3600 SECONDS"))
        tr.call("serving.hotstore:upsert", store.upsert_writer(window="1m"), live, 0)
        st.update(events=events, hot=hot, anchor=anchor, scored=scored, store=store)
        # the writer's path once, into throwaway stores
        df = spark.createDataFrame([("warm", anchor, 1, 0.0)], schema).withColumn("window", F.lit("1m"))
        HotStore().upsert_writer(window="1m")(df, 0)
        hot_store_writer(os.path.join(bench.work, "hot_store_warm"))(df, 0)
        # warm pass: each engine request on every reader thread at once (the
        # first concurrent executions of a plan run several times slower
        # than the rest, and would otherwise land in the timed loop). The
        # first reply of each type is the snapshot the others must equal.
        engine = [name for name in REQUESTS if name != "kpi_hotstore"]
        st["want"], st["warm_ok"] = {}, []
        lock = threading.Lock()

        def warm(idx):
            for name in engine[idx:] + engine[:idx]:
                rows = _rows(request(name)[1])
                with lock:
                    st["warm_ok"].append(st["want"].setdefault(name, rows) == rows)

        threads = [threading.Thread(target=warm, args=(i,), name=f"warm-{i}") for i in range(READERS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        st["warm_reads"] = READERS * len(engine)

    def request(name):
        """(build seconds, reply rows) of one request."""
        t0 = time.perf_counter()
        if name == "kpi_hotstore":
            with tr.span("serving.hotstore:kpi"):
                rows = st["store"].kpi(window="1m", limit=100)
            return 0.0, rows
        anchor = st["anchor"]
        with tr.span(f"serving.api:{name}"):
            if name == "kpi":
                df = kpi(st["hot"], window="1m", limit=100, anchor=anchor)
            elif name == "series_rollup":
                df = series(st["events"], start=anchor - timedelta(hours=1), end=anchor, agg="avg", rollup=st["hot"])
            elif name == "series_raw":
                df = series(st["events"], start=anchor - timedelta(days=1), end=anchor, agg="avg", bucket="hour")
            else:
                df = alerts(st["scored"], severity="critical", limit=1000)
        build = time.perf_counter() - t0
        with tr.span("spark:collect"):
            rows = df.collect()
        return build, rows

    setup_s, setup_detail = harness.setup(bench, prepare)
    spark = bench.spark
    sc = spark.sparkContext
    floor_before = harness.job_floor_ms(spark)

    # ---- HotStore oracle: initial keys + the writer's pushed minutes ---------
    store = st["store"]
    base_keys = {
        (d["source"], d["window_start"]): (d["count_events"], d["avg_metric"])
        for d in store.kpi(window="1m", limit=10**9)
    }
    sources = sorted({k[0] for k in base_keys})
    pushes: list[list[tuple]] = []
    rng = random.Random(seed)
    for i in range(int(seconds / WRITE_PERIOD_S) + 2):
        ws = st["anchor"] + timedelta(minutes=i + 1)
        pushes.append([(s, ws, rng.randrange(1, 500), rng.uniform(0, 100)) for s in sources])
    written = {"n": 0}
    expect_cache: dict[int, list] = {}

    def hot_expect(n: int) -> list:
        if n not in expect_cache:
            keys = dict(base_keys)
            for batch in pushes[:n]:
                for s, ws, c, a in batch:
                    keys[(s, str(ws))] = (c, a)
            items = sorted(keys.items(), key=lambda kv: kv[0][0])
            items.sort(key=lambda kv: kv[0][1], reverse=True)
            expect_cache[n] = [(k[0], k[1], v[0], v[1]) for k, v in items[:100]]
        return expect_cache[n]

    # ---- closed loop ----------------------------------------------------------
    stop = threading.Event()
    log: list[tuple] = []  # (request, latency_s, build_s, rows, ok, (job group, wall start, wall end))
    upsert_ms: list[float] = []
    lock = threading.Lock()
    hs_write = hot_store_writer(os.path.join(bench.work, "hot_store"))

    def writer():
        upsert = store.upsert_writer(window="1m")
        i = 0
        next_t = time.perf_counter()
        while not stop.is_set() and i < len(pushes):
            df = spark.createDataFrame(pushes[i], schema).withColumn("window", F.lit("1m"))
            t0 = time.perf_counter()
            tr.call("serving.hotstore:upsert", upsert, df, i + 1)
            upsert_ms.append((time.perf_counter() - t0) * 1e3)
            i += 1
            written["n"] = i
            tr.call("serving.api:hot_store_writer", hs_write, df, i)
            next_t += WRITE_PERIOD_S
            stop.wait(max(0.0, next_t - time.perf_counter()))

    plant = {"alter": os.environ.get("PERFBENCH_PLANT") == "alter_read"}

    def reader(idx: int):
        order = list(REQUESTS[2 * idx :] + REQUESTS[: 2 * idx])
        n = 0
        # whole cycles only, so every run reads the same request mix
        while not (stop.is_set() and n % len(order) == 0):
            name = order[n % len(order)]
            group = f"read-{idx}-{n}"
            sc.setJobGroup(group, name)
            before = max(0, written["n"] - 1)  # an upsert may be mid-way
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                with tr.span("read", request=group):
                    build, rows = request(name)
                lat = time.perf_counter() - t0
                if name == "kpi_hotstore":
                    got = [(d["source"], d["window_start"], d["count_events"], d["avg_metric"]) for d in rows]
                    ok = any(got == hot_expect(k) for k in range(before, written["n"] + 1))
                else:
                    got = _rows(rows)
                    if plant["alter"] and got:  # self-test: one wrong reply
                        plant["alter"] = False
                        got[0] = got[0][:-1] + ("altered",)
                    ok = got == st["want"][name]
                nrows = len(rows)
            except Exception as e:  # a read that raises is a failed op
                lat, build, nrows, ok = time.perf_counter() - t0, 0.0, 0, False
                print(f"perfbench: {name} failed: {e!r}", file=sys.stderr, flush=True)
            with lock:
                log.append((name, lat, build, nrows, ok, (group, w0, time.time())))
            n += 1

    steal0 = harness.steal_ticks()
    wall0 = time.time()
    with tr.span("phase:dashboard"):
        threads = [threading.Thread(target=writer, name="writer")] + [
            threading.Thread(target=reader, args=(i,), name=f"reader-{i}") for i in range(READERS)
        ]
        t_start = time.perf_counter()
        cpu0 = harness.cpu_seconds()
        for t in threads:
            t.start()
        time.sleep(seconds)
        stop.set()
        for t in threads[1:]:
            t.join()
        elapsed = time.perf_counter() - t_start
        threads[0].join()
        cpu = harness.cpu_seconds() - cpu0
    wall1 = time.time()
    steal = harness.steal_share(steal0)
    floor_after = harness.job_floor_ms(spark)

    # latency over the reads Spark serves: a HotStore read is an in-memory
    # lookup three orders of magnitude faster (its own metric below), and
    # in the pool it would only shift the median between request types
    lat = harness.summary([r[1] * 1e3 for r in log if r[0] != "kpi_hotstore"])
    # a warm read that raised or differed from the snapshot fails too
    attempted = len(log) + st["warm_reads"]
    failed = sum(1 for r in log if not r[4]) + st["warm_reads"] - sum(st["warm_ok"])

    def per(name):
        return [r for r in log if r[0] == name]

    layers = {"session.job_floor_ms": statistics.median([floor_before, floor_after])}
    for name in ("kpi", "series_rollup", "series_raw", "alerts"):
        rs = per(name)
        layers[f"serving.api.{name}.build_ms_p50"] = statistics.median([r[2] * 1e3 for r in rs]) if rs else 0
        layers[f"serving.api.{name}.exec_ms_p50"] = statistics.median([(r[1] - r[2]) * 1e3 for r in rs]) if rs else 0
        layers[f"serving.api.{name}.rows"] = statistics.median([r[3] for r in rs]) if rs else 0
    hs = per("kpi_hotstore")
    layers["serving.hotstore.kpi_us_p50"] = statistics.median([r[1] * 1e6 for r in hs]) if hs else 0
    layers["serving.hotstore.upsert_ms_p50"] = statistics.median(upsert_ms) if upsert_ms else 0

    def p95(names):
        return harness.summary([r[1] * 1e3 for r in log if r[0] in names])

    return {
        "setup_s": setup_s,
        "setup": setup_detail,
        "attempted": attempted,
        "failed": failed,
        "p50_ms": lat["p50"],
        "tail_ms": lat["tail"],
        "tail_pct": lat["tail_pct"],
        "samples": lat["n"],
        "throughput_per_s": len(log) / elapsed,
        "cpu_ms_per_op": cpu * 1e3 / max(1, len(log)),
        "workload_metrics": {
            "reads_per_s": len(log) / elapsed,
            "read_p50_ms": statistics.median([r[1] * 1e3 for r in log]) if log else 0.0,
            "engine_read_p50_ms": lat["p50"],
            "kpi_p95_ms": p95(("kpi",)),
            "kpi_hotstore_p95_ms": p95(("kpi_hotstore",)),
            "series_p95_ms": p95(("series_rollup", "series_raw")),
            "alerts_p95_ms": p95(("alerts",)),
            "writes": written["n"],
            "error_rate": failed / attempted,
            "failed_by_request": {n: sum(1 for r in log if r[0] == n and not r[4]) for n in REQUESTS},
        },
        "phase_window": (wall0, wall1),
        "host_steal_share": steal,
        "reads": {n: [r[5] for r in per(n)] for n in ("kpi", "series_rollup", "series_raw", "alerts")},
        "read_ms": {n: [round(r[1] * 1e3, 1) for r in per(n)] for n in REQUESTS},
        "layers": layers,
    }
