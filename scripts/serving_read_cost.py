#!/usr/bin/env python
"""What one serving read costs, phase by phase, fresh and prepared.

Builds the dashboard's serving tables from the ``events`` table of
``--sf-dir`` in a ``SessionFactory`` session: the cached events, their
cached minute rollup (the hot table), its ``hot_anchor`` and a scored
frame with a severity column. Then, for four reads:

- ``kpi``: ``serving.api.kpi`` with the precomputed anchor
- ``series_rollup``: ``series``, trailing hour, from the rollup
- ``series_raw``: ``series``, hourly buckets over the trailing day, raw events
- ``alerts``: ``alerts``, critical only, limit 1000

it prints, single-threaded, the median ms of each phase of a read over
``--reps`` reads: build (the API call), optimize and plan (forcing the
frame's ``QueryExecution`` to its optimized logical and physical plan)
and collect. A *fresh* read builds through the unprepared function
(``fn.__wrapped__``), as every request did before reads were prepared;
a *prepared* read calls the API, which hands back the frame the first
identical request built. Finally ``--readers`` closed-loop threads
cycle the four reads for ``--seconds`` per mode (each sends its next
request when the previous one returns) and it prints reads/s, the
median read ms and the CPU of this script's process tree (the JVM and
its Python workers) per read.

Usage:
  python scripts/serving_read_cost.py --sf-dir DIR        # 15 reps, 3 readers x 10 s
  python scripts/serving_read_cost.py --sf-dir DIR --reps 30 --seconds 20 --cpus 4
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import threading
import time
from datetime import timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_commit_cost import tree_cpu_s  # noqa: E402

from real_time_event_streaming_analytics_platform_spark.session import SessionFactory  # noqa: E402

PHASES = ("build", "optimize", "plan", "collect")


def serving_reads(spark, sf_dir: str) -> dict:
    """name -> (API function, args, kwargs) over freshly cached tables."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.serving.api import (
        alerts,
        hot_anchor,
        kpi,
        series,
    )

    events = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", F.col("event_type").alias("source"), F.col("value").alias("metric"))
        .cache()
    )
    events.count()
    hot = (
        events.groupBy("source", F.date_trunc("minute", "ts").alias("window_start"))
        .agg(F.count("*").alias("count_events"), F.avg("metric").alias("avg_metric"))
        .withColumn("window", F.lit("1m"))
        .coalesce(1)
        .cache()
    )
    hot.count()
    anchor = hot_anchor(hot)
    scored = events.select(
        "event_id", "ts", "source",
        F.when(F.col("metric") > 400, "critical").otherwise("info").alias("severity"),
    )
    return {
        "kpi": (kpi, (hot,), {"window": "1m", "limit": 100, "anchor": anchor}),
        "series_rollup": (
            series, (events,),
            {"start": anchor - timedelta(hours=1), "end": anchor, "agg": "avg", "rollup": hot},
        ),
        "series_raw": (
            series, (events,),
            {"start": anchor - timedelta(days=1), "end": anchor, "agg": "avg", "bucket": "hour"},
        ),
        "alerts": (alerts, (scored,), {"severity": "critical", "limit": 1000}),
    }


def read(reads: dict, name: str, prepared: bool):
    fn, args, kwargs = reads[name]
    return (fn if prepared else fn.__wrapped__)(*args, **kwargs)


def phase_ms(reads: dict, name: str, prepared: bool) -> dict[str, float]:
    """ms of each phase of one read."""
    t = [time.perf_counter()]
    df = read(reads, name, prepared)
    t.append(time.perf_counter())
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    t.append(time.perf_counter())
    qe.executedPlan()
    t.append(time.perf_counter())
    df.collect()
    t.append(time.perf_counter())
    return {p: (b - a) * 1e3 for p, a, b in zip(PHASES, t, t[1:])}


def closed_loop(reads: dict, prepared: bool, readers: int, seconds: float) -> tuple[int, float, float, list]:
    """(reads, wall s, process-tree CPU s, read ms) of ``readers``
    closed-loop threads cycling the reads for ``seconds``."""
    names = list(reads)
    stop = threading.Event()
    lat: list[float] = []
    lock = threading.Lock()

    def reader(idx: int) -> None:
        n = idx
        while not stop.is_set():
            t0 = time.perf_counter()
            read(reads, names[n % len(names)], prepared).collect()
            with lock:
                lat.append((time.perf_counter() - t0) * 1e3)
            n += 1

    threads = [threading.Thread(target=reader, args=(i,)) for i in range(readers)]
    cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    for t in threads:
        t.start()
    time.sleep(seconds)
    stop.set()
    for t in threads:
        t.join()
    return len(lat), time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0, lat


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="testdata dir with events.parquet")
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--readers", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")

    spark = (
        SessionFactory.builder("serving-read-cost", cpus=args.cpus)
        .config("spark.driver.memory", "2g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        reads = serving_reads(spark, args.sf_dir)
        for name in reads:  # JIT, Python workers and the prepared frames
            for prepared in (False, True):
                read(reads, name, prepared).collect()
        print(f"single-threaded, median of {args.reps} reads (ms):")
        print(f"  {'read':<14} {'mode':<9}" + "".join(f"{p:>9}" for p in PHASES) + f"{'total':>9}")
        for name in reads:
            for prepared in (False, True):
                runs = [phase_ms(reads, name, prepared) for _ in range(args.reps)]
                med = {p: statistics.median(r[p] for r in runs) for p in PHASES}
                total = statistics.median(sum(r.values()) for r in runs)
                mode = "prepared" if prepared else "fresh"
                print(f"  {name:<14} {mode:<9}" + "".join(f"{med[p]:>9.1f}" for p in PHASES) + f"{total:>9.1f}")
        print(f"{args.readers} closed-loop readers x {args.seconds:g} s, all four reads in turn:")
        for prepared in (False, True):
            n, wall, cpu, lat = closed_loop(reads, prepared, args.readers, args.seconds)
            mode = "prepared" if prepared else "fresh"
            print(
                f"  {mode:<9} {n / wall:6.1f} reads/s, read p50 {statistics.median(lat):6.1f} ms, "
                f"cpu {cpu * 1e3 / n:6.1f} ms/read ({n} reads)",
                flush=True,
            )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
