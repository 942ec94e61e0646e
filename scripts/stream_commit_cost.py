#!/usr/bin/env python
"""What one drain of a small stream backlog costs, and where it goes.

Writes a ``sources/fixtures.py`` backlog (3 files of 500 events) and,
in a ``SessionFactory`` session, drains it ``--runs`` times through both
stateful reference pipelines side by side:
``parse_events → sliding_aggregates`` (update mode) and
``parse_events(require_positive_metric) → anomaly_stream`` (append),
one file per micro-batch, into ``noop`` sinks. Every run starts fresh
checkpoints, so every run does the same work. For each run it prints:

- wall: the whole drain, from building the two queries to both drained;
- commit: ``commitTimeMs`` summed over every state operator of every
  micro-batch of both queries (Spark's progress reports);
- cpu: user + system CPU of this script's process tree (the JVM, the
  Python workers and every helper process they reaped), from ``/proc``;
- helpers: the ``readlink``, ``chmod`` and ``rm`` processes started, by
  command. The JVM is launched with a PATH whose first entry is a temp
  dir of shims that log their name and exec the real binary, so only
  this script's own processes are counted.

Usage:
  python scripts/stream_commit_cost.py                  # 3 runs, 4 cores
  python scripts/stream_commit_cost.py --runs 5 --cpus 4 \\
      --conf spark.sql.shuffle.partitions=8             # one setting changed
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_event_streaming_analytics_platform_spark.session import SessionFactory  # noqa: E402
from real_time_event_streaming_analytics_platform_spark.sources.fixtures import (  # noqa: E402
    generate_events,
    write_jsonl,
)

FILES, PER_FILE = 3, 500  # one file per micro-batch
HELPERS = ("readlink", "chmod", "rm")
_TICK = os.sysconf("SC_CLK_TCK")


def install_shims(shim_dir: str, log: str) -> None:
    """Put logging ``readlink``/``chmod``/``rm`` shims first on PATH, so
    the JVM this process launches (and its children) run them."""
    for cmd in HELPERS:
        real = shutil.which(cmd)
        if real is None:
            continue
        path = os.path.join(shim_dir, cmd)
        with open(path, "w") as fh:
            fh.write(f'#!/bin/sh\necho {cmd} >> "{log}"\nexec {real} "$@"\n')
        os.chmod(path, 0o755)
    os.environ["PATH"] = shim_dir + os.pathsep + os.environ.get("PATH", "")


def helper_counts(log: str) -> collections.Counter:
    try:
        with open(log) as fh:
            return collections.Counter(line.strip() for line in fh)
    except FileNotFoundError:
        return collections.Counter()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants, including the
    children each of them has reaped (``cutime``/``cstime``)."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # after the comm field: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        stats[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children = collections.defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / _TICK


def drain(spark, in_dir: str, ck: str) -> int:
    """One drain of the backlog through both pipelines; returns the
    summed state commit ms."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.streaming.anomaly import anomaly_stream
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        parse_events,
        read_event_stream,
        sliding_aggregates,
    )

    def source():
        return read_event_stream(spark, in_dir, max_files_per_trigger=1)

    agg = sliding_aggregates(parse_events(source()))
    scored = anomaly_stream(parse_events(source(), require_positive_metric=True))
    writers = [
        agg.writeStream.format("noop").outputMode("update").option("checkpointLocation", f"{ck}/agg"),
        scored.where(F.col("is_anomaly"))
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", f"{ck}/anomaly"),
    ]
    queries = [w.trigger(availableNow=True).start() for w in writers]
    for q in queries:
        q.awaitTermination()
    return sum(
        o["commitTimeMs"] for q in queries for p in q.recentProgress if p is not None for o in p["stateOperators"]
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE", help="override one session conf")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="stream-commit-cost-")
    log = os.path.join(work, "helpers.log")
    shim_dir = os.path.join(work, "shims")
    os.makedirs(shim_dir)
    install_shims(shim_dir, log)
    in_dir = os.path.join(work, "in")
    events = generate_events(FILES * PER_FILE, seed=7, interval_ms=250)
    write_jsonl(events, in_dir, n_files=FILES)

    b = (
        SessionFactory.builder("stream-commit-cost", cpus=args.cpus)
        .config("spark.driver.memory", "2g")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    for kv in args.conf:
        key, _, value = kv.partition("=")
        b = b.config(key, value)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    me = os.getpid()
    try:
        for run in range(args.runs + 1):  # run 0 warms the JVM and the workers
            before_h, before_cpu, t0 = helper_counts(log), tree_cpu_s(me), time.perf_counter()
            commit = drain(spark, in_dir, os.path.join(work, f"ck{run}"))
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(me) - before_cpu
            helpers = helper_counts(log) - before_h
            label = "warm-up" if run == 0 else f"run {run}"
            by_cmd = " ".join(f"{c}={helpers.get(c, 0)}" for c in HELPERS)
            print(
                f"{label}: wall {wall:.2f} s, state commit {commit} ms, cpu {cpu:.1f} s, "
                f"helpers {sum(helpers.values())} ({by_cmd})",
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
