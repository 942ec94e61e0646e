#!/usr/bin/env python
"""Per-task CPU cost of a Python worker, outside of the task's own work.

Runs a trivial ``mapPartitions`` (the task body only reads ``getrusage``)
in a ``SessionFactory`` session, ``--jobs`` times over ``--partitions``
partitions. Each task records its worker pid, a system-wide monotonic
timestamp and the worker's CPU time (user + system) at the moment the
task body starts. Two consecutive tasks on the same worker pid bracket
exactly one task's whole lifetime in that worker (its set-up, its body,
its tear-down), so the CPU difference between them is the per-task
worker cost. Prints the median of those differences.

Usage:
  python scripts/worker_task_cost.py                 # 20 jobs x 4 tasks
  python scripts/worker_task_cost.py --jobs 40 --cpus 4
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_event_streaming_analytics_platform_spark.session import SessionFactory  # noqa: E402


def _probe(_rows):
    import resource
    import time

    ru = resource.getrusage(resource.RUSAGE_SELF)
    yield os.getpid(), time.monotonic(), ru.ru_utime + ru.ru_stime


def per_task_cpu_ms(samples: list[tuple[int, float, float]]) -> list[float]:
    """CPU ms between consecutive task starts on the same worker pid."""
    by_pid: dict[int, list[tuple[float, float]]] = {}
    for pid, t, cpu in samples:
        by_pid.setdefault(pid, []).append((t, cpu))
    costs = []
    for runs in by_pid.values():
        runs.sort()
        costs += [(b[1] - a[1]) * 1000.0 for a, b in zip(runs, runs[1:])]
    return costs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=20)
    ap.add_argument("--partitions", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    spark = (
        SessionFactory.builder("worker-task-cost", cpus=args.cpus)
        .config("spark.driver.memory", "1g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    samples = []
    try:
        for _ in range(args.jobs):
            rdd = sc.parallelize(range(args.partitions), args.partitions)
            samples += rdd.mapPartitions(_probe).collect()
    finally:
        spark.stop()
    costs = per_task_cpu_ms(samples)
    if not costs:
        sys.exit("no worker ran two tasks; raise --jobs")
    q1, _, q3 = statistics.quantiles(costs, n=4)
    print(
        f"worker CPU per task: median {statistics.median(costs):.1f} ms "
        f"(IQR {q1:.1f}-{q3:.1f} ms, {len(costs)} task pairs on "
        f"{len({s[0] for s in samples})} worker pids, {len(samples)} tasks)"
    )


if __name__ == "__main__":
    main()
