#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard|batch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). The full detail (per-workload metrics such as freshness,
detect and per-endpoint latency, check summaries, per-query layers) goes
to standard error as one ``perfbench detail:`` JSON line, followed by a
warning line for each query family whose traced wall time does not
reconcile with its Spark and driver-only time.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

PKG = "real_time_event_streaming_analytics_platform_spark"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None, help="table scale factor override (self-test)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ not found under {root}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    import harness

    harness.keep_in(work)
    bench = harness.Bench(root, work, trace=bool(args.trace))
    t0 = time.perf_counter()
    try:
        wl = importlib.import_module(metrics.WORKLOADS[args.workload])
        res = wl.run(bench, args.seed, args.seconds, args.scale)
        bench.stop()  # closes the event log
        if args.trace:
            res["layers"].update(harness.trace_layers(bench, res))
    finally:
        bench.stop()
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_work"))
        except OSError:
            pass
    res["wall_s"] = time.perf_counter() - t0
    res["seed"], res["workload"], res["cores"] = args.seed, args.workload, harness.CPUS
    print("perfbench detail: " + json.dumps(res, default=str), file=sys.stderr)
    for fam, err in res.get("reconcile_flags", {}).items():
        print(f"perfbench: {fam} does not reconcile: error {err:.3f} > {harness.RECONCILE_LIMIT}", file=sys.stderr)
    names = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    out = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            n: {"value": metrics.value(res, n, args.trace), "unit": u} for n, u in names.items()
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
