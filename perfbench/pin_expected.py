#!/usr/bin/env python3
"""Pin the batch workload's results for queries without a DuckDB oracle.

    python3 perfbench/pin_expected.py   # from a checkout root

Runs every such query of ``wl_batch.QUERIES`` twice on each data variant
at the benchmark scale and the self-test scale, refuses to pin a result
that differs between the two runs, and writes ``perfbench/expected.json``.
Run it only on a commit whose results are known good; the benchmark then
counts any later difference as a failed query.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import datagen  # noqa: E402
import harness  # noqa: E402
import oracle  # noqa: E402
import wl_batch  # noqa: E402

SCALES = (wl_batch.SF, 0.001)


def main() -> int:
    from real_time_event_streaming_analytics_platform_spark.plans.registry import (
        ORACLE,
        QUERIES,
    )

    work = os.path.join(os.getcwd(), ".perfbench_work", f"pin-{os.getpid()}")
    harness.keep_in(work)
    bench = harness.Bench(os.getcwd(), work, trace=False)
    pins = {}
    try:
        spark = bench.start_session()
        names = [n for qs in wl_batch.QUERIES.values() for n in qs if n not in ORACLE]
        for sf in SCALES:
            for variant in range(wl_batch.DATA_VARIANTS):
                tables = os.path.join(work, f"t-{sf}-{variant}")
                datagen.write_tables(tables, sf, variant)
                for name in names:
                    a = oracle.fingerprint(QUERIES[name](spark, tables).toPandas())
                    b = oracle.fingerprint(QUERIES[name](spark, tables).toPandas())
                    if a != b:
                        print(f"{name} sf{sf} v{variant}: not deterministic ({a} vs {b})", file=sys.stderr)
                        return 1
                    pins[wl_batch.pin_key(name, sf, variant)] = a
                    print(wl_batch.pin_key(name, sf, variant), a, flush=True)
    finally:
        bench.stop()
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(wl_batch.EXPECTED, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
