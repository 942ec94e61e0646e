#!/usr/bin/env python
"""Scale evidence for the heavy operators.

At sf0.1 every bench entry is dominated by fixed per-job constants, so
an 8-vs-32-core comparison cannot evidence parallelism either way. This
script builds bench.py's replicated fixture (``bench.write_replicas``:
deterministic id remaps and content perturbation, many files per table)
and measures the top operators at 32 AND 8 cores in FRESH subprocess
sessions, each through ``bench.measure`` with results materialized by
``bench.noop``. A compute-bound parallel operator must show a
sec@8 / sec@32 ratio well above 1 (4.0 is the core-ratio ceiling).

Writes SCALE_EVIDENCE_r14.json next to the repo root. Standalone by
design — bench.py's runtime and ``__spark_entry__``'s query set stay
untouched.

Usage:
  python scripts/scale_evidence.py            # full run (~20-30 min)
  python scripts/scale_evidence.py --mult 2   # faster smoke
Internal worker mode (spawned by the parent):
  ... worker CPUS FIXTURE_DIR OUT_JSON
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

from bench import measure, noop, write_replicas  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# x2_build is the candidate-index build (the bench's own split), the
# rest are registered queries
OPS = [
    "x25_dsir_resample",
    "x16_bm25_topk",
    "t1b_lang_id_model",
    "x2_build",
    "x21_kmeans_clusters",
]


def _session(name: str, cpus: int):
    from real_time_event_streaming_analytics_platform_spark.session import (
        SessionFactory,
    )

    spark = SessionFactory.get(name, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def worker(cpus: int, fixture: str, out_json: str) -> None:
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.catalog import clear_derived
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        candidate_index,
    )
    from real_time_event_streaming_analytics_platform_spark.plans.registry import (
        release_tracked,
    )

    spark = _session(f"scale-evidence-{cpus}c", cpus=cpus)
    res: dict = {"cpus": cpus}
    for name in OPS:

        def run() -> None:
            release_tracked()
            if name == "x2_build":
                clear_derived()
                candidate_index(spark, fixture)
            else:
                noop(engine.QUERIES[name](spark, fixture))

        res[name], res[f"{name}_walls"] = measure(run)
        print(f"  [{cpus}c] {name}: {res[f'{name}_walls']}", file=sys.stderr)
    spark.stop()
    with open(out_json, "w") as f:
        json.dump(res, f)


def main() -> None:
    import shutil
    import tempfile

    mult = 50
    if "--mult" in sys.argv:
        mult = int(sys.argv[sys.argv.index("--mult") + 1])
    d = tempfile.mkdtemp(prefix="sgr-scale-evidence-")
    try:
        spark = _session("scale-evidence-fixtures", cpus=32)
        print(f"building {mult}x fixture at {d} ...", file=sys.stderr)
        write_replicas(spark, SF_DIR, d, mult, ("documents", "embeddings"))
        spark.stop()

        def spawn(args: list[str], out: str) -> dict:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), *args, out],
                env=dict(os.environ),
                timeout=3600,
            )
            if proc.returncode != 0:
                raise RuntimeError(f"worker {args} rc={proc.returncode}")
            with open(out) as f:
                return json.load(f)

        r32 = spawn(["worker", "32", d], f"{d}/w32.json")
        r8 = spawn(["worker", "8", d], f"{d}/w8.json")

        ops = {}
        for name in OPS:
            ops[name] = {
                "sec_32c": r32[name],
                "sec_8c": r8[name],
                "ratio_8_over_32": round(r8[name] / r32[name], 2),
                "walls_32c": r32[f"{name}_walls"],
                "walls_8c": r8[f"{name}_walls"],
            }
        out = {
            "sf_dir": SF_DIR,
            "mult": mult,
            "note": (
                "fresh subprocess session per core count (median_low of 3 "
                "noop-materialized reps); ratio_8_over_32 near 4.0 = perfect core scaling, "
                "near 1.0 = overhead-bound."
            ),
            "ops": ops,
        }
        path = os.path.join(_HERE, "SCALE_EVIDENCE_r14.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=2)
        print(json.dumps(out, indent=2))
        print(f"wrote {path}", file=sys.stderr)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        worker(int(sys.argv[2]), sys.argv[3], sys.argv[4])
    else:
        main()
