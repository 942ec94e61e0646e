"""Seeded input generation for the benchmark.

Two kinds of input, both pure functions of the seed:

- ``write_tables``: the ten catalog tables (``catalog.TABLES``) as one
  parquet file each, with the schemas and value domains of the engine's
  synthetic star schema + ``events`` + ``documents`` + ``embeddings``.
  Row counts scale linearly with ``sf`` (sf0.1 = 600k lineitem rows).
- ``stream_events``: reference-producer-shaped JSON events for the
  stream job, built with ``sources.fixtures.generate_events`` (the
  package's own event distributions: six sources, 5% outliers) and
  re-timed onto one event-time slot per file.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.145, 0.14, 0.125)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
P_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
P_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.int64(base.timestamp() * 1_000_000) + (seconds * 1e6).astype(np.int64))
    return pa.array(us, type=pa.timestamp("us"))


def write_tables(out_dir: str, sf: float, seed: int, names=None) -> dict[str, int]:
    """Write the catalog tables (all, or ``names``) for scale ``sf``;
    every table draws from its own seeded stream, so a subset is the
    same data as the full set. Returns row counts."""

    def _write(_dir, name, cols):
        if names is None or name in names:
            pq.write_table(pa.table(cols), os.path.join(_dir, f"{name}.parquet"))

    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pnames = np.array([f"{a} {n}" for a in P_ADJ for n in P_NOUN])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pnames[rng.integers(0, len(pnames), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    day = 86_400.0
    o_days = rng.integers(0, 2_400, n_ord).astype(np.float64)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts(datetime(1995, 1, 1), o_days * day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    # line numbers restart per order key (1..k), like TPC-H
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_len = np.diff(np.r_[starts, n_line])
    linenumber = np.arange(n_line) - np.repeat(starts, run_len) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(datetime(1995, 1, 2), (o_days[l_order] + rng.integers(0, 100, n_line)) * day),
    })
    ev_secs = np.sort(rng.uniform(0, 30 * day, n_ev))
    outlier = rng.random(n_ev) < 0.02
    value = np.where(outlier, rng.uniform(100, 490, n_ev), rng.exponential(20, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), ev_secs),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(value, 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 95))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = centers[label] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return {"lineitem": n_line, "events": n_ev, "documents": n_doc}


# --------------------------------------------------------------------------
# stream job events
# --------------------------------------------------------------------------

# Later than every sliding window's end + the 10 s watermark
LATE_SECONDS = 600


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


def stream_events(
    seed: int,
    n_files: int,
    per_file: int,
    period_ms: int,
    base: datetime,
    late_every: int = 0,
    first_late_file: int = 8,
    tag: str = "e",
) -> list[list[dict]]:
    """``n_files`` lists of ``per_file`` events. File ``k`` owns the slot
    starting at ``base + k * period_ms``; its events get event times spread
    inside [slot, slot + period) so event time never goes backwards
    across files (the rolling anomaly state then sees global event-time
    order whatever the micro-batch boundaries are). Every
    ``late_every``-th event of file ``k >= first_late_file`` is stamped
    ``LATE_SECONDS`` earlier: later than the watermark for every window
    it falls in, so the aggregation job drops it whole.
    """
    from real_time_event_streaming_analytics_platform_spark.sources.fixtures import (
        generate_events,
    )

    flat = generate_events(n_files * per_file, seed=seed, interval_ms=1)
    rng = np.random.default_rng([seed, 11])
    out = []
    for k in range(n_files):
        due = base + timedelta(milliseconds=k * period_ms)
        offs = np.sort(rng.integers(0, period_ms * 1000, per_file))
        chunk = []
        for j in range(per_file):
            e = flat[k * per_file + j]
            ts = due + timedelta(microseconds=int(offs[j]))
            if late_every and k >= first_late_file and j % late_every == late_every - 1:
                ts -= timedelta(seconds=LATE_SECONDS)
                e = dict(e, late=True)
            chunk.append(dict(e, event_id=f"{tag}{k:05d}-{j:04d}", timestamp=_iso(ts)))
        out.append(chunk)
    return out


def write_file_atomic(events: list[dict], directory: str, name: str, mtime: float | None = None) -> str:
    """Publish one JSON-lines file: write a hidden temp file, then rename
    (the file source skips dot-files, so a half-written file is never read)."""
    tmp = os.path.join(directory, f".{name}.tmp")
    path = os.path.join(directory, name)
    with open(tmp, "w") as fh:
        for e in events:
            fh.write(json.dumps({k: v for k, v in e.items() if k != "late"}) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)
    return path


BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
