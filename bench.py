#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS].

Output protocol (the driver tails stdout and parses the LAST line):
- full per-query timings go to ``BENCH_DETAIL.json`` next to this file
  and to an early ``detail:``-prefixed stdout line;
- the FINAL stdout line is ONE compact JSON object
  {"metric", "value", "unit", "sf", "queries", "slo", ...} where
  ``queries`` holds only the headline subset — kept short so a reader
  that keeps only the tail of stdout never truncates it.

``value`` is the total wall-clock across ALL registered queries (lower
is better). Every timing goes through ``measure`` (an untimed driver GC
and cache clear, then REPS timed runs, reporting their median_low), and
every query result goes through ``noop``: a ``noop``-format write that
produces every column of every row. ``count()`` is never timed, because
Catalyst may prune it down to a row count (scans, joins, aggregate
columns and Python nodes vanish from the plan). ``materialize: "noop"``
in the output marks this; ``vs_prev`` compares only against a snapshot
with the same marker.

Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, and
SPARK_GRAFT_SCALEUP=0 to skip the replicated-scale blocks (scale-up,
runtime filter where it fires, shard store).

    python bench.py              # the bench
    python bench.py --promote    # BENCH_DETAIL.json -> BENCH_PREV.json
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import real_time_event_streaming_analytics_platform_spark as engine
from real_time_event_streaming_analytics_platform_spark.session import SessionFactory

_HERE = os.path.dirname(os.path.abspath(__file__))

# Timed runs per entry: the median_low of 3 drops a cold first run
# (codegen, parquet footers, a one-time index build) without averaging
# it in.
REPS = 3
# Replication multiples: Part B tables (SCALE_MULT); the connector's top
# point and Part C's second decade (SCALE_MULT2); the runtime-filter fact
# table where the bloom probe fires (RTF_MULT).
SCALE_MULT = 10
SCALE_MULT2 = 100
RTF_MULT = 100
# Files per replicated table. A 100 TB table is inherently many files; a
# one-file fixture is one scan task under the 128 MB split size, and every
# core-scaling ratio then measures the fixture's layout, not the operator.
REPLICA_FILES = 64
MATERIALIZE = "noop"

# Queries whose FIRST execution in a session pays a one-time
# materialized-index build (tables built once through
# catalog.derived): x2/x2b/x2e share the
# MinHash signature+candidate index, x2f adds the bucketed band index,
# r7/r9/r10 share the anomalies table. Their steady state is what the
# *_probe_sec keys of _bench_index_split measure, so they are excluded
# from vs_prev: a build landing in a different rep than last round would
# read as a phantom regression.
BUILD_CARRYING = {
    "x2_minhash_near_dup",
    "x2b_ngram_jaccard",
    "x2e_dedup_groups",
    "x2f_incremental_dedup",
    "r7_rolling_zscore",
    "r9_alerts_scan",
    "r10_conditional_agg",
}


def noop(df) -> None:
    """Produce every column of every row of ``df`` and discard them. A
    noop write keeps the whole plan; ``count()`` lets Catalyst prune the
    output columns and whatever only they needed."""
    df.write.format("noop").mode("overwrite").save()


def measure(fn, reps: int = REPS, keep_cache: bool = False) -> tuple[float, list[float]]:
    """The bench's one timing primitive: an untimed driver GC and cache
    clear, then ``reps`` timed calls of ``fn``. Returns (median_low,
    samples) in seconds.

    The GC lets Spark's ContextCleaner release the shuffle files and
    broadcast blocks of earlier work (it only runs when the driver
    collects their references), and clearCache drops frames earlier work
    persisted, so each entry runs against a clean executor. median_low,
    not median: with an even count the median averages a cold sample in.
    ``keep_cache=True`` times reads of a frame the caller persisted."""
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    spark.sparkContext._jvm.System.gc()
    if not keep_cache:
        spark.catalog.clearCache()
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(round(time.perf_counter() - t0, 6))
    return statistics.median_low(samples), samples


def write_replicas(spark, sf_dir: str, dest: str, m: int, tables) -> None:
    """Write ``m`` deterministic replicas of each named table of
    ``sf_dir`` to ``dest/<table>.parquet``, REPLICA_FILES files each.

    Replicas remap their ids (+ replica × offset) and perturb content, so
    dedup, ANN and language id do real work instead of collapsing
    identical rows: events keep their time span (a 1 ms ts jitter per
    replica, so density grows m-fold, the way an event table grows);
    documents gain a per-replica text token; embeddings a per-replica
    offset. orders and customer remap their keys per replica, so foreign
    keys hold within each replica and join fan-out grows with the data.
    lineitem is copied verbatim: its keys still join the 1× orders, so
    only the fact side of that join grows."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.catalog import load

    rep = F.col("_rep")
    off = rep.cast("bigint")
    text = F.when(rep == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), F.lit(" replica"), rep.cast("string"))
    )
    recipes = {
        "events": lambda df: df.select(
            (F.col("event_id") + off * F.lit(10**12)).alias("event_id"),
            (F.col("ts") + rep * F.expr("INTERVAL 1 MILLISECOND")).alias("ts"),
            (F.col("user_id") + off * F.lit(10**7)).alias("user_id"),
            "event_type",
            "value",
            "props",
        ),
        "documents": lambda df: df.select(
            (F.col("doc_id") + off * F.lit(10**9)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).alias("n_chars"),
        ),
        "embeddings": lambda df: df.select(
            (F.col("vec_id") + off * F.lit(10**9)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x + rep.cast("float") * F.lit(0.003)).cast("float"),
            ).alias("embedding"),
            "label",
        ),
        "orders": lambda df: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + off * F.lit(10**12)
        ).withColumn("o_custkey", F.col("o_custkey") + off * F.lit(10**9)),
        "customer": lambda df: df.withColumn(
            "c_custkey", F.col("c_custkey") + off * F.lit(10**9)
        ),
        "lineitem": lambda df: df,
    }
    for t in tables:
        df = load(spark, sf_dir, t).select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_rep")
        )
        (
            recipes[t](df)
            .drop("_rep")
            .repartition(REPLICA_FILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/{t}.parquet")
        )
    spark.catalog.clearCache()


def _timed_persist(make) -> tuple[float, tuple]:
    """Time ``make()`` plus the persist + count that materializes the
    frame it returns first (an index build); returns (seconds, result)."""
    built = []

    def run():
        res = make()
        res[0].persist().count()
        built.append(res)

    sec, _ = measure(run, 1)
    return sec, built[0]


@contextmanager
def _conf(spark, settings: dict):
    """Set session confs for the block, then restore each one (unset
    when it was unset, so a bench-only value never outlives its block)."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        _restore(spark, prev)


def _restore(spark, prev: dict) -> None:
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _vs_prev(timings: dict[str, float]) -> dict | None:
    """Per-query ratios now / prev (> 1 is slower) against the committed
    previous snapshot BENCH_PREV.json (promoted from BENCH_DETAIL.json at
    each round boundary via ``bench.py --promote``). The median over the
    common subset is the round-over-round health number; the worst
    entries name the queries to investigate. BUILD_CARRYING queries and
    *_build_sec keys are excluded (their probes carry the signal). A
    snapshot materialized another way is not compared: it timed a
    different, often pruned, plan."""
    prev_path = os.path.join(_HERE, "BENCH_PREV.json")
    try:
        with open(prev_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    against = os.path.basename(prev_path)
    if prev.get("materialize") != MATERIALIZE:
        return {"against": against, "skipped": "previous snapshot timed with count()"}
    prev_q = prev.get("queries", {})
    ratios = {}
    excluded = []
    for k, now in timings.items():
        if k in BUILD_CARRYING or k.endswith("_build_sec"):
            excluded.append(k)
            continue
        p = prev_q.get(k)
        if p and p > 0 and now > 0:
            ratios[k] = round(now / p, 2)
    if not ratios:
        return None
    vals = sorted(ratios.values())
    return {
        "against": against,
        "excluded_build_carrying": sorted(excluded),
        "n_common": len(ratios),
        "median_ratio_raw": round(statistics.median(vals), 2),
        # nearest-rank p90 (ceil(0.9n)-1): flooring the index biases the
        # published tail-regression metric low
        "p90_ratio_raw": vals[max(0, -(-9 * len(vals) // 10) - 1)],
        "worst_raw": dict(sorted(ratios.items(), key=lambda kv: -kv[1])[:5]),
        "ratios_raw": ratios,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    scale_blocks = os.environ.get("SPARK_GRAFT_SCALEUP", "1") != "0"
    spark = SessionFactory.get("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # parse sf from the directory name (".../sf0.1" -> 0.1)
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = None

    # Warmup: pay JVM/codegen/parquet-footer cold start outside the
    # timings, and the Python worker pool's startup (fork + pandas/pyarrow
    # import per worker), which would otherwise be charged to the first
    # mapInPandas query.
    names = sorted(engine.QUERIES)
    try:
        noop(engine.QUERIES[names[0]](spark, sf_dir))
    except Exception:
        pass
    try:

        def _ident(it):
            yield from it

        noop(
            spark.range(256)
            .repartition(int(spark.sparkContext.defaultParallelism))
            .mapInPandas(_ident, "id long")
        )
    except Exception:
        pass

    # SLO block FIRST: the reference's serving SLOs are latencies of a
    # dedicated read-API process, not of a process that just executed 140
    # analytical queries.
    extras = _bench_slo(spark, sf_dir)

    # The scheduler's per-job minimum on this session: read every other
    # timing against it.
    floor, _ = measure(lambda: spark.range(1).collect(), 7)
    timings: dict[str, float] = {}
    samples_out: dict[str, list[float]] = {}
    for name in names:
        fn = engine.QUERIES[name]
        try:
            # plan build + run each rep; session memos persist across reps,
            # so rep 1 pays any index build and the median is steady state
            timings[name], samples_out[name] = measure(lambda: noop(fn(spark, sf_dir)))
        except Exception as exc:  # keep benching; a broken query reads as absent
            print(f"bench: {name} failed: {exc!r}", file=sys.stderr)

    timings.update(_bench_index_split(spark, sf_dir))
    timings.update(_bench_skew(spark, sf))
    vs_prev = _vs_prev(timings)

    total = round(sum(v for k, v in timings.items() if k in engine.QUERIES), 3)
    scaleup = _bench_scaleup(spark, sf_dir) if scale_blocks else None
    runtime_filter = _bench_runtime_filter(spark, sf_dir, fires=scale_blocks)
    shard_store = _bench_shard_store(spark, sf_dir) if scale_blocks else None
    detail = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "materialize": MATERIALIZE,
        "queries": timings,
        "query_samples": samples_out,
        "reps_per_query": REPS,
        "spark_job_floor_sec": floor,
        "vs_prev": vs_prev,
        "scaleup": scaleup,
        "runtime_filter": runtime_filter,
        "shard_store": shard_store,
        "sf": sf,
        "slo": extras,
    }
    with open(os.path.join(_HERE, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print("detail: " + json.dumps(detail))

    # Headline subset only, so the final line stays well under the
    # driver's tail window. One representative per operator family.
    headline = [
        "q01_pricing_summary",
        "q03_multiway_join",
        "q03b_filtered_multiway",
        "q11_topk",
        "r4_sliding_window",
        "r8b_rolling_mad",
        "q24_dedup_exact",
        "x2_minhash_near_dup",
        "x2d_embedding_near_dup",
        "x3_cosine_topk",
        "x2_build_sec",
        "x2_probe_sec",
        "x3c_build_sec",
        "x3c_probe_sec",
        "x3e_ann_ivfadc",
        "x4b_media_features",
        "t2_quality_score",
        "skew_window_plain_sec",
        "skew_salted_rewrite_sec",
    ]
    vs_compact = vs_prev
    if vs_prev and "skipped" not in vs_prev:
        vs_compact = {
            k: vs_prev[k]
            for k in ("against", "n_common", "median_ratio_raw", "p90_ratio_raw", "worst_raw")
        }
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "materialize": MATERIALIZE,
                "sf": sf,
                "reps_per_query": REPS,
                "spark_job_floor_sec": floor,
                "queries": {k: timings[k] for k in headline if k in timings},
                "vs_prev": vs_compact,
                "scaleup": scaleup,
                "runtime_filter": runtime_filter,
                "slo": extras,
            }
        )
    )


def _bench_scaleup(spark, sf_dir: str) -> dict | None:
    """Scale evidence: sf0.1 is 17 MB on disk, which undersells the scale
    design, so measure how the headline shapes scale on larger data.

    Part A — the reference's core pipeline from the engine's OWN
    connector: ``format("synthetic_events")`` generates raw Kafka-shaped
    JSON at 1×, SCALE_MULT× and SCALE_MULT2× 100k events, and the
    canonical parse → 1m/10s sliding-aggregate plan (the S2 parity
    shape) runs at each point, disk-free.

    Part B — registered queries against SCALE_MULT× replicas
    (``write_replicas``) of events, documents, embeddings, orders and
    customer; both sides of each factor are measured in this block.
    Part C — a second decade (SCALE_MULT2×) for the queries with a
    named superlinear term. Part C2 — Heaps'-law vocabulary growth, x19
    vs x19b. Part D — the x27 recall curve at non-degenerate nlist.

    ``factor`` = t_scaled / t_base per query; ≲ the multiple means
    at-or-better than linear scaling."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.sources.synthetic import (
        register,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        _parse_project,
        sliding_aggregates,
    )

    mult, big = SCALE_MULT, SCALE_MULT2
    out: dict = {"multiplier": mult}
    d = tempfile.mkdtemp(prefix="sgr-bench-scale-")
    try:
        # --- Part A: connector-fed pipeline at 1x / MULTx / BIGx ---
        register(spark)
        n_base = 100_000

        def pipeline(m: int):
            raw = (
                spark.read.format("synthetic_events")
                .option("n", n_base * m)
                .option("seed", 7)
                .option("numPartitions", spark.sparkContext.defaultParallelism)
                .load()
            )
            # the S2 batch-parity form of the streaming job: same parse
            # projection, same sliding aggregate, no watermark
            # (meaningless on a bounded frame)
            return sliding_aggregates(_parse_project(raw))

        # The BIGx point runs once: at minutes of wall it amortizes its own
        # startup, and more reps would multiply the bench for little.
        pipe = {
            f"{m}x": measure(lambda: noop(pipeline(m)), 1 if m >= 50 else REPS)[0]
            for m in (1, mult, big)
        }
        out["connector_pipeline_sec"] = pipe
        out["connector_pipeline_factor"] = {
            k: round(v / pipe["1x"], 2) for k, v in pipe.items() if k != "1x"
        }

        # --- Part B: replicated tables + registered queries ---
        write_replicas(
            spark, sf_dir, d, mult, ("events", "documents", "embeddings", "orders", "customer")
        )
        # Each entry's factor is the evidence for a linearity claim:
        # d3/x16 are linear in corpus tokens; x19's count tables grow with
        # observed vocabulary², which x19b caps; x21's per-iteration
        # shuffle is k×dim partials per partition, x26/t1b's IRLS partials
        # are B²/K·occupied²-bounded (corpus-size-free); x22 is the BPE
        # word-table join; x24's shingle self-join blowup is bounded by
        # n_sources²; q40 is MERGE; x25 is one (doc, bucket) shuffle; x28 is
        # one source-partitioned cumsum window (largest domain bounds the
        # task); x29 a broadcast rate table; x30 one hash shuffle; t4b is a
        # map-only expression pipeline.
        subset = [
            "r3_series_minute",
            "r4_sliding_window",
            "r7_rolling_zscore",
            "q24_dedup_exact",
            "t2_quality_score",
            "x2_minhash_near_dup",
            "x3c_ann_ivf",
            "d3_substring_dup_spans",
            "x16_bm25_topk",
            "x19_bigram_surprisal",
            "x21_kmeans_clusters",
            "x22_bpe_encode",
            "x24_cross_source_contamination",
            "q40_merge_upsert",
            "x25_dsir_resample",
            "x26_quality_classifier",
            "x19b_bigram_surprisal_capped",
            "t1b_lang_id_model",
            "x28_source_token_budget",
            "x29_temperature_resample",
            "x30_shard_manifest",
            "t4b_fingerprint_winnow",
        ]
        base: dict[str, float] = {}
        scaled: dict[str, float] = {}
        factors: dict[str, float] = {}
        for name in subset:
            try:
                fn = engine.QUERIES[name]
                # both sides measured here, minutes apart, never the main
                # loop's medians (different session pressure and, for
                # index-building queries, a different build state)
                base[name], _ = measure(lambda: noop(fn(spark, sf_dir)))
                scaled[name], _ = measure(lambda: noop(fn(spark, d)))
                factors[name] = round(scaled[name] / base[name], 2)
            except Exception as exc:
                print(f"bench: scaleup {name} failed: {exc!r}", file=sys.stderr)
        out["queries_base_warm_sec"] = base
        out["queries_scaled_sec"] = scaled
        out["scaling_factor"] = factors
        out["note"] = (
            f"factor = {mult}x-wall / base-wall, each the median_low of "
            f"{REPS} noop-materialized runs in this block (rep 1 pays any "
            f"fresh index build); <= ~{mult} means at-or-better-than-linear "
            f"scaling"
        )

        # --- Part C: second decade (BIGx) ---
        # x19's observed-vocabulary² tables and the claimed
        # corpus-size-free shapes (x25's one shuffle, x26's B²-bounded
        # Newton partials) are tested where a hidden superlinear term
        # would show; x28 is the one op with a potential skew term.
        # Factors are vs Part B's base.
        subset100 = [
            "q24_dedup_exact",
            "x2_minhash_near_dup",
            "x25_dsir_resample",
            "x26_quality_classifier",
            "x19_bigram_surprisal",
            "x19b_bigram_surprisal_capped",
            "x28_source_token_budget",
        ]
        d2 = tempfile.mkdtemp(prefix="sgr-bench-scale100-")
        try:
            write_replicas(spark, sf_dir, d2, big, ("events", "documents"))
            scaled100: dict[str, float] = {}
            factors100: dict[str, float] = {}
            for name in subset100:
                if name not in base:
                    continue
                try:
                    scaled100[name], _ = measure(
                        lambda: noop(engine.QUERIES[name](spark, d2))
                    )
                    factors100[name] = round(scaled100[name] / base[name], 2)
                except Exception as exc:
                    print(f"bench: scaleup100 {name} failed: {exc!r}", file=sys.stderr)
            out["queries_scaled100_sec"] = scaled100
            out["scaling_factor_100x"] = factors100
            out["note_100x"] = (
                f"factor_100x = {big}x-wall / Part B's base-wall; <= ~{big} "
                f"means at-or-better-than-linear across two decades. The "
                f"replica fixture adds ~1 token type per replica, so x19's "
                f"vocabulary term is constant here by construction "
                f"(heaps_vocab grows it)"
            )
        finally:
            shutil.rmtree(d2, ignore_errors=True)

        # --- Part C2: Heaps'-law vocabulary growth, x19 vs x19b ---
        # The replica fixture holds the observed vocabulary ~constant, so
        # x19's vocabulary-driven term never engages there. This fixture
        # grows it the way real crawls do (Heaps' law, V ∝ n^0.5): each
        # replica-r document gains a 16-token suffix whose type ids hash
        # into a pool of ceil(V1·sqrt(r+1)) types — deterministic from
        # (doc_id, replica, position) — so the corpus at m× observes
        # ≈ V1·sqrt(m) fresh types. V1 > X19B_VOCAB, so x19b's cap folds
        # the type tail to '<unk>' at EVERY point while x19's bigram table
        # grows. Factors are vs the SAME fixture's 1× point (which also
        # carries suffixes, so extra tokens don't confound vocabulary).
        from real_time_event_streaming_analytics_platform_spark.functions.retrieval import (
            X19B_VOCAB,
            bigram_table_stats,
        )

        heaps_v1 = 6000
        suffix_len = 16
        # the fixture's premise as a check, so raising X19B_VOCAB later
        # can't silently make the published factors meaningless
        assert heaps_v1 > X19B_VOCAB, (heaps_v1, X19B_VOCAB)

        def write_heaps(dest: str, m: int) -> None:
            rep = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_rep")
            pool = F.ceil(
                F.lit(float(heaps_v1)) * F.sqrt(F.col("_rep").cast("double") + 1.0)
            ).cast("long")
            suffix = F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(suffix_len - 1)),
                    lambda j: F.concat(
                        F.lit("hv"),
                        F.pmod(F.xxhash64("doc_id", F.col("_rep"), j), pool).cast(
                            "string"
                        ),
                    ),
                ),
            )
            docs = (
                load(spark, sf_dir, "documents")
                .select("*", rep)
                .withColumn("_text", F.concat(F.col("text"), F.lit(" "), suffix))
            )
            docs.select(
                (F.col("doc_id") + F.col("_rep").cast("bigint") * F.lit(10**9)).alias(
                    "doc_id"
                ),
                F.col("_text").alias("text"),
                "lang",
                "source",
                F.length("_text").alias("n_chars"),
            ).write.mode("overwrite").parquet(f"{dest}/documents.parquet")
            spark.catalog.clearCache()

        heaps: dict = {
            "v1": heaps_v1,
            "suffix_len": suffix_len,
            "walls_sec": {},
            "factors": {},
            "table_rows": {},
        }
        try:
            for m in [1, mult, big]:
                d3 = tempfile.mkdtemp(prefix=f"sgr-bench-heaps{m}-")
                try:
                    write_heaps(d3, m)
                    # PRIMARY evidence: the model-table sizes per decade —
                    # exact counts, zero noise
                    heaps["table_rows"][f"{m}x"] = bigram_table_stats(
                        load(spark, d3, "documents")
                    )
                    for name in ("x19_bigram_surprisal", "x19b_bigram_surprisal_capped"):
                        heaps["walls_sec"].setdefault(name, {})[f"{m}x"] = measure(
                            lambda: noop(engine.QUERIES[name](spark, d3)),
                            1 if m >= 50 else REPS,
                        )[0]
                finally:
                    shutil.rmtree(d3, ignore_errors=True)
            for name, walls in heaps["walls_sec"].items():
                heaps["factors"][name] = {
                    f"{m}x": round(walls[f"{m}x"] / walls["1x"], 2) for m in (mult, big)
                }
            heaps["note"] = (
                "fixture: observed vocabulary ≈ v1·sqrt(m) on top of the base "
                "corpus; factor = m×-wall / 1×-wall on the SAME fixture. "
                "PRIMARY evidence is table_rows (deterministic): x19's "
                "bigram-count table grows with observed distinct pairs per "
                "decade while x19b's stays <= (V+1)^2 by construction, and "
                "table size is what decides broadcastability and spill at "
                "100 TB. Walls are secondary: x19/x19b trade places within "
                "the session band, so no wall-based win is claimed. At "
                "beta=0.5, V^2 grows ∝ n (linear), so neither form can go "
                "superlinear in table size here."
            )
            out["heaps_vocab"] = heaps
        except Exception as exc:
            print(f"bench: heaps fixture failed: {exc!r}", file=sys.stderr)

        # --- Part D: x27 recall curve at NON-DEGENERATE nlist ---
        # The registered nlist=16 curve's nprobe=16 point probes every cell
        # (brute force). Measured here on the Part B embedding replicas at
        # nlist ∈ {64, 256}, where no grid point is exhaustive, against the
        # exact different-label top-5 (driver numpy — a measurement
        # harness, not an engine path). The default nprobe =
        # max(8, nlist // 4) comes from this curve; the bar is pinned by
        # tests/test_functions.py::test_x27_recall_at_nondegenerate_nlist.
        try:
            import numpy as np

            from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
                HARD_NEG_K,
                hard_negatives_sweep,
                ivf_assignments,
                with_norm,
                x27_default_nprobe,
            )
            from real_time_event_streaming_analytics_platform_spark.plans.registry import (
                release_tracked,
            )

            erows = load(spark, d, "embeddings").collect()
            eids = np.array([r["vec_id"] for r in erows], dtype=np.int64)
            X = np.array([r["embedding"] for r in erows], dtype=np.float64)
            elab = np.array([r["label"] for r in erows])
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            n_vec = len(eids)
            exact: dict = {}
            for s0 in range(0, n_vec, 2048):
                e0 = min(s0 + 2048, n_vec)
                S = Xn[s0:e0] @ Xn.T
                for i in range(s0, e0):
                    row = S[i - s0]
                    row[elab == elab[i]] = -np.inf
                    top = np.argpartition(-row, HARD_NEG_K)[: HARD_NEG_K * 4]
                    top = top[np.lexsort((eids[top], -row[top]))][:HARD_NEG_K]
                    exact[int(eids[i])] = {int(eids[j]) for j in top}
            emb10 = load(spark, d, "embeddings")
            curve: dict = {"n_vectors": n_vec, "points": {}, "build_sec": {}}
            for nlist in (64, 256):
                dflt = x27_default_nprobe(nlist)
                # fit + assign ONCE per nlist: the quantizer is the index,
                # and the per-point walls below are probe-only
                curve["build_sec"][f"nlist{nlist}"], (assigned, centers) = _timed_persist(
                    lambda: ivf_assignments(with_norm(emb10), nlist=nlist)
                )
                # ONE probe+scoring pass serves every grid point at this
                # nlist: the widest point is consumed first and carries the
                # shared pass, narrower points re-rank the persisted rows
                points = sorted({nlist // 4, dflt, 3 * nlist // 8})
                sweep = hard_negatives_sweep(
                    emb10, points, nlist=nlist, index=(assigned, centers)
                )
                for nprobe in sorted(points, reverse=True):
                    mined = []
                    wall, _ = measure(
                        lambda: mined.extend(
                            sweep[nprobe]
                            .groupBy("qid")
                            .agg(F.collect_list("cid").alias("cids"))
                            .collect()
                        ),
                        1,
                        keep_cache=True,
                    )
                    # recall averages over EVERY anchor with an exact
                    # top-k: an anchor that mined nothing scores 0 instead
                    # of dropping out (a self-selected mean biases upward)
                    mined_map = {r["qid"]: set(r["cids"]) for r in mined}
                    recs = [
                        len(tops & mined_map.get(qid, set())) / len(tops)
                        for qid, tops in exact.items()
                        if tops
                    ]
                    n_zero = sum(
                        1 for qid, tops in exact.items() if tops and qid not in mined_map
                    )
                    curve["points"][f"nlist{nlist}_nprobe{nprobe}"] = {
                        "recall": round(float(np.mean(recs)) if recs else 0.0, 3),
                        "probe_wall_sec": wall,
                        "anchors": len(recs),
                        "zero_candidate_anchors": n_zero,
                        "is_default": nprobe == dflt,
                    }
                release_tracked()
                assigned.unpersist()
            curve["note"] = (
                "recall vs exact different-label top-5 on the Part B "
                "replicas; no point probes all cells. recall is a mean over "
                "ALL anchors (zero-candidate anchors score 0, counted in "
                "zero_candidate_anchors); the quantizer is fit once per "
                "nlist (build_sec), the grid shares ONE probe+scoring pass "
                "per nlist, and per-point walls are probe-only with the "
                "WIDEST point carrying the shared pass. Default rule "
                "nprobe=max(8, nlist//4): production sizes nlist up with the "
                "corpus and keeps nprobe/nlist ~ 1/4."
            )
            out["x27_recall_curve"] = curve
        except Exception as exc:
            print(f"bench: x27 recall curve failed: {exc!r}", file=sys.stderr)
    except Exception as exc:
        print(f"bench: scaleup failed: {exc!r}", file=sys.stderr)
        return out if len(out) > 1 else None
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _bench_index_split(spark, sf_dir: str) -> dict[str, float]:
    """One-time index builds vs steady-state probes, timed separately,
    for every session-memoized index: the build is amortized over many
    queries in production (a written table), so folding it into a
    per-query number misattributes it as query cost. Covers the MinHash
    signature+candidate index (x2 family), the bucketed band index
    (x2f), the anomalies table (r7/r9/r10) and the IVF / IVFADC ANN
    indexes (x3c / x3e); the x27 nprobe curve sweeps over the x3c index."""
    from real_time_event_streaming_analytics_platform_spark.catalog import (
        clear_derived,
        load,
    )
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        candidate_index,
        standing_band_index,
    )
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        hard_negatives_sweep,
        ivf_assignments,
        ivf_probe,
        ivfadc_index,
        ivfadc_probe,
        with_norm,
    )
    from real_time_event_streaming_analytics_platform_spark.operators.reference import (
        anomalies_index,
    )
    from real_time_event_streaming_analytics_platform_spark.plans.registry import (
        release_tracked,
    )

    out: dict[str, float] = {}
    try:
        # the main loop built these tables (untouched by clearCache);
        # forget them so each build is measured as a build
        clear_derived()
        for key, build, query in (
            ("x2", candidate_index, "x2_minhash_near_dup"),
            ("x2f", standing_band_index, "x2f_incremental_dedup"),
            ("r10", anomalies_index, "r10_conditional_agg"),
        ):
            out[f"{key}_build_sec"], _ = measure(lambda: build(spark, sf_dir), 1)
            out[f"{key}_probe_sec"], _ = measure(
                lambda: noop(engine.QUERIES[query](spark, sf_dir)), 1
            )
    except Exception as exc:
        print(f"bench: dedup/anomalies index split failed: {exc!r}", file=sys.stderr)
    try:
        emb_raw = load(spark, sf_dir, "embeddings")
        emb = with_norm(emb_raw)
        out["x3c_build_sec"], (assigned, centers) = _timed_persist(
            lambda: ivf_assignments(emb)
        )
        out["x3c_probe_sec"], _ = measure(
            lambda: noop(ivf_probe(spark, assigned, centers)), 1, keep_cache=True
        )
        # x27 wall-vs-nprobe curve at the registered nlist=16: nprobe=8 is
        # the default, 4 and 16 bound the trade. It sweeps over the x3c
        # index (the same ivf_assignments build), before the x3e block's
        # measure clears the cache, and the three tiers come from ONE
        # probe + scoring pass: the WIDEST tier is consumed first and
        # carries the shared pass; narrower tiers re-rank the persisted
        # scored rows.
        sweep = hard_negatives_sweep(emb_raw, (4, 8, 16), index=(assigned, centers))
        for nprobe in (16, 8, 4):
            out[f"x27_nprobe{nprobe}_sec"], _ = measure(
                lambda: noop(sweep[nprobe]), 1, keep_cache=True
            )
        release_tracked()
        assigned.unpersist()
        out["x3e_build_sec"], (idx, C, books) = _timed_persist(lambda: ivfadc_index(emb))
        out["x3e_probe_sec"], _ = measure(
            lambda: noop(ivfadc_probe(spark, idx, C, books, emb)), 1, keep_cache=True
        )
        idx.unpersist()
    except Exception as exc:
        print(f"bench: ivf split failed: {exc!r}", file=sys.stderr)
    return out


def _bloom_ab(spark, make) -> dict:
    """Broadcast off (the join shuffles, as it must once the filtered dim
    outgrows broadcast at scale), bloom off vs bloom forced through
    lowered thresholds (a bench-only override, verified in-plan as
    ``injected``), so the only variable is the bloom probe itself.
    ``make`` rebuilds the frame per measurement so physical planning
    reads that measurement's confs."""
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        enable_runtime_bloom_filters,
    )

    out: dict = {}
    with _conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
        },
    ):
        out["shuffle_nofilter_sec"], _ = measure(lambda: noop(make()))
        prev_thr = enable_runtime_bloom_filters(
            spark, application_side_min_bytes=1, creation_side_max_bytes=64 * 1024 * 1024
        )
        try:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            plan = make()._jdf.queryExecution().explainString(mode)
            out["injected"] = "might_contain" in plan
            out["shuffle_filtered_sec"], _ = measure(lambda: noop(make()))
        finally:
            _restore(spark, prev_thr)
    return out


def _bench_runtime_filter(spark, sf_dir: str, fires: bool) -> dict | None:
    """Forced-vs-default A/B for the runtime bloom-filter join carrier
    (q03b_filtered_multiway).

    - default_sec: the query as users run it (production thresholds —
      injection is a NO-OP at bench SF because the lineitem scan sits
      far below the 10 GB application-side threshold; at 100 TB it
      fires on this exact plan, pinned by
      tests/test_scale.py::test_q03b_runtime_filter_plan_shape);
    - shuffle_nofilter_sec / shuffle_filtered_sec: ``_bloom_ab``.
    fact_rows_total vs fact_rows_surviving quantify what the probe is
    worth: the delta is the fact volume the filter drops BEFORE the
    shuffle at scale. ``filter_fires`` (when ``fires``) repeats the pair
    on a RTF_MULT× on-disk fact table, where the probe does real work."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.catalog import load

    out: dict = {}
    try:
        build = engine.QUERIES["q03b_filtered_multiway"]
        out["default_sec"], _ = measure(lambda: noop(build(spark, sf_dir)))
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out["fact_rows_total"] = li.count()
        out["fact_rows_surviving"] = li.join(
            orders, li.l_orderkey == orders.o_orderkey, "left_semi"
        ).count()
        out.update(_bloom_ab(spark, lambda: build(spark, sf_dir)))
        out["note"] = (
            "default = production thresholds, injection is a deliberate no-op "
            "at this SF (scan below the 10 GB application-side threshold); the "
            "shuffle pair isolates the bloom probe with broadcast off — "
            "overhead-only at bench SF, while fact_rows_total vs "
            "fact_rows_surviving is the fraction of the 100 TB fact scan the "
            "probe drops before the shuffle; filter_fires is the measured "
            "point where the probe does real work"
        )
        if not fires:
            return out
        # the fact replicated on disk with join keys unchanged (the
        # filtered dim stays 1×), so the probe drops most of a
        # tens-of-millions-row fact scan before the shuffle
        d = tempfile.mkdtemp(prefix="sgr-bench-rtf-")
        try:
            write_replicas(spark, sf_dir, d, RTF_MULT, ("lineitem",))
            big_li = spark.read.parquet(f"{d}/lineitem.parquet")

            def joined():
                b = spark.read.parquet(f"{d}/lineitem.parquet")
                return b.join(orders, b.l_orderkey == orders.o_orderkey).agg(
                    F.count("*").alias("n"), F.sum("l_extendedprice").alias("rev")
                )

            out["filter_fires"] = {
                "mult": RTF_MULT,
                "fact_rows_total": big_li.count(),
                "fact_rows_surviving": big_li.join(
                    orders, big_li.l_orderkey == orders.o_orderkey, "left_semi"
                ).count(),
                **_bloom_ab(spark, joined),
                "note": (
                    "fact replicated on disk, dim 1x, broadcast off; bloom "
                    "forced via documented bench-only threshold override and "
                    "verified in-plan (injected); the nofilter-vs-filtered "
                    "delta is the measured value of dropping non-surviving "
                    "fact rows before the shuffle"
                ),
            }
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception as exc:
        print(f"bench: runtime filter A/B failed: {exc!r}", file=sys.stderr)
        return out or None
    return out


def _bench_shard_store(spark, sf_dir: str) -> dict | None:
    """Measured evidence for the incremental shard store's lifecycle
    (S35-S41): export N micro-batches, compact, and read the manifest
    both ways. The number that matters at 100 TB is the manifest-read
    pair — the fast form folds O(epochs) partial rows while the
    full-scan form re-reads every document, so the gap widens linearly
    with store size while the fast wall stays flat."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.streaming.sinks import (
        compact_shard_store,
        shard_export_writer,
        shard_store_manifest,
        shard_store_manifest_fast,
    )

    out: dict = {}
    d = tempfile.mkdtemp(prefix="sgr-bench-shardstore-")
    st = f"{d}/st"
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
        n_batches = 8
        write = shard_export_writer(st)
        out["export_8_batches_sec"], _ = measure(
            lambda: [write(docs.where(F.col("doc_id") % n_batches == e), e) for e in range(n_batches)],
            1,
        )

        def manifests(suffix: str) -> None:
            out[f"manifest_full_scan_sec{suffix}"], _ = measure(
                lambda: shard_store_manifest(spark, st).collect()
            )
            out[f"manifest_fast_sec{suffix}"], _ = measure(
                lambda: shard_store_manifest_fast(spark, st).collect()
            )

        manifests("_precompact")
        reports = []
        out["compact_sec"], _ = measure(
            lambda: reports.append(compact_shard_store(spark, st)), 1
        )
        out["files_before"] = sum(v["files_before"] for v in reports[0].values())
        out["files_after"] = sum(v["files_after"] for v in reports[0].values())
        manifests("")
        # S41: an overlapping fresh-checkpoint restart appends duplicate
        # rows; the reconcile compaction is the store-level closure —
        # measure what the dedup adds over the plain compact above.
        shard_export_writer(st, checkpoint=f"{d}/ck2")(docs.where(F.col("doc_id") % 2 == 0), 0)
        out["reconcile_compact_sec"], _ = measure(
            lambda: reports.append(compact_shard_store(spark, st, reconcile_docs=True)), 1
        )
        out["reconcile_docs_dropped"] = sum(
            v.get("docs_dropped", 0) for v in reports[1].values()
        )
        out["note"] = (
            "8-batch export into (shard, run, epoch) partitions + partials, "
            "then compaction to 1 sorted file/shard; manifest walls are the "
            f"median_low of {REPS} collects. fast folds O(epochs) partial "
            "rows; full re-scans every document — at bench SF both are "
            "small, the claim the pair evidences is the SHAPE. "
            "reconcile_compact folds an overlapping-restart store (50% "
            "duplicated) back to exactly-once (S41)"
        )
    except Exception as exc:
        print(f"bench: shard store lifecycle failed: {exc!r}", file=sys.stderr)
        return out or None
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _bench_skew(spark, sf: float | None) -> dict[str, float]:
    """Aggregation-skew demonstration on a fixture where ONE key holds
    50% of the rows (~1e8·sf rows total, generated — no testdata table
    is this large).

    The skew-bound shape is the per-key WINDOW aggregate: partitionBy
    on the hot key puts half the dataset on one task (plain groupBy is
    de-skewed by map-side partial aggregation, count-distinct by the
    two-level rewrite, joins by AQE — a window has no such rescue).
    ``salted_window`` (operators/scale.py) is the salted_agg +
    broadcast-join rewrite with identical output; both are timed through
    ``noop`` and checked equal (integer values, so both sums are
    exact)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        salted_window,
    )

    out: dict[str, float] = {}
    try:
        n = int(1e8 * (sf or 0.01))
        skewed = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(400)).cast("string")))
            .alias("k"),
            (F.col("id") % 1000).alias("v"),  # long: exact sums both paths
        )
        skewed = skewed.persist()
        skewed.count()

        def checksum(frame) -> int:
            return frame.agg(F.sum(F.col("total") + F.col("n"))).collect()[0][0]

        w = Window.partitionBy("k")
        plain = skewed.withColumn("total", F.sum("v").over(w)).withColumn(
            "n", F.count("*").over(w)
        )
        rewrite = salted_window(skewed, "k", {"total": "sum(v)", "n": "count(*)"})
        assert checksum(plain) == checksum(rewrite), "skew rewrite changed results"
        out["skew_window_plain_sec"], _ = measure(lambda: noop(plain), keep_cache=True)
        out["skew_salted_rewrite_sec"], _ = measure(lambda: noop(rewrite), keep_cache=True)
        skewed.unpersist()
    except Exception as exc:
        print(f"bench: skew demo failed: {exc!r}", file=sys.stderr)
    return out


def _bench_slo(spark, sf_dir: str) -> dict:
    """SLO-comparable numbers against BASELINE.md: serving-path latencies
    (/kpi <=0.150s hot, /series <0.5s, /alerts <0.2s targets), ingest
    events/sec (>=5000 target) and detect-to-alert (<2 s). Serving
    latencies are measured on warm (cached) tables — the baseline's hot
    path reads Redis/indexed rows, ours reads an in-memory table; the
    cold full-scan cost is what the r-series timings capture."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.serving import (
        alerts,
        hot_anchor,
        kpi,
        series,
    )
    from real_time_event_streaming_analytics_platform_spark.serving.hotstore import HotStore
    from real_time_event_streaming_analytics_platform_spark.sources.fixtures import (
        generate_events,
        write_jsonl,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.anomaly import (
        anomaly_stream,
    )
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        parse_events,
        read_event_stream,
    )

    out: dict = {
        "slo_targets_sec": {
            "kpi_p50_sec": 0.150,
            "series_sec": 0.500,
            "alerts_sec": 0.200,
            "detect_to_alert_sec": 2.0,
        }
    }
    # filled in place, so a mid-block exception still leaves whatever was
    # measured on the record
    slo_samples: dict[str, list] = {}
    out["slo_samples"] = slo_samples
    d = tempfile.mkdtemp(prefix="sgr-bench-ingest-")
    try:
        events = (
            load(spark, sf_dir, "events")
            .select(
                "event_id",
                "ts",
                F.col("event_type").alias("source"),
                F.col("value").alias("metric"),
            )
            .cache()
        )
        events.count()  # warm the cache (the "hot store" stand-in)

        # Single-partition cache: the hot table is tiny (sources ×
        # minutes), but the groupBy leaves it spread across all shuffle
        # partitions — every serving read then schedules one task per
        # partition just to scan a handful of rows. Coalescing to 1
        # makes each /kpi read a single-task job.
        hot = (
            events.groupBy(
                "source", F.date_trunc("minute", "ts").alias("window_start")
            )
            .agg(F.count("*").alias("count_events"), F.avg("metric").alias("avg_metric"))
            .withColumn("window", F.lit("1m"))
            .coalesce(1)
            .cache()
        )
        hot.count()

        # Steady-state serving: the anchor is computed once per hot-table
        # refresh (hot_anchor), and /series reads the minute rollup the
        # streaming job maintains — neither re-aggregates raw events per
        # request. Each sample is what a caller pays per request: the API
        # call plus collect() (median_low of 5); the serving layer
        # re-executes its prepared plan for the repeats.
        anchor = hot_anchor(hot)
        out["kpi_p50_sec"], slo_samples["kpi_p50_sec"] = measure(
            lambda: kpi(hot, window="1m", limit=100, anchor=anchor).collect(),
            5,
            keep_cache=True,
        )
        # The production /kpi path (the reference's Redis key scan, no
        # query engine): the foreachBatch-maintained in-process HotStore,
        # populated once from the rollup with TTL-live keys only
        # (EventAggregationJob TTL=1h), then read per request.
        store = HotStore()
        live = hot.where(
            F.col("window_start") >= F.lit(anchor) - F.expr("INTERVAL 3600 SECONDS")
        )
        store.upsert_writer(window="1m")(live, 0)
        out["kpi_hot_store_p50_sec"], _ = measure(
            lambda: store.kpi(window="1m", limit=100), 1000, keep_cache=True
        )
        # /series requires a bounded from/to range in the reference API
        # (read-api main.py:296-297): the trailing hour, the dashboard's
        # request shape, served from the minute rollup.
        out["series_sec"], slo_samples["series_sec"] = measure(
            lambda: series(
                events, start=anchor - timedelta(hours=1), end=anchor, agg="avg", rollup=hot
            ).collect(),
            5,
            keep_cache=True,
        )
        scored = events.select(
            "event_id",
            "ts",
            "source",
            F.when(F.col("metric") > 400, "critical").otherwise("info").alias("severity"),
        )
        out["alerts_sec"], slo_samples["alerts_sec"] = measure(
            lambda: alerts(scored, severity="critical", limit=1000).collect(),
            5,
            keep_cache=True,
        )
        events.unpersist()
        hot.unpersist()
        out["slo_note"] = (
            "serving latencies are the median_low of 5 requests, each the "
            "API call plus collect(), on a quiet warm session (slo_samples "
            "holds each spread); "
            "a Spark job submission has a floor this engine cannot go below "
            "(spark_job_floor_sec at the top level), so kpi_hot_store_p50_sec "
            "is the production /kpi path: the foreachBatch-maintained "
            "in-process store, the reference's own Redis architecture, which "
            "runs no Spark job at all"
        )

        # ingest throughput: parse + flatten + watermark over generated
        # JSONL, every parsed column materialized through noop
        n = 50_000
        write_jsonl(generate_events(n, seed=13, interval_ms=20), f"{d}/in", n_files=4)
        raw = spark.read.text(f"{d}/in").withColumnRenamed("value", "raw")
        parsed_n = parse_events(raw).count()  # the row count, untimed
        sec, samples = measure(lambda: noop(parse_events(raw)))
        out["ingest_events_per_sec"] = round(parsed_n / sec)
        slo_samples["ingest_events_per_sec"] = [round(parsed_n / s) for s in samples]

        # detection-to-alert (<2s target, README.md:17): the steady-state
        # micro-batch time of the stateful anomaly job, read from the
        # engine's own progress reports — triggerExecution of the batches
        # AFTER the first, which pays one-time query/state-store startup.
        # The first stateful query of a session also pays state-store and
        # Python-worker init across ALL its batches, so a warm run goes
        # first and is discarded.
        ev = generate_events(8000, seed=17, interval_ms=50, outlier_rate=0.05)
        write_jsonl(ev, f"{d}/anom", n_files=4)
        for tag in ("warm", "timed"):
            # state partitions sized to the state (a handful of sources),
            # fixed at checkpoint creation; AQE never coalesces stateful
            # exchanges, so this is the one knob that must be explicit
            with _conf(spark, {"spark.sql.shuffle.partitions": "4"}):
                parsed = parse_events(
                    read_event_stream(spark, f"{d}/anom", max_files_per_trigger=1)
                )
                q = (
                    anomaly_stream(parsed)
                    .where(F.col("is_anomaly"))
                    .writeStream.format("memory")
                    .queryName(f"bench_anomaly_{tag}")
                    .outputMode("append")
                    .option("checkpointLocation", f"{d}/ck_anom_{tag}")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
        batches = [
            round(p["durationMs"]["triggerExecution"] / 1000.0, 3)
            for p in q.recentProgress
            if p["batchId"] > 0 and p["numInputRows"] > 0
        ]
        if batches:
            out["detect_to_alert_sec"] = statistics.median_low(batches)
            slo_samples["detect_to_alert_sec"] = batches
    except Exception as exc:  # SLO extras must never break the bench line
        print(f"bench: slo extras failed: {exc!r}", file=sys.stderr)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _promote() -> None:
    """Snapshot the current BENCH_DETAIL.json as BENCH_PREV.json — the
    committed previous-round reference the next run's vs_prev block
    compares against. Run (and commit the result) at each round
    boundary, after the round's official bench."""
    src = os.path.join(_HERE, "BENCH_DETAIL.json")
    dst = os.path.join(_HERE, "BENCH_PREV.json")
    shutil.copyfile(src, dst)
    print(f"promoted {src} -> {dst}")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--promote":
        _promote()
    else:
        main()
