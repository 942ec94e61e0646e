"""Mergeable sketch operators (Apache DataSketches HLL, built into Spark
4's ``hll_sketch_agg`` / ``hll_union_agg``).

The 100 TB story: COUNT(DISTINCT) over a year of events rescans the year
on every dashboard refresh. The sketch pipeline instead materializes ONE
small binary per (key, partition-day) — computed map-side, shuffled as a
few-KB payload — and answers any distinct-count question over any day
range by UNIONING the stored sketches, never touching raw data again.
Union is associative and lossless at fixed lgK, so incremental daily
builds compose exactly: the estimate from merged per-day sketches is
BIT-IDENTICAL to sketching the raw union (pinned by test_sketches.py).

Reference parity: the reference has no sketch surface (its distinct
counts are PostgreSQL COUNT(DISTINCT), services/read-api/main.py:283-335);
this is a north-star extension in the same family as x1 (HLL++
approx_count_distinct, operators/relational.py:452) but adds the
*materialize → merge incrementally* shape that x1's single-pass form
cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..plans.registry import query

# lgK = 12 → ~1.6% RSE, 2-4 KB per sketch; 4096 registers.
_LGK = 12


def daily_user_sketches(events: DataFrame) -> DataFrame:
    """Per (event_type, day) HLL sketch of user_id.

    Map-side partial sketching means each shuffle record is one partial
    sketch, not raw ids; the day column is the natural partition key for
    an incremental materialization (append today's sketches, never
    recompute history).
    """
    return events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(_LGK)).alias("sketch"))


def merge_distinct_estimate(sketches: DataFrame) -> DataFrame:
    """Union stored sketches per event_type → estimated distinct users."""
    return (
        sketches.groupBy("event_type")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("est_users"),
        )
    )


@query("x11_sketch_distinct")
def x11_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type via materialize-then-merge HLL.

    Rows-only at the driver (sketch estimates are not SQL-portable);
    tests/test_sketches.py pins (a) estimate within 5% of exact
    COUNT(DISTINCT), (b) merged-daily == direct single-pass estimate
    exactly, (c) incremental append of one more day's sketch updates the
    estimate without touching prior days.
    """
    events = load(spark, sf_dir, "events")
    return (
        merge_distinct_estimate(daily_user_sketches(events))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters (x12): the FREQUENCY-domain member of
# the mergeable-sketch family (x11 covers cardinality). A CMS is a d×w
# counter matrix updated at d hashed positions per token; merging two
# sketches is ELEMENTWISE ADDITION, so per-shard/per-day sketches
# materialized once answer "how often does token t appear corpus-wide"
# for any shard subset without rescanning text — the vocabulary /
# heavy-hitter tracking shape of a sharded LLM corpus pipeline.
# Estimates only ever OVER-count (each cell adds colliding tokens), and
# err ≤ ε·N with probability 1−δ for w=⌈e/ε⌉, d=⌈ln(1/δ)⌉.
#
# Spark shape: the counter matrix is built ENTIRELY JVM-side — explode
# each token into its d cell ids, groupBy (grp, cell) count (map-side
# partial aggregation collapses the token stream before the shuffle, so
# the shuffle carries at most d·w counter triples per group, never
# tokens), then assemble the dense array with map_from_entries + a
# transform lookup. The merge is a zip_with(+) fold over collect_list —
# sketches are a few KB, so the merge input is |groups| rows regardless
# of corpus size.
# Hashing is xxhash64(token, seed=row) IN SPARK so sketch content is a
# deterministic function of the token multiset — merged-by-day equals
# built-directly bit-for-bit (pinned in tests).
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 1024


def _token_rows(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(group, token[, extra...]) rows: q25b's tokenization (lowercase
    alnum runs). The ONE definition of the rule — x12's sharded variant
    carries its shard column through ``extra_cols`` instead of copying
    the split/filter/explode."""
    return docs.select(
        F.col("lang").alias("grp"),
        *extra_cols,
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("token"),
    )


def cms_build(tokens: DataFrame, group_col: str = "grp") -> DataFrame:
    """Per-group CMS as a flat array<long> of length d·w.

    The d hash rows use xxhash64 with seed=row index; the counter update
    is a groupBy((grp, cell)) count followed by a sparse→dense assembly
    via map_from_entries + table lookup — all JVM-side, no UDF, and the
    shuffle carries (grp, cell, count) triples, never tokens.
    """
    cells = tokens.select(
        group_col,
        F.explode(
            F.array(
                *[
                    (
                        F.lit(r * _CMS_W)
                        + F.pmod(F.xxhash64("token", F.lit(r)), F.lit(_CMS_W))
                    ).alias("c")
                    for r in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    )
    sparse = cells.groupBy(group_col, "cell").agg(F.count("*").alias("n"))
    dense = (
        sparse.groupBy(group_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("cell").cast("int"), "n"))
            ).alias("m")
        )
        .select(
            group_col,
            F.expr(
                f"transform(sequence(0, {_CMS_D * _CMS_W - 1}),"
                " i -> coalesce(m[i], 0L))"
            ).alias("sketch"),
        )
    )
    return dense


def cms_merge(sketches: DataFrame, group_col: str = "grp") -> DataFrame:
    """Merge per-shard sketches per group: elementwise array addition via
    a zip_with(+) fold — pure JVM expression over few-KB payloads."""
    zero = F.expr(f"array_repeat(0L, {_CMS_D * _CMS_W})")
    return sketches.groupBy(group_col).agg(
        F.aggregate(
            F.collect_list("sketch"),
            zero,
            lambda acc, s: F.zip_with(acc, s, lambda a, b: a + b),
        ).alias("sketch")
    )


def cms_estimate(sketches: DataFrame, candidates: DataFrame) -> DataFrame:
    """Estimated count per (group, candidate token): min over the d
    hashed cells — broadcast the candidate list against the sketch row."""
    probes = sketches.join(F.broadcast(candidates), "grp")
    cell_cols = [
        F.element_at(
            "sketch",
            (
                F.lit(r * _CMS_W)
                + F.pmod(F.xxhash64("token", F.lit(r)), F.lit(_CMS_W))
            ).cast("int")
            + 1,
        )
        for r in range(_CMS_D)
    ]
    return probes.select(
        "grp", "token", F.least(*cell_cols).alias("est_count")
    )


@query("x12_cms_heavy_hitters")
def x12_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-token frequency estimates per lang from merged per-shard CMS.

    Shards = deterministic doc_id buckets (the stand-in for daily
    ingest partitions); candidates = each shard's local top tokens (the
    classic sketch+candidates heavy-hitter recipe — candidate
    generation is per-shard-local, only the sketch answers globally).
    Rows-only at the driver; tests pin the overestimate-only property,
    the ε·N error bound on a planted heavy hitter, and merged==direct
    bit-equality.
    """
    docs = load(spark, sf_dir, "documents")
    sharded = docs.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(4)))
    toks = _token_rows(sharded, "shard")
    per_shard = cms_build(
        toks.withColumn("grp", F.concat_ws("|", "grp", "shard")).drop("shard")
    ).select(
        F.split("grp", "\\|")[0].alias("grp"), "sketch"
    )
    merged = cms_merge(per_shard)
    # candidates: global top-10 tokens per lang computed exactly (small)
    counts = toks.groupBy("grp", "token").agg(F.count("*").alias("n"))
    from pyspark.sql import Window as W

    top = (
        counts.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("grp").orderBy(F.desc("n"), "token")
            ),
        )
        .where(F.col("rk") <= 10)
        .select("grp", "token")
    )
    return (
        cms_estimate(merged, top)
        .orderBy("grp", F.desc("est_count"), "token")
    )


# ---------------------------------------------------------------------------
# KLL quantile sketches (x13): the RANK-domain member of the mergeable
# family (x11 cardinality, x12 frequency). The reference's core serving
# numbers ARE percentiles (p95/p99 per source, EventAggregationJob.java
# metrics_1min shape) — computed there per-window over raw rows. At
# 100 TB, "p99 latency over an arbitrary day range" by rescanning raw
# history is the same anti-pattern as COUNT(DISTINCT): the KLL pipeline
# materializes one few-KB sketch per (key, day) — built map-side, the
# shuffle carries sketch bytes — and answers any-range quantiles by
# MERGING stored sketches (kll_merge_agg_double), never re-reading rows.
#
# Guarantees differ from HLL in one honest way: KLL compaction is
# randomized, so merged-daily and direct single-pass sketches are NOT
# bit-identical (unlike x11's exact union algebra) — the guarantee is a
# normalized RANK error (~1.65% at the default k=200, 99% confidence).
# The tests therefore pin rank accuracy (the estimate's empirical rank
# within ±2.5% of the target) for BOTH the direct and the merged path,
# plus the incremental-append shape.
# ---------------------------------------------------------------------------

_KLL_K = 200  # default accuracy/size point: ~1.65% rank error, ~5 KB


def daily_metric_sketches(events: DataFrame) -> DataFrame:
    """Per (event_type, day) KLL sketch of ``value`` — the incremental
    materialization unit (append today's sketches; history is frozen)."""
    return events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.kll_sketch_agg_double("value", F.lit(_KLL_K)).alias("sketch"))


def merge_quantile_estimates(
    sketches: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """Merge stored sketches per event_type → quantile estimates, one
    output column per requested quantile (p50/p95/p99 naming)."""
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    merged = sketches.groupBy("event_type").agg(
        F.kll_merge_agg_double("sketch").alias("merged")
    )
    est = merged.select(
        "event_type",
        F.kll_sketch_get_quantile_double("merged", qarr).alias("qs"),
    )
    # p50/p95/p99 naming: int(round(q*100)) — a str-replace scheme
    # produced `p5` for the MEDIAN (conventionally the 5th percentile)
    cols = [
        F.col("qs")[i].alias(f"p{int(round(q * 100))}")
        for i, q in enumerate(quantiles)
    ]
    return est.select("event_type", *cols)


@query("x13_sketch_quantiles")
def x13_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value p50/p95/p99 per event_type via materialize-then-merge KLL.

    Rows-only at the driver (randomized compaction makes estimates
    non-portable); tests/test_sketches.py pins rank accuracy of the
    direct and merged paths and the incremental-append shape."""
    events = load(spark, sf_dir, "events")
    return merge_quantile_estimates(daily_metric_sketches(events)).orderBy(
        "event_type"
    )


# ---------------------------------------------------------------------------
# Theta-sketch set expressions (x14): the SET-ALGEBRA member of the
# mergeable-sketch family. HLL (x11) answers |A| and |A∪B| only; a
# Theta sketch retains a hash SAMPLE of the set, so INTERSECTION and
# DIFFERENCE cardinalities compose too — "how many users does source A
# share with source B", "how many are exclusive to A" — the
# cross-source overlap accounting a training-corpus pipeline needs
# (e.g. dedup-budget attribution between crawls). Exact answers at
# 100 TB require shuffling full id sets per pair; per-source sketches
# are a few KB each and every pairwise expression is evaluated on the
# DRIVER-SIDE merged binaries (|sources|² tiny rows, no second scan).
#
# Reference parity: no theta surface in the reference (extension in the
# x11/x12/x13 family); built on Spark 4's Apache DataSketches bindings
# (theta_sketch_agg/theta_union/theta_intersection/theta_difference).
# ---------------------------------------------------------------------------


def source_user_theta(events: DataFrame) -> DataFrame:
    """Per-event_type Theta sketch of user_id (map-side partial
    sketching; the shuffle carries sketch binaries, not ids). The
    events table's event_type plays the "source/crawl" role, matching
    x11's grouping."""
    return events.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sketch")
    )


def theta_overlap_matrix(sketches: DataFrame) -> DataFrame:
    """All ordered source pairs with estimated |A|, |B|, |A∪B|, |A∩B|,
    |A\\B|. The pair join is a broadcast self-join over |sources| rows
    of few-KB binaries — constant-size work regardless of event count."""
    a = sketches.select(
        F.col("event_type").alias("src_a"), F.col("sketch").alias("sk_a")
    )
    b = sketches.select(
        F.col("event_type").alias("src_b"), F.col("sketch").alias("sk_b")
    )
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    return pairs.select(
        "src_a",
        "src_b",
        F.round(F.theta_sketch_estimate("sk_a")).cast("bigint").alias("users_a"),
        F.round(F.theta_sketch_estimate("sk_b")).cast("bigint").alias("users_b"),
        F.round(
            F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
        ).cast("bigint").alias("users_union"),
        F.round(
            F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b"))
        ).cast("bigint").alias("users_both"),
        F.round(
            F.theta_sketch_estimate(F.theta_difference("sk_a", "sk_b"))
        ).cast("bigint").alias("users_only_a"),
    )


@query("x14_theta_overlap")
def x14_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source user-set overlap via Theta sketches.

    Rows-only at the driver (sketch estimates are not SQL-portable);
    tests/test_sketches.py pins every pairwise estimate within
    tolerance of the exact join-computed truth, the inclusion-
    exclusion identity |A∪B| = |A| + |B| − |A∩B| on the estimates
    themselves, and that daily-merged sketches (theta_union_agg) give
    the same expression results as direct single-pass sketches."""
    events = load(spark, sf_dir, "events")
    return theta_overlap_matrix(source_user_theta(events)).orderBy(
        "src_a", "src_b"
    )


# ---------------------------------------------------------------------------
# DetKLL — a DETERMINISTIC fixed-buffer quantile sketch in pure Python
# (the MRL/KLL compactor lineage: Manku-Rajagopalan-Lindsay 1998,
# Karnin-Lang-Liberty 2016 — public; randomness replaced by an
# alternating per-level offset, the standard derandomization that
# trades the probabilistic bound for replay determinism).
#
# Why it exists alongside the JVM Datasketches KLL (x13, the
# production materialize-then-merge form): the transformWithState
# processor below keeps per-key quantile state INSIDE the Python
# worker, where JVM aggregate functions are unreachable — the state
# must be a plain serializable value. Determinism is load-bearing
# there: identical event streams under DIFFERENT micro-batch splits
# must leave identical sketch state, or the S33 batch-split-invariance
# parity test could not exist (the JVM KLL's randomized compaction
# cannot make that promise even to itself).
# ---------------------------------------------------------------------------

DETKLL_B = 400  # per-level buffer; rank error ~ O(levels / B), see test bar


class DetKLL:
    """Streaming quantile sketch over doubles. Level i holds items of
    weight 2^i; a full level sorts, keeps alternate elements (offset
    flips per compaction, cancelling drift), and promotes them. Memory
    is O(B · log(n/B)); insertion order determines state exactly."""

    __slots__ = ("b", "levels", "offsets", "n")

    def __init__(self, b: int = DETKLL_B, levels=None, offsets=None, n: int = 0):
        self.b = int(b)
        self.levels = [list(map(float, lv)) for lv in (levels or [[]])]
        self.offsets = list(offsets or [0])
        self.n = int(n)

    def extend(self, values) -> "DetKLL":
        for v in values:
            self.levels[0].append(float(v))
            self.n += 1
            if len(self.levels[0]) >= self.b:
                self._compact()
        return self

    def _compact(self) -> None:
        i = 0
        while i < len(self.levels):
            if len(self.levels[i]) >= self.b:
                buf = sorted(self.levels[i])
                keep_from = self.offsets[i] & 1
                self.offsets[i] += 1
                self.levels[i] = []
                if i + 1 == len(self.levels):
                    self.levels.append([])
                    self.offsets.append(0)
                self.levels[i + 1].extend(buf[keep_from::2])
            i += 1

    def quantile(self, q: float):
        items: list[tuple[float, int]] = []
        for i, lv in enumerate(self.levels):
            w = 1 << i
            items.extend((v, w) for v in lv)
        if not items:
            return None
        items.sort()
        target = q * self.n
        cum = 0
        for v, w in items:
            cum += w
            if cum >= target:
                return v
        return items[-1][0]

    def to_state(self) -> tuple:
        """(levels, offsets, n) — the TWS ValueState payload."""
        return (self.levels, self.offsets, self.n)

    @classmethod
    def from_state(cls, state, b: int = DETKLL_B) -> "DetKLL":
        if state is None:
            return cls(b)
        levels, offsets, n = state
        return cls(b, levels=list(levels), offsets=list(offsets), n=n)
