"""R-series: the reference platform's own operator semantics, batch form.

Each query mirrors a cited operator of the reference (SURVEY.md §2a /
§2c) over the driver's ``events`` table. Mapping of the reference event
to the testdata schema: ``source → event_type``, ``attributes.metric →
value``, ``status='error' → event_type='error'`` (FIXTURES.md §A).

Scale notes are attached per query: everything here is a single
declarative plan (shuffle only where the operator semantically requires
a repartition by key), so the same code runs unchanged on a 1000-executor
cluster over date-partitioned parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import derived, load, scratch_dir
from ..plans.registry import query
from .helpers import davg, fmt_ts, quant6, round2, sql_davg, sql_round2


def _with_anchor(events: DataFrame, df: DataFrame) -> DataFrame:
    """Attach `_anchor` = max(events.ts) as a broadcast scalar — one plan,
    one job; the anchor never leaves the cluster (replaces the former
    driver-side `.first()[0]`, which forced an extra full scan per query)."""
    anchor = events.agg(F.max("ts").alias("_anchor"))
    return df.join(F.broadcast(anchor))

# ---------------------------------------------------------------------------
# R1 — projection + validity filter (reference: EventAggregationJob.java
# 171-194 parse/flatten; :74-76 null filter; AnomalyDetectionJob.java:83
# metric > 0). Filter is pushed into the parquet scan by Catalyst.
# ---------------------------------------------------------------------------


@query(
    "r1_project_filter",
    oracle="""
    SELECT event_id, event_type, value
    FROM events WHERE value > 0
    ORDER BY event_id
    """,
)
def r1_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.where(F.col("value") > 0)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# R2 — keyed aggregate with error rate (EventAggregationJob.java:197-266:
# accumulator {count, sum, errorCount}). Spark: partial (map-side) then
# final HashAggregate — the merge step O21 is automatic.
# ---------------------------------------------------------------------------


@query(
    "r2_keyed_agg",
    oracle=f"""
    SELECT user_id, COUNT(*) AS c, {sql_davg('value')} AS avg_v,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def r2_keyed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("c"),
            davg("value").alias("avg_v"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errs"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# R3 — /series minute time-series aggregation (read-api main.py:317-334).
# The flagship "minimum slice": date_trunc bucket + per-source agg.
# ---------------------------------------------------------------------------


@query(
    "r3_series_minute",
    oracle=f"""
    SELECT event_type,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           COUNT(*) AS c, {sql_davg('value')} AS avg_v
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def r3_series_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "event_type", fmt_ts(F.date_trunc("minute", F.col("ts"))).alias("bucket")
        )
        .agg(F.count("*").alias("c"), davg("value").alias("avg_v"))
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# R4 — sliding event-time window, width 1 min slide 10 s: each event in
# exactly 6 windows (EventAggregationJob.java:81 SlidingEventTimeWindows).
# Spark's window() generator must equal the explicit 6-offset expansion.
# ---------------------------------------------------------------------------


@query(
    "r4_sliding_window",
    oracle="""
    SELECT strftime(make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) - off) // 60 * 60 + off)
                                   * 1000000), '%Y-%m-%d %H:%M:%S') AS ws,
           event_type, COUNT(*) AS c
    FROM events CROSS JOIN (VALUES (0), (10), (20), (30), (40), (50)) o(off)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def r4_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 minute", "10 seconds"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(fmt_ts(F.col("window.start")).alias("ws"), "event_type", "c")
        .orderBy("ws", "event_type")
    )


# ---------------------------------------------------------------------------
# R5 — interpolated percentile, the /series p95 path (read-api
# main.py:311 PERCENTILE_CONT). Spark percentile() ≡ DuckDB quantile_cont.
# ---------------------------------------------------------------------------


@query(
    "r5_percentile_cont",
    oracle=f"""
    SELECT event_type, {sql_round2('quantile_cont(value, 0.95)')} AS p95
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def r5_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(round2(F.percentile("value", 0.95)).alias("p95"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# R6 — the Flink job's nearest-rank percentile: sorted[⌊n·q⌋], 0-based
# (EventAggregationJob.java:247-253). Distinct from R5's interpolation —
# both semantics exposed, per SURVEY.md §7.3(1). collect_list per key is
# the exact path; at 100 TB swap to percentile_approx (documented).
# ---------------------------------------------------------------------------


@query(
    "r6_percentile_rank",
    oracle=f"""
    SELECT event_type,
           {sql_round2('list_sort(list(value))[CAST(floor(COUNT(*) * 0.95) AS INT) + 1]')} AS p95,
           {sql_round2('list_sort(list(value))[CAST(floor(COUNT(*) * 0.99) AS INT) + 1]')} AS p99
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def r6_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.sort_array(F.collect_list("value")).alias("vals"),
        F.count("*").alias("n"),
    )
    return g.select(
        "event_type",
        round2(F.expr("element_at(vals, CAST(floor(n * 0.95) AS INT) + 1)")).alias("p95"),
        round2(F.expr("element_at(vals, CAST(floor(n * 0.99) AS INT) + 1)")).alias("p99"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# R7/R8/R9/R10 — the anomaly detector's rolling-100 statistics
# (AnomalyDetectionJob.java:178-246,307-352), batch form: window frame
# ROWS BETWEEN 99 PRECEDING AND CURRENT ROW per event_type ordered by
# (ts, event_id). Population stddev matches ANO:211. The streaming twin
# (applyInPandasWithState) lives in streaming/anomaly.py; this frame is
# its correctness oracle (S4).
# ---------------------------------------------------------------------------

# Shared oracle CTE: per-event rolling stats + anomaly rows + severity.
# Threshold comparisons quantize z to 1e-6 first (helpers.quant6): window
# AVG/STDDEV_POP can differ between engines in the last ULPs, and an
# unquantized `z > 3` would let that noise flip borderline rows.
_ANOM_CTE = """
    WITH scored AS (
        SELECT event_id, ts, event_type, value,
               COUNT(*) OVER w AS cnt,
               AVG(value) OVER w AS mean,
               STDDEV_POP(value) OVER w AS sd
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    ),
    anomalies_t AS (
        SELECT event_id, ts, event_type, value, z,
               CASE WHEN ABS(zq) > 4.0 THEN 'critical'
                    WHEN ABS(zq) > 3.5 THEN 'warning'
                    ELSE 'info' END AS severity
        FROM (
            SELECT event_id, ts, event_type, value, cnt, sd,
                   (value - mean) / sd AS z,
                   floor((value - mean) / sd * 1000000 + 0.5) / 1000000 AS zq
            FROM scored
        )
        WHERE cnt >= 10 AND sd > 0 AND ABS(zq) > 3
    )
"""


def _rolling_scored(events: DataFrame) -> DataFrame:
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, 0)
    )
    return events.select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.count("*").over(w).alias("cnt"),
        F.avg("value").over(w).alias("mean"),
        F.stddev_pop("value").over(w).alias("sd"),
    )


def anomalies_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anomalies table, written once per session. This mirrors the
    reference architecture: the anomaly job writes alerts to a TABLE
    (anomalies_db topic → TimescaleDB) and /alerts + the stats endpoints
    read it — they never re-run detection per request. r7 (full scan),
    r9 (filtered scan) and r10 (conditional agg) share it instead of
    each re-sorting the event stream through the rolling window."""

    def build() -> str:
        path = scratch_dir("sgr-anomalies-") + "/anomalies_t"
        events = load(spark, sf_dir, "events")
        _anomalies_t(events).write.mode("overwrite").parquet(path)
        return path

    return spark.read.parquet(derived(spark, sf_dir, "events", "anomalies", build))


def _anomalies_t(events: DataFrame) -> DataFrame:
    """Anomaly rows + severity tiers (AnomalyDetectionJob.java:327-337:
    >4.0 critical, >3.5 warning, else info). Thresholds compare the
    1e-6-quantized z (see _ANOM_CTE note)."""
    scored = _rolling_scored(events)
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    zq = quant6(z)
    return (
        scored.where((F.col("cnt") >= 10) & (F.col("sd") > 0) & (F.abs(zq) > 3))
        .select(
            "event_id",
            "ts",
            "event_type",
            "value",
            z.alias("z"),
            F.when(F.abs(zq) > 4.0, "critical")
            .when(F.abs(zq) > 3.5, "warning")
            .otherwise("info")
            .alias("severity"),
        )
    )


@query(
    "r7_rolling_zscore",
    oracle=_ANOM_CTE
    + f"""
    SELECT event_id, event_type, value, {sql_round2('z')} AS z, severity
    FROM anomalies_t ORDER BY event_id
    """,
)
def r7_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        anomalies_index(spark, sf_dir)
        .select("event_id", "event_type", "value", round2("z").alias("z"), "severity")
        .orderBy("event_id")
    )


@query(
    "r8_rolling_median",
    oracle=f"""
    SELECT event_id, event_type,
           {sql_round2("median(value) OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)")} AS med
    FROM events ORDER BY event_id
    """,
)
def r8_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling median (the MAD numerator, AnomalyDetectionJob.java:215-246);
    # full MAD is exercised by the stateful streaming processor (S4 test).
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, 0)
    )
    return events.select(
        "event_id",
        "event_type",
        round2(F.percentile("value", 0.5).over(w)).alias("med"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# R8b — the COMPLETE anomaly scorer: rolling median + MAD + z, with
# anomaly_type ∈ {z-score, mad, normal} and severity tiers, mirroring
# AnomalyDetectionJob.java:203-246 (median/MAD array math: even-size →
# mean of the two middles) and :305-345 (scoring, type, severity).
# Median/MAD are computed from the frame's collected values with pure
# array expressions — identical arithmetic on identical doubles in both
# engines, so mad_score is bitwise reproducible; z thresholds use the
# 1e-6-quantized z as elsewhere.
# ---------------------------------------------------------------------------

# median of a sorted array (1-based element_at), Java semantics
_MED_SPARK = (
    "CASE WHEN {n} % 2 = 0 THEN (element_at({a}, CAST({n} div 2 AS INT)) + element_at({a}, CAST({n} div 2 AS INT) + 1)) / 2.0 "
    "ELSE element_at({a}, CAST({n} div 2 AS INT) + 1) END"
)
_MED_DUCK = (
    "CASE WHEN {n} % 2 = 0 THEN (({a})[{n} // 2] + ({a})[{n} // 2 + 1]) / 2.0 "
    "ELSE ({a})[{n} // 2 + 1] END"
)


@query(
    "r8b_rolling_mad",
    oracle=f"""
    WITH framed AS (
        SELECT event_id, event_type, value,
               COUNT(*) OVER w AS cnt,
               AVG(value) OVER w AS mean,
               STDDEV_POP(value) OVER w AS sd,
               list_sort(list(value) OVER w) AS vals
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    ),
    med1 AS (
        SELECT *, {_MED_DUCK.format(a='vals', n='cnt')} AS med FROM framed WHERE cnt >= 10
    ),
    med2 AS (
        SELECT *, {_MED_DUCK.format(a="list_sort(list_transform(vals, x -> abs(x - med)))", n='cnt')} AS mad
        FROM med1
    ),
    scored AS (
        SELECT event_id, event_type, value, med, mad,
               CASE WHEN sd > 0 THEN (value - mean) / sd ELSE 0.0 END AS z,
               floor((CASE WHEN sd > 0 THEN (value - mean) / sd ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS zq,
               CASE WHEN mad > 0 THEN abs(value - med) / mad ELSE 0.0 END AS mad_score
        FROM med2
    )
    SELECT event_id, event_type, value,
           {sql_round2('z')} AS z, {sql_round2('mad_score')} AS mad_score,
           CASE WHEN ABS(zq) > 3 THEN 'z-score'
                WHEN mad_score > 3 THEN 'mad'
                ELSE 'normal' END AS anomaly_type,
           CASE WHEN ABS(zq) > 3 OR mad_score > 3 THEN
                    CASE WHEN ABS(zq) > 4.0 OR mad_score > 4.0 THEN 'critical'
                         WHEN ABS(zq) > 3.5 OR mad_score > 3.5 THEN 'warning'
                         ELSE 'info' END
                ELSE 'info' END AS severity
    FROM scored ORDER BY event_id
    """,
)
def r8b_rolling_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = rolling_mad_scores(load(spark, sf_dir, "events"), "event_type", "value")
    return scored.select(
        "event_id",
        "event_type",
        "value",
        round2("z").alias("z"),
        round2("mad_score").alias("mad_score"),
        "anomaly_type",
        "severity",
    ).orderBy("event_id")


def rolling_mad_scores(events: DataFrame, key: str, value: str) -> DataFrame:
    """R8b's scorer over any event frame: per ``key``, a 100-row frame in
    (ts, event_id) order, scored once it holds at least 10 rows. Returns
    (event_id, key, ts, value, z, mad_score, anomaly_type, severity,
    is_anomaly) with z and mad_score unrounded. Also the batch oracle of
    the streaming anomaly scorer (streaming/anomaly.py)."""
    w = Window.partitionBy(key).orderBy("ts", "event_id").rowsBetween(-99, 0)
    framed = events.select(
        "event_id",
        key,
        "ts",
        F.col(value).alias("value"),
        F.count("*").over(w).alias("cnt"),
        F.avg(value).over(w).alias("mean"),
        F.stddev_pop(value).over(w).alias("sd"),
        F.sort_array(F.collect_list(value).over(w)).alias("vals"),
    ).where(F.col("cnt") >= 10)
    med1 = framed.withColumn("med", F.expr(_MED_SPARK.format(a="vals", n="cnt")))
    med2 = med1.withColumn(
        "mad",
        F.expr(
            _MED_SPARK.format(
                a="array_sort(transform(vals, x -> abs(x - med)))", n="cnt"
            )
        ),
    )
    z = F.when(F.col("sd") > 0, (F.col("value") - F.col("mean")) / F.col("sd")).otherwise(
        F.lit(0.0)
    )
    scored = med2.select(
        "event_id",
        key,
        "ts",
        "value",
        z.alias("z"),
        quant6(z).alias("zq"),
        F.when(
            F.col("mad") > 0, F.abs(F.col("value") - F.col("med")) / F.col("mad")
        )
        .otherwise(F.lit(0.0))
        .alias("mad_score"),
    )
    is_z = F.abs(F.col("zq")) > 3
    is_mad = F.col("mad_score") > 3
    sev = F.when(
        is_z | is_mad,
        F.when((F.abs(F.col("zq")) > 4.0) | (F.col("mad_score") > 4.0), "critical")
        .when((F.abs(F.col("zq")) > 3.5) | (F.col("mad_score") > 3.5), "warning")
        .otherwise("info"),
    ).otherwise("info")
    return scored.select(
        "event_id",
        key,
        "ts",
        "value",
        "z",
        "mad_score",
        F.when(is_z, "z-score").when(is_mad, "mad").otherwise("normal").alias(
            "anomaly_type"
        ),
        sev.alias("severity"),
        (is_z | is_mad).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# R6b — the 100 TB percentile path: percentile_approx (one pass, bounded
# state per group) instead of R6's collect_list (unbounded per-key state).
# No SQL oracle (sketch semantics are engine-specific); tolerance vs the
# exact R6 asserted in tests/test_functions.py. Production deployments use
# THIS variant; R6 stays as the semantics oracle.
# ---------------------------------------------------------------------------


@query("r6b_percentile_approx")
def r6b_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            round2(F.percentile_approx("value", 0.95, 10000)).alias("p95"),
            round2(F.percentile_approx("value", 0.99, 10000)).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "r9_alerts_scan",
    oracle=_ANOM_CTE
    + """
    SELECT event_id, strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type, value, severity
    FROM anomalies_t
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL '24 hours'
      AND severity = 'critical'
    ORDER BY ts DESC, event_id LIMIT 1000
    """,
)
def r9_alerts_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # /alerts filtered scan: conjunctive predicates + ORDER BY ts DESC
    # LIMIT 1000 (read-api main.py:385-400). Catalyst plans the limit as
    # TakeOrderedAndProject — no global sort materialization.
    events = load(spark, sf_dir, "events")
    return (
        _with_anchor(events, anomalies_index(spark, sf_dir))
        .where(
            (F.col("ts") >= F.col("_anchor") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("severity") == "critical")
        )
        .orderBy(F.col("ts").desc(), "event_id")
        .limit(1000)
        .select(
            "event_id",
            fmt_ts(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
            "event_type",
            "value",
            "severity",
        )
    )


@query(
    "r10_conditional_agg",
    oracle=_ANOM_CTE
    + """
    SELECT severity, COUNT(*) AS total,
           CAST(SUM(CASE WHEN ts > (SELECT max(ts) FROM events) - INTERVAL '1 hour'
                         THEN 1 ELSE 0 END) AS BIGINT) AS last_hour
    FROM anomalies_t GROUP BY 1 ORDER BY 1
    """,
)
def r10_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # COUNT(CASE WHEN ...) per severity (alert-service main.py:465-474).
    events = load(spark, sf_dir, "events")
    return (
        _with_anchor(events, anomalies_index(spark, sf_dir))
        .groupBy("severity")
        .agg(
            F.count("*").alias("total"),
            F.sum(
                F.when(
                    F.col("ts") > F.col("_anchor") - F.expr("INTERVAL 1 HOUR"), 1
                ).otherwise(0)
            ).alias("last_hour"),
        )
        .orderBy("severity")
    )


# ---------------------------------------------------------------------------
# R11 — /kpi latest-N per key (read-api main.py:228-291: newest window
# rows per source, LIMIT). Subquery + ROW_NUMBER form.
# ---------------------------------------------------------------------------


@query(
    "r11_kpi_latest_per_key",
    oracle="""
    SELECT event_type, bucket, c, rn FROM (
        SELECT event_type, bucket, c,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket DESC) AS rn
        FROM (
            SELECT event_type,
                   strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                   COUNT(*) AS c
            FROM events GROUP BY 1, 2
        )
    ) WHERE rn <= 3 ORDER BY event_type, bucket
    """,
)
def r11_kpi_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    minute_aggs = events.groupBy(
        "event_type", fmt_ts(F.date_trunc("minute", F.col("ts"))).alias("bucket")
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy(F.col("bucket").desc())
    return (
        minute_aggs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# R12 — relative-time view (01-init-timescaledb.sql:68-84 events_last_hour)
# anchored to max(ts), never wall clock (determinism convention).
# ---------------------------------------------------------------------------


@query(
    "r12_relative_time",
    oracle="""
    SELECT event_id, event_type FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL '1 hour'
    ORDER BY event_id
    """,
)
def r12_relative_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        _with_anchor(events, events)
        .where(F.col("ts") >= F.col("_anchor") - F.expr("INTERVAL 1 HOUR"))
        .select("event_id", "event_type")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# R13 — JSONB attribute extraction (sql:12 attributes JSONB; GIN-indexed
# predicates become scan+filter in Spark — SURVEY.md §7.3(5)).
# ---------------------------------------------------------------------------


@query(
    "r13_json_extract",
    oracle="""
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS c
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def r13_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.get_json_object("props", "$.k").cast("int").alias("k")
        )
        .agg(F.count("*").alias("c"))
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# R13b — the same JSONB access through Spark 4's VARIANT type
# (parse_json → variant_get): the 100 TB semi-structured path. r13's
# get_json_object re-parses the JSON string at every access; VARIANT
# parses once into a binary-encoded value that downstream extractions
# (and, when persisted, the parquet variant shredding) read without
# re-tokenizing — the PostgreSQL JSONB analogue (the reference stores
# attributes as JSONB, 01-init-timescaledb.sql). Oracle-identical to
# r13 by construction: both engines must agree that the variant path
# changes the execution strategy, never the answer. The shredding claim
# is PINNED, not aspirational: tests/test_variant_shredding.py asserts
# the persisted footer carries typed_value groups and that an
# extraction's scan reads ReadSchema struct<v:struct<0:int>> — one
# shredded column, never the variant binary.
# ---------------------------------------------------------------------------


@query(
    "r13b_variant_json",
    oracle="""
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS c
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def r13b_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.select(F.parse_json("props").alias("v"))
        .groupBy(F.try_variant_get("v", "$.k", "int").alias("k"))
        .agg(F.count("*").alias("c"))
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# R14 — severity classification thresholds (AnomalyDetectionJob.java:
# 327-337), value-domain variant per SURVEY §2c.
# ---------------------------------------------------------------------------


@query(
    "r14_severity_case",
    oracle="""
    SELECT event_id,
           CASE WHEN value > 400 THEN 'critical'
                WHEN value > 350 THEN 'warning'
                ELSE 'info' END AS sev
    FROM events ORDER BY event_id
    """,
)
def r14_severity_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.when(F.col("value") > 400, "critical")
        .when(F.col("value") > 350, "warning")
        .otherwise("info")
        .alias("sev"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# R15 — cooldown dedup, batch form (alert-service main.py:186-202): keep
# the first event per (user_id, event_type) per 5-minute bucket. The
# wall-clock streaming twin is streaming/alerts.py.
# ---------------------------------------------------------------------------


@query(
    "r15_cooldown_dedup",
    oracle="""
    SELECT event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type,
                                  CAST(floor(epoch(ts)) AS BIGINT) // 300
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY event_id
    """,
)
def r15_cooldown_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / 300).cast("bigint")  # 5-min bucket
    w = Window.partitionBy("user_id", "event_type", bucket.alias("b")).orderBy(
        "ts", "event_id"
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# R16 — Alertmanager webhook ingestion (alert-service main.py:408-435):
# webhook JSON payloads are parsed, each alert normalized into the
# AlertPayload shape and fed to the alert path. The query proves the
# round trip exactly: it FORMATS webhook payloads from error events
# (to_json, batched 20 alerts per payload like Alertmanager grouping),
# PARSES them back through streaming/alertmanager.parse_webhook, and the
# oracle computes the normalized output straight from events — so any
# drift in schema, label/annotation defaulting, or timestamp handling
# breaks the hash. Scale: pure from_json/explode projection, no
# shuffle except the payload-batching groupBy (which exists only to
# fabricate test payloads; real ingestion is already payload-shaped).
# ---------------------------------------------------------------------------


@query(
    "r16_alertmanager_ingest",
    oracle="""
    SELECT CAST(event_id AS VARCHAR) AS alert_id,
           'host-' || CAST(user_id % 8 AS VARCHAR) AS source,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           'infrastructure' AS anomaly_type,
           CASE WHEN value > 150 THEN 'critical' ELSE 'warning' END AS severity,
           CASE WHEN user_id % 5 = 0 THEN 'Infrastructure alert'
                ELSE 'error on host-' || CAST(user_id % 8 AS VARCHAR) END
               AS description,
           TRUE AS is_anomaly
    FROM events WHERE event_type = 'error'
    ORDER BY event_id
    """,
)
def r16_alertmanager_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.alertmanager import parse_webhook

    events = load(spark, sf_dir, "events")
    errs = events.filter(F.col("event_type") == "error")
    host = F.concat(F.lit("host-"), (F.col("user_id") % 8).cast("string"))
    labels_min = F.create_map(F.lit("instance"), host)
    labels_sev = F.create_map(
        F.lit("instance"), host, F.lit("severity"), F.lit("critical")
    )
    annotations = F.when(
        F.col("user_id") % 5 == 0, F.create_map().cast("map<string,string>")
    ).otherwise(F.create_map(F.lit("summary"), F.concat(F.lit("error on "), host)))
    alert = F.struct(
        F.lit("firing").alias("status"),
        F.when(F.col("value") > 150, labels_sev).otherwise(labels_min).alias("labels"),
        annotations.alias("annotations"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("startsAt"),
        F.lit(None).cast("string").alias("endsAt"),
        F.lit(None).cast("string").alias("generatorURL"),
        F.col("event_id").cast("string").alias("fingerprint"),
    )
    payloads = (
        errs.groupBy((F.col("event_id") % 20).alias("_g"))
        .agg(F.collect_list(alert).alias("alerts"))
        .select(
            F.to_json(
                F.struct(
                    F.lit("4").alias("version"),
                    F.concat(F.lit("{}/{}:"), F.col("_g").cast("string")).alias(
                        "groupKey"
                    ),
                    F.lit("firing").alias("status"),
                    F.lit("spark-engine").alias("receiver"),
                    F.col("alerts"),
                )
            ).alias("value")
        )
    )
    parsed = parse_webhook(payloads, firing_only=True)
    return parsed.select(
        "alert_id",
        "source",
        fmt_ts("ts").alias("ts_s"),
        "anomaly_type",
        "severity",
        "description",
        "is_anomaly",
    ).orderBy(F.col("alert_id").cast("int"))
