"""Serving-layer tests: kpi/series/alerts mirror the read-API semantics
(read-api main.py:228-431), anchored on the same shapes R3/R9/R11 prove
against the oracle; hot-store upsert has Redis SET (last-write-wins)
semantics."""

import gc
import shutil
import sys
import tempfile
import threading
import weakref
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_analytics_platform_spark.catalog import load
from real_time_event_streaming_analytics_platform_spark.serving import (
    PLAN_CACHE_SIZE,
    active_alert_counts,
    alerts,
    hot_anchor,
    hot_store_writer,
    kpi,
    parse_window,
    plan_cache_info,
    read_hot_store,
    regroup_series,
    register_views,
    series,
)
from real_time_event_streaming_analytics_platform_spark.sources.fixtures import (
    generate_events,
    write_jsonl,
)
from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
    parse_events,
    read_event_stream,
    sliding_aggregates,
)


@pytest.fixture
def events(spark, sf_dir):
    # reference-shaped columns over the testdata events table
    return load(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.col("event_type").alias("source"),
        F.col("value").alias("metric"),
    )


def test_parse_window():
    assert parse_window("5m") == 300
    with pytest.raises(ValueError, match="unsupported window"):
        parse_window("7m")


def test_series_matches_plain_aggregate(spark, events):
    got = series(events, agg="avg").collect()
    expect = (
        events.groupBy("source", F.date_trunc("minute", "ts").alias("bucket"))
        .agg(F.avg("metric").alias("value"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    with pytest.raises(ValueError, match="unsupported agg"):
        series(events, agg="median")


def test_series_filters_and_regroup(spark, events):
    src = events.select("source").first()["source"]
    tall = series(events, source=src, agg="count")
    rows = tall.collect()
    assert rows and all(r["source"] == src for r in rows)
    nested = regroup_series(tall).collect()
    assert len(nested) == 1
    points = nested[0]["points"]
    assert len(points) == len(rows)
    assert [p["bucket"] for p in points] == sorted(p["bucket"] for p in points)


def test_alerts_scan_predicates_and_limit(spark, events):
    scored = events.select(
        "event_id", "ts", "source", F.lit("critical").alias("severity")
    )
    out = alerts(scored, severity="critical", limit=10).collect()
    assert len(out) == 10
    ts_list = [r["ts"] for r in out]
    assert ts_list == sorted(ts_list, reverse=True)
    assert alerts(scored, severity="nope").count() == 0


def test_active_alert_counts_trailing_hour(spark, events):
    scored = events.select(
        "event_id",
        "ts",
        F.when(F.col("metric") > 400, "critical").otherwise("info").alias("severity"),
    )
    counts = {r["severity"]: r["n"] for r in active_alert_counts(scored).collect()}
    anchor = events.agg(F.max("ts")).first()[0]
    expect = (
        scored.where(F.col("ts") > F.lit(anchor) - F.expr("INTERVAL 1 HOUR"))
        .groupBy("severity")
        .count()
        .collect()
    )
    assert counts == {r["severity"]: r["count"] for r in expect}


def test_register_views(spark, events):
    register_views(events)
    n = spark.table("events_last_hour").count()
    anchor = events.agg(F.max("ts")).first()[0]
    expect = events.where(
        F.col("ts") >= F.lit(anchor) - F.expr("INTERVAL 1 HOUR")
    ).count()
    assert n == expect


def test_hot_store_upsert_and_kpi(spark):
    d = tempfile.mkdtemp(prefix="sgr-hot-")
    try:
        # stream the fixture through sliding aggregates into the hot store
        events = generate_events(300, seed=55, interval_ms=500)
        write_jsonl(events, f"{d}/in", n_files=2)
        q = (
            sliding_aggregates(
                parse_events(read_event_stream(spark, f"{d}/in", max_files_per_trigger=1))
            )
            .withColumn("window", F.lit("1m"))
            .writeStream.foreachBatch(hot_store_writer(f"{d}/hot"))
            .outputMode("update")
            .option("checkpointLocation", f"{d}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        hot = read_hot_store(spark, f"{d}/hot")
        # last-write-wins: one row per (source, window, window_start)
        dup = (
            hot.groupBy("source", "window", "window_start")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert dup == 0
        top = kpi(hot, window="1m", limit=5).collect()
        assert 0 < len(top) <= 5
        starts = [r["window_start"] for r in top]
        assert starts == sorted(starts, reverse=True)
        # the hot-store counts must agree with a batch recomputation
        raw = spark.read.text(f"{d}/in").withColumnRenamed("value", "raw")
        batch = sliding_aggregates(parse_events(raw))
        merged = hot.select("source", "window_start", "count_events").join(
            batch.select("source", "window_start", F.col("count_events").alias("b_n")),
            ["source", "window_start"],
        )
        bad = merged.where(F.col("count_events") != F.col("b_n")).count()
        assert bad == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)

def test_series_rollup_path_matches_raw(spark, events):
    """Minute-bucket /series served from the pre-aggregated rollup must
    equal the raw-events aggregation; aggs the rollup lacks fall back."""
    hot = events.groupBy(
        "source", F.date_trunc("minute", "ts").alias("window_start")
    ).agg(F.count("*").alias("count_events"), F.avg("metric").alias("avg_metric"))
    for agg in ("avg", "count"):
        got = sorted(map(tuple, series(events, agg=agg, rollup=hot).collect()))
        raw = sorted(map(tuple, series(events, agg=agg).collect()))
        assert got == raw
    # p95 column absent from this rollup -> raw fallback, same result
    got = sorted(map(tuple, series(events, agg="p95", rollup=hot).collect()))
    raw = sorted(map(tuple, series(events, agg="p95").collect()))
    assert got == raw
    # non-minute buckets never touch the rollup
    got = sorted(map(tuple, series(events, agg="avg", bucket="hour", rollup=hot).collect()))
    raw = sorted(map(tuple, series(events, agg="avg", bucket="hour").collect()))
    assert got == raw


def test_kpi_precomputed_anchor_equivalent(spark, events):
    """kpi(anchor=hot_anchor(hot)) must equal the in-plan anchored form."""
    hot = (
        events.groupBy("source", F.date_trunc("minute", "ts").alias("window_start"))
        .agg(F.count("*").alias("count_events"))
        .withColumn("window", F.lit("1m"))
    )
    anchored = kpi(hot, window="1m", limit=50).collect()
    cached = kpi(hot, window="1m", limit=50, anchor=hot_anchor(hot)).collect()
    assert sorted(map(tuple, anchored)) == sorted(map(tuple, cached))


def test_series_gapfill_densifies_all_sources(spark, events):
    from real_time_event_streaming_analytics_platform_spark.serving.api import (
        gapfill_series,
    )

    sparse = series(events, bucket="hour", agg="count")
    dense = gapfill_series(sparse, bucket="hour").collect()
    n_sources = events.select("source").distinct().count()
    lo, hi = sparse.agg(F.min("bucket"), F.max("bucket")).collect()[0]
    n_buckets = int((hi - lo).total_seconds() // 3600) + 1
    # every source carries the full spine
    assert len(dense) == n_sources * n_buckets
    # observed buckets keep their values; gaps are NULL
    observed = {(r.source, r.bucket): r.value for r in sparse.collect()}
    for r in dense:
        if (r.source, r.bucket) in observed:
            assert r.value == observed[(r.source, r.bucket)]
        else:
            assert r.value is None


def test_kpi_inplan_anchor_is_global_even_for_stale_source(spark, events):
    """The in-plan anchor must equal hot_anchor's GLOBAL max: anchoring
    after the source filter would let a stale source's own max keep its
    rows alive forever, and the two documented-equivalent paths would
    disagree."""
    import datetime

    hot = spark.createDataFrame(
        [
            ("A", "1m", datetime.datetime(2024, 1, 1, 12, 0), 10.0),
            ("B", "1m", datetime.datetime(2024, 1, 1, 9, 0), 20.0),
        ],
        "source string, window string, window_start timestamp, avg_metric double",
    )
    inplan = kpi(hot, source="B", window="1m", ttl_seconds=3600).collect()
    cached = kpi(
        hot, source="B", window="1m", ttl_seconds=3600, anchor=hot_anchor(hot)
    ).collect()
    assert sorted(map(tuple, inplan)) == sorted(map(tuple, cached))
    assert inplan == []  # B's 09:00 row expired against the 12:00 anchor


def test_series_rollup_grid_aligns_sliding_input(spark, events):
    """A sliding_aggregates-shaped rollup (window_start every 10 s, 6
    overlapping rows per minute) must yield the SAME minute series as
    the raw path — the fast path keeps only :00-aligned windows."""
    from real_time_event_streaming_analytics_platform_spark.streaming.entries import (
        sliding_aggregates,
    )

    sliding = sliding_aggregates(
        events.withColumn("status", F.lit("ok"))
    ).select("window_start", "source", "count_events", "avg_metric", "sum_metric")
    raw = series(events, agg="count", bucket="minute").collect()
    fast = series(events, agg="count", bucket="minute", rollup=sliding).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, raw))


# ---------------------------------------------------------------------------
# Prepared reads: kpi / series / alerts hand an identical request the frame
# the first one built.
# ---------------------------------------------------------------------------


def _reads(events):
    """(endpoint, args, kwargs) of one request per prepared endpoint."""
    hot = (
        events.groupBy("source", F.date_trunc("minute", "ts").alias("window_start"))
        .agg(F.count("*").alias("count_events"), F.avg("metric").alias("avg_metric"))
        .withColumn("window", F.lit("1m"))
    )
    anchor = hot_anchor(hot)
    scored = events.withColumn(
        "severity", F.when(F.col("metric") > 400, "critical").otherwise("info")
    )
    return [
        (kpi, (hot,), {"window": "1m", "limit": 20, "anchor": anchor}),
        (series, (events,), {"start": anchor - timedelta(hours=1), "end": anchor, "rollup": hot}),
        (series, (events,), {"start": anchor - timedelta(days=1), "end": anchor, "bucket": "hour"}),
        (alerts, (scored,), {"severity": "critical", "limit": 50}),
    ]


def test_prepared_read_returns_the_same_frame(spark, events):
    for fn, args, kwargs in _reads(events):
        before = plan_cache_info()
        first = fn(*args, **kwargs)
        again = fn(*args, **kwargs)
        assert again is first
        after = plan_cache_info()
        assert (after.misses - before.misses, after.hits - before.hits) == (1, 1)
        fresh = fn.__wrapped__(*args, **kwargs)
        assert fresh is not first
        assert again.collect() == fresh.collect()


def test_prepared_read_misses_on_argument_frame_or_time_zone(spark, events):
    base = series(events, agg="count", bucket="day")
    assert series(events, agg="count", bucket="day") is base
    assert series(events, agg="sum", bucket="day") is not base
    assert series(events.select("*"), agg="count", bucket="day") is not base
    # a day bucket depends on the session time zone, which the plan bakes in
    utc_rows = base.collect()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        local = series(events, agg="count", bucket="day")
        assert local is not base
        rows = local.collect()
        assert rows == series.__wrapped__(events, agg="count", bucket="day").collect()
        assert rows != utc_rows
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert series(events, agg="count", bucket="day") is base


def test_dropped_input_frame_frees_its_entry(spark, events):
    scored = events.withColumn("severity", F.lit("critical"))
    out = weakref.ref(alerts(scored, severity="critical", limit=5))
    assert out() is not None  # the cache holds the prepared frame
    held = plan_cache_info().currsize
    del scored
    gc.collect()
    assert out() is None
    assert plan_cache_info().currsize <= held - 1


def test_plan_cache_is_bounded(spark, events):
    first = alerts(events, limit=1)
    for n in range(2, PLAN_CACHE_SIZE + 12):
        alerts(events, limit=n)
        assert plan_cache_info().currsize <= PLAN_CACHE_SIZE
    assert plan_cache_info().maxsize == PLAN_CACHE_SIZE
    # the least recently used entry went first
    assert alerts(events, limit=1) is not first


def test_concurrent_collects_of_a_prepared_read(spark, events):
    anchor = events.agg(F.max("ts")).first()[0]
    kwargs = {"start": anchor - timedelta(days=1), "end": anchor, "bucket": "hour"}
    want = series.__wrapped__(events, **kwargs).collect()
    frames, results, errors = set(), [], []

    def reader():
        try:
            for _ in range(20):
                df = series(events, **kwargs)
                frames.add(id(df))
                results.append(df.collect())
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=reader) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(results) == 60 and all(r == want for r in results)
    assert len(frames) == 1


def test_repeat_raw_series_read_runs_one_job(spark, events):
    sc = spark.sparkContext
    anchor = events.agg(F.max("ts")).first()[0]

    def jobs(group):
        sc.setJobGroup(group, "prepared series read")
        try:
            series(events, start=anchor - timedelta(days=1), end=anchor, bucket="hour").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    first = jobs("prepared-series-first")
    assert first > 1  # the finished shuffle stage the repeat reuses
    assert jobs("prepared-series-repeat") == 1
