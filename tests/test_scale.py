"""Plan-level scale checks: partition pruning reaches the scan, salted
aggregation equals the plain aggregation, bucketed joins drop the
Exchange."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_analytics_platform_spark.catalog import load
from real_time_event_streaming_analytics_platform_spark.operators.scale import (
    read_events_range,
    salted_agg,
    write_bucketed,
    write_events_partitioned,
)

from .conftest import SF_DIR


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="sgr-scale-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partition_pruning_reaches_scan(spark, tmpdir):
    events = load(spark, SF_DIR, "events")
    write_events_partitioned(events, f"{tmpdir}/ev")
    ranged = read_events_range(spark, f"{tmpdir}/ev", "2024-01-05", "2024-01-10")
    plan = _formatted_plan(ranged)
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters", 1)[1][:200]
    # and the data honors the range
    dates = {str(r["event_date"]) for r in ranged.select("event_date").distinct().collect()}
    assert dates and all("2024-01-05" <= d <= "2024-01-10" for d in dates)
    # equivalence with the unpartitioned time filter
    expect = events.where(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-11")
    ).count()
    assert ranged.count() == expect


def test_salted_agg_equals_plain(spark):
    events = load(spark, SF_DIR, "events")
    plain = {
        (r["event_type"]): (r["n"], r["mx"])
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r["event_type"]): (r["n"], r["mx"])
        for r in salted_agg(
            events, "event_type", {"n": "count(*)", "mx": "max(value)"}
        ).collect()
    }
    assert salted == plain
    with pytest.raises(ValueError, match="not decomposable"):
        salted_agg(events, "event_type", {"a": "avg(value)"})


def test_bucketed_join_has_no_exchange(spark, tmpdir):
    # warehouse dir is a static conf, set by SessionFactory (under /tmp)
    orders = load(spark, SF_DIR, "orders")
    customer = load(spark, SF_DIR, "customer")
    write_bucketed(orders.withColumnRenamed("o_custkey", "k"), "orders_b", "k")
    write_bucketed(customer.withColumnRenamed("c_custkey", "k"), "customer_b", "k")
    joined = spark.table("orders_b").join(spark.table("customer_b"), "k")
    # disable broadcast so the join strategy decision is about bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan[:1500]
    # result correctness vs plain join
    assert joined.count() == orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).count()


def test_round2_quant6_cross_engine_property(spark):
    """The determinism scheme's core claim: floor(x*s+0.5)/s evaluates
    bitwise-identically in Spark and DuckDB for any finite double —
    checked over a seeded random sample spanning magnitudes."""
    import random

    import duckdb

    rng = random.Random(42)
    xs = (
        [rng.uniform(-1e6, 1e6) for _ in range(4000)]
        + [rng.gauss(0, 1e-3) for _ in range(2000)]
        + [rng.uniform(-5, 5) for _ in range(4000)]
    )
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    spark_rows = df.selectExpr(
        "floor(x * 100 + 0.5) / 100 AS r2",
        "floor(x * 1000000 + 0.5) / 1000000 AS q6",
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    duck_rows = con.execute(
        "SELECT floor(x * 100 + 0.5) / 100, floor(x * 1000000 + 0.5) / 1000000 FROM t"
    ).fetchall()
    assert sorted((r["r2"], r["q6"]) for r in spark_rows) == sorted(duck_rows)

def test_q08_plan_is_broadcast_hash_join(spark):
    """The explicit broadcast hint must survive to the physical plan —
    a q08 that sort-merge-joins two dims would shuffle both sides."""
    import real_time_event_streaming_analytics_platform_spark as engine

    plan = _formatted_plan(engine.QUERIES["q08_broadcast_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_agg_count_named_column_skips_nulls(spark):
    """count(col) must skip NULLs exactly like the plain groupBy —
    only count(*) counts rows."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 3), ("b", None)], "k string, v int"
    )
    salted = {
        r["k"]: (r["n_v"], r["n_rows"])
        for r in salted_agg(df, "k", {"n_v": "count(v)", "n_rows": "count(*)"}).collect()
    }
    assert salted == {"a": (2, 3), "b": (0, 1)}

def test_materialized_json_attr_pushes_down(spark, tmpdir):
    """GIN-analogue: after materializing $.k as a typed column and
    writing parquet, an equality filter reaches the scan as a
    PushedFilter; the same predicate through get_json_object cannot."""
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        materialize_json_attr,
    )

    events = load(spark, SF_DIR, "events")
    materialize_json_attr(events, "props", "k", "props_k", cast="int").write.mode(
        "overwrite"
    ).parquet(f"{tmpdir}/ev_k")
    back = spark.read.parquet(f"{tmpdir}/ev_k").where(F.col("props_k") == 3)
    plan = _formatted_plan(back)
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "props_k" in pushed
    # row-level equivalence with the unmaterialized JSON-path predicate
    expect = events.where(F.get_json_object("props", "$.k").cast("int") == 3).count()
    assert back.count() == expect

def test_x8_bench_gram_set_broadcasts_and_keys_are_longs(spark):
    """Decontamination scale contract: the benchmark gram set reaches
    the join as a BroadcastExchange (the corpus side never shuffles for
    the join), and the join key is the 8-byte xxhash64 long, not gram
    text."""
    import real_time_event_streaming_analytics_platform_spark as engine

    plan = _formatted_plan(engine.QUERIES["x8_decontaminate"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    join = plan.split("BroadcastHashJoin", 1)
    assert len(join) == 2, plan[:1500]
    # the join's key attributes are the xxhash64 output (bigint)
    keys_line = join[1].split("Left keys", 1)[1].split("\n", 1)[0]
    assert "gh" in keys_line
    gen = plan.split("xxhash64", 1)
    assert len(gen) == 2, "gram hashing must be xxhash64, not md5"


def test_x2d_distinct_carries_ids_not_arrays(spark):
    """The near-dup candidate dedup must shuffle (vec_a, vec_b) id
    pairs only — an embedding-array-bearing Exchange above the distinct
    re-shuffles the corpus once per LSH table at scale."""
    import real_time_event_streaming_analytics_platform_spark as engine

    plan = _formatted_plan(engine.QUERIES["x2d_embedding_near_dup"](spark, SF_DIR))
    for line in plan.splitlines():
        if "Exchange hashpartitioning(vec_a" in line:
            assert "emb" not in line, line
    assert "CartesianProduct" not in plan


def test_ivf_assignment_matches_driver_argmin(spark):
    """Every distributed routing site must agree exactly with a
    driver-side numpy argmin over the textbook distance against the same
    centers (ties included): x3c's cell, x21's k-means cluster and
    ivfadc_index's cell — and x27's nprobe probe-cell prefix with a
    stable argsort."""
    import numpy as np

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.clustering import (
        kmeans_fit,
    )
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        ivf_assignments,
        ivfadc_index,
        nearest_cells,
        with_norm,
        x27_default_nprobe,
    )

    raw = load(spark, SF_DIR, "embeddings")
    emb = with_norm(raw)
    assigned, centers = ivf_assignments(emb)
    idx, C_adc, _books = ivfadc_index(emb)
    C_km, _ = kmeans_fit(raw.select("vec_id", "embedding"))
    nprobe = x27_default_nprobe(None)
    # x21 routes every row with nearest_cells under kmeans_fit's centers
    x21_assigned = raw.withColumn("cell", nearest_cells("embedding", C_km))
    cases = [
        ("x3c", assigned, centers, None),
        ("x21", x21_assigned, C_km, None),
        ("x3e", idx.join(raw.select("vec_id", "embedding"), "vec_id"), C_adc, None),
        (
            "x27",
            assigned.withColumn("cell", nearest_cells("embedding", centers, nprobe)),
            centers,
            nprobe,
        ),
    ]
    for site, frame, centers_, n in cases:
        rows = frame.select("vec_id", "embedding", "cell").collect()
        C = np.array(centers_)
        for r in rows[:200]:
            x = np.array(r["embedding"], dtype=np.float64)
            d = ((C - x) ** 2).sum(axis=1)
            if n is None:
                want = int(d.argmin())
            else:
                want = np.argsort(d, kind="stable")[:n].tolist()
            assert r["cell"] == want, (site, r["vec_id"], r["cell"], want)

    # the registered x21 query's cluster sizes are those of the same
    # argmin over the whole corpus
    X = np.array(
        [r["embedding"] for r in raw.select("embedding").collect()], dtype=np.float64
    )
    want = np.bincount(
        ((X[:, None, :] - C_km[None, :, :]) ** 2).sum(axis=2).argmin(axis=1),
        minlength=len(C_km),
    )
    got = engine.QUERIES["x21_kmeans_clusters"](spark, SF_DIR).collect()
    assert {r["cluster"]: r["n_points"] for r in got} == {
        j: int(c) for j, c in enumerate(want) if c
    }
    spark.catalog.clearCache()


def test_dedup_consumers_read_materialized_candidate_index(spark):
    """x2/x2b/x2e share one materialized LSH candidate index: each
    consumer's plan must READ parquet (the standing index table), not
    re-run the shingle→minhash→band pipeline (which would show as an
    explode over the documents scan above the pair join)."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        candidate_index,
    )

    candidate_index(spark, SF_DIR)  # ensure built
    plan = _formatted_plan(engine.QUERIES["x2_minhash_near_dup"](spark, SF_DIR))
    assert "sgr-lsh-index-" in plan, plan[:1200]
    # the full signature pipeline must NOT appear above the index read
    assert "documents.parquet" not in plan


def test_attach_group_totals_equals_window_and_avoids_hot_partition(spark):
    """The skew rewrite must return exactly the window form's rows, and
    its plan must contain NO Window node (the skew-bound single-task
    shape) — the per-key result arrives via a broadcast join of the
    two-phase salted aggregate."""
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        attach_group_totals,
    )
    from pyspark.sql import Window

    df = spark.range(4000).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(7)).cast("string")))
        .alias("k"),
        (F.col("id") % 100).alias("v"),
    )
    w = Window.partitionBy("k")
    plain = df.withColumn("total", F.sum("v").over(w)).withColumn(
        "n", F.count("*").over(w)
    )
    rewrite = attach_group_totals(df, "k", {"total": "sum(v)", "n": "count(*)"})
    key = lambda rows: sorted((r["k"], r["v"], r["total"], r["n"]) for r in rows)
    assert key(rewrite.collect()) == key(plain.collect())
    plan = _formatted_plan(rewrite)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_salted_window_equals_plain_window_form(spark):
    """The public ``salted_window`` operator (VERDICT r06 #6): exact row
    parity with the plain ``F.agg(...).over(Window.partitionBy(key))``
    form — NULL keys and all four decomposable aggregates included —
    and a custom n_salts spreads phase 1 over (key, salt) groups."""
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        salted_window,
    )
    from pyspark.sql import Window

    df = spark.range(3000).select(
        F.when(F.col("id") % 3 == 0, F.lit(None).cast("string"))
        .when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(5)).cast("string")))
        .alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    w = Window.partitionBy("k")
    plain = (
        df.withColumn("total", F.sum("v").over(w))
        .withColumn("n", F.count("*").over(w))
        .withColumn("lo", F.min("v").over(w))
        .withColumn("hi", F.max("v").over(w))
    )
    rewrite = salted_window(
        df,
        "k",
        {"total": "sum(v)", "n": "count(*)", "lo": "min(v)", "hi": "max(v)"},
        n_salts=7,
    )
    key = lambda rows: sorted(
        (r["k"] if r["k"] is not None else "\x00NULL", r["v"], r["total"], r["n"], r["lo"], r["hi"])
        for r in rows
    )
    assert key(rewrite.collect()) == key(plain.collect())
    plan = _formatted_plan(rewrite)
    assert "Window" not in plan and "BroadcastHashJoin" in plan


def test_x2f_probe_has_no_exchange_on_index_side(spark):
    """The standing dedup index is a BUCKETED table: a probe against it
    must show (a) no Exchange over the band keys — the only hash
    shuffles left are over the small (batch_id, index_id) pair ids —
    and (b) no Window: the hot-bucket cap is paid at index build, not
    per probe."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        _BATCH_PRED,
        bucketed_index_frames,
        probe_signature_index,
        signature_index,
        standing_band_index,
    )

    # the index is a real bucketed catalog table
    tbl = standing_band_index(spark, SF_DIR)
    name = [t.name for t in spark.catalog.listTables() if t.name.startswith("sgr_band_index_")]
    assert name and tbl.columns == ["index_id", "band", "bh"]

    sig_b = signature_index(spark, SF_DIR).where(F.expr(_BATCH_PRED))
    probe = probe_signature_index(
        sig_b, None, index_frames=bucketed_index_frames(spark, SF_DIR)
    )
    plan = _formatted_plan(probe)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "band" not in line and "bh#" not in line, line
    assert "Window" not in plan, "bucket cap must be precomputed at index build"
    # the batch side broadcasts; the bucketed index is probed in place
    assert "BroadcastExchange" in plan
    # result parity with the pure-lineage probe (same split, same cap)
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        index_probe_frames,
    )

    sig_i = signature_index(spark, SF_DIR).where(~F.expr(_BATCH_PRED))
    want = {
        (r["doc_id"], r["n_dups"], r["first_match"])
        for r in probe_signature_index(sig_b, sig_i).collect()
    }
    got = {(r["doc_id"], r["n_dups"], r["first_match"]) for r in probe.collect()}
    assert got == want


def test_index_persists_released_between_queries(spark):
    """Storage discipline: the index frames x2d/x3c/x3d/x3e persist for
    their own execution must not survive past the query — the registry
    releases them on the next query invocation, and release_tracked()
    frees them immediately. A long-lived serving session must end each
    cycle with zero new cached RDDs."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.plans.registry import (
        release_tracked,
    )

    sc = spark.sparkContext

    def n_cached() -> int:
        return len(list(sc._jsc.sc().getRDDStorageInfo()))

    release_tracked()
    spark.catalog.clearCache()
    base = n_cached()
    for name in [
        "x2d_embedding_near_dup",
        "x3c_ann_ivf",
        "x3d_ann_pq",
        "x3e_ann_ivfadc",
    ]:
        engine.QUERIES[name](spark, SF_DIR).count()
        release_tracked()
        assert n_cached() <= base, name


def test_x3e_probe_set_broadcasts(spark):
    """IVFADC scale contract: probe routing happens inside the map-side
    ADC kernel, so the corpus-side index is scanned in place and never
    shuffled for a join; the exact re-rank broadcasts the query vectors
    and the shortlist side of its corpus join."""
    import real_time_event_streaming_analytics_platform_spark as engine

    plan = _formatted_plan(engine.QUERIES["x3e_ann_ivfadc"](spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2, plan[:1500]
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()  # drop the query's persisted index


def _scan_stats(df):
    """Execute df and return (result_rows, scan numOutputRows) — the
    scan metric counts rows surviving parquet row-group pruning, i.e.
    what the layout actually made the engine READ."""
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    read = 0
    for i in range(leaves.size()):
        mets = leaves.apply(i).metrics()
        keys = mets.keys().toList()
        for j in range(keys.size()):
            if keys.apply(j) == "numOutputRows":
                read += mets.apply(keys.apply(j)).value()
    return rows, read


def test_zorder_prunes_row_groups_in_both_dims(spark, tmpdir):
    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        write_zordered,
    )
    from pyspark.sql import functions as F

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    rand_path = f"{tmpdir}/layout_rand"
    z_path = f"{tmpdir}/layout_z"
    # unclustered baseline: round-robin shuffle destroys any natural order
    ev.repartition(32).write.mode("overwrite").parquet(rand_path)
    write_zordered(ev, z_path, "user_id", "value", n_files=32)

    total = ev.count()
    pred = (F.col("user_id").between(20, 40)) & (F.col("value").between(40, 60))
    rows_r, read_r = _scan_stats(spark.read.parquet(rand_path).where(pred))
    rows_z, read_z = _scan_stats(spark.read.parquet(z_path).where(pred))

    # identical answers, layout-independent
    key = lambda r: (r.event_id,)
    assert sorted(rows_r, key=key) == sorted(rows_z, key=key)
    # the unclustered layout reads everything; the z-ordered layout's
    # footer stats prune most row groups on a BOTH-dimension predicate
    assert read_r == total
    assert read_z < total * 0.5, (read_z, total)


def test_zorder_prunes_on_single_dim_too(spark, tmpdir):
    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        write_zordered,
    )
    from pyspark.sql import functions as F

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    z_path = f"{tmpdir}/layout_z1"
    write_zordered(ev, z_path, "user_id", "value", n_files=32)
    total = ev.count()
    # a narrow filter on EITHER single dimension still prunes: that is
    # the property a plain single-column sort does not give the other
    _, read_a = _scan_stats(
        spark.read.parquet(z_path).where(F.col("user_id").between(20, 40))
    )
    _, read_b = _scan_stats(
        spark.read.parquet(z_path).where(F.col("value").between(45, 55))
    )
    assert read_a < total * 0.7, (read_a, total)
    assert read_b < total * 0.7, (read_b, total)


def test_compaction_reduces_file_count_preserving_rows(spark, tmpdir):
    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        compact_parquet,
    )

    ev = load(spark, SF_DIR, "events")
    src = f"{tmpdir}/many_small"
    dst = f"{tmpdir}/compacted"
    ev.repartition(64).write.mode("overwrite").parquet(src)  # micro-batch litter
    import glob

    assert len(glob.glob(src + "/*.parquet")) == 64
    n_out = compact_parquet(spark, src, dst, target_mb=128)
    assert n_out == 1  # sf0.01 events ≪ 128 MB
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert a.count() == b.count()
    assert sorted(r.event_id for r in a.select("event_id").collect()) == sorted(
        r.event_id for r in b.select("event_id").collect()
    )


def test_attach_group_totals_keeps_null_keys(spark):
    """NULL keys form a window partition like any other group; the
    broadcast-join rewrite must be null-safe or those rows vanish."""
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        attach_group_totals,
    )
    from pyspark.sql import Window

    df = spark.range(100).select(
        F.when(F.col("id") % 3 == 0, None).otherwise(F.lit("k")).alias("k"),
        F.col("id").alias("v"),
    )
    w = Window.partitionBy("k")
    plain = df.withColumn("total", F.sum("v").over(w))
    rewrite = attach_group_totals(df, "k", {"total": "sum(v)"})
    key = lambda rows: sorted((r["k"] or "", r["v"], r["total"]) for r in rows)
    assert key(rewrite.collect()) == key(plain.collect())
    assert rewrite.where(F.col("k").isNull()).count() == 34


def test_zorder_accepts_timestamp_layout_column(spark, tmpdir):
    """(ts, user_id) is the natural event-platform layout; timestamp
    columns must normalize via epoch, not crash on float(datetime)."""
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        write_zordered,
    )

    ev = load(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    z_path = f"{tmpdir}/layout_ts"
    write_zordered(ev, z_path, "ts", "user_id", n_files=8)
    back = spark.read.parquet(z_path)
    assert back.count() == ev.count()
    # layout only — all rows and columns intact
    assert sorted(r.event_id for r in back.select("event_id").collect()) == sorted(
        r.event_id for r in ev.select("event_id").collect()
    )


def test_aqe_splits_skewed_join_partitions(spark, tmpdir):
    """Join-skew is delegated to AQE (salted_agg/salted_window cover
    AGGREGATION skew, where AQE cannot help): with skewJoin enabled
    and thresholds scaled to the test data, a join whose left side
    piles most rows onto one key must show skew=true on the final
    (adaptive) SortMergeJoin — the hot partition was split into
    multiple tasks instead of serializing on one. Results must equal
    the non-adaptive join."""
    hot = spark.range(400_000).select(
        F.lit(7).alias("k"), (F.col("id") % 1000).alias("v")
    )
    cold = spark.range(20_000).select(
        (F.col("id") % 97).alias("k"), (F.col("id") % 1000).alias("v")
    )
    left = hot.unionAll(cold)
    right = spark.range(97).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
    left.write.mode("overwrite").parquet(f"{tmpdir}/skew_left")
    right.write.mode("overwrite").parquet(f"{tmpdir}/skew_right")
    l_, r_ = spark.read.parquet(f"{tmpdir}/skew_left"), spark.read.parquet(
        f"{tmpdir}/skew_right"
    )
    joined = l_.join(r_, "k")
    expect = joined.count()
    prev = {}
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # production defaults are 256 MB / 5× median; the test's hot
        # partition is ~MBs, so scale the absolute floor down while
        # keeping the same relative-skew rule the 100 TB job relies on
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in confs.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        joined = l_.join(r_, "k")
        # Execute the inspected Dataset ITSELF: .count() builds a
        # separate QueryExecution (groupBy().count()), leaving this
        # one's adaptive plan un-finalized (isFinalPlan=false, no skew
        # annotation). collect() finalizes joined's own plan.
        assert len(joined.collect()) == expect
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, final[:2000]
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_reaches_fact_side(spark, tmpdir):
    """The runtime-filter leg of the join toolkit: with
    enable_runtime_bloom_filters, a selective dim predicate on a
    shuffle join injects a bloom filter whose might_contain probe lands
    on the FACT side below the join — at 100 TB that drops non-matching
    fact rows before the shuffle. Thresholds are lowered to make the
    tiny test scan qualify (the 10 GB default is the production
    setting); plan shape and result parity are asserted, then the
    previous conf values are restored."""
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        enable_runtime_bloom_filters,
    )

    fact = load(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    dim = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    fact.write.mode("overwrite").parquet(f"{tmpdir}/fact")
    dim.write.mode("overwrite").parquet(f"{tmpdir}/dim")
    f_, d_ = spark.read.parquet(f"{tmpdir}/fact"), spark.read.parquet(f"{tmpdir}/dim")
    joined = f_.join(
        d_.where(F.col("o_orderpriority") == "1-URGENT"),
        f_.l_orderkey == d_.o_orderkey,
    )
    expect = joined.count()  # before any conf changes

    prev = enable_runtime_bloom_filters(
        spark, application_side_min_bytes=1, creation_side_max_bytes=64 * 1024 * 1024
    )
    prev_broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(joined)
        assert "might_contain" in plan, plan[:2000]
        # the probe must sit on the fact side: below the join, the
        # might_contain filter references the fact key, not the dim key
        probe_line = next(l for l in plan.splitlines() if "might_contain" in l)
        assert "l_orderkey" in probe_line, probe_line
        assert joined.count() == expect
    finally:
        if prev_broadcast is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_broadcast)
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q03b_runtime_filter_plan_shape(spark):
    """The REGISTERED carrier of the runtime-filter toolkit (VERDICT
    r07 #7): q03b_filtered_multiway's selective orders predicate must
    yield a might_contain(l_orderkey) probe on the lineitem (fact) side
    once the production 10 GB application-side threshold is lowered to
    admit the test scan — i.e. the exact query users run is the shape
    InjectRuntimeFilter fires on at 100 TB. Results must be identical
    with and without injection."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        enable_runtime_bloom_filters,
    )

    build = engine.QUERIES["q03b_filtered_multiway"]
    baseline = [tuple(r) for r in build(spark, SF_DIR).collect()]
    assert baseline  # selective predicate must not empty the result

    prev = enable_runtime_bloom_filters(
        spark, application_side_min_bytes=1, creation_side_max_bytes=64 * 1024 * 1024
    )
    prev_broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    # orders must reach the fact join as a shuffle join: a broadcast
    # join needs no bloom filter (the build side IS the filter)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = build(spark, SF_DIR)
        plan = _formatted_plan(df)
        assert "might_contain" in plan, plan[:2000]
        probe_line = next(l for l in plan.splitlines() if "might_contain" in l)
        assert "l_orderkey" in probe_line, probe_line
        assert [tuple(r) for r in df.collect()] == baseline
    finally:
        if prev_broadcast is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_broadcast)
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compact_parquet_refuses_inplace_and_can_split(spark, tmpdir):
    """dst == src would truncate the source under the lazy read (must
    raise); a target count ABOVE the scan's split count must repartition
    (coalesce alone cannot grow), so tiny target_mb yields >1 file."""
    import glob

    import pytest as _pytest

    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.operators.scale import (
        compact_parquet,
    )

    from pyspark.sql import functions as _F

    # high-entropy columns so the single parquet file lands well above
    # the 1 MB target (hashes defeat delta/dictionary encoding)
    big = spark.range(500_000).select(
        "id",
        _F.xxhash64("id").alias("h1"),
        _F.xxhash64("id", _F.lit(1)).alias("h2"),
    )
    src = f"{tmpdir}/one_big"
    big.coalesce(1).write.mode("overwrite").parquet(src)
    with _pytest.raises(ValueError, match="dst must differ"):
        compact_parquet(spark, src, src)
    n_out = compact_parquet(spark, src, f"{tmpdir}/split", target_mb=1)
    assert n_out >= 2
    assert len(glob.glob(f"{tmpdir}/split/*.parquet")) == n_out
    assert spark.read.parquet(f"{tmpdir}/split").count() == 500_000


def test_q41_is_single_shuffle_moment_aggregate(spark):
    """q41's whole statistical family must stay a partial-final
    HashAggregate with exactly ONE data shuffle (plus the 3-row
    presentation sort's range exchange): no ObjectHashAggregate (a
    value-buffering aggregate would break the scale-free claim) and a
    3-column pruned scan."""
    import re

    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["q41_stat_aggregates"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" not in plan, plan[:1500]
    assert "HashAggregate" in plan
    # the executed AQE string prints Final AND Initial sections — count
    # distinct shuffle stages in the FINAL plan only: one hash exchange
    # for the aggregate, one range exchange for the 3-row sort
    final = plan.split("== Initial Plan ==")[0]
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", final))
    assert len(stages) <= 2, final[:2000]
    assert "l_quantity" in plan and "l_extendedprice" in plan


def test_x23_priority_sample_avoids_global_sort(spark):
    """x23's k-smallest must execute as TakeOrderedAndProject
    (per-partition top-k + k-row driver merge) — a global Sort+Limit
    would shuffle the full corpus at 100 TB."""
    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["x23_weighted_priority_sample"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Exchange" not in plan, plan[:1500]


def test_t6b_gopher_rules_plan_has_no_data_shuffle(spark):
    """t6b is claimed pure per-row column expressions: the executed plan
    must contain NO aggregate and no exchange beyond the presentation
    sort's single range exchange — at 100 TB the operator is a map
    stage over the scan."""
    import re

    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["t6b_gopher_rules"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "HashAggregate" not in final, final[:1500]
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", final))
    assert len(stages) <= 1, final[:2000]  # ORDER BY doc_id only


def test_x25_dsir_plan_shape(spark):
    """x25's k-smallest must execute as TakeOrderedAndProject (never a
    global Sort+Limit) and nothing in the plan may be a cartesian
    product. Since the r13 frozen-model restructure the scoring pass
    has NO join of any kind: the collected ≤B-row ln-ratio table is
    constant-folded into the per-row fold expression, so the scoring
    plan is scan → project → TakeOrderedAndProject (the old pin
    required the lnr table to come back via BroadcastExchange; the
    literal form is strictly stronger — zero exchanges on the scoring
    side)."""
    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["x25_dsir_resample"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final, final[:1500]


def test_t5_pii_plan_is_map_only(spark):
    """The extended PII scrub (email/phone/ip4/ip6/ssn/Luhn-cc) must
    stay a map stage: regex counting, candidate filtering, and the
    Luhn aggregate all run inside per-row expressions — no aggregate,
    no join, one presentation-sort exchange."""
    import re

    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["t5_pii_scrub"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "HashAggregate" not in final, final[:1500]
    assert "Join" not in final, final[:1500]
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", final))
    assert len(stages) <= 1, final[:2000]


def test_x24_grid_join_is_broadcast_not_cartesian(spark):
    """x24's full-pair grid is an n_sources-row aggregate theta-joined
    against itself: it must appear as BroadcastNestedLoopJoin over the
    tiny totals frame, never CartesianProduct, and the corpus-sized
    shingle join must stay a hash join on the shingle key."""
    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["x24_cross_source_contamination"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan


def test_x28_budget_plan_is_single_shuffle(spark):
    """x28's claim is ONE shuffle: the cumsum window partitions by
    source and the survivorship aggregate reuses that partitioning, so
    the executed plan has exactly one data exchange plus the
    presentation sort — at 100 TB the largest single domain bounds the
    window task, never the corpus."""
    import re

    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["x28_source_token_budget"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", final))
    # one hash exchange (window + agg share it) + the ORDER BY range
    assert len(stages) <= 2, final[:2000]
    assert "hashpartitioning(source" in final, final[:2000]


def test_x29_rates_join_is_broadcast(spark):
    """x29's rate table must reach the corpus via BroadcastExchange —
    never a sort-merge join keyed on lang (which would shuffle the
    corpus on a 5-value key: maximal skew for zero benefit)."""
    import real_time_event_streaming_analytics_platform_spark as engine

    df = engine.QUERIES["x29_temperature_resample"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_x30_write_shards_plan_has_no_global_sort(spark, tmp_path):
    """write_shards' claim: one repartition on shard + sort WITHIN
    partitions — the physical plan must show a local (non-global) Sort
    above a single round-robin-free hash repartition, and no range
    exchange (a global ORDER BY would serialize the corpus through a
    sampling pass + range shuffle)."""
    from real_time_event_streaming_analytics_platform_spark.catalog import load
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        X30_SHARDS,
        _sharded,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id")
    t = (
        _sharded(docs)
        .repartition(X30_SHARDS, "shard")
        .sortWithinPartitions("shard", "h")
    )
    import re

    plan = t._jdf.queryExecution().executedPlan().toString()
    # "Sort [keys], false, 0" — the second argument is the global flag.
    # The sort leads with shard (the partition column) so the dynamic-
    # partition writer's required ordering is already satisfied and it
    # never re-sorts the task (which would scramble h).
    assert re.search(
        r"Sort \[shard#\d+L? ASC NULLS FIRST, h#\d+L? ASC NULLS FIRST\], false",
        plan,
    ), plan[:1500]
    assert "rangepartitioning" not in plan, plan[:1500]
    assert "hashpartitioning(shard" in plan, plan[:1500]
