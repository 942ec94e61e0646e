"""bench.py's timing primitive and replica writer.

``measure`` + ``noop`` must time the whole plan: a Python UDF column is
evaluated once per row and rep through them, while ``count()`` prunes it
(the control that shows why the bench never times ``count()``).
``write_replicas`` must multiply rows with unique remapped ids, keep
foreign keys joinable within each replica, and write each table as many
files. ``vs_prev`` compares only against a noop-materialized snapshot.
"""

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

import bench
from real_time_event_streaming_analytics_platform_spark.catalog import load


def test_measure_noop_evaluates_every_row_count_prunes(spark):
    calls = spark.sparkContext.accumulator(0)

    def tag(x):
        calls.add(1)
        return x

    df = spark.range(100).withColumn("u", F.udf(tag, LongType())("id"))
    df.count()
    assert calls.value == 0  # count() pruned the UDF column

    median, samples = bench.measure(lambda: bench.noop(df), 3)
    assert calls.value == 300
    assert len(samples) == 3
    assert median == sorted(samples)[1] > 0


def test_write_replicas_doubles_rows_with_unique_ids(spark, sf_dir, tmp_path):
    src = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    keys = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "orders": "o_orderkey",
        "customer": "c_custkey",
    }
    bench.write_replicas(spark, src, str(tmp_path), 2, tuple(keys))

    def replica(t):
        return spark.read.parquet(str(tmp_path / f"{t}.parquet"))

    def rows_and_ids(df, key):
        return tuple(df.agg(F.count("*"), F.countDistinct(key)).first())

    for t, key in keys.items():
        n, ids = rows_and_ids(load(spark, src, t), key)
        assert rows_and_ids(replica(t), key) == (2 * n, 2 * ids), t
        files = [f for f in os.listdir(tmp_path / f"{t}.parquet") if f.endswith(".parquet")]
        assert len(files) > 1, t

    # orders' customer keys are remapped like customer's own keys, so the
    # join fan-out doubles instead of collapsing onto replica 0
    def fanout(orders, customer):
        return orders.join(customer, orders.o_custkey == customer.c_custkey).count()

    assert fanout(replica("orders"), replica("customer")) == 2 * fanout(
        load(spark, src, "orders"), load(spark, src, "customer")
    )


def test_vs_prev_compares_only_noop_snapshots(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    prev = {"queries": {"q01_pricing_summary": 2.0, "x2_minhash_near_dup": 1.0}}
    (tmp_path / "BENCH_PREV.json").write_text(json.dumps(prev))
    now = {"q01_pricing_summary": 1.0, "x2_minhash_near_dup": 1.0}
    assert bench._vs_prev(now) == {
        "against": "BENCH_PREV.json",
        "skipped": "previous snapshot timed with count()",
    }

    (tmp_path / "BENCH_PREV.json").write_text(json.dumps({**prev, "materialize": "noop"}))
    res = bench._vs_prev(now)
    assert res["ratios_raw"] == {"q01_pricing_summary": 0.5}
    assert res["excluded_build_carrying"] == ["x2_minhash_near_dup"]
    assert res["median_ratio_raw"] == 0.5
