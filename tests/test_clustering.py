"""Distributed Lloyd's k-means (functions/clustering.py).

Pins: planted-blob recovery (every blob lands in exactly one cluster),
parity with a pure-numpy replay of the same algorithm from the same
seeds, the empty-cluster keep-previous-center rule, and the registered
x21 profile query's shape + determinism."""

import numpy as np
import pytest

from pyspark.sql import functions as F

import real_time_event_streaming_analytics_platform_spark as engine
from real_time_event_streaming_analytics_platform_spark.functions.clustering import (
    KMEANS_K,
    kmeans_fit,
)
from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
    nearest_cells,
)

from .conftest import SF_DIR


def _blob_df(spark, n_per=40, dim=8, centers=((0.0,) * 8, (10.0,) * 8, (-10.0, 10.0) * 4)):
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for b, c in enumerate(centers):
        pts = rng.normal(0.0, 0.3, size=(n_per, dim)) + np.asarray(c)
        for p in pts:
            rows.append((vid, [float(x) for x in p], b))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, blob int"
    )


def _numpy_lloyd(X, seeds, max_iters, tol):
    C = seeds.astype(np.float64).copy()
    k = len(C)
    for it in range(1, max_iters + 1):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        new_C = C.copy()
        for j in range(k):
            m = a == j
            if m.any():
                new_C[j] = X[m].mean(axis=0)
        shift = float(np.abs(new_C - C).max())
        C = new_C
        if shift < tol:
            return C, it
    return C, max_iters


def test_kmeans_recovers_planted_blobs(spark):
    df = _blob_df(spark)
    C, iters = kmeans_fit(df, k=3, max_iters=15, tol=1e-6)
    assert iters < 15, "well-separated blobs must converge before the cap"
    # each blob maps to exactly one cluster and vice versa
    assigned = (
        df.withColumn("cluster", nearest_cells("embedding", C))
        .groupBy("blob", "cluster")
        .count()
        .collect()
    )
    blob_to_cluster = {}
    for r in assigned:
        blob_to_cluster.setdefault(r["blob"], set()).add(r["cluster"])
    assert all(len(v) == 1 for v in blob_to_cluster.values()), assigned
    clusters = {next(iter(v)) for v in blob_to_cluster.values()}
    assert len(clusters) == 3


def test_kmeans_matches_numpy_replay(spark):
    """The distributed fit must compute the SAME iteration the numpy
    replay does from the same seeds — partition-merged float64 sums vs
    a single numpy sum differ only in final ULPs, and the blob gaps
    dwarf that."""
    df = _blob_df(spark)
    seeds = (
        df.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(3)
        .collect()
    )
    S = np.array([r["embedding"] for r in seeds], dtype=np.float64)
    X = np.array(
        [r["embedding"] for r in df.orderBy("vec_id").collect()], dtype=np.float64
    )
    C_ref, it_ref = _numpy_lloyd(X, S, max_iters=15, tol=1e-6)
    C_dist, it_dist = kmeans_fit(df, k=3, max_iters=15, tol=1e-6)
    assert it_dist == it_ref
    # same cluster set regardless of centroid index order
    ref_sorted = np.array(sorted(C_ref.tolist()))
    dist_sorted = np.array(sorted(C_dist.tolist()))
    assert np.abs(ref_sorted - dist_sorted).max() < 1e-9


def test_kmeans_empty_cluster_keeps_seed(spark):
    """k exceeding the number of distinct points leaves clusters empty;
    the rule is keep-the-previous-center (never NaN, never a crash)."""
    rows = [(i, [float(i % 2) * 100.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    C, _ = kmeans_fit(df, k=4, max_iters=3, tol=1e-9)
    assert not np.isnan(C).any()
    # the two live centers converge onto the two distinct points
    lives = {tuple(np.round(c, 6)) for c in C}
    assert (0.0, 0.0) in lives and (100.0, 0.0) in lives


def test_x21_profile_shape_and_determinism(spark):
    df1 = engine.QUERIES["x21_kmeans_clusters"](spark, SF_DIR)
    rows1 = [tuple(r) for r in df1.collect()]
    assert df1.columns == ["cluster", "n_points", "rms_dist", "majority_label"]
    assert len(rows1) == KMEANS_K
    total = sum(r[1] for r in rows1)
    import pyarrow.parquet as pq

    assert total == pq.read_metadata(f"{SF_DIR}/embeddings.parquet").num_rows
    rows2 = [
        tuple(r) for r in engine.QUERIES["x21_kmeans_clusters"](spark, SF_DIR).collect()
    ]
    assert rows1 == rows2
