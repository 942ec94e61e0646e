"""Distributed Lloyd's k-means over the `embeddings` table.

The IVF family (similarity.py) trains its coarse quantizer on a
size-capped driver sample — the right call when nlist is small and a
hash sample represents the corpus. This module is the OTHER regime: the
cluster structure itself is the product (corpus bucketing for SemDeDup,
domain discovery, stratified curation) and the fit must see EVERY
vector, so the iteration is distributed:

- **seeds**: the k vectors with the smallest ``xxhash64(vec_id)`` — one
  deterministic TakeOrdered job; the driver receives k×dim floats,
  constant in the corpus size.
- **assign**: one Arrow-batched pandas-UDF scan; the centroid matrix
  rides in the UDF closure (k×dim floats) and each batch routes its
  rows with ``similarity.nearest`` — the one nearest-centroid function
  the IVF/PQ family uses too. No shuffle.
- **update**: the same pass reduces each partition to per-cluster sums
  and counts (k×(dim+1) doubles, never rows), summed by
  ``partials.sum_partials``. The driver divides, computes the max
  centroid shift, and stops at ``tol`` or ``max_iters``.

Per-iteration cost at 100 TB: one corpus scan + one k×(dim+1) merge —
the canonical Spark k-means shape. Each iteration builds a fresh plan
from the base frame (the only cross-iteration state is the centroid
ndarray on the driver), so lineage depth stays constant and no
checkpointing is needed. Empty clusters keep their previous center;
ties go to the lowest cluster index. Both rules are the driver-side
``similarity._lloyd``'s, and both modules route through the same
``similarity.nearest``, so small-data fits agree with the sample-trained
path.

Reference parity: the reference has no clustering surface; this extends
the LLM-pipeline toolkit (SURVEY.md §2c) where cluster-conditioned
pruning (x15 SemDeDup, Abbas et al. 2023) and source-mix curation need
corpus-true clusters rather than sample-trained ones.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..plans.registry import query
from ..operators.helpers import round2
from .partials import sum_partials
from .similarity import nearest, nearest_cells

KMEANS_K = 8
KMEANS_MAX_ITERS = 10
KMEANS_TOL = 1e-4


def kmeans_fit(
    emb: DataFrame,
    k: int = KMEANS_K,
    max_iters: int = KMEANS_MAX_ITERS,
    tol: float = KMEANS_TOL,
):
    """Distributed Lloyd iterations; returns (centers ndarray, n_iters).

    ``emb`` needs (vec_id, embedding). Each iteration is ONE job: a
    ``mapInPandas`` stage assigns every batch to its nearest centroid
    and reduces the whole partition to per-cluster sums and counts —
    k×(dim+1) doubles regardless of row count — which
    ``partials.sum_partials`` merges before the driver updates C. Assignment
    and update fuse into a single corpus scan (the 64-separate-avg
    alternative pays a fresh 64-aggregate codegen per iteration and a
    second pass over the assignment column).
    """
    import numpy as np

    seeds = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(k)
        .collect()
    )
    C = np.array([r["embedding"] for r in seeds], dtype=np.float64)
    k = len(C)
    dim = C.shape[1]
    # Persist the projected vectors: every Lloyd iteration re-scans this
    # frame, and without the persist each of up to max_iters jobs pays
    # the parquet scan + row decode again (guide §5: reuse across
    # iterations is exactly when caching earns its memory).
    from ..plans.registry import track_persist

    vectors = track_persist(emb.select("embedding"))
    it = 0
    for it in range(1, max_iters + 1):
        Cb = C.copy()

        def _partial(batches):
            S = np.zeros((k, dim))
            N = np.zeros(k)
            for pdf in batches:
                M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                a = nearest(M, Cb)
                for j in np.unique(a):
                    m = a == j
                    S[j] += M[m].sum(axis=0)
                    N[j] += int(m.sum())
            return np.concatenate([S.ravel(), N])

        tot = sum_partials(vectors, _partial, k * (dim + 1))
        S, N = tot[: k * dim].reshape(k, dim), tot[k * dim :]
        new_C = C.copy()  # empty clusters keep their previous center
        for j in np.flatnonzero(N):
            new_C[j] = S[j] / N[j]
        shift = float(np.abs(new_C - C).max())
        C = new_C
        if shift < tol:
            break
    return C, it


@query("x21_kmeans_clusters")
def x21_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-true k-means cluster profile: fit k=8 distributed Lloyd's
    on the full embeddings table, then one profiling pass per final
    cluster — size, root-mean-square distance to the centroid, and the
    majority label with deterministic tie-break (count desc, label asc).
    Rows-only: the iterative fit is not one-statement SQL; cluster
    quality/determinism are pinned in tests/test_clustering.py."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    C, _ = kmeans_fit(emb.select("vec_id", "embedding"))

    # Both profile passes (rms-distance agg and majority-label window)
    # read the assignment; persisting it runs the Arrow assign scan once
    # instead of once per subtree.
    from ..plans.registry import track_persist

    assigned = track_persist(emb.withColumn("cluster", nearest_cells("embedding", C)))
    # ||x - c||² = ||x||² + ||c||² - 2 x·c ; recompute the distance via
    # the same closure-shipped centroid matrix, JVM-free only in the
    # Arrow batch (one einsum per batch).
    from pyspark.sql.functions import pandas_udf

    Cm = np.asarray(C, dtype=np.float64)

    @pandas_udf("double")
    def _sqdist(col: pd.Series, cell: pd.Series) -> pd.Series:
        M = np.array(col.tolist(), dtype=np.float64)
        cc = Cm[cell.to_numpy()]
        d = ((M - cc) ** 2).sum(axis=1)
        return pd.Series(d)

    prof = (
        assigned.withColumn("sqd", _sqdist("embedding", "cluster"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            round2(F.sqrt(F.avg("sqd"))).alias("rms_dist"),
        )
    )
    lab = (
        assigned.groupBy("cluster", "label")
        .count()
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cluster").orderBy(
                    F.desc("count"), F.asc("label")
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("cluster", F.col("label").alias("majority_label"))
    )
    return (
        prof.join(lab, "cluster")
        .select("cluster", "n_points", "rms_dist", "majority_label")
        .orderBy("cluster")
    )
