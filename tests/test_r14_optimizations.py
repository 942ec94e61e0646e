"""Equivalence pins for the round-14 optimization rewrites.

Each optimization here restructures HOW an operator computes, never
WHAT it computes; these tests pin the rewritten form to a direct
re-implementation of the old form on the real corpus tables, so any
divergence (tie-breaks, fp rounding, multiplicity handling) fails
loudly rather than shipping as a silent result change.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_analytics_platform_spark.catalog import load
from tests.conftest import SF_DIR


def _sequential_semdedup_reference(pdf: pd.DataFrame, threshold: float):
    """The pre-r14 per-row greedy, verbatim (gemv per row)."""
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    nrm = pdf["nrm"].to_numpy(dtype=np.float64)
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    kept_rows: list[int] = []
    kept = np.zeros(len(pdf), dtype=bool)
    dup_of = np.full(len(pdf), -1, dtype=np.int64)
    sim_to = np.full(len(pdf), np.nan)
    for i in range(len(pdf)):
        if kept_rows:
            sims = (M[kept_rows] @ M[i]) / (nrm[kept_rows] * nrm[i])
            j = int(np.argmax(sims))
            if sims[j] > threshold:
                dup_of[i] = ids[kept_rows[j]]
                sim_to[i] = sims[j]
                continue
        kept[i] = True
        kept_rows.append(i)
    return ids, kept, dup_of, sim_to


def test_x15_blocked_greedy_equals_sequential(spark):
    """The blocked-leader kernel must reproduce the sequential greedy
    EXACTLY — same keep/drop set, same absorbing leader, same cosine —
    on every cell of the real embeddings corpus, including blocks
    smaller than, equal to, and spanning the block size."""
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        SEMDEDUP_THRESHOLD,
        ivf_assignments,
        semdedup,
        with_norm,
    )

    emb = with_norm(load(spark, SF_DIR, "embeddings"))
    assigned, _ = ivf_assignments(emb)
    got = {
        r["vec_id"]: (r["kept"], r["dup_of"], r["leader_sim"])
        for r in semdedup(assigned).collect()
    }

    pdf_all = assigned.toPandas()
    n_checked = 0
    for _, cell_pdf in pdf_all.groupby("cell"):
        ids, kept, dup_of, sim_to = _sequential_semdedup_reference(
            cell_pdf, SEMDEDUP_THRESHOLD
        )
        for i, vid in enumerate(ids):
            k, d, s = got[int(vid)]
            assert k == bool(kept[i]), f"kept flipped for vec {vid}"
            assert (d if d is not None else -1) == int(dup_of[i]), (
                f"leader changed for vec {vid}"
            )
            if not kept[i]:
                assert s == pytest.approx(sim_to[i], abs=1e-12)
            n_checked += 1
    assert n_checked == len(got) and n_checked > 100


def test_x15_blocked_greedy_small_block_boundaries(spark):
    """Force multi-block execution (B=512) on a synthetic cell larger
    than one block where near-dups straddle block boundaries."""
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        SEMDEDUP_THRESHOLD,
        semdedup,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8))
    rows = []
    vid = 0
    # 1200 vectors in one cell: 40 leaders, each followed (much later,
    # across block boundaries) by near-copies that must be absorbed
    for rep in range(30):
        for b in range(40):
            v = base[b] + (0.0 if rep == 0 else 1e-3 * rng.normal(size=8))
            rows.append((vid, [float(x) for x in v], float(np.linalg.norm(v)), 0))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, nrm double, cell int"
    )
    marked = semdedup(df).toPandas().sort_values("vec_id")

    ids, kept, dup_of, sim_to = _sequential_semdedup_reference(
        df.toPandas(), SEMDEDUP_THRESHOLD
    )
    assert list(marked["vec_id"]) == list(ids)
    assert list(marked["kept"]) == list(kept)
    got_dup = [(-1 if d is None or pd.isna(d) else int(d)) for d in marked["dup_of"]]
    assert got_dup == list(dup_of)
    # the near-copies really did cross block boundaries and get dropped
    assert (~kept).sum() > 1000


def test_x15_in_kernel_funnel_equals_dataframe_agg(spark):
    """x15's per-cell funnel computed inside the kernel (one row per
    cell crosses the Python boundary) must equal the dataframe-side
    groupBy over the per-vector semdedup frame — including the rounded
    mean absorbed similarity."""
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        ivf_assignments,
        semdedup,
        semdedup_cell_stats,
        with_norm,
    )
    from real_time_event_streaming_analytics_platform_spark.operators.helpers import (
        round2,
    )

    emb = with_norm(load(spark, SF_DIR, "embeddings"))
    assigned, _ = ivf_assignments(emb)
    via_frame = {
        r["cell"]: tuple(r)[1:]
        for r in semdedup(assigned)
        .groupBy("cell")
        .agg(
            F.count("*").alias("members"),
            F.sum(F.col("kept").cast("int")).alias("kept_n"),
            F.sum((~F.col("kept")).cast("int")).alias("dropped_n"),
            round2(F.avg(F.when(~F.col("kept"), F.col("leader_sim")))).alias(
                "avg_dup_sim"
            ),
        )
        .collect()
    }
    in_kernel = {
        r["cell"]: tuple(r)[1:]
        for r in semdedup_cell_stats(assigned)
        .select(
            "cell",
            "members",
            "kept_n",
            "dropped_n",
            round2(F.col("avg_dup_sim")).alias("avg_dup_sim"),
        )
        .collect()
    }
    assert in_kernel == via_frame
    assert len(in_kernel) > 1


def _merge_case(spark, fit):
    """(caller module, fit thunk returning an ndarray, replay check or
    None) for one sum_partials caller."""
    from real_time_event_streaming_analytics_platform_spark.functions import (
        classifier,
        clustering,
        langid,
    )

    from .test_classifier import (
        _assert_langid_replays,
        _assert_lr_replays,
        _three_alphabet_docs,
        _two_vocab_docs,
    )

    if fit == "kmeans_fit":
        emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
        return (
            clustering,
            lambda: clustering.kmeans_fit(emb, k=4, max_iters=5, tol=1e-9)[0],
            None,
        )
    if fit == "fit_langid":
        docs = _three_alphabet_docs(spark)
        feats = langid.char_gram_features(docs).join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        langs = ["aa", "bb", "cc"]
        return (
            langid,
            lambda: langid.fit_langid(feats, langs),
            lambda W: _assert_langid_replays(feats, langs, W),
        )
    feats = classifier.hashed_features(
        _two_vocab_docs(spark, probes=False), F.col("lang") == "en"
    )
    return (
        classifier,
        lambda: classifier.fit_quality_lr(feats),
        lambda w: _assert_lr_replays(feats, w),
    )


@pytest.mark.parametrize("fit", ["kmeans_fit", "fit_langid", "fit_quality_lr"])
def test_tree_merge_equals_dense(spark, monkeypatch, fit):
    """Each partials.sum_partials caller fits the same model through the
    dense driver merge and through the groupBy tree merge (the 100 TB
    arm, forced by a zero budget): the same number of iterations, and
    results equal to float-add-order tolerance. The IRLS fits must
    also agree with their single-machine numpy replay, which catches
    an unpacking fault that both arms share."""
    from real_time_event_streaming_analytics_platform_spark.functions import partials

    mod, run, replay = _merge_case(spark, fit)
    calls = []

    def counted(df, fn, size):
        calls.append(size)
        return partials.sum_partials(df, fn, size)

    monkeypatch.setattr(mod, "sum_partials", counted)
    dense = np.asarray(run())
    it_dense = len(calls)
    calls.clear()
    monkeypatch.setattr(partials, "DRIVER_MERGE_MAX", 0)
    tree = np.asarray(run())
    assert len(calls) == it_dense > 0
    assert np.abs(dense - tree).max() < 1e-9
    if replay is not None:
        replay(dense)


def test_x3d_mapside_topk_matches_driver_reference(spark):
    """x3d's in-kernel per-batch top-R must reproduce the full global
    ADC ranking: reference = complete corpus × query score matrix in
    driver numpy, top-PQ_RERANK per query by the same (score desc, cid)
    order, exact-cosine re-rank — compared to the query output."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        IVF_TRAIN_MAX,
        N_QUERIES,
        PQ_M,
        PQ_RERANK,
        TOP_K,
        pq_encode,
        pq_train,
        with_norm,
    )

    emb = with_norm(load(spark, SF_DIR, "embeddings"))
    sample = (
        emb.select("embedding")
        .orderBy(F.xxhash64("vec_id"))
        .limit(IVF_TRAIN_MAX)
        .collect()
    )
    books = pq_train(np.array([r["embedding"] for r in sample], dtype=np.float64))
    sub = books.shape[2]
    enc = {r["vec_id"]: (r["nrm"], r["codes"]) for r in pq_encode(emb, books).collect()}
    cids = np.array(sorted(enc), dtype=np.int64)
    nrm = np.array([enc[i][0] for i in cids])
    codes = np.array([enc[i][1] for i in cids], dtype=np.int64)
    qrows = sorted(
        emb.where(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r["vec_id"]
    )
    emb_map = {r["vec_id"]: (np.array(r["embedding"]), r["nrm"]) for r in
               emb.collect()}

    expect = []
    for r in qrows:
        q = np.array(r["embedding"], dtype=np.float64)
        T = np.stack([q[m * sub : (m + 1) * sub] @ books[m].T for m in range(PQ_M)])
        adot = T[np.arange(PQ_M)[:, None], codes.T].sum(axis=0)
        score = adot / (r["nrm"] * nrm)
        score[cids == r["vec_id"]] = -np.inf
        short = np.lexsort((cids, -score))[:PQ_RERANK]
        short = short[np.isfinite(score[short])]
        exact = []
        for j in short:
            ce, cn = emb_map[int(cids[j])]
            exact.append((float(q @ ce / (r["nrm"] * cn)), int(cids[j])))
        exact.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, cid) in enumerate(exact[:TOP_K], start=1):
            expect.append((int(r["vec_id"]), cid, rank, cos))

    got = [
        (r["qid"], r["cid"], r["rank"], r["cos"])
        for r in engine.QUERIES["x3d_ann_pq"](spark, SF_DIR).collect()
    ]
    assert [(g[0], g[1], g[2]) for g in got] == [(e[0], e[1], e[2]) for e in expect]
    for g, e in zip(got, expect):
        assert g[3] == pytest.approx(round(e[3], 2), abs=1e-9)
    assert len(got) > 0


def test_x3d_x3e_output_invariant_to_arrow_batch_size(spark):
    """The per-batch top-R selection must be invariant to how the scan
    is batched: force tiny Arrow batches (many per-batch top-Rs) and
    compare both queries' full output against the default batching."""
    import real_time_event_streaming_analytics_platform_spark as engine

    def run(name):
        return [tuple(r) for r in engine.QUERIES[name](spark, SF_DIR).collect()]

    base = {n: run(n) for n in ("x3d_ann_pq", "x3e_ann_ivfadc")}
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        tiny = {n: run(n) for n in ("x3d_ann_pq", "x3e_ann_ivfadc")}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert tiny == base
    assert all(len(v) > 0 for v in base.values())


def test_x27_sweep_tiers_equal_standalone_runs(spark):
    """hard_negatives_sweep must give BIT-IDENTICAL mined sets to a
    standalone hard_negatives run at every tier: the stable-argsort
    probe order makes each tier's cells a prefix of the widest tier's,
    so the pos<t filter over the shared scored rows is exactly the
    narrower run's candidate set."""
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        hard_negatives,
        hard_negatives_sweep,
        ivf_assignments,
        with_norm,
    )

    emb = load(spark, SF_DIR, "embeddings")
    index = ivf_assignments(with_norm(emb))
    sweep = hard_negatives_sweep(emb, (4, 8, 16), index=index)
    for t in (4, 8, 16):
        got = [tuple(r) for r in sweep[t].collect()]
        want = [tuple(r) for r in hard_negatives(emb, nprobe=t, index=index).collect()]
        assert got == want, f"tier {t} diverged from standalone run"
        assert len(got) > 0
