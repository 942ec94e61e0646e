"""x26 model-based quality classifier (functions/classifier.py):
planted-label recovery, run-to-run determinism, pure-numpy IRLS replay
parity, and the optional model stage in the x10 curation funnel."""

import numpy as np
from pyspark.sql import functions as F

import real_time_event_streaming_analytics_platform_spark as engine
from real_time_event_streaming_analytics_platform_spark.catalog import load
from real_time_event_streaming_analytics_platform_spark.functions.classifier import (
    LR_ITERS,
    LR_RIDGE,
    fit_quality_lr,
    hashed_features,
    quality_keep,
    quality_scores,
)
from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
    curation_funnel,
    heldout_split,
)


def _two_vocab_docs(spark, n_per=20, probes=True):
    """Target docs use one vocabulary, raw docs a disjoint one; two
    held-out probes (ids 900/901) are written in each vocabulary but
    labeled OUTSIDE the target slice."""
    t_words = "alpha beta gamma delta epsilon zeta".split()
    r_words = "rock sand clay silt loam peat".split()
    rows = []
    for i in range(n_per):
        rows.append((i, "en", " ".join(t_words[(i + j) % 6] for j in range(14))))
    for i in range(n_per, 2 * n_per):
        rows.append((i, "de", " ".join(r_words[(i + j) % 6] for j in range(14))))
    if probes:
        rows.append((900, "fr", " ".join(t_words * 3)))
        rows.append((901, "fr", " ".join(r_words * 3)))
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_x26_planted_label_recovery(spark):
    """A linearly separable planted corpus must fit to perfect
    training separation AND generalize: the target-vocabulary held-out
    probe outscores the raw-vocabulary probe even though both are
    labeled negative."""
    docs = _two_vocab_docs(spark)
    feats = hashed_features(docs, F.col("lang") == "en")
    w = fit_quality_lr(feats)
    probs = {
        r["doc_id"]: r["prob"] for r in quality_scores(docs, feats, w).collect()
    }
    pos = [probs[i] for i in range(20)]
    neg = [probs[i] for i in range(20, 40)]
    assert min(pos) > 0.5 > max(neg), (min(pos), max(neg))
    assert probs[900] > 0.5 > probs[901]
    assert min(pos) > max(neg)


def test_x26_query_is_deterministic(spark):
    q = engine.QUERIES["x26_quality_classifier"]
    a = [tuple(r) for r in q(spark, "/root/testdata/sf0.001").collect()]
    b = [tuple(r) for r in q(spark, "/root/testdata/sf0.001").collect()]
    assert a == b
    assert len(a) >= 2  # per-lang rows
    # n_keep is bounded by n_docs
    assert all(r[2] <= r[1] for r in a)


def test_x26_numpy_replay_parity(spark):
    """The distributed IRLS (sparse per-partition gradient+Hessian
    partials, groupBy merge, driver solve) must agree with a dense
    single-machine replay of the same schedule to float-merge
    tolerance."""
    docs = _two_vocab_docs(spark, probes=False)
    feats = hashed_features(docs, F.col("lang") == "en")
    w = fit_quality_lr(feats)
    _assert_lr_replays(feats, w)


def _design(rows, dim):
    """Dense design matrix of sparse (bs, xs) feature rows, bias last."""
    X = np.zeros((len(rows), dim))
    for i, r in enumerate(rows):
        X[i, np.array(r["bs"])] = np.array(r["xs"])
    X[:, -1] = 1.0
    return X


def _replay_irls(X, Y):
    """Single-machine replay of the IRLS schedule: one ridge-damped
    Newton fit per column of the 0/1 label matrix Y."""
    W = np.zeros((Y.shape[1], X.shape[1]))
    for _ in range(LR_ITERS):
        deltas = []
        for k in range(Y.shape[1]):
            p = 1.0 / (1.0 + np.exp(-(X @ W[k])))
            wd = np.maximum(p * (1.0 - p), 1e-6)
            H = (X * wd[:, None]).T @ X + LR_RIDGE * np.eye(X.shape[1])
            deltas.append(np.linalg.solve(H, X.T @ (p - Y[:, k])))
        W -= np.stack(deltas)
    return W


def _assert_lr_replays(feats, w):
    """fit_quality_lr's weights ``w`` on ``feats`` agree with the replay."""
    rows = feats.collect()
    X = _design(rows, len(w))
    wr = _replay_irls(X, np.array([[r["y"]] for r in rows], float))[0]
    p_dist = 1.0 / (1.0 + np.exp(-(X @ np.asarray(w))))
    p_rep = 1.0 / (1.0 + np.exp(-(X @ wr)))
    assert np.allclose(p_dist, p_rep, atol=1e-4), np.abs(p_dist - p_rep).max()
    assert ((p_dist >= 0.5) == (p_rep >= 0.5)).all()


def test_funnel_model_stage_composes(spark):
    """quality_keep plugs into curation_funnel: the model stage appears
    as n_model between n_quality and n_dedup, every downstream count is
    bounded by its no-model twin, and model_keep=None reproduces the
    registered x10 columns exactly."""
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    base = {r["source"]: r.asDict() for r in curation_funnel(docs).collect()}
    keep = quality_keep(docs, F.col("lang") == "en")
    modeled = {
        r["source"]: r.asDict()
        for r in curation_funnel(docs, model_keep=keep).collect()
    }
    assert "n_model" not in next(iter(base.values()))
    for src, m in modeled.items():
        b = base[src]
        assert m["n_model"] <= m["n_quality"] == b["n_quality"]
        assert m["n_dedup"] <= b["n_dedup"]
        assert m["n_kept"] <= b["n_kept"]
        assert m["kept_tokens"] <= b["kept_tokens"]


def test_x26b_threshold_curve_matches_numpy_differential(spark):
    """x26b (VERDICT r12 #6): the registered held-out threshold curve
    must equal a numpy recomputation from the held-fold scores under
    the SAME (shared) train-fold weights — exact tp/n_keep per grid
    threshold, metric columns to round2 tolerance. Also pins that the
    shared fit is value-identical to a fresh one (the eval query, which
    reuses it, equals a fresh library call)."""
    import math

    from real_time_event_streaming_analytics_platform_spark.functions import classifier as C

    sf = "/root/testdata/sf0.001"
    curve = engine.QUERIES["x26b_threshold_curve"](spark, sf).collect()
    via_eval = engine.QUERIES["x26_heldout_eval"](spark, sf).collect()
    fresh_eval = C.quality_heldout_eval(load(spark, sf, "documents")).collect()
    assert [tuple(r) for r in via_eval] == [tuple(r) for r in fresh_eval]

    docs = load(spark, sf, "documents")
    target = F.col("lang") == "en"
    _, held = heldout_split(docs)
    w = C._train_fold_model(spark, sf, docs)  # the weights both queries used
    scored = (
        held.select("doc_id", target.cast("long").alias("label"))
        .join(
            C.quality_scores(held, C.hashed_features(held, target), w),
            "doc_id",
        )
        .collect()
    )
    labels = np.array([r["label"] for r in scored])
    probs = np.array([r["prob"] for r in scored])
    P = int(labels.sum())
    step = C.THRESHOLD_GRID_STEP
    b = np.floor(probs / step).astype(int)
    got = {r["threshold"]: r for r in curve}
    assert len(curve) == 19 and len(got) == 19
    for i in range(1, 20):
        t = round(i * step, 2)
        mask = b >= i
        n_keep, tp = int(mask.sum()), int(labels[mask].sum())
        r = got[t]
        assert (r["n_keep"], r["tp"]) == (n_keep, tp), t
        if n_keep:
            assert r["precision"] == math.floor(tp / n_keep * 100 + 0.5) / 100, t
        else:
            assert r["precision"] is None, t
        assert r["recall"] == math.floor(tp / P * 100 + 0.5) / 100, t
        want_f1 = math.floor(2.0 * tp / (n_keep + P) * 100 + 0.5) / 100
        assert r["f1"] == want_f1, t


def test_threshold_curve_operating_point_and_auto_keep_on_signal(spark):
    """On the planted full-signal corpus (plant_lang_markers p=1.0) the
    curve is non-degenerate and the measured operating point is nearly
    perfect; quality_keep_auto deploys exactly the measured threshold
    into the funnel's model stage (the funnel-wiring done-condition of
    VERDICT r12 #6)."""
    from real_time_event_streaming_analytics_platform_spark.functions.classifier import (
        quality_keep_auto,
        quality_threshold_curve,
        select_operating_point,
    )
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        plant_lang_markers,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    planted = plant_lang_markers(docs, 1.0)
    target = F.col("lang") == "en"
    curve_df = quality_threshold_curve(planted, target)
    curve = curve_df.collect()
    assert len(curve) == 19
    # monotone structure: keep-count and recall never increase with t
    for a, c in zip(curve, curve[1:]):
        assert c["n_keep"] <= a["n_keep"]
        assert c["recall"] <= a["recall"]
    best = select_operating_point(curve_df).collect()[0]
    assert best["f1"] == max(r["f1"] for r in curve)
    assert best["f1"] >= 0.97, best  # full signal is fully separable
    # ties resolve to the lowest threshold deterministically
    tied = min(r["threshold"] for r in curve if r["f1"] == best["f1"])
    assert best["threshold"] == tied

    # precision-floor mode: lowest threshold whose precision meets the
    # floor; an unachievable floor returns an EMPTY frame (refuse to
    # deploy), never a silent fallback
    pf = select_operating_point(
        curve_df, "precision_floor", precision_floor=0.9
    ).collect()
    assert pf and pf[0]["precision"] >= 0.9
    assert pf[0]["threshold"] == min(
        r["threshold"] for r in curve
        if r["precision"] is not None and r["precision"] >= 0.9
    )
    assert (
        select_operating_point(
            curve_df, "precision_floor", precision_floor=1.1
        ).count()
        == 0
    )

    # funnel wiring: the deployed threshold IS the measured point
    keep, t = quality_keep_auto(planted, target)
    assert t == best["threshold"]
    modeled = {
        r["source"]: r.asDict()
        for r in curation_funnel(planted, model_keep=keep).collect()
    }
    assert modeled and all(
        m["n_model"] <= m["n_quality"] for m in modeled.values()
    )


def test_s29_streaming_scorer_matches_batch(spark, tmp_path):
    """S29: a frozen-model streaming scorer over arriving documents
    must produce bitwise-identical probabilities to the batch scorer —
    same per-row feature algebra, same Arrow fold, no state."""
    import json as _json

    from real_time_event_streaming_analytics_platform_spark.functions.classifier import (
        score_docs_stream,
        score_features,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    feats = hashed_features(docs, F.col("lang") == "en")
    w = fit_quality_lr(feats)
    batch = {r["doc_id"]: r["prob"] for r in score_features(feats, w).collect()}

    # replay the same docs as an arriving JSONL stream in two files
    rows = [r.asDict() for r in docs.select("doc_id", "text", "lang").collect()]
    src = tmp_path / "in"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(src / f"part{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .json(str(src))
    )
    scored = score_docs_stream(stream, w)
    q = (
        scored.writeStream.format("memory")
        .queryName("s29_scores")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["prob"]
        for r in spark.sql("SELECT * FROM s29_scores").collect()
    }
    assert set(got) == set(batch)
    assert all(got[k] == batch[k] for k in got)  # bitwise parity


# ---------------------------------------------------------------------------
# t1b — model-based language ID (functions/langid.py, VERDICT r09 #5)
# ---------------------------------------------------------------------------


def _three_alphabet_docs(spark, n_per=15):
    """Three planted 'languages' with disjoint CHARACTER sets — the
    char-3-gram features are perfectly separable by construction."""
    alph = {
        "aa": "abcdefgh",
        "bb": "ijklmnop",
        "cc": "qrstuvwx",
    }
    rows = []
    i = 0
    for lang, chars in alph.items():
        for d in range(n_per):
            words = [
                "".join(chars[(d + j + k) % 8] for k in range(5))
                for j in range(12)
            ]
            rows.append((i, lang, " ".join(words)))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_t1b_planted_label_recovery(spark):
    """Disjoint-alphabet languages must fit to perfect training
    separation AND generalize: held-out probe docs written in each
    alphabet (never seen in training) take that alphabet's label."""
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        char_gram_features,
        langid_model,
        score_langid,
    )

    docs = _three_alphabet_docs(spark)
    _feats, W, langs = langid_model(docs)
    assert langs == ["aa", "bb", "cc"]

    # training recovery
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        langid_predictions,
    )

    preds = {r["doc_id"]: r["lang_model"] for r in langid_predictions(docs).collect()}
    truth = {r["doc_id"]: r["lang"] for r in docs.collect()}
    assert all(preds[i] == truth[i] for i in preds)

    # held-out probes: fresh docs per alphabet, ids outside training
    probes = spark.createDataFrame(
        [
            (900, "xx", "abec dfgh bade cfeh ghab cdef ahbg"),
            (901, "xx", "ijkl mnop jiln kopm lmin jopk nilm"),
            (902, "xx", "qrst uvwx rqsv twux vsqr uxwt qtvu"),
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: r["lang_model"]
        for r in score_langid(char_gram_features(probes), W, langs).collect()
    }
    assert got == {900: "aa", 901: "bb", 902: "cc"}, got


def test_t1b_query_deterministic_and_t1_agreement(spark):
    """Two runs of the registered query agree exactly; predictions stay
    in the observed label set; the agree_t1 column measures the
    model-vs-heuristic agreement (VERDICT r09 #5) — 0.602 at sf0.01
    when pinned (t1 says 'en' or 'und' only on this corpus; the model
    spreads over all five labels), floored loosely for drift."""
    q = engine.QUERIES["t1b_lang_id_model"]
    a = [tuple(r) for r in q(spark, "/root/testdata/sf0.001").collect()]
    b = [tuple(r) for r in q(spark, "/root/testdata/sf0.001").collect()]
    assert a == b
    assert len(a) > 0
    langs = {r[1] for r in a}
    assert all(r[2] in langs for r in a)  # lang_model within observed set
    assert all(0.0 <= r[3] <= 1.0 for r in a)  # prob_model
    agree = sum(r[5] for r in a) / len(a)
    assert 0.25 <= agree <= 1.0, agree


def test_t1b_numpy_replay_parity(spark):
    """The distributed multiclass IRLS (compact occupied-bucket space,
    K-class fused partials, Arrow merge) must agree with a dense
    single-machine replay of the same schedule."""
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        char_gram_features,
        fit_langid,
    )

    docs = _three_alphabet_docs(spark)
    feats = char_gram_features(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    langs = ["aa", "bb", "cc"]
    W = fit_langid(feats, langs)
    _assert_langid_replays(feats, langs, W)


def _assert_langid_replays(feats, langs, W):
    """fit_langid's weights ``W`` on ``feats`` agree with the replay."""
    from real_time_event_streaming_analytics_platform_spark.functions.classifier import (
        LR_BUCKETS,
    )

    rows = feats.collect()
    X = _design(rows, LR_BUCKETS + 1)
    Wr = _replay_irls(
        X, np.array([[r["lang"] == lg for lg in langs] for r in rows], float)
    )
    Zd = X @ np.asarray(W).T
    Zr = X @ Wr.T
    assert np.allclose(Zd, Zr, atol=1e-4), np.abs(Zd - Zr).max()
    assert (np.argmax(Zd, axis=1) == np.argmax(Zr, axis=1)).all()


def test_s31_streaming_langid_matches_batch(spark, tmp_path):
    """S31: a frozen-model streaming language-ID pass must produce
    bitwise-identical (lang_model, prob_model) to the batch scorer —
    the S29 discipline applied to t1b's char-gram features. Coverage
    now matches batch langid_predictions exactly (ADVICE r10): a
    planted sub-CHAR_N doc streams through and takes the bias-argmax
    fallback instead of silently vanishing."""
    import json as _json
    import math

    import numpy as _np

    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        langid_model,
        langid_stream,
        score_langid,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    feats, W, langs = langid_model(docs)
    batch = {
        r["doc_id"]: (r["lang_model"], r["prob_model"])
        for r in score_langid(feats, W, langs).collect()
    }

    rows = [r.asDict() for r in docs.select("doc_id", "text", "lang").collect()]
    short_id = max(r["doc_id"] for r in rows) + 1
    rows.append({"doc_id": short_id, "text": "ab", "lang": langs[0]})
    src = tmp_path / "in"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(src / f"part{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .json(str(src))
    )
    q = (
        langid_stream(stream, W, langs)
        .writeStream.format("memory")
        .queryName("s31_langid")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["lang_model"], r["prob_model"])
        for r in spark.sql("SELECT * FROM s31_langid").collect()
    }
    # full coverage: every streamed doc emits exactly one row
    assert set(got) == set(batch) | {short_id}
    # bitwise parity on the featured docs
    assert all(got[k] == batch[k] for k in batch)
    # the featureless doc takes the batch path's fallback: bias argmax
    bias_k = int(_np.argmax(_np.asarray(W)[:, -1]))
    bias_prob = 1.0 / (1.0 + math.exp(-float(_np.asarray(W)[bias_k, -1])))
    assert got[short_id] == (langs[bias_k], bias_prob)


def test_fit_loops_restore_arrow_conf(spark):
    """The Lloyd and IRLS fits pull their partials with toArrow() and
    must leave spark.sql.execution.arrow.pyspark.enabled as the caller
    set it — flipping it silently changes toPandas/createDataFrame
    semantics for sessions that had Arrow deliberately disabled."""
    from real_time_event_streaming_analytics_platform_spark.functions.clustering import (
        kmeans_fit,
    )
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        char_gram_features,
        fit_langid,
    )

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")

        docs = _three_alphabet_docs(spark)
        feats = char_gram_features(docs).join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        fit_langid(feats, ["aa", "bb", "cc"], iters=1)
        assert spark.conf.get(key) == "false"

        qdocs = _two_vocab_docs(spark, probes=False)
        qfeats = hashed_features(qdocs, F.col("lang") == "en")
        fit_quality_lr(qfeats, iters=1)
        assert spark.conf.get(key) == "false"

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(6)],
            "vec_id bigint, embedding array<double>",
        )
        kmeans_fit(emb, k=2, max_iters=1)
        assert spark.conf.get(key) == "false"
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_langid_scoring_empty_label_set(spark):
    """score_langid / langid_predictions on an EMPTY corpus return
    empty full-schema frames instead of raising from np.stack/np.argmax
    over a K=0 axis (ADVICE r10)."""
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        char_gram_features,
        langid_predictions,
        score_langid,
    )

    empty = spark.createDataFrame([], "doc_id long, lang string, text string")
    scored = score_langid(char_gram_features(empty), np.zeros((0, 10)), [])
    assert scored.columns == ["doc_id", "lang_model", "prob_model"]
    assert scored.count() == 0

    preds = langid_predictions(empty)
    assert preds.columns == ["doc_id", "lang", "lang_model", "prob_model"]
    assert preds.count() == 0


# ---------------------------------------------------------------------------
# Held-out evaluation for the two trained models (VERDICT r10 #5):
# planted-label replay and numpy parity are necessary but not
# sufficient — these measure generalization on x5's deterministic md5
# train/held split.
# ---------------------------------------------------------------------------


def test_t1b_heldout_eval_planted_and_corpus(spark):
    """Planted separable corpus: the frozen train-fold model must be
    PERFECT on the held fold (the signal is real and learnable).
    Synthetic testdata corpus: the lang label is independent of the
    text by construction, so the achievable ceiling is the
    majority-class prior (~0.36 on the held fold) — and the fitted
    model lands BELOW it (measured 0.27 at sf0.001, 0.30 at sf0.01)
    because it confidently replays training-fold noise. The floor of
    0.15 is a break-detector (scorer wired to wrong labels, split
    leakage making accuracy ~1.0 would also fail the ceiling side),
    not a quality claim."""
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        langid_heldout_eval,
    )

    planted = langid_heldout_eval(_three_alphabet_docs(spark)).collect()
    tot = sum(r["n_docs"] for r in planted)
    cor = sum(r["n_correct"] for r in planted)
    assert tot > 0 and cor == tot, planted  # perfect held-out on signal

    rows = engine.QUERIES["t1b_heldout_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    held_n = sum(r["n_docs"] for r in rows)
    acc = sum(r["n_correct"] for r in rows) / held_n
    # held fold of the md5 split is ~20% of 500 docs
    assert 80 <= held_n <= 130, held_n
    assert all(0.0 <= r["accuracy"] <= 1.0 for r in rows)
    assert all(r["n_correct"] <= r["n_docs"] for r in rows)
    # label⊥text corpus: above the break floor, below the no-leakage
    # ceiling (anything near 1.0 would mean the held fold leaked into
    # training)
    assert 0.15 <= acc <= 0.60, acc


def test_x26_heldout_eval_planted_and_corpus(spark):
    """Same discipline for the quality LR: perfect held-out on the
    planted disjoint-vocabulary corpus; on the synthetic corpus the
    weak label (lang='en') is text-independent, ceiling = predict-all-
    negative prior (~0.65), measured 0.49-0.52 (the model trades the
    prior for memorized noise). Floor 0.30 detects breakage; ceiling
    0.80 detects split leakage."""
    from real_time_event_streaming_analytics_platform_spark.functions.classifier import (
        quality_heldout_eval,
    )

    planted = quality_heldout_eval(
        _two_vocab_docs(spark, probes=False), F.col("lang") == "en"
    ).collect()
    tot = sum(r["n_docs"] for r in planted)
    cor = sum(r["n_correct"] for r in planted)
    assert tot > 0 and cor == tot, planted

    rows = engine.QUERIES["x26_heldout_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    held_n = sum(r["n_docs"] for r in rows)
    acc = sum(r["n_correct"] for r in rows) / held_n
    assert 80 <= held_n <= 130, held_n
    assert sorted(r["label"] for r in rows) == [0, 1]
    assert all(r["n_pred_keep"] <= r["n_docs"] for r in rows)
    assert 0.30 <= acc <= 0.80, acc


def test_t1b_heldout_memo_is_value_identical_to_fresh_fit(spark, monkeypatch):
    """The registered held-out eval and confusion queries share one
    train-fold fit (they previously refit the identical model).
    Honesty check: the shared-fit results must equal a fresh fit
    row-for-row — sharing may only change the wall, never a value —
    and a library call without a model always fits its own frame."""
    from real_time_event_streaming_analytics_platform_spark.functions import langid

    sf = "/root/testdata/sf0.001"
    via_query_eval = [
        tuple(r) for r in engine.QUERIES["t1b_heldout_eval"](spark, sf).collect()
    ]
    via_query_conf = [
        tuple(r)
        for r in engine.QUERIES["t1b_heldout_confusion"](spark, sf).collect()
    ]
    docs = load(spark, sf, "documents")
    assert via_query_eval == [
        tuple(r) for r in langid.langid_heldout_eval(docs).collect()
    ]
    assert via_query_conf == [
        tuple(r) for r in langid.langid_heldout_confusion(docs).collect()
    ]
    fits = _count_calls(monkeypatch, langid, "langid_model")
    langid.langid_heldout_eval(_three_alphabet_docs(spark)).collect()
    assert fits == [1]


def _count_calls(monkeypatch, module, name):
    """Wrap ``module.name`` to count its calls; returns the 1-item counter."""
    n = [0]
    fn = getattr(module, name)

    def counted(*a, **k):
        n[0] += 1
        return fn(*a, **k)

    monkeypatch.setattr(module, name, counted)
    return n


def _write_two_vocab_corpus(spark, sf_dir, swap):
    """Write ``_two_vocab_docs`` as ``sf_dir``'s documents table; with
    ``swap`` the two vocabularies trade labels (en <-> de)."""
    import os

    docs = _two_vocab_docs(spark, n_per=40, probes=False)
    if swap:
        docs = docs.withColumn(
            "lang", F.when(F.col("lang") == "en", "de").otherwise("en")
        )
    docs.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))


def test_heldout_models_fit_once_per_corpus_and_refit_on_rewrite(
    spark, tmp_path, monkeypatch
):
    """Each registered held-out pair (t1b eval + confusion, x26 eval +
    threshold curve) fits its train-fold model once per corpus. When
    documents.parquet is rewritten at the same path with swapped labels,
    the queries refit and equal a fresh library call on the new corpus
    — a stale model would score the new held fold with the old labels'
    weights."""
    from real_time_event_streaming_analytics_platform_spark.functions import classifier as C
    from real_time_event_streaming_analytics_platform_spark.functions import langid

    sf = str(tmp_path)
    lang_fits = _count_calls(monkeypatch, langid, "langid_model")
    lr_fits = _count_calls(monkeypatch, C, "fit_quality_lr")
    fresh_by_corpus = []
    for swap in (False, True):
        _write_two_vocab_corpus(spark, sf, swap)
        lang_fits[0] = lr_fits[0] = 0
        got = {
            name: [tuple(r) for r in engine.QUERIES[name](spark, sf).collect()]
            for name in (
                "t1b_heldout_eval",
                "t1b_heldout_confusion",
                "x26_heldout_eval",
                "x26b_threshold_curve",
            )
        }
        assert (lang_fits, lr_fits) == ([1], [1]), swap
        docs = load(spark, sf, "documents")
        fresh = {
            "t1b_heldout_eval": langid.langid_heldout_eval(docs),
            "x26_heldout_eval": C.quality_heldout_eval(docs),
        }
        fresh = {k: [tuple(r) for r in v.collect()] for k, v in fresh.items()}
        for name, rows in fresh.items():
            assert got[name] == rows, (swap, name)
        fresh_by_corpus.append(fresh)
    # the swap must change both answers, or the equality above is vacuous
    for name in fresh_by_corpus[0]:
        assert fresh_by_corpus[0][name] != fresh_by_corpus[1][name], name


def test_clear_derived_drops_models_and_tables(spark, tmp_path, monkeypatch):
    """clear_derived() forgets the train-fold models as well as the
    derived tables: after it, the next use refits and rebuilds."""
    from real_time_event_streaming_analytics_platform_spark.catalog import clear_derived
    from real_time_event_streaming_analytics_platform_spark.functions import langid
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        signature_index,
    )

    sf = str(tmp_path)
    _write_two_vocab_corpus(spark, sf, swap=False)
    fits = _count_calls(monkeypatch, langid, "langid_model")
    engine.QUERIES["t1b_heldout_eval"](spark, sf)
    sig_files = signature_index(spark, sf).inputFiles()
    engine.QUERIES["t1b_heldout_eval"](spark, sf)
    assert signature_index(spark, sf).inputFiles() == sig_files
    assert fits == [1]
    clear_derived()
    engine.QUERIES["t1b_heldout_eval"](spark, sf)
    assert fits == [2]
    assert set(signature_index(spark, sf).inputFiles()).isdisjoint(sig_files)


def test_heldout_evals_rise_with_graded_content_signal(spark):
    """VERDICT r11 #5: the corpus evals above honestly measure at/below
    the majority prior because the synthetic labels are text-independent
    — they prove the harness, not the model. This fixture makes the
    label learnable at a CONTROLLABLE strength: plant_lang_markers
    appends a per-lang lexical marker to a deterministic p-fraction of
    docs (salted-md5 selection, independent of the split bytes). Bars,
    for BOTH trained models: held-out accuracy rises monotonically with
    p in {0.25, 0.5, 1.0} (margin 0.05 per step) and beats the
    majority-class prior at p >= 0.5. Measured at sf0.001 (deterministic
    fixture + deterministic fits): t1b 0.466 / 0.689 / 1.000 vs prior
    0.35; x26 0.583 / 0.786 / 1.000 vs prior 0.65 — perfect held-out at
    full signal, graceful degradation below it."""
    from real_time_event_streaming_analytics_platform_spark.functions.classifier import (
        quality_heldout_eval,
    )
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        langid_heldout_eval,
        plant_lang_markers,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    prefix = F.expr("substring(md5(cast(doc_id as string)), 1, 2)")
    held = docs.where(prefix >= F.lit("cc"))
    n_held = held.count()
    by_lang = {
        r["lang"]: r["c"]
        for r in held.groupBy("lang").agg(F.count("*").alias("c")).collect()
    }
    prior_t1b = max(by_lang.values()) / n_held
    n_pos = held.where(F.col("lang") == "en").count()
    prior_x26 = max(n_pos, n_held - n_pos) / n_held

    acc_t1b, acc_x26 = {}, {}
    for p in (0.25, 0.5, 1.0):
        planted = plant_lang_markers(docs, p)
        r1 = langid_heldout_eval(planted).collect()
        acc_t1b[p] = sum(r["n_correct"] for r in r1) / sum(r["n_docs"] for r in r1)
        r2 = quality_heldout_eval(planted, F.col("lang") == "en").collect()
        acc_x26[p] = sum(r["n_correct"] for r in r2) / sum(r["n_docs"] for r in r2)

    for acc, prior, name in (
        (acc_t1b, prior_t1b, "t1b"),
        (acc_x26, prior_x26, "x26"),
    ):
        assert acc[0.5] >= acc[0.25] + 0.05, (name, acc)
        assert acc[1.0] >= acc[0.5] + 0.05, (name, acc)
        assert acc[0.5] > prior, (name, acc, prior)
        assert acc[1.0] > prior, (name, acc, prior)
    # full signal is fully learnable end-to-end through the frozen
    # train-fold pipeline — anything below ~perfect means the marker
    # never reached the features or the split leaked
    assert acc_t1b[1.0] >= 0.97 and acc_x26[1.0] >= 0.97, (acc_t1b, acc_x26)


def test_t1b_heldout_confusion_consistent_and_diagonal_on_signal(spark):
    """The confusion matrix is the eval's per-class companion (VERDICT
    r10 #5): on the planted separable corpus it must be DIAGONAL-only
    (every held doc predicted as its true class); on the synthetic
    corpus each true-class row must sum to the eval query's n_docs and
    its diagonal cell must equal n_correct — matrix and accuracy view
    are the same measurement."""
    from real_time_event_streaming_analytics_platform_spark.functions.langid import (
        langid_heldout_confusion,
    )

    planted = langid_heldout_confusion(_three_alphabet_docs(spark)).collect()
    assert planted and all(r["lang"] == r["lang_model"] for r in planted)
    assert all(abs(r["frac"] - 1.0) < 1e-9 for r in planted)

    conf = engine.QUERIES["t1b_heldout_confusion"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    ev = {
        r["lang"]: r
        for r in engine.QUERIES["t1b_heldout_eval"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    by_true: dict = {}
    for r in conf:
        by_true.setdefault(r["lang"], []).append(r)
    assert set(by_true) == set(ev)
    for lang, rows in by_true.items():
        assert sum(r["n"] for r in rows) == ev[lang]["n_docs"], lang
        diag = sum(r["n"] for r in rows if r["lang_model"] == lang)
        assert diag == ev[lang]["n_correct"], lang
        assert abs(sum(r["frac"] for r in rows) - 1.0) <= 0.02 * len(rows)
