"""Model-based language identification (t1b): one-vs-rest logistic
regression over hashed character-n-gram features — the fastText-style
langid family (Joulin et al. 2016, arXiv:1607.01759 — public; CLD/
langid.py use the same char-n-gram feature space) re-expressed on the
x26 IRLS machinery, giving t1's stopword heuristic a TRAINED twin
(VERDICT r09 #5: t1 was the last heuristic-only curation stage without
a model counterpart).

Reference analog: extends the t1 text-analysis family (SURVEY.md
LLM-pipeline section); the reference itself has no language surface.

Spark-first shape:
- **features**: character 3-grams of the lowercased text hashed into
  the shared LR_BUCKETS space, built with the same two codegen'd hash
  aggregations as x26's word-gram features (one corpus scan, one
  (doc_id, bucket) shuffle of few-hundred-byte rows, one per-doc
  collect_list). A shuffle-free per-row twin (``char_row_features``)
  exists for the streaming scorer and is value- and order-identical
  (S31 bitwise parity) — kept off the batch path per the measured x26
  A/B (interpreted lambdas lose to codegen'd aggregation).
- **fit**: a MULTICLASS one-vs-rest IRLS where each iteration is ONE
  fused mapInPandas job carrying all K classes' (gradient, Hessian)
  partials (Z = X·Wᵀ is a single gemm; the K per-class Hessians share
  X) — the corpus is scanned once (the feature build) and the feature
  table LR_ITERS times TOTAL, independent of K. Partial size is
  K·B²-bounded and corpus-size-free; the K ridge-damped systems solve
  on the driver. K = observed languages (a bounded distinct,
  collected). Measured vs K sequential binary fits: 25 scheduler-bound
  jobs (~32 s at sf0.1) collapse to 1 + LR_ITERS jobs.
- **score**: ONE Arrow pass computes all K logits per document from
  the shared sparse (bs, xs) arrays; argmax with ties resolved to the
  lexicographically first language (langs sorted, np.argmax takes the
  first maximum); featureless docs take the bias argmax.

Rows-only registration (the iterative fit is not one-statement SQL);
planted-label recovery, determinism, numpy replay parity, measured
agreement with t1, and the S31 frozen-model streaming parity are
pinned in tests/test_classifier.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._shingle import _parallelize
from ..catalog import derived, load
from ..operators.helpers import round2
from ..plans.registry import query, track_persist
from .classifier import LR_BUCKETS, LR_ITERS, LR_RIDGE, LR_TOL
from .partials import sum_partials
from .pipeline import heldout_split
from .text import heuristic_lang_pred

CHAR_N = 3  # fastText langid's default char-n-gram floor

# bucket expression over one gram string g — xxhash64 is fine here
# (rows-only operator; no DuckDB twin needs to reproduce the hash)
_CHAR_BUCKET = f"pmod(xxhash64(g), {LR_BUCKETS})"
_GRAMS = (
    f"transform(sequence(1, length(_txt) - {CHAR_N - 1}),"
    f" i -> substring(_txt, i, {CHAR_N}))"
)


def _bound_text(docs: DataFrame) -> DataFrame:
    """(doc_id, _txt): lowercased trimmed text with at least one full
    character n-gram. The length guard matters: sequence(1, n) DESCENDS
    for n < 1 in Spark, so short docs must be excluded before the gram
    transform, never after."""
    return (
        _parallelize(docs)
        .select("doc_id", F.lower(F.trim(F.col("text"))).alias("_txt"))
        .where(F.length("_txt") >= CHAR_N)
    )


def char_gram_features(docs: DataFrame) -> DataFrame:
    """(doc_id, bs, xs): per-doc sparse L1-normalized hashed char-3-gram
    features, built SHUFFLE-FREE as scan-local array algebra: hash the
    grams, sort the bucket array once, and run-length-scan it — the
    boundary-index filter is O(n) element compares, so the whole build
    is per-row O(n log n) with zero exchanges. Replaces both earlier
    forms (the two-hash-aggregation batch build and the quadratic
    ``filter(_ba, x = b)`` per-distinct count): measured 3.1× faster
    than the aggregated build at sf0.1 and bitwise-identical to it
    (bs ascending, xs = cnt/total in bs order). Being shuffle-free it
    is also legal inside Structured Streaming, so the batch and stream
    featurizers are now the SAME function."""
    b = (
        _bound_text(docs)
        .withColumn(
            "_sa",
            F.expr(f"array_sort(transform(({_GRAMS}), g -> {_CHAR_BUCKET}))"),
        )
        .withColumn("_n", F.expr("size(_sa)"))
        .withColumn(
            "_st",
            F.expr(
                "filter(sequence(0, _n - 1),"
                " i -> i = 0 OR _sa[i] != _sa[i-1])"
            ),
        )
    )
    return b.select(
        "doc_id",
        F.expr("transform(_st, i -> _sa[i])").alias("bs"),
        F.expr(
            "zip_with(_st, concat(slice(_st, 2, size(_st) - 1), array(_n)),"
            " (s, e) -> CAST(e - s AS DOUBLE) / _n)"
        ).alias("xs"),
    )


def char_row_features(docs: DataFrame) -> DataFrame:
    """Streaming-scorer alias of ``char_gram_features`` — the RLE build
    is already shuffle-free (stateless projection), so the historical
    batch/stream split collapsed into one implementation; kept as a
    name because the streaming call sites and the S31 parity contract
    reference the row form explicitly."""
    return char_gram_features(docs)


def fit_langid(
    feats_labeled: DataFrame,
    langs: list[str],
    buckets: int = LR_BUCKETS,
    iters: int = LR_ITERS,
    ridge: float = LR_RIDGE,
    tol: float = LR_TOL,
):
    """K×(B+1) one-vs-rest weight matrix, fit with a MULTICLASS IRLS:
    each iteration is still ONE fused mapInPandas job (the x26
    discipline), but the partition partial now carries all K classes'
    (gradient, Hessian) statistics — Z = X·Wᵀ is one gemm, the K
    per-class Hessians share the same X — so the feature table is
    scanned iters times TOTAL, not iters×K times. Measured: the
    K-separate-fits form spent ~25 scheduler-bound jobs (~32 s at
    sf0.1); this form spends 1 + iters. The K independent ridge-damped
    (B+1)×(B+1) systems solve on the driver, exactly as K sequential
    fit_quality_lr calls would — the binary-fit replay-parity argument
    carries over class-by-class."""
    import numpy as np

    dim = buckets + 1
    K = len(langs)
    W = np.zeros((K, dim))
    if K == 0:
        return W
    n = feats_labeled.count()
    if n == 0:
        return W
    parts = max(4, min(512, -(-n // 20_000)))
    base = track_persist(
        feats_labeled.select("lang", "bs", "xs").repartition(parts)
    )
    # Fit in the COMPACT space of occupied buckets (a bounded ≤ B-row
    # distinct): an unoccupied bucket's gradient and Hessian row are
    # identically zero, so its ridge-damped Newton update is exactly 0
    # and dropping it changes nothing — while the per-partition gemms
    # shrink from (B+1)² to (occupied+1)² flops (measured ~10× at
    # sf0.1, where 323 of 1024 buckets are occupied).
    occ = np.array(
        sorted(
            r["b"]
            for r in feats_labeled.select(F.explode("bs").alias("b"))
            .distinct()
            .collect()
        ),
        dtype=np.int64,
    )
    dim_c = len(occ) + 1
    Wc = np.zeros((K, dim_c))
    lang_idx = {lg: k for k, lg in enumerate(langs)}
    # each partition ships every class's upper Hessian triangle, then
    # every class's gradient, as one flat vector
    tri_i, tri_j = np.triu_indices(dim_c)
    tri = len(tri_i)
    for _ in range(iters):
        Wb = Wc.copy()

        def _partial(batches):
            Hs = np.zeros((K, dim_c, dim_c))
            Gs = np.zeros((K, dim_c))
            for pdf in batches:
                lens = np.fromiter(
                    (len(v) for v in pdf["bs"]), dtype=np.int64, count=len(pdf)
                )
                bcat = np.concatenate(list(pdf["bs"])).astype(np.int64)
                xcat = np.concatenate(list(pdf["xs"])).astype(np.float64)
                X = np.zeros((len(lens), dim_c))
                X[
                    np.repeat(np.arange(len(lens)), lens),
                    np.searchsorted(occ, bcat),
                ] = xcat
                X[:, -1] = 1.0
                ycls = (
                    pdf["lang"].map(lang_idx).to_numpy(dtype=np.int64)
                )
                Z = X @ Wb.T  # rows × K, one gemm for all classes
                P = 1.0 / (1.0 + np.exp(-Z))
                R = P - (ycls[:, None] == np.arange(K)[None, :])
                Gs += (X.T @ R).T
                WD = np.maximum(P * (1.0 - P), 1e-6)
                for k in range(K):
                    Hs[k] += (X * WD[:, k : k + 1]).T @ X
            return np.concatenate(
                [Hs[k][tri_i, tri_j] for k in range(K)]
                + [Gs[k] for k in range(K)]
            )

        tot = sum_partials(base, _partial, K * (tri + dim_c))
        H = np.zeros((K, dim_c, dim_c))
        H[:, tri_i, tri_j] = tot[: K * tri].reshape(K, tri)
        G = tot[K * tri :].reshape(K, dim_c)
        upper = np.triu(H, 1)
        H += upper.transpose(0, 2, 1)  # mirror the shipped triangle
        deltas = np.stack(
            [
                np.linalg.solve(H[k] + ridge * np.eye(dim_c), G[k])
                for k in range(K)
            ]
        )
        Wc = Wc - deltas
        if float(np.abs(deltas).max()) < tol:
            break
    W[:, occ] = Wc[:, :-1]
    W[:, -1] = Wc[:, -1]
    return W


def score_langid(feats: DataFrame, W, langs: list[str]) -> DataFrame:
    """(doc_id, lang_model, prob_model): all K logits in one Arrow pass
    over the shared sparse arrays; argmax ties go to the
    lexicographically first language (langs is sorted; np.argmax takes
    the first maximum); prob_model = sigmoid of the winning logit."""
    import numpy as np

    Wm = np.asarray(W, dtype=np.float64)
    names = list(langs)
    if not names:
        # Empty label set (empty corpus): mirror fit_langid's K == 0
        # guard instead of letting np.stack raise (ADVICE r10). Built
        # as a filtered projection of ``feats`` — not createDataFrame —
        # so a streaming input stays a streaming frame.
        return feats.select(
            "doc_id",
            F.lit(None).cast("string").alias("lang_model"),
            F.lit(None).cast("double").alias("prob_model"),
        ).where(F.lit(False))

    def _score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lens = np.fromiter(
                (len(v) for v in pdf["bs"]), dtype=np.int64, count=len(pdf)
            )
            bcat = np.concatenate(list(pdf["bs"])).astype(np.int64)
            xcat = np.concatenate(list(pdf["xs"])).astype(np.float64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            Z = np.stack(
                [
                    np.add.reduceat(Wm[k][bcat] * xcat, starts) + Wm[k, -1]
                    for k in range(len(names))
                ],
                axis=1,
            )
            best = np.argmax(Z, axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang_model": [names[i] for i in best],
                    "prob_model": 1.0
                    / (1.0 + np.exp(-Z[np.arange(len(best)), best])),
                }
            )

    return feats.select("doc_id", "bs", "xs").mapInPandas(
        _score, "doc_id long, lang_model string, prob_model double"
    )


def langid_model(docs: DataFrame):
    """Train the OvR langid model on ``docs``' own lang labels; returns
    (feats, W, langs) — feats persisted for the caller's scoring pass."""
    feats = track_persist(
        char_gram_features(docs).join(docs.select("doc_id", "lang"), "doc_id")
    )
    langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
    return feats, fit_langid(feats, langs), langs


def predict_with_model(docs: DataFrame, feats: DataFrame, W, langs) -> DataFrame:
    """(doc_id, lang, lang_model, prob_model) for EVERY doc in ``docs``
    under a FROZEN model — featureless docs (fewer than CHAR_N
    characters) take the bias argmax, the trained majority-class prior.
    ``feats`` must be the char-gram features of ``docs``."""
    import math

    import numpy as np

    if not langs:
        # Empty label set: full-schema empty frame instead of np.argmax
        # raising on a K=0 axis (ADVICE r10); built as a filtered
        # projection so the frame kind follows the input.
        return docs.select(
            "doc_id",
            "lang",
            F.lit(None).cast("string").alias("lang_model"),
            F.lit(None).cast("double").alias("prob_model"),
        ).where(F.lit(False))
    Wm = np.asarray(W, dtype=np.float64)
    bias_k = int(np.argmax(Wm[:, -1]))
    bias_prob = 1.0 / (1.0 + math.exp(-float(Wm[bias_k, -1])))
    return (
        docs.select("doc_id", "lang")
        .join(score_langid(feats, W, langs), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("lang_model", F.lit(langs[bias_k])).alias("lang_model"),
            round2(F.coalesce("prob_model", F.lit(bias_prob))).alias(
                "prob_model"
            ),
        )
    )


def langid_predictions(docs: DataFrame) -> DataFrame:
    """Train on ``docs``' own lang labels, predict every document."""
    feats, W, langs = langid_model(docs)
    return predict_with_model(docs, feats, W, langs)


def _fit_train_fold(docs: DataFrame):
    """(W, langs) fitted on x5's train fold of ``docs`` only."""
    train, _ = heldout_split(docs)
    _feats, W, langs = langid_model(train)
    return W, langs


def _train_fold_model(spark: SparkSession, sf_dir: str, docs: DataFrame):
    """The registered corpus's train-fold model, fitted once per corpus
    and shared by t1b_heldout_eval and t1b_heldout_confusion. The fit is
    deterministic (pinned by the replay/parity tests), so sharing it
    changes the wall, never a value."""
    return derived(
        spark, sf_dir, "documents", "t1b_train_fold", lambda: _fit_train_fold(docs)
    )


def langid_heldout_eval(docs: DataFrame, model=None) -> DataFrame:
    """Held-out generalization measurement for the t1b model (VERDICT
    r10 #5): train ONLY on x5's deterministic md5 'train' fold, score
    the held-out (val + test) fold with the frozen model, and report
    per-true-class counts — (lang, n_docs, n_correct, accuracy). The
    overall held-out accuracy is sum(n_correct)/sum(n_docs). ``model``
    is that train-fold (W, langs); None fits it here.

    What the bar means is corpus-dependent and argued in
    tests/test_classifier.py: on the synthetic testdata the lang label
    is independent of the text by construction, so the achievable
    ceiling IS the majority-class prior (the model should match it,
    never materially beat it); on a planted separable corpus the same
    pipeline reaches perfect held-out accuracy."""
    W, langs = _fit_train_fold(docs) if model is None else model
    _, held = heldout_split(docs)
    preds = predict_with_model(held, char_gram_features(held), W, langs)
    return (
        preds.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("lang_model") == F.col("lang")).cast("long")
            ).alias("n_correct"),
            round2(
                F.avg((F.col("lang_model") == F.col("lang")).cast("double"))
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


def plant_lang_markers(docs: DataFrame, p: float, salt: str = "mk") -> DataFrame:
    """Graded content-dependent-label fixture (VERDICT r11 #5).

    The synthetic corpus's lang labels are text-independent by
    construction, so the held-out evals measure at/below the majority
    prior — they prove the harness, not the model. This makes the label
    learnable from text at a CONTROLLABLE strength: a per-lang lexical
    marker (``zq<lang>qz``, repeated — distinct char-3-grams AND
    distinct word tokens per lang, so it carries signal for both the
    t1b char-gram model and the x26 hashed-token model) is appended to
    a deterministic p-fraction of documents. The selection is the x29
    /256-quantized md5 decision on a SALTED doc_id — the salt keeps the
    marker decision independent of x5's split bytes (md5 of the
    unsalted id), so marked docs land in train and held folds alike.

    The pinned bars (tests/test_classifier.py): held-out accuracy must
    rise monotonically with p over {0.25, 0.5, 1.0} and beat the
    majority-class prior at p >= 0.5, for BOTH models."""
    thresh = int(round(p * 256))
    marked = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        < F.lit(thresh)
    )
    one = F.concat(F.lit("zq"), F.col("lang"), F.lit("qz"))
    marker = F.concat_ws(" ", *([one] * 8))
    return docs.withColumn(
        "text",
        F.when(marked, F.concat_ws(" ", F.col("text"), marker)).otherwise(
            F.col("text")
        ),
    )


@query("t1b_heldout_eval")
def t1b_heldout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (trained model): held-out per-class eval of t1b."""
    docs = load(spark, sf_dir, "documents")
    return langid_heldout_eval(docs, _train_fold_model(spark, sf_dir, docs))


def langid_heldout_confusion(docs: DataFrame, model=None) -> DataFrame:
    """The full held-out confusion matrix for t1b — (lang, lang_model,
    n, frac) with frac the row-normalized share of true-class ``lang``
    predicted as ``lang_model`` — the per-class companion to
    langid_heldout_eval's accuracy diagonal (VERDICT r10 #5 asks for
    the confusion, not only per-class accuracy). Same frozen-model
    split: train on x5's md5 'train' fold, score the held-out fold;
    ``model`` as in langid_heldout_eval."""
    from pyspark.sql import Window

    W, langs = _fit_train_fold(docs) if model is None else model
    _, held = heldout_split(docs)
    preds = predict_with_model(held, char_gram_features(held), W, langs)
    row_n = Window.partitionBy("lang")
    return (
        preds.groupBy("lang", "lang_model")
        .agg(F.count("*").alias("n"))
        .withColumn("frac", round2(F.col("n") / F.sum("n").over(row_n)))
        .orderBy("lang", "lang_model")
    )


@query("t1b_heldout_confusion")
def t1b_heldout_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (trained model): held-out confusion matrix of t1b."""
    docs = load(spark, sf_dir, "documents")
    return langid_heldout_confusion(docs, _train_fold_model(spark, sf_dir, docs))


def langid_stream(stream_docs: DataFrame, W, langs: list[str]) -> DataFrame:
    """S31: score an unbounded documents stream with a FROZEN langid
    model — the train-offline / score-online split (S29's discipline).
    Streaming-legal by construction: the shuffle-free per-row feature
    build and the Arrow scoring pass are stateless projections, and the
    short-doc fallback below is a second stateless projection unioned
    in. Bitwise parity with the batch scorer is pinned in
    tests/test_classifier.py.

    Coverage matches batch ``langid_predictions`` exactly (ADVICE r10):
    docs shorter than CHAR_N characters have no char-n-gram features,
    so instead of silently dropping them (char_row_features filters
    them) they take the bias-argmax class with the bias sigmoid — the
    same fallback the batch path applies via its left-join coalesce."""
    import math

    import numpy as np

    scored = score_langid(char_row_features(stream_docs), W, langs)
    if not langs:
        return scored
    Wm = np.asarray(W, dtype=np.float64)
    bias_k = int(np.argmax(Wm[:, -1]))
    bias_prob = 1.0 / (1.0 + math.exp(-float(Wm[bias_k, -1])))
    short = (
        stream_docs.select(
            "doc_id", F.lower(F.trim(F.col("text"))).alias("_txt")
        )
        # NULL text also lacks features (batch gives it the fallback
        # via its left join), so coalesce the predicate to true on null.
        .where(F.coalesce(F.length("_txt") < F.lit(CHAR_N), F.lit(True)))
        .select(
            "doc_id",
            F.lit(langs[bias_k]).alias("lang_model"),
            F.lit(bias_prob).alias("prob_model"),
        )
    )
    return scored.unionByName(short)


@query("t1b_lang_id_model")
def t1b_lang_id_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained langid over the corpus with the t1 heuristic's verdict
    alongside: (doc_id, lang, lang_model, prob_model, lang_t1,
    agree_t1) — agree_t1 makes the model-vs-heuristic agreement rate a
    one-aggregate measurement (avg(agree_t1)), per VERDICT r09 #5.
    Rows-only: iterative OvR IRLS fit."""
    docs = load(spark, sf_dir, "documents")
    return (
        langid_predictions(docs)
        .join(heuristic_lang_pred(docs), "doc_id")
        .select(
            "doc_id",
            "lang",
            "lang_model",
            "prob_model",
            "lang_t1",
            (F.col("lang_model") == F.col("lang_t1")).cast("int").alias(
                "agree_t1"
            ),
        )
        .orderBy("doc_id")
    )
