"""Distributed BPE vocabulary induction over the documents corpus —
the tokenizer-training leg of the LLM-data pipeline (Sennrich et al.
2016, arXiv:1508.07909 — public).

Spark-first decomposition of the classic trainer:

1. ONE corpus pass builds the (word, freq) table — after this, every
   merge round works on the VOCABULARY, not the corpus. At 100 TB the
   corpus scan is the only corpus-sized job; the word table is
   10^6–10^8 rows and hash-partitions on the word key.
2. Each merge round is two narrow jobs over the word table:
   (a) adjacent-symbol pair counts weighted by word freq — a
       transform(sequence)+explode Generate feeding one linear
       content-keyed groupBy; the argmax pair is orderBy().limit(1),
       which Spark executes as per-partition top-1 + a 1-row driver
       merge (a TakeOrderedAndProject, never a global sort);
   (b) the merge applied to every word's symbol array with a pure-SQL
       aggregate() fold — greedy left-to-right, the reference BPE
       semantics — followed by localCheckpoint to cut the iterative
       lineage (the connected-components discipline from pipeline.py).
3. The merge TABLE (step, left, right, merged, pair_freq) is the
   output — vocab-training's artifact is the merge list, not the
   re-tokenized corpus.

Determinism: ties on pair_freq break lexicographically (left, right) in
BOTH the Spark plan and the pure-Python reference the tests replay, so
the merge list is bit-stable across runs and cluster sizes. Rows-only
registration: the N-round iterative argmax is not expressible as one
DuckDB SQL statement; correctness is pinned by an exact driver-side
replay (tests/test_vocab_bpe.py) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._shingle import WORDS_EXPR
from ..catalog import load
from ..operators.helpers import round2
from ..plans.registry import query

N_MERGES = 8
END_MARK = "</w>"


def word_freq(docs: DataFrame) -> DataFrame:
    """(word, freq) — the one corpus-sized job of the trainer."""
    return (
        docs.select(F.explode(F.expr(WORDS_EXPR)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """word -> its character symbol array + end-of-word marker."""
    return words.select(
        "word",
        "freq",
        F.expr(
            f"concat(filter(split(word, ''), c -> c != ''), array('{END_MARK}'))"
        ).alias("syms"),
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency."""
    pairs = syms.where(F.expr("size(syms) >= 2")).select(
        "freq",
        F.expr(
            "explode(transform(sequence(1, size(syms) - 1),"
            " i -> struct(syms[i-1] AS a, syms[i] AS b)))"
        ).alias("pr"),
    )
    return pairs.groupBy("pr.a", "pr.b").agg(F.sum("freq").alias("pair_freq"))


def _merge_expr(a: str, b: str) -> str:
    """Greedy left-to-right fold replacing adjacent (a, b) with a||b.

    Symbols are drawn from [a-z0-9] plus the end marker, so embedding
    them as SQL string literals needs no escaping; the fold consumes
    the just-merged symbol (aaa + (a,a) -> [aa, a]), matching the
    reference implementation's scan semantics.
    """
    ab = a + b
    return f"""
    aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, s) ->
        CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a}' AND s = '{b}'
             THEN concat(slice(acc, 1, size(acc) - 1), array('{ab}'))
             ELSE concat(acc, array(s)) END)
    """


def bpe_merges_with_state(
    spark: SparkSession, words: DataFrame, n_merges: int = N_MERGES
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run n_merges BPE rounds; returns ([(step, left, right, merged,
    pair_freq)], final_syms) where final_syms is the word table in its
    post-last-merge symbol state — i.e. every training-corpus word
    ALREADY ENCODED under the full merge list. Stops early if no
    adjacent pair remains."""
    # Lazy checkpoints (eager=False): each round's merge fold then
    # materializes INSIDE that round's argmax job instead of paying a
    # separate eager-materialization job first — same lineage cut, half
    # the jobs (2N+1 → N+1 for N merge rounds). The checkpointed
    # partitions are computed exactly once either way.
    syms = _initial_symbols(words).localCheckpoint(eager=False)
    out: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = (
            _pair_counts(syms)
            .orderBy(F.col("pair_freq").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], best[0]["pair_freq"]
        out.append((step, a, b, a + b, int(cnt)))
        syms = syms.select(
            "word", "freq", F.expr(_merge_expr(a, b)).alias("syms")
        ).localCheckpoint(eager=False)
    return out, syms


def bpe_merges(
    spark: SparkSession, words: DataFrame, n_merges: int = N_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """Merge list only — see bpe_merges_with_state."""
    return bpe_merges_with_state(spark, words, n_merges)[0]


@query("x20_bpe_vocab")
def x20_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First N_MERGES BPE merges learned from the documents corpus."""
    docs = load(spark, sf_dir, "documents")
    merges = bpe_merges(spark, word_freq(docs))
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_freq bigint"
    )


def encode_words(words: DataFrame, merges) -> DataFrame:
    """Apply a trained merge list to every DISTINCT word — the encode
    side of the tokenizer. Merges apply in rank order, each as the same
    greedy left-to-right fold the trainer used, so a training-corpus
    word encodes to exactly the trainer's final symbol state.

    Scale shape: this job is VOCABULARY-sized (the corpus never sees
    the merge folds). Returns (word, toks array, n_toks)."""
    syms = _initial_symbols(words.select("word").withColumn("freq", F.lit(1)))
    for m in merges:
        a, b = m[1], m[2]
        syms = syms.select("word", "freq", F.expr(_merge_expr(a, b)).alias("syms"))
    return syms.select(
        "word", F.col("syms").alias("toks"), F.size("syms").alias("n_toks")
    )


@query("x22_bpe_encode")
def x22_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the corpus's own induced BPE vocabulary
    — the apply step that turns x20's merge table into per-document
    token statistics (the pretraining-cost estimator: BPE token counts,
    not whitespace counts, are what a token budget is denominated in).

    Plan: ONE corpus pass explodes words; the encoded form of every
    corpus word is the TRAINER'S OWN final symbol state (r14, guide
    §5/§2.4 — the corpus being tokenized IS the training corpus, so
    re-deriving the distinct-word table and re-applying all N merge
    folds to it recomputed, word for word, exactly the frame the last
    training round already produced; parity is pinned by
    tests/test_vocab_bpe.py::test_x22_trainer_state_equals_reencoding).
    A word-keyed shuffle join carries each word's encoded length back
    to the corpus (deliberately NOT broadcast-hinted — the word
    vocabulary outgrows broadcast at 100 TB, same doctrine as x19's
    count joins); one groupBy rolls up per-document totals. Rows-only
    (the induction is iterative); encode parity vs a pure-Python
    replay is pinned in tests/test_vocab_bpe.py."""
    docs = load(spark, sf_dir, "documents")
    _merges, final_syms = bpe_merges_with_state(spark, word_freq(docs))
    words = docs.select(
        "doc_id", F.explode(F.expr(WORDS_EXPR)).alias("word")
    )
    enc = final_syms.select("word", F.size("syms").alias("n_toks"))
    return (
        words.join(enc.select("word", "n_toks"), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_word_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            round2(
                F.col("n_word_chars").cast("double") / F.col("n_bpe_tokens")
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )
