"""Round-13 optimization equivalence pins.

Every optimization that restructured an operator's internals gets a
bitwise/value equivalence test against the PRE-optimization form, kept
inline here as the reference implementation:

- ``_bucket_spark_sql`` (one md5 + conv) vs ``_bucket_sql`` (four-md5
  nibble arithmetic) — the Spark-side bucket twin must agree on every
  gram, or every md5-bucketed operator (x25/x26 families) drifts.
- ``char_gram_features`` RLE rebuild vs the old two-hash-aggregation
  build — bitwise (bs order and xs doubles).
- ``signature_df`` without the shingle-dedup shuffle vs the distinct
  form — MinHash min over a multiset equals min over its set.
- ``dsir_bucket_stats`` direct gram aggregation vs the old per-doc
  two-level aggregation — integer counts, exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_analytics_platform_spark._shingle import (
    NUM_HASHES,
    signature_df,
    shingles_df,
)
from real_time_event_streaming_analytics_platform_spark.catalog import load
from real_time_event_streaming_analytics_platform_spark.functions.langid import (
    _CHAR_BUCKET,
    _GRAMS,
    _bound_text,
    char_gram_features,
)
from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
    GRAMS_SQL_W,
    _bucket_sql,
    _bucket_spark_sql,
    dsir_bucket_stats,
)


def test_bucket_spark_twin_agrees_with_nibble_form(spark, sf_dir):
    """conv(md5[:4], 16, 10) % B == the 4-nibble positional sum % B on
    every gram of the real corpus (unigrams ∪ bigrams, the exact
    strings the operators bucket), plus planted edge strings."""
    docs = load(spark, sf_dir, "documents").limit(300)
    grams = docs.select(
        F.explode(
            F.expr(
                GRAMS_SQL_W.replace(
                    "_w", "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
                )
            )
        ).alias("g")
    )
    edge = spark.createDataFrame(
        [("",), ("0",), ("zzzz zzzz",), ("a" * 500,), ("0000",), ("ffff",)],
        "g string",
    )
    both = grams.unionByName(edge)
    n_bad = both.where(
        F.expr(_bucket_sql("g")) != F.expr(_bucket_spark_sql("g"))
    ).count()
    assert n_bad == 0


def _char_features_aggregated(docs):
    """The pre-r13 two-hash-aggregation char featurizer (reference)."""
    dbc = (
        _bound_text(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(({_GRAMS}), g -> {_CHAR_BUCKET})")
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        dbc.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("b", "cnt"))).alias("f"))
        .withColumn("tot", F.expr("aggregate(f, 0L, (a, s) -> a + s.cnt)"))
        .select(
            "doc_id",
            F.expr("transform(f, s -> s.b)").alias("bs"),
            F.expr("transform(f, s -> CAST(s.cnt AS DOUBLE) / tot)").alias(
                "xs"
            ),
        )
    )


def test_char_rle_features_bitwise_match_aggregated(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    new = {r["doc_id"]: (r["bs"], r["xs"]) for r in char_gram_features(docs).collect()}
    old = {
        r["doc_id"]: (r["bs"], r["xs"])
        for r in _char_features_aggregated(docs).collect()
    }
    assert new == old  # exact: same bucket order, same xs doubles


def test_signature_multiset_min_equals_distinct_form(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(400)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    distinct_form = (
        shingles_df(docs)
        .groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"h{i}") for i in range(NUM_HASHES)]).alias("sig"),
        )
    )
    new = {r["doc_id"]: r["sig"] for r in signature_df(docs).collect()}
    old = {r["doc_id"]: r["sig"] for r in distinct_form.collect()}
    assert new == old


def test_dsir_stats_direct_agg_equals_per_doc_form(spark, sf_dir):
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _dsir_doc_buckets,
    )

    docs = load(spark, sf_dir, "documents")
    target = F.col("lang") == "en"
    old = {
        r["b"]: (r["cr"], r["ct"])
        for r in _dsir_doc_buckets(docs, target)
        .groupBy("b")
        .agg(
            F.sum("cnt").alias("cr"),
            F.sum(F.when(F.col("_t"), F.col("cnt")).otherwise(F.lit(0))).alias(
                "ct"
            ),
        )
        .collect()
    }
    new = {
        r["b"]: (r["cr"], r["ct"])
        for r in dsir_bucket_stats(docs, target).collect()
    }
    assert new == old
