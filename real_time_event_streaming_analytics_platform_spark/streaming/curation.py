"""Streaming corpus curation — the x10 funnel's stages applied to a
document STREAM, the shape a continuous-ingestion training-data pipeline
uses (new crawl shards arrive; curated docs flow out).

Stage order is chosen for STATE minimization, the streaming-specific
concern: all row-local filters (quality, decontamination, mixing) run
before the stateful exact-dedup, so the dedup state store only ever
holds keys for documents that are actually eligible. That reorders the
batch funnel (x10 dedups before mixing) — legal because contamination
and mixing are per-document properties independent of the rest of the
corpus; only the dedup keeper choice is order-sensitive, and the
streaming twin's keeper is FIRST ARRIVAL (the only keeper a stream can
implement with bounded state — `dropDuplicatesWithinWatermark` evicts
each key once the watermark passes it).

The decontamination check broadcasts the benchmark gram set (eval sets
are small by construction) and tests each document against it in an
Arrow-batched pandas UDF — no shuffle, no state, scales linearly with
the stream. At real benchmark sizes the set would hold gram hashes
rather than raw strings; the plumbing is identical.

Reference parity: the reference has no document pipeline — this extends
its streaming architecture (file/Kafka source → stateless transforms →
stateful dedup, EventAggregationJob.java:59-76's shape) to the
LLM-pipeline surface.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .._shingle import WORDS_EXPR
from ..functions.pipeline import (
    DECON_WIDTH,
    _BENCH_PRED,
    _MIX_KEEP_SQL,
    _QUAL_MIN_TOKENS,
    quality_gate,
)
from .entries import WATERMARK

_TOKEN_RE = re.compile(r"[^a-z0-9]+")


def bench_gram_set(docs: DataFrame, width: int = DECON_WIDTH) -> set:
    """Distinct word ``width``-grams of the benchmark slice, as raw
    strings, collected to the driver for broadcasting. Tokenization is
    identical to the batch path's (`_shingle.WORDS_EXPR`): lowercase,
    split on non-alphanumeric runs, drop empties."""
    pos = F.expr(
        f"""
        CASE WHEN size(_words) < {width} THEN array()
             ELSE sequence(1, size(_words) - {width - 1})
        END
        """
    )
    rows = (
        docs.where(F.expr(_BENCH_PRED))
        .withColumn("_words", F.expr(WORDS_EXPR))
        .select("_words", F.explode(pos).alias("_i"))
        .select(F.expr(f"concat_ws(' ', slice(_words, _i, {width}))").alias("g"))
        .distinct()
        .collect()
    )
    return {r["g"] for r in rows}


DOC_STREAM_SCHEMA = "doc_id long, ts string, source string, text string"


def read_doc_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream document source (JSONL: doc_id, ts, source, text) with
    the standard event-time watermark — the document twin of
    `read_event_stream`."""
    reader = spark.readStream.format("json").schema(DOC_STREAM_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger or 1000
    )
    return (
        reader.load(path)
        .withColumn("ts", F.to_timestamp("ts"))
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .withWatermark("ts", WATERMARK)
    )


def curate_doc_stream(
    docs: DataFrame,
    bench_grams: set,
    min_tokens: int = _QUAL_MIN_TOKENS,
    width: int = DECON_WIDTH,
    gopher: bool = False,
    temp_rates: DataFrame | None = None,
) -> DataFrame:
    """Quality → [gopher] → mix → [temperature] → decontaminate →
    streaming exact-dedup.

    Quality and mixing are the same integer-exact predicates as the
    batch funnel (x10); ``gopher=True`` (VERDICT r09 #6) adds the full
    Gopher rule battery (t6b) as a reject stage — pure per-row column
    algebra (text.with_gopher_flag), so it is streaming-legal with no
    state and the SAME expression tree as the batch funnel's optional
    stage (S32 parity); ``temp_rates`` (a FROZEN (lang, rate_256)
    table from ``pipeline.temperature_rates`` — frozen because a rate
    recomputed per micro-batch would drift with arrival order, the
    x25-DSIR frozen-model rule) applies the x29 temperature decision
    as a stateless stream-static broadcast join + filter; the stream
    must carry a ``lang`` column (from source metadata or the frozen
    ``langid_stream``), and a lang absent from the table keeps
    everything (S34 parity). Contamination is membership of any word
    ``width``-gram in the broadcast benchmark set; dedup keeps the
    first arrival per text hash with watermark-bounded state."""
    spark = docs.sparkSession
    bcast = spark.sparkContext.broadcast(frozenset(bench_grams))

    @pandas_udf("boolean")
    def _contaminated(texts: pd.Series) -> pd.Series:
        bs = bcast.value
        out = []
        for t in texts:
            words = [w for w in _TOKEN_RE.split((t or "").lower()) if w]
            out.append(
                any(
                    " ".join(words[i : i + width]) in bs
                    for i in range(max(len(words) - width + 1, 0))
                )
            )
        return pd.Series(out)

    out = docs.where(~F.expr(_BENCH_PRED))
    if gopher:
        from ..functions.text import with_gopher_flag

        out = with_gopher_flag(out)
    out = out.withColumn("_toks", F.expr(WORDS_EXPR)).where(quality_gate(min_tokens))
    if gopher:
        out = out.where(~F.col("gopher_flagged")).drop("gopher_flagged")
    out = out.where(F.expr(_MIX_KEEP_SQL))
    if temp_rates is not None:
        from ..functions.pipeline import temp_keep_expr

        if "lang" not in out.columns:
            raise ValueError(
                "curate_doc_stream: temp_rates requires a 'lang' column "
                "on the stream (source metadata or langid_stream)"
            )
        out = (
            out.join(
                F.broadcast(temp_rates.select("lang", "rate_256")), "lang", "left"
            )
            .where(temp_keep_expr(F.col("rate_256")))
            .drop("rate_256")
        )
    return (
        out.where(~_contaminated("text"))
        .withColumn("_h", F.md5(F.lower("text")))
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_toks", "_h")
    )


def incremental_dedup_stream(
    stream_docs: DataFrame,
    index_sig: DataFrame | None,
    out_dir: str,
    index_frames=None,
):
    """Streaming twin of x2f: probe each arriving micro-batch of
    documents against the STANDING MinHash signature index and append
    the near-dup flags — the continuous form of the daily-ingest path
    (a crawler ships shards all day; each shard is checked against the
    full corpus index without ever re-scanning the corpus).

    ``foreachBatch`` is the right operator here, not a stream-static
    join: the probe needs per-batch signature aggregation (explode
    shingles → groupBy doc) plus a candidate distinct, both of which
    are batch-only operations — and foreachBatch gives each micro-batch
    full batch semantics against the static index. The batch band keys
    broadcast exactly as in x2f; index rows never move.

    Index frames: pass ``index_frames`` (e.g. from
    ``functions.dedup.bucketed_index_frames`` — the materialized
    bucketed standing index, nothing cached, nothing to release) OR
    ``index_sig``, from which the frames are derived once and persisted
    for the stream's lifetime (the band explode and hot-bucket window
    shuffle are per-index costs a per-trigger probe must not re-pay).

    Returns ``(writer, release)``: a DataStreamWriter the caller starts
    with its own checkpoint, and a zero-arg callable that unpersists
    any internally cached index frames — call it after the stream
    stops, so a long-lived session that constructs many streams never
    accumulates orphaned cached frames. Output parquet rows:
    (doc_id, n_dups, first_match) under ``out_dir/batch=<epoch>``.
    """
    from .._shingle import signature_df
    from ..functions.dedup import index_probe_frames, probe_signature_index

    if index_frames is not None:
        frames = index_frames
        cached = ()
    else:
        if index_sig is None:
            raise ValueError(
                "incremental_dedup_stream: pass either index_sig (a "
                "signature frame) or index_frames (pre-built probe "
                "frames, e.g. from bucketed_index_frames)"
            )
        keys_i, si = index_probe_frames(index_sig)
        frames = (keys_i.persist(), si.persist())
        cached = frames

    def release() -> None:
        for df in cached:
            df.unpersist()

    def _probe(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sig_b = signature_df(batch_df)
        # Per-epoch overwrite (not append) makes failure replays
        # idempotent: a re-run of epoch N rewrites batch=N in place
        # instead of appending duplicate flag rows — the file-sink
        # analogue of hot_store_writer's batch_id tagging.
        probe_signature_index(sig_b, None, index_frames=frames).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={epoch_id}")

    return stream_docs.writeStream.foreachBatch(_probe), release
