"""Training-data pipeline composition operators: near-dup group
resolution, deterministic dataset splits, and sequence packing — the
steps that sit between the per-document ops (dedup/text/similarity) and
an actual LLM training corpus.

- x2e: connected components over the MinHash-LSH near-dup candidate
  graph → dedup GROUPS (keeper + members), not just pairs. Alternating
  large-star/small-star (Kiveris et al., SoCC 2014) — two groupBy-min
  passes per round, O(log² n) rounds regardless of graph diameter —
  with a bounded driver-side union-find fast path for edge lists small
  enough that per-round scheduling overhead dominates. The edge list
  comes from the session-scoped materialized candidate index
  (functions/dedup.py candidate_index) shared with x2/x2b — the
  shingle→minhash→band pipeline runs once per corpus, not once per
  consumer.
- x5: deterministic train/val/test split by md5(doc_id) hex prefix —
  reproducible across engines and runs, no RNG state, and stable under
  corpus growth (a doc's split never depends on other docs).
- x6: sequence packing — concatenate-then-chunk token budgeting per
  source shard via a windowed cumulative sum; the bin id is the
  2048-token context window a doc's first token lands in. Partitioned
  by source, so the window never funnels the corpus through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._shingle import WORDS_EXPR
from ..catalog import load
from ..plans.registry import query
from .dedup import candidate_index

# ---------------------------------------------------------------------------
# X2e — near-dup groups via connected components on candidate pairs.
# ---------------------------------------------------------------------------


def _large_star(E: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    # Symmetrize in ONE pass (explode both directions per row) — a union
    # of two selects would execute the upstream edge pipeline twice.
    sym = E.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("e")
    ).select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(E: DataFrame) -> DataFrame:
    """Direct edges large→small, then connect each of u's not-larger
    neighbors (and u itself) to the minimum of them."""
    d = E.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        d.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfs = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.unionByName(selfs).distinct()


# Below this many edges the distributed loop's fixed per-round cost
# (2 shuffles + a checkpoint + a fingerprint job, ~0.5-1 s each on an
# idle cluster) dwarfs the work; a driver-side union-find on ≤100k
# collected id pairs (≈1.6 MB) finishes in milliseconds. Same bounded-
# driver-work pattern as the IVF/PQ quantizer training.
SMALL_GRAPH_LOCAL = 100_000


def _local_components(rows) -> dict:
    """Union-find with path compression; roots are component minima
    because union always attaches the larger root under the smaller."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        a, b = find(u), find(v)
        if a != b:
            if b < a:
                a, b = b, a
            parent[b] = a
    return {x: find(x) for x in {n for e in rows for n in e}}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, comp) labels: comp = min node id of the connected component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — the algorithm
    GraphFrames/GraphX deployments use at this scale): each round is two
    groupBy-min + join passes over the edge list, and the edge set
    converges to stars (every node → its component min) in O(log² n)
    rounds REGARDLESS of graph diameter. The min-label propagation this
    replaces needed diameter rounds — correct for near-clique dup
    groups, silently wrong for a chain longer than its iteration cap.
    No node data reaches the driver in the distributed path; the only
    thing collected per round is the (count, xor-of-edge-hashes)
    convergence fingerprint. Edge lists at or under ``SMALL_GRAPH_LOCAL``
    (read per call) take a bounded driver-side union-find instead (both
    paths tested for identical labels).
    """
    # localCheckpoint (not persist) each round: persist caches the DATA
    # but leaves the logical plan nested — after k rounds Catalyst
    # re-analyzes a plan of depth O(k·stars), which goes superlinear
    # fast (the 40-hop-chain test never finished under persist).
    # Checkpointing truncates the lineage so every round plans against a
    # constant-size leaf. Local checkpoints are executor-storage-only —
    # exactly right for a bounded convergence loop; a cluster job that
    # must survive executor loss uses reliable checkpoint() instead.
    # Cast ids to long at entry so BOTH paths (driver union-find below,
    # distributed stars) emit the same (node long, comp long) schema —
    # output types must not depend on which side of the size threshold
    # the data lands on.
    # try_cast, then fail loudly on any NULL: a non-numeric id (e.g. a
    # string doc hash) must not silently corrupt labels — under ANSI a
    # plain cast would instead throw an opaque NumberFormatException
    # mid-job, and with ANSI off it would silently produce NULLs.
    # Callers with non-numeric ids should map them to longs
    # (zipWithIndex / xxhash64) before calling.
    # Checkpoint the typed edges FIRST, then derive both the cast
    # validation and the working edge set from the checkpointed frame —
    # the caller's edge lineage (possibly a full shingle→minhash→band
    # self-join) executes exactly once, not once per consumer.
    typed = edges.select(
        F.expr(f"try_cast({src} AS long)").alias("u"),
        F.expr(f"try_cast({dst} AS long)").alias("v"),
    ).localCheckpoint()
    # One aggregate pass validates the cast (count(col) skips NULLs, so
    # nu < n ⇔ some id failed try_cast).
    stats = typed.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("u").alias("nu"),
        F.count("v").alias("nv"),
    ).collect()[0]
    if stats["nu"] < stats["n"] or stats["nv"] < stats["n"]:
        raise ValueError(
            f"connected_components: {src}/{dst} ids must cast losslessly "
            "to long (got NULL after cast — non-numeric or null ids)"
        )
    # Self-loop-only nodes still deserve a (node, node) label even though
    # self-loops carry no connectivity; appended after either path.
    selfloops = typed.where(F.col("u") == F.col("v")).select(
        F.col("u").alias("node"), F.col("v").alias("comp")
    )
    E = typed.where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    n_edges = E.count()
    if n_edges == 0:
        labels = E.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    elif n_edges <= SMALL_GRAPH_LOCAL:
        local = _local_components([(r["u"], r["v"]) for r in E.collect()])
        labels = edges.sparkSession.createDataFrame(
            sorted(local.items()), "node long, comp long"
        )
    else:
        prev_sig = None
        for _ in range(max_iter):
            E = _small_star(_large_star(E)).localCheckpoint()
            row = E.agg(
                F.count("*").alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
            ).first()
            sig = (row["n"], row["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
        # At convergence every edge is (node, component-min); roots appear
        # only on the right — label them with themselves. The groupBy-min
        # (not a plain distinct) also guarantees ONE label per node if the
        # loop exits via max_iter before converging: approximate labels
        # beat silently duplicated group membership.
        labels = (
            E.select(F.col("u").alias("node"), F.col("v").alias("comp"))
            .unionByName(E.select(F.col("v").alias("node"), F.col("v").alias("comp")))
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
    return labels.unionByName(
        selfloops.join(labels.select("node"), "node", "left_anti").distinct()
    )


@query("x2e_dedup_groups")
def x2e_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups on documents: MinHash-LSH candidate pairs with
    estimated Jaccard ≥ 0.5 are the edges; connected components resolve
    transitive chains (A≈B, B≈C ⇒ one group even if A,C never collide).
    Output one row per multi-doc group: keeper (min doc_id), group size,
    and the sorted member list. Rows-only (xxhash64 has no DuckDB twin);
    planted-chain recall asserted in tests/test_functions.py."""
    edges = candidate_index(spark, sf_dir).where(F.col("est_jaccard") >= 0.5)
    labels = connected_components(edges, "doc_a", "doc_b")
    return (
        labels.groupBy("comp")
        .agg(
            F.count("*").alias("group_size"),
            F.sort_array(F.collect_list("node")).alias("members"),
        )
        .select(F.col("comp").alias("keeper"), "group_size", "members")
        .orderBy("keeper")
    )


# ---------------------------------------------------------------------------
# X5 — deterministic train/val/test split by content-free hash of the
# document id. The hex-prefix comparison gives a ~80/10/10 split
# ('00'..'cb' = 204/256, 'cc'..'e5' = 26/256, rest = 26/256) that is
# identical in any engine with a standard md5 — no RNG, no seed to ship,
# and adding documents never moves an existing one between splits.
# ---------------------------------------------------------------------------

# md5(doc_id)'s first two hex chars: the per-doc hash the x5 split,
# x9 mixing and x29 temperature keep decisions compare
_DOC_PREFIX = "substring(md5(cast(doc_id as string)), 1, 2)"
_TRAIN_BELOW = "cc"  # train fold: prefix < 'cc'; held-out (val + test): the rest


def heldout_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(train, held) — x5's train fold and its val + test remainder,
    the split every held-out model evaluation trains and scores on."""
    prefix = F.expr(_DOC_PREFIX)
    return docs.where(prefix < _TRAIN_BELOW), docs.where(prefix >= _TRAIN_BELOW)


@query(
    "x5_train_split",
    oracle=f"""
    SELECT split, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM (
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_BELOW}' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ) GROUP BY split ORDER BY split
    """,
)
def x5_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    prefix = F.expr(_DOC_PREFIX)
    split = (
        F.when(prefix < _TRAIN_BELOW, "train")
        .when(prefix < "e6", "val")
        .otherwise("test")
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# X6 — sequence packing: concatenate-then-chunk token budgeting. A doc's
# bin is the context window its FIRST token lands in under in-order
# concatenation per source shard — the standard pretraining packing
# layout. Window is partitioned by source: the cumulative sum shuffles
# once on source and never serializes the whole corpus through one task.
# ---------------------------------------------------------------------------

PACK_TOKENS = 2048

_WS_TOK_SPARK = "size(filter(split(text, '\\\\s+'), w -> w != ''))"
_WS_TOK_DUCK = "len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))"


@query(
    "x6_sequence_pack",
    oracle=f"""
    SELECT source, bin,
           COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM (
        SELECT source, doc_id, tokens,
               CAST(FLOOR((SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - tokens) * 1.0 / {PACK_TOKENS}) AS BIGINT) AS bin
        FROM (SELECT source, doc_id, {_WS_TOK_DUCK} AS tokens FROM documents)
    ) GROUP BY source, bin ORDER BY source, bin
    """,
)
def x6_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", "doc_id", F.expr(_WS_TOK_SPARK).alias("tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = toks.withColumn(
        "bin",
        F.floor((F.sum("tokens").over(w) - F.col("tokens")) * 1.0 / PACK_TOKENS).cast(
            "bigint"
        ),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "bin")
    )


# ---------------------------------------------------------------------------
# X8 — benchmark decontamination: flag corpus documents sharing any word
# n-gram with a held-out benchmark set. The standard pre-training hygiene
# step (eval-set n-gram overlap; production uses 8-13-gram windows — this
# synthetic word-soup corpus only collides at width 4, which exercises the
# identical plan). Grams are md5-hashed BEFORE the join, so the shuffle
# moves 32-hex keys, never text; the benchmark gram set is orders of
# magnitude smaller than the corpus and broadcasts. Benchmark membership
# here is the deterministic slice doc_id % 97 == 0 (stands in for "the
# eval set" — same plan shape for a real one read from a table).
# ---------------------------------------------------------------------------

DECON_WIDTH = 4
_BENCH_PRED = "doc_id % 97 = 0"


def _gram_hashes(docs: DataFrame, width: int = DECON_WIDTH) -> DataFrame:
    """(doc_id, gh) — xxhash64 of each word ``width``-gram.

    Gram POSITIONS are exploded first and the hash computed as a
    top-level projection: hashing inside a ``transform`` lambda runs
    interpreted (no whole-stage codegen), which measured ~4× slower at
    sf0.1. Generate→Project fuse under codegen, so the word array is
    never materialized per gram. 8-byte hash keys mean every downstream
    shuffle/broadcast moves longs, never gram text. (The oracle joins on
    raw gram strings — overlap COUNTS are hash-function-independent.)"""
    from .._shingle import WORDS_EXPR, _parallelize

    # Guard the short-doc case explicitly: Spark's sequence(1, 0) yields
    # the DESCENDING [1, 0] (step defaults to -1), not an empty array.
    pos = F.expr(
        f"""
        CASE WHEN size(_words) < {width} THEN array()
             ELSE sequence(1, size(_words) - {width - 1})
        END
        """
    )
    return (
        _parallelize(docs)
        .withColumn("_words", F.expr(WORDS_EXPR))
        .select("doc_id", "_words", F.explode(pos).alias("_i"))
        .select(
            "doc_id",
            F.xxhash64(F.expr(f"concat_ws(' ', slice(_words, _i, {width}))")).alias(
                "gh"
            ),
        )
    )


@query(
    "x8_decontaminate",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x != '') AS words
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(words) - {DECON_WIDTH - 1}, 0)),
                   i -> array_to_string(words[i : i + {DECON_WIDTH - 1}], ' '))) AS gh
        FROM w
    ),
    bench AS (SELECT DISTINCT gh FROM g WHERE {_BENCH_PRED})
    SELECT c.doc_id, COUNT(DISTINCT c.gh) AS n_overlap
    FROM (SELECT doc_id, gh FROM g WHERE NOT ({_BENCH_PRED})) c
    JOIN bench b USING (gh)
    GROUP BY 1 ORDER BY 1
    """,
)
def x8_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    grams = _gram_hashes(docs)
    bench = grams.where(F.expr(_BENCH_PRED)).select("gh").distinct()
    # No pre-join distinct on the corpus side: the broadcast join filters
    # to overlapping grams FIRST (usually a tiny fraction), and
    # countDistinct dedups map-side after — one corpus scan, no full
    # gram-set shuffle.
    corpus = grams.where(~F.expr(_BENCH_PRED))
    return (
        corpus.join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_overlap"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# X9 — stratified source mixing: deterministic per-source sampling rates
# (the data-mixing step that reweights domains before training). A doc is
# kept iff its md5(doc_id) hex prefix falls under its source's threshold —
# content-free, reproducible in any engine, no RNG state, and per-doc
# independent (adding docs never flips existing keep decisions). Rates are
# quantized to /256 so the hex-prefix comparison is exact cross-engine.
# ---------------------------------------------------------------------------

# even sources downsampled to 129/256 ≈ 50% (hex prefix <= '80'), odd kept
# in full — a stand-in mixing table; a real deployment broadcast-joins a
# (source, rate) dimension instead of inlining the CASE.
# TRY_CAST: an unknown source name (anything not 'src<digits>' — the
# curation STREAM sees arbitrary feeds) yields NULL, %2 stays NULL, and
# the CASE falls to the keep-in-full branch — under ANSI a plain CAST
# would throw and crash-loop the stream on one odd source value.
_MIX_THRESH_SPARK = (
    "CASE WHEN TRY_CAST(substring(source, 4, 10) AS INT) % 2 = 0 "
    "THEN '80' ELSE 'ff' END"
)
_MIX_THRESH_DUCK = (
    "CASE WHEN TRY_CAST(substr(source, 4, 10) AS INT) % 2 = 0 "
    "THEN '80' ELSE 'ff' END"
)
# the keep decision itself, shared by x9, the x10 funnel and its stream twin
_MIX_KEEP_SQL = f"{_DOC_PREFIX} <= ({_MIX_THRESH_SPARK})"


@query(
    "x9_source_mixing",
    oracle=f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= ({_MIX_THRESH_DUCK})
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= ({_MIX_THRESH_DUCK})
                    THEN tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM (SELECT source, doc_id, {_WS_TOK_DUCK} AS tokens FROM documents)
    GROUP BY 1 ORDER BY 1
    """,
)
def x9_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            F.expr(_MIX_KEEP_SQL).alias("_keep"),
            F.expr(_WS_TOK_SPARK).alias("tokens"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("_keep"), F.col("tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X7 — int8 embedding quantization: per-vector symmetric scale to
# [-127, 127] — the storage/serving format a 100 TB embedding corpus uses
# (4x smaller than float32, 8x than float64). All elementwise JVM
# expressions; floor(x + 0.5) is round-half-up in every engine (native
# ROUND ties differ across engines). The output summarizes the quantized
# vector (min/max/sum/nonzeros) so verification never ships arrays.
# ---------------------------------------------------------------------------

_ABSMAX_SPARK = (
    "aggregate(embedding, 0D, (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
)
_ABSMAX_DUCK = (
    "list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),"
    " (a, b) -> greatest(a, b))"
)


def _quant(absmax: str) -> str:
    # identical elementwise expression in both dialects
    return (
        f"CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / {absmax} + 0.5) AS BIGINT)"
    )


@query(
    "x7_embedding_quantize",
    oracle=f"""
    SELECT vec_id,
           CAST(list_reduce(q, (a, b) -> least(a, b)) AS BIGINT) AS q_min,
           CAST(list_reduce(q, (a, b) -> greatest(a, b)) AS BIGINT) AS q_max,
           CAST(list_reduce(q, (a, b) -> a + b) AS BIGINT) AS q_sum,
           CAST(len(list_filter(q, v -> v != 0)) AS BIGINT) AS q_nonzero
    FROM (
        SELECT vec_id,
               list_transform(embedding, x -> {_quant(f'({_ABSMAX_DUCK})')}) AS q
        FROM embeddings
        WHERE {_ABSMAX_DUCK} > 0
    ) ORDER BY vec_id
    """,
)
def x7_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # Bind absmax to a column before the elementwise transform: lambda
    # bodies are interpreted with no common-subexpression elimination, so
    # inlining the aggregate would recompute it once PER ELEMENT (O(d²)).
    q = F.expr(f"transform(embedding, x -> {_quant('_absmax')})").alias("q")
    return (
        emb.withColumn("_absmax", F.expr(_ABSMAX_SPARK))
        .where(F.col("_absmax") > 0)
        .select("vec_id", q)
        .select(
            "vec_id",
            F.array_min("q").cast("bigint").alias("q_min"),
            F.array_max("q").cast("bigint").alias("q_max"),
            F.expr("aggregate(q, 0L, (acc, v) -> acc + v)").alias("q_sum"),
            F.expr("size(filter(q, v -> v != 0))").cast("bigint").alias("q_nonzero"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# X10 — the end-to-end curation funnel: quality filter → exact dedup →
# benchmark decontamination → source mixing, as ONE DAG, reporting
# per-source survivorship at every stage plus the final token budget.
# This is the composition of t2/t6 (quality), q24/d1 (dedup), x8
# (decontamination) and x9 (mixing) — the whole pre-training curation
# pipeline the individual operators exist for.
#
# Scale shape: every stage flag is a per-row projection except two —
# the exact-dedup keeper (one window shuffle on the 16-byte text hash;
# text itself never shuffles) and the contamination flag (gram-hash
# explode joined against the BROADCAST benchmark gram set, reduced to a
# distinct doc_id list before the doc-level join). The funnel is then a
# single aggregate over the flag frame — one scan of the corpus, one
# pass, five stages. Predicates are integer arithmetic (alpha*2 >= n
# style), never float-ratio comparisons, so both engines decide
# identically on every row.
# ---------------------------------------------------------------------------

_QUAL_MIN_TOKENS = 20  # regex tokens; drops ~10% of the synthetic corpus


def quality_gate(min_tokens: int = _QUAL_MIN_TOKENS) -> "F.Column":
    """x10's quality predicate over the bound ``_toks`` word array
    (``WORDS_EXPR``): at least ``min_tokens`` words, and at most half of
    them repeats — shared by the batch funnel and its stream twin."""
    n = F.expr("size(_toks)")
    return (n >= min_tokens) & (
        (n - F.expr("size(array_distinct(_toks))")) * 2 <= n
    )


@query(
    "x10_curation_funnel",
    oracle=f"""
    WITH base AS (
        SELECT source, doc_id, text,
               {_WS_TOK_DUCK} AS ws_tokens,
               len(toks) AS nt, len(list_distinct(toks)) AS nd
        FROM (SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    w -> w != '') AS toks
              FROM documents)
        WHERE NOT ({_BENCH_PRED})
    ),
    w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x != '') AS words
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(words) - {DECON_WIDTH - 1}, 0)),
                   i -> array_to_string(words[i : i + {DECON_WIDTH - 1}], ' '))) AS gh
        FROM w
    ),
    bench_g AS (SELECT DISTINCT gh FROM g WHERE {_BENCH_PRED}),
    contam AS (
        SELECT DISTINCT g.doc_id FROM g JOIN bench_g USING (gh)
        WHERE NOT ({_BENCH_PRED})
    ),
    flags AS (
        SELECT b.source, b.ws_tokens,
               (b.nt >= {_QUAL_MIN_TOKENS} AND (b.nt - b.nd) * 2 <= b.nt) AS qual,
               b.doc_id = min(b.doc_id) OVER (PARTITION BY md5(lower(b.text))) AS keep1,
               c.doc_id IS NULL AS clean,
               substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 2)
                   <= ({_MIX_THRESH_DUCK.replace('source', 'b.source')}) AS mix
        FROM base b LEFT JOIN contam c USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_raw,
           CAST(SUM(CASE WHEN qual THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN qual AND keep1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
           CAST(SUM(CASE WHEN qual AND keep1 AND clean THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean,
           CAST(SUM(CASE WHEN qual AND keep1 AND clean AND mix THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN qual AND keep1 AND clean AND mix
                    THEN ws_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM flags GROUP BY 1 ORDER BY 1
    """,
)
def x10_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_funnel(load(spark, sf_dir, "documents"))


def curation_funnel(
    docs: DataFrame,
    model_keep: DataFrame | None = None,
    gopher: bool = False,
    temp_rates: DataFrame | None = None,
) -> DataFrame:
    """The x10 funnel DAG over an arbitrary docs frame; ``model_keep``
    (an optional (doc_id) keep-list, e.g. classifier.quality_keep's
    output) inserts a model-filter stage after the heuristic quality
    gate — the survivorship chain becomes qual → model → dedup → clean
    → mix and the output gains an ``n_model`` column. ``gopher=True``
    (VERDICT r09 #6) inserts the full Gopher rule battery (t6b) as a
    reject stage right after the heuristic quality gate — a map-only
    column predicate (text.with_gopher_flag), so the funnel stays one
    scan — and the output gains an ``n_gopher`` column. ``temp_rates``
    (a frozen (lang, rate_256) table from ``temperature_rates``)
    appends the x29 temperature-resample decision as the FINAL stage:
    the output gains ``n_mix`` (the pre-temperature survivor count —
    what n_kept means without the stage) and n_kept / kept_tokens
    move to the post-temperature gate; the rate table rides a
    broadcast, so the stage is still map-only and the funnel stays
    one scan. With all three off the plan and columns are exactly the
    registered x10 oracle's."""
    from pyspark.sql import Window

    corpus = docs.where(~F.expr(_BENCH_PRED))
    if gopher:
        from .text import with_gopher_flag

        corpus = with_gopher_flag(corpus)

    # Contamination is a per-doc property (overlap with the FIXED
    # benchmark gram set), so it commutes with the other stages and can
    # be computed on the raw corpus: gram hashes → broadcast-join the
    # bench set → distinct contaminated ids (a doc_id list, tiny).
    grams = _gram_hashes(docs)
    bench_g = grams.where(F.expr(_BENCH_PRED)).select("gh").distinct()
    contam = (
        grams.where(~F.expr(_BENCH_PRED))
        .join(F.broadcast(bench_g), "gh")
        .select("doc_id")
        .distinct()
        .withColumn("_contam", F.lit(True))
    )

    # Duplicate docs have IDENTICAL text, hence identical quality flags —
    # so the keeper window can run over the whole corpus (not just
    # quality survivors) without changing any keeper decision, keeping
    # this a single pass. The window shuffles (hash, doc_id, flags),
    # never the text.
    flagged = (
        corpus.withColumn("_toks", F.expr(WORDS_EXPR))
        .select(
            "source",
            "doc_id",
            *(["lang"] if temp_rates is not None else []),
            F.expr(_WS_TOK_SPARK).alias("ws_tokens"),
            quality_gate().alias("qual"),
            F.md5(F.lower("text")).alias("_h"),
            F.expr(_MIX_KEEP_SQL).alias("mix"),
            *([(~F.col("gopher_flagged")).alias("gop")] if gopher else []),
        )
        .withColumn(
            "keep1",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("_h")),
        )
        .join(contam, "doc_id", "left")
        .withColumn("clean", F.col("_contam").isNull())
    )
    gate = F.col("qual")
    extra = []
    if gopher:
        gate = gate & F.col("gop")
        as_intg = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
        extra.append(F.sum(as_intg(gate)).alias("n_gopher"))
    if model_keep is not None:
        flagged = flagged.join(
            model_keep.select("doc_id").withColumn("_mk", F.lit(True)),
            "doc_id",
            "left",
        ).withColumn("model", F.col("_mk").isNotNull())
        gate = gate & F.col("model")
        as_int0 = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
        extra.append(F.sum(as_int0(gate)).alias("n_model"))
    kept = gate & F.col("keep1") & F.col("clean")
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    final = kept & F.col("mix")
    tail = []
    if temp_rates is not None:
        flagged = flagged.join(
            F.broadcast(temp_rates.select("lang", "rate_256")), "lang", "left"
        )
        tail.append(F.sum(as_int(final)).alias("n_mix"))
        final = final & temp_keep_expr(F.col("rate_256"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_raw"),
            F.sum(as_int(F.col("qual"))).alias("n_quality"),
            *extra,
            F.sum(as_int(gate & F.col("keep1"))).alias("n_dedup"),
            F.sum(as_int(kept)).alias("n_clean"),
            *tail,
            F.sum(as_int(final)).alias("n_kept"),
            F.sum(F.when(final, F.col("ws_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X18 — overlapping token-window chunking: split each document into
# fixed-size token windows with a stride smaller than the window, the
# standard RAG-indexing / long-context-pretraining chunk layout (every
# token belongs to >= 1 chunk; boundary context is preserved by the
# overlap). Per-document work only: tokenize once, explode the chunk
# starts, slice the bound word array — a Generate+Project that fuses
# under whole-stage codegen with NO shuffle until the final
# presentation sort. At 100 TB this is a pure map stage: chunks inherit
# the scan's partitioning, and the md5 chunk ids give downstream
# dedup/indexing a fixed-width join key instead of chunk text.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32  # window W
CHUNK_STRIDE = 24  # stride S < W -> (W - S)-token overlap between chunks


@query(
    "x18_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           w -> w != '') AS words
        FROM documents
    ),
    starts AS (
        SELECT doc_id, words, len(words) AS n,
               UNNEST(generate_series(0,
                   CASE WHEN len(words) <= {CHUNK_TOKENS} THEN 0
                        ELSE CAST(FLOOR((len(words) - {CHUNK_TOKENS}
                                         + {CHUNK_STRIDE} - 1) * 1.0
                                        / {CHUNK_STRIDE}) AS BIGINT)
                   END)) AS chunk_idx
        FROM toks
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS},
                      n - chunk_idx * {CHUNK_STRIDE}) AS BIGINT) AS n_tok,
           md5(array_to_string(
               words[chunk_idx * {CHUNK_STRIDE} + 1 :
                     chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
               ' ')) AS chunk_hash
    FROM starts
    ORDER BY doc_id, chunk_idx
    """,
)
def x18_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunker over ``documents``.

    Chunk k covers tokens [k*S + 1, k*S + W] (1-based), k = 0 ..
    ceil((n - W) / S) (a single chunk when n <= W); the last chunk may
    be shorter. Emits (doc_id, chunk_idx, start_tok, n_tok, chunk_hash)
    where chunk_hash = md5 of the space-joined chunk words — the
    fixed-width identity downstream chunk-level dedup (t7) and ANN
    indexing key on. Reference analog: the reference's services chunk
    payloads per record before indexing; here the chunker is expressed
    as sequence+explode+slice so Catalyst fuses it into the scan stage.
    """
    from .._shingle import WORDS_EXPR, _parallelize

    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    docs = _parallelize(load(spark, sf_dir, "documents"))
    bound = docs.withColumn("_words", F.expr(WORDS_EXPR)).withColumn(
        "_n", F.expr("size(_words)")
    )
    # sequence(0, K): K = 0 for short docs; integer ceil via (+S-1)/S.
    ks = F.expr(
        f"""
        sequence(0, CASE WHEN _n <= {W} THEN 0L
                         ELSE CAST(floor((_n - {W} + {S} - 1) * 1.0
                                         / {S}) AS BIGINT) END)
        """
    )
    return (
        bound.select(
            "doc_id", "_words", "_n", F.explode(ks).alias("chunk_idx")
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * S + 1).cast("bigint").alias("start_tok"),
            F.least(F.lit(W), F.col("_n") - F.col("chunk_idx") * S)
            .cast("bigint")
            .alias("n_tok"),
            F.md5(
                F.expr(f"concat_ws(' ', slice(_words, chunk_idx * {S} + 1, {W}))")
            ).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# X25 — DSIR importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"). Estimate hashed
# n-gram bag-of-words models for a TARGET distribution (here: the
# lang='en' slice, standing in for a curated target like Wikipedia)
# and the RAW corpus, score every document with its log importance
# weight log w(d) = Σ_gram ln(p̂_target(bucket)/p̂_raw(bucket)), then
# draw a weighted-without-replacement sample by ranking the Gumbel-ish
# key ln(u) − log w(d) — the log-space form of x23's priority sampling
# (priority u/w; ln is monotone, so the k smallest keys are exactly
# the k smallest priorities). Reference analog: the reference has no
# data-curation stage; this extends its filter family (O10/O11,
# services/read-api main.py query predicates) to distribution-level
# selection, the standard LLM-curation resampling step.
#
# Cross-engine determinism: grams are bucketed by exact INTEGER
# arithmetic over four md5 nibbles (both engines hash identical UTF-8
# and agree bit-for-bit), the uniform u is the same dyadic-rational
# md5-nibble construction x23 uses, and smoothing constants are dyadic
# (0.25, 256 = 0.25·1024) so every pre-ln value is bitwise identical
# in Spark and DuckDB. The ln() calls and the per-doc float sum carry
# last-ulp libm/order noise, absorbed by the 1e-4 output quantization
# (the x17 surprisal discipline); ties on the quantized key break by
# doc_id.
#
# Scale shape: ONE corpus scan → per-(doc, bucket) counts (the only
# corpus-sized shuffle, on (doc_id, bucket)); bucket statistics and
# the ln-ratio table are B=1024 rows, derived from the already-reduced
# counts and broadcast back; the per-doc reduce reuses the same
# aggregate; the final k-smallest executes as per-partition top-k +
# k-row driver merge (TakeOrderedAndProject), no global sort. B is a
# constant, so nothing here grows with corpus size except the two
# linear passes.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
_DSIR_SMOOTH = 0.25  # dyadic Laplace smoothing; a·B = 256 exactly
DSIR_SAMPLE_K = 100
_DSIR_TARGET_LANG = "en"

# Hashed-n-gram bucket: exact integer arithmetic over the first four
# md5 nibbles (0..65535) mod B — POSITION() is 1-based in both engines.
def _bucket_sql(g: str) -> str:
    terms = " + ".join(
        f"(POSITION(substr(md5({g}), {i}, 1) IN '0123456789abcdef') - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(1, 5)
    )
    return f"(({terms}) % {DSIR_BUCKETS})"


# Spark-side twin of _bucket_sql computing the identical value with ONE
# md5 call: the first four hex nibbles read as a base-16 integer are
# exactly the nibble-weighted sum above. The 4-md5 form matters inside
# higher-order-function lambdas, which run interpreted — no codegen
# subexpression elimination — so each gram paid four md5s; value-equal
# by construction and pinned against _bucket_sql in tests. DuckDB
# oracles keep _bucket_sql (its conv() has different semantics).
def _bucket_spark_sql(g: str) -> str:
    return (
        f"(CAST(conv(substring(md5({g}), 1, 4), 16, 10) AS INT)"
        f" % {DSIR_BUCKETS})"
    )


# Dyadic uniform in (0, 1]: six md5 nibbles as exact negative powers of
# 16 (the x23 construction — every term and the sum are exact doubles).
def _uniform_sql(key: str) -> str:
    nibs = " + ".join(
        f"(POSITION(substr(md5({key}), {i}, 1) IN '0123456789abcdef') - 1)"
        f" / {16 ** i}E0"
        for i in range(1, 7)
    )
    return f"({nibs} + 1E0 / 16777216)"


def _round4(col):
    """Cross-engine ROUND(x, 4), floor form (helpers.round2 discipline);
    inputs here are finite (u > 0, smoothed ratios > 0)."""
    return F.floor(col * 10000 + F.lit(0.5)) / 10000


# unigrams ∪ bigrams over a bound `_w` words column; sequence(1, 0)
# DESCENDS in Spark, so the bigram arm is guarded for 0/1-word docs.
# Shared with the x26 quality classifier (functions/classifier.py) so
# both models read the identical feature space.
GRAMS_SQL_W = """
CASE WHEN size(_w) >= 2
     THEN concat(_w, transform(sequence(1, size(_w) - 1),
                               i -> concat(_w[i-1], ' ', _w[i])))
     ELSE _w END
"""


def _dsir_doc_buckets(docs: DataFrame, target: "F.Column") -> DataFrame:
    """(doc_id, _t, b, cnt) — per-document hashed-bucket gram counts,
    the shared substrate of the one-shot model, the incremental stats,
    and the scoring join."""
    from .._shingle import WORDS_EXPR, _parallelize

    bound = _parallelize(docs).select(
        "doc_id", target.alias("_t"), F.expr(WORDS_EXPR).alias("_w")
    )
    grams = bound.select(
        "doc_id", "_t", F.explode(F.expr(GRAMS_SQL_W)).alias("g")
    )
    return (
        grams.select("doc_id", "_t", F.expr(_bucket_spark_sql("g")).alias("b"))
        .groupBy("doc_id", "_t", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_bucket_stats(docs: DataFrame, target: "F.Column") -> DataFrame:
    """(b, cr, ct) — per-bucket raw/target gram counts: the DSIR model's
    entire state, and PURE INTEGER COUNTS, hence exactly mergeable —
    admitting a new document batch is a union + groupBy-sum
    (dsir_merge_stats), never a corpus rescan. The standing-model
    discipline of the dedup/ANN families (x2f, x3f) applied to the
    importance-resampling model.

    Aggregates gram occurrences straight to the B-bucket space — the
    per-doc (doc_id, b, cnt) grouping the scorer needs is NOT computed
    here, so the only exchange after the corpus scan is the map-side
    partially-aggregated ≤B-rows-per-partition bucket merge (value-
    identical: Σ_docs cnt = occurrence count, Σ_{target docs} cnt =
    target-occurrence count)."""
    from .._shingle import WORDS_EXPR, _parallelize

    bound = _parallelize(docs).select(
        target.alias("_t"), F.expr(WORDS_EXPR).alias("_w")
    )
    grams = bound.select("_t", F.explode(F.expr(GRAMS_SQL_W)).alias("g"))
    return (
        grams.select("_t", F.expr(_bucket_spark_sql("g")).alias("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("_t"), F.lit(1)).otherwise(F.lit(0))).alias(
                "ct"
            ),
        )
    )


def dsir_merge_stats(*stats: DataFrame) -> DataFrame:
    """Merge per-batch bucket stats (exact: integer count addition)."""
    import functools

    merged = functools.reduce(lambda a, b: a.unionByName(b), stats)
    return merged.groupBy("b").agg(
        F.sum("cr").alias("cr"), F.sum("ct").alias("ct")
    )


def dsir_lnr(
    stats: DataFrame,
    buckets: int = DSIR_BUCKETS,
    smooth: float = _DSIR_SMOOTH,
) -> DataFrame:
    """(b, lnr) — the per-bucket log ratio ln(p̂_t/p̂_r) derived from
    (possibly merged) bucket stats: the FROZEN model a scorer ships."""
    tot = stats.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    ab = F.lit(float(smooth) * buckets)
    return stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            ((F.col("ct") + F.lit(smooth)) * (F.col("nr") + ab))
            / ((F.col("cr") + F.lit(smooth)) * (F.col("nt") + ab))
        ).alias("lnr"),
    )


def dsir_log_weights_from_stats(
    docs: DataFrame,
    stats: DataFrame,
    target: "F.Column",
    buckets: int = DSIR_BUCKETS,
    smooth: float = _DSIR_SMOOTH,
) -> DataFrame:
    """(doc_id, logw) for ``docs`` scored under a (possibly standing /
    incrementally merged) bucket-stats model."""
    return (
        _dsir_doc_buckets(docs, target)
        .join(F.broadcast(dsir_lnr(stats, buckets, smooth)), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("lnr")).alias("logw"))
    )


def dsir_score_stream(stream_docs: DataFrame, lnr_rows, buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(doc_id, logw) over an unbounded documents stream under a FROZEN
    DSIR model (S30) — the consumer side of the mergeable-stats
    standing model: ``lnr_rows`` is the collected (b, lnr) table (from
    ``dsir_lnr`` — B ≤ buckets rows, a closure-sized literal), and the
    score is a pure per-row fold over the doc's gram buckets against
    that array literal. Stateless projection end to end — no
    aggregation, no watermark, any output mode. Buckets the frozen
    model never saw contribute 0, exactly like the batch scorer's
    inner join dropping them.

    Float caveat, pinned in the parity test: the batch scorer groups
    (bucket, count) pairs before its Σ cnt·lnr while this fold adds
    lnr once per gram occurrence — same terms, different addition
    order, so parity is to ~1e-9, not bitwise."""
    from .._shingle import WORDS_EXPR

    lit = _lnr_array_literal(lnr_rows, buckets)
    bound = stream_docs.select("doc_id", F.expr(WORDS_EXPR).alias("_w"))
    ba = F.expr(f"transform(({GRAMS_SQL_W}), g -> {_bucket_spark_sql('g')})")
    return bound.withColumn("_ba", ba).select(
        "doc_id",
        F.expr(
            f"aggregate(_ba, 0D, (acc, b) -> acc + element_at({lit}, b + 1))"
        ).alias("logw"),
    )


def _lnr_array_literal(lnr_rows, buckets: int = DSIR_BUCKETS) -> str:
    """The frozen (b, lnr) table as a constant-folded SQL array literal;
    buckets absent from ``lnr_rows`` contribute 0, exactly like the
    batch scorer's inner join dropping them."""
    arr = [0.0] * buckets
    for r in lnr_rows:
        arr[r["b"]] = float(r["lnr"])
    return "array(" + ", ".join(repr(v) + "D" for v in arr) + ")"


def dsir_log_weights(
    docs: DataFrame,
    target: "F.Column",
    buckets: int = DSIR_BUCKETS,
    smooth: float = _DSIR_SMOOTH,
) -> DataFrame:
    """(doc_id, logw) — per-document DSIR log importance weight of the
    rows satisfying ``target`` against the whole of ``docs``, under
    hashed unigram+bigram bag-of-words models with add-``smooth``
    bucket smoothing. Docs with no tokens get logw = 0 (weight 1)."""
    return dsir_log_weights_from_stats(
        docs, dsir_bucket_stats(docs, target), target, buckets, smooth
    )


@query(
    "x25_dsir_resample",
    oracle=f"""
    WITH docsrc AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           w -> w != '') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, g FROM (
            SELECT doc_id, lang,
                   unnest(list_concat(w,
                       list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i + 1]))) AS g
            FROM docsrc)
    ),
    dbc AS (
        SELECT doc_id, lang, {_bucket_sql('g')} AS b, count(*) AS cnt
        FROM grams GROUP BY 1, 2, 3
    ),
    bstats AS (
        SELECT b, CAST(SUM(cnt) AS BIGINT) AS cr,
               CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN cnt
                             ELSE 0 END) AS BIGINT) AS ct
        FROM dbc GROUP BY b
    ),
    tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
                   CAST(SUM(ct) AS BIGINT) AS nt FROM bstats),
    lnr AS (
        SELECT b, ln(((ct + 25E-2) * (nr + 256E0))
                     / ((cr + 25E-2) * (nt + 256E0))) AS lnr
        FROM bstats, tot
    ),
    perdoc AS (
        SELECT doc_id, SUM(cnt * lnr) AS logw
        FROM dbc JOIN lnr USING (b) GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang,
           floor(COALESCE(p.logw, 0E0) * 10000 + 0.5) / 10000 AS logw,
           floor((ln({_uniform_sql('CAST(d.doc_id AS VARCHAR)')})
                  - COALESCE(p.logw, 0E0)) * 10000 + 0.5) / 10000 AS skey
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
    ORDER BY skey, doc_id LIMIT {DSIR_SAMPLE_K}
    """,
)
def x25_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass frozen-model execution (the dsir_score_stream shape in
    batch): pass 1 reduces the corpus straight to the B-row bucket
    stats, the ≤B-row ln-ratio table is collected (driver state bounded
    by the constant B, the same envelope as dsir_score_stream's S30
    deployment), and pass 2 scores every document with a zero-join,
    zero-shuffle per-row fold feeding TakeOrderedAndProject. The prior
    single-plan form built the gram→md5-bucket subtree three times
    (stats, totals, scoring join) and shuffled twice more; results are
    identical (same per-doc sum terms, float order absorbed by the
    1e-4 quantization like the S30 parity)."""
    from .._shingle import WORDS_EXPR, _parallelize

    docs = load(spark, sf_dir, "documents")
    target = F.col("lang") == _DSIR_TARGET_LANG
    lnr_rows = dsir_lnr(dsir_bucket_stats(docs, target)).collect()
    lit = _lnr_array_literal(lnr_rows)
    bound = _parallelize(docs).select(
        "doc_id", "lang", F.expr(WORDS_EXPR).alias("_w")
    )
    ba = F.expr(f"transform(({GRAMS_SQL_W}), g -> {_bucket_spark_sql('g')})")
    lw = F.expr(
        f"aggregate(_ba, 0D, (acc, b) -> acc + element_at({lit}, b + 1))"
    )
    u = F.expr(_uniform_sql("CAST(doc_id AS STRING)"))
    return (
        bound.withColumn("_ba", ba)
        .withColumn("_lw", lw)
        .select(
            "doc_id",
            "lang",
            _round4(F.col("_lw")).alias("logw"),
            _round4(F.log(u) - F.col("_lw")).alias("skey"),
        )
        .orderBy("skey", "doc_id")
        .limit(DSIR_SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# X28 — per-source token budget: cap each source/domain at a fixed token
# budget, keeping its highest-priority documents first. The standard
# anti-SEO-farm / anti-boilerplate-domain quota in crawl curation (C4
# and RefinedWeb both cap per-domain contribution; FineWeb documents
# per-domain limits as a core dedup-adjacent step — all public).
# Priority here is (n_chars DESC, doc_id) — deterministic, total, and
# integer-only, so the windowed cumulative sum is exact in any engine.
#
# Scale shape: ONE shuffle, partitioned by source — the cumsum window
# never funnels the corpus through a single task; the largest single
# domain bounds the sort. For monster domains (a 100 TB crawl's top
# domain can be ~1% of the corpus) the refinement is two-phase: a
# coarse percentile prefilter drops the obvious over-budget tail
# map-side, then the exact cumsum runs on survivors — same semantics,
# bounded task. The summary output keeps the oracle array-free.
# ---------------------------------------------------------------------------

X28_TOKEN_BUDGET = 1000  # per-source kept-token budget


@query(
    "x28_source_token_budget",
    oracle=f"""
    WITH t AS (SELECT source, doc_id, n_chars, {_WS_TOK_DUCK} AS tokens
               FROM documents),
     c AS (SELECT *, SUM(tokens) OVER (PARTITION BY source
                                       ORDER BY n_chars DESC, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
           FROM t)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN cum <= {X28_TOKEN_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN cum <= {X28_TOKEN_BUDGET} THEN tokens ELSE 0 END)
                AS BIGINT) AS kept_tokens,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def x28_source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation quota: a doc is kept iff the running token
    total of its source — in (n_chars DESC, doc_id) priority order,
    inclusive of the doc itself — stays within X28_TOKEN_BUDGET."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = docs.select(
        "source", "doc_id", "n_chars", F.expr(_WS_TOK_SPARK).alias("tokens")
    ).withColumn("cum", F.sum("tokens").over(w))
    kept = F.col("cum") <= X28_TOKEN_BUDGET
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.sum("tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X29 — temperature-balanced language resampling (α = 0.5): downsample
# over-represented languages so the post-sampling language distribution
# is proportional to count^α — the multilingual-pretraining mixing rule
# (exponentiated-share sampling in mBERT / XLM-R, Conneau et al. 2020,
# public). Keep rate for language l is sqrt(cnt_min / cnt_l): the
# smallest language keeps everything, a language 4× its size keeps
# half, 100× keeps a tenth — shares move from ∝ cnt to ∝ sqrt(cnt).
#
# Cross-engine exactness is engineered, not hoped for: α is fixed at
# 0.5 so the rate is a DIVISION + SQRT, both IEEE-correctly-rounded in
# every engine (pow() is not — libm implementations differ in the last
# ulp, which a hash oracle would catch); the rate is then quantized to
# /256 (floor(rate·256) — ·256 is an exact exponent shift) and the
# keep decision compares the md5(doc_id) hex prefix against the
# two-hex-char threshold, the x5/x9 content-free-determinism scheme.
#
# Scale shape: the rate table is one tiny aggregation (≤ #languages
# rows after map-side combine) broadcast back; the keep decision is
# map-only over the corpus — zero corpus shuffles end to end.
# ---------------------------------------------------------------------------

def temperature_rates(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """(lang, cnt, rate_256) — the frozen temperature-α rate table for
    a document population: keep rate (cnt_min/cnt)^(1-α), so the
    post-sampling shares are ∝ cnt^α with the smallest language kept
    in full (α=1 keeps everything, α=0 equalizes expected counts).
    Computed once batch-side, then broadcast to any consumer (the x29
    query, the funnel's temp stage, or a stream applying FROZEN rates
    — the x25-DSIR frozen-model discipline: rates must not drift with
    every micro-batch).

    Only the default α=0.5 is oracle-exact cross-engine (the rate is
    then a division + sqrt, both IEEE-correctly-rounded; general
    pow() differs across libm implementations in the last ulp, which
    a /256 quantization boundary can expose) — the registered x29
    query pins α=0.5, other temperatures are caller territory."""
    cnts = docs.groupBy("lang").agg(F.count("*").alias("cnt"))
    cmin = cnts.agg(F.min("cnt").alias("cnt_min"))
    ratio = F.col("cnt_min").cast("double") / F.col("cnt").cast("double")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    return cnts.crossJoin(F.broadcast(cmin)).select(
        "lang",
        "cnt",
        F.floor(rate * 256).cast("bigint").alias("rate_256"),
    )


def temp_keep_expr(rate_col) -> "F.Column":
    """The per-doc temperature keep decision under a (possibly NULL)
    rate_256 column: a language absent from the frozen rate table
    keeps everything (rate NULL → 256) — never silently drops rows the
    table didn't anticipate (same coverage rule the frozen langid
    stream follows)."""
    r = F.coalesce(rate_col, F.lit(256))
    return (r >= 256) | (
        F.expr(_DOC_PREFIX) < F.format_string("%02x", r)
    )


_X29_KEPT_DUCK = (
    "r.rate_256 >= 256 OR substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 2)"
    " < printf('%02x', r.rate_256)"
)


@query(
    "x29_temperature_resample",
    oracle=f"""
    WITH t AS (SELECT lang, doc_id, {_WS_TOK_DUCK} AS tokens FROM documents),
     c AS (SELECT lang, COUNT(*) AS cnt FROM t GROUP BY 1),
     r AS (SELECT lang, cnt,
                  CAST(FLOOR(SQRT(CAST((SELECT MIN(cnt) FROM c) AS DOUBLE)
                                  / CAST(cnt AS DOUBLE)) * 256) AS BIGINT)
                      AS rate_256
           FROM c)
    SELECT t.lang, CAST(r.cnt AS BIGINT) AS n_docs, r.rate_256,
           CAST(SUM(CASE WHEN {_X29_KEPT_DUCK} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN {_X29_KEPT_DUCK} THEN t.tokens ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM t JOIN r USING (lang) GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def x29_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    kept = temp_keep_expr(F.col("rate_256"))
    return (
        docs.select("lang", "doc_id", F.expr(_WS_TOK_SPARK).alias("tokens"))
        .join(F.broadcast(temperature_rates(docs)), "lang")
        .groupBy("lang")
        .agg(
            F.first("cnt").cast("bigint").alias("n_docs"),
            F.first("rate_256").alias("rate_256"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X30 — deterministic shard manifest: the dataloader-prep step that
# globally shuffles a corpus and splits it into K equal-expectation
# shards (WebDataset / TFRecord-style sharded exports — public
# practice). Shard = first hex char of md5(doc_id) (16 shards, exact
# in any engine via a string position — no hex→int conversion, which
# SQL dialects disagree on); within-shard order = the full md5 hex
# string, a content-free deterministic permutation. The registered
# query returns the per-shard manifest (counts, token totals, first/
# last doc under the shuffle order) — what an export job writes next
# to its shards; write_shards() below is that export, expressed as
# the one-shuffle Spark-native write.
# ---------------------------------------------------------------------------

X30_SHARDS = 16

_X30_SHARD_SPARK = (
    "cast(locate(substring(h, 1, 1), '0123456789abcdef') - 1 as bigint)"
)


def _sharded(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "h", F.expr("md5(cast(doc_id as string))")
    ).withColumn("shard", F.expr(_X30_SHARD_SPARK))


@query(
    "x30_shard_manifest",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_WS_TOK_DUCK} AS tokens,
                      md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
     s AS (SELECT *, CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1
                          AS BIGINT) AS shard FROM t)
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(arg_min(doc_id, h) AS BIGINT) AS first_doc,
           CAST(arg_max(doc_id, h) AS BIGINT) AS last_doc
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def x30_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _sharded(
        load(spark, sf_dir, "documents").select(
            "doc_id", F.expr(_WS_TOK_SPARK).alias("tokens")
        )
    )
    return (
        t.groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("total_tokens"),
            F.expr("min_by(doc_id, h)").cast("bigint").alias("first_doc"),
            F.expr("max_by(doc_id, h)").cast("bigint").alias("last_doc"),
        )
        .orderBy("shard")
    )


def write_shards(docs: DataFrame, path: str) -> None:
    """Materialize the x30 export: ONE shuffle (repartition by shard)
    + a sort WITHIN each partition (no global sort barrier), written
    as one parquet directory per shard. At 100 TB this is the plan you
    want: K writer tasks, each streaming its shard in shuffle order —
    no driver collect, no global ordering stage."""
    t = _sharded(docs)
    (
        t.repartition(X30_SHARDS, "shard")
        # leading "shard": repartition hashes shard ids into 16 buckets,
        # so one task can hold SEVERAL shards (mod-16 collisions), and
        # the dynamic-partition writer then re-sorts the task by its
        # partition columns — an unstable sort that scrambles h. A task
        # ordering that already satisfies the writer's required
        # (partition-cols) prefix skips that sort and preserves h.
        .sortWithinPartitions("shard", "h")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
