"""Sink-side formatters and writers (O3/O5/O14/O15, SURVEY.md §2a).

The reference emits four JSON message shapes to Kafka
(EventAggregationJob.java:269-321 redis/db payloads;
AnomalyDetectionJob.java:371-427 alert/db payloads). Here each is a
`to_json(struct(...))` projection — pure JVM expressions, testable
without a broker; `to_kafka`/`jdbc_writer` attach the actual transport.

uuid() (O15) appears only in the alert payload and is excluded from
oracle comparisons by design (nondeterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def redis_payload(aggs: DataFrame, window: str = "1m") -> DataFrame:
    """(key, value) rows matching the Redis writer contract
    (EventAggregationJob.java:277-292): key agg:{source}:{window}:{iso},
    value the aggregate JSON."""
    key = F.format_string(
        f"agg:%s:{window}:%s",
        F.col("source"),
        F.date_format("window_start", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
    )
    value = F.to_json(
        F.struct(
            F.col("count_events").alias("count"),
            "avg_metric",
            "p95_metric",
            "p99_metric",
            "error_rate",
            "sum_metric",
        )
    )
    return aggs.select(key.alias("key"), value.alias("value"))


def db_payload(aggs: DataFrame) -> DataFrame:
    """metrics_1min insert rows as JSON (EventAggregationJob.java:304-319)."""
    return aggs.select(
        F.to_json(
            F.struct(
                F.date_format("window_start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts"),
                "source",
                "count_events",
                "avg_metric",
                "p95_metric",
                "p99_metric",
                "error_rate",
            )
        ).alias("value")
    )


def alert_payload(alerts: DataFrame) -> DataFrame:
    """alerts.v1 message shape (AnomalyDetectionJob.java:371-427):
    nested stats object, uuid alert_id (O15 — nondeterministic, never
    oracle-compared)."""
    return alerts.select(
        F.to_json(
            F.struct(
                F.expr("uuid()").alias("alert_id"),
                "source",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
                "anomaly_type",
                "severity",
                "value",
                "z_score",
                "mad_score",
                "is_anomaly",
            )
        ).alias("value")
    )


def to_kafka(payload: DataFrame, topic: str, bootstrap: str, checkpoint: str):
    """Kafka sink (O3). Requires the spark-sql-kafka package on the
    classpath; the payload df must have `value` (and optionally `key`)
    string columns — exactly what the formatters above produce."""
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def jdbc_writer(url: str, table: str, properties: dict | None = None):
    """foreachBatch JDBC append (O5) — the alert service's INSERT INTO
    anomalies (services/alert-service/main.py:204-230) as a batch write."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.jdbc(url, table, mode="append", properties=properties or {})

    return write


# ---------------------------------------------------------------------------
# O36 — retention/TTL maintenance (01-init-timescaledb.sql:63-65; the
# reference documents 30/90-day retention). On a date-partitioned table
# this is partition pruning in reverse: enumerate partition directories
# older than the cutoff and drop them — never a row-level delete scan.
# ---------------------------------------------------------------------------


def expired_partitions(spark, path: str, keep_days: int, partition_col: str = "event_date") -> list[str]:
    """Partition values (yyyy-MM-dd) older than max(partition) - keep_days.
    Listing-only: the caller decides to delete (storage-side operation).

    Enumerates ``{partition_col}=value`` directory names through the
    Hadoop FileSystem API — one metadata RPC, no Spark job, no data
    read. The previous implementation ran ``.distinct()`` over the
    partition column, which parquet serves cheaply only when a file
    index is already cached; on a raw 100 TB table it is a full listing
    PLUS a scan-shaped job. Works on any Hadoop-supported filesystem
    (local, HDFS, S3A), exactly where the table itself lives."""
    from datetime import date, timedelta

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    prefix = f"{partition_col}="
    statuses = list(fs.listStatus(hpath))
    part_dirs = [
        st.getPath().getName()
        for st in statuses
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    # Only well-formed yyyy-MM-dd values participate: the NULL partition
    # (__HIVE_DEFAULT_PARTITION__) and any stray non-ISO value (manual
    # backfill dirs like event_date=20240101) must neither poison the
    # lexicographic max anchor nor crash the parse — and a value we
    # can't parse is never returned for deletion either.
    def _is_iso(v: str) -> bool:
        from datetime import date

        try:
            date.fromisoformat(v)
            return True
        except ValueError:
            return False

    dates = sorted(e[len(prefix):] for e in part_dirs if _is_iso(e[len(prefix):]))
    if not part_dirs:
        # Raise ONLY on layouts that are provably wrong for this job:
        # bare data files (unpartitioned table), a hive layout on a
        # DIFFERENT column, or non-hive subdirectories that actually
        # HOLD data files (a bare-date layout like {path}/2024-01-01/
        # part-*.parquet from a non-Spark writer). A table whose first
        # micro-batch hasn't committed yet (only _spark_metadata /
        # .staging entries, or empty scratch dirs) no-ops — retention
        # pointed at a not-yet-populated sink must not crash the
        # maintenance loop.
        def _dir_holds_data(st) -> bool:
            if not st.isDirectory():
                return False
            if "=" in st.getPath().getName():
                return True  # hive layout, wrong column
            return any(
                not c.getPath().getName().startswith(("_", "."))
                for c in fs.listStatus(st.getPath())
            )

        misconfigured = [
            st.getPath().getName()
            for st in statuses
            if not st.getPath().getName().startswith(("_", "."))
            and (not st.isDirectory() or _dir_holds_data(st))
        ]
        if misconfigured:
            # Returning [] here would silently disable retention
            # forever; fail loudly instead.
            raise ValueError(
                f"{path} has no {prefix}* partition directories (found "
                f"{misconfigured[:3]}…) — directory-listing retention "
                "requires a table written with "
                f"partitionBy({partition_col!r})"
            )
        return []
    if not dates:
        return []
    newest = date.fromisoformat(dates[-1])
    cutoff = str(newest - timedelta(days=keep_days))
    return [d for d in dates if d < cutoff]


def rollup_writer(path: str):
    """foreachBatch cold-store aggregate writer — the consumer of the
    reference's ``aggregates.db`` topic that its repo specifies but never
    ships (message format EventAggregationJob.java:304-319; SURVEY.md §0
    notes the writer's absence). Each micro-batch of updated sliding
    aggregates is UPSERTED into a parquet table partitioned by
    (ws, source) via dynamic partition overwrite: the partition key IS
    the aggregate's logical key, so overwriting exactly the partitions
    present in the batch is an idempotent keyed upsert — a replayed
    batch rewrites the same partitions with the same deterministic
    content, and partitions not in the batch are untouched. No
    table-format MERGE machinery needed; at 100 TB the layout doubles
    as the cold store's natural time+source partitioning (TimescaleDB
    hypertable chunking twin), so time-range reads prune on ws.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "ws", F.date_format("window_start", "yyyy-MM-dd'T'HH:mm:ss'Z'")
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ws", "source")
            .parquet(path)
        )

    return write


def _batch_run_signature(batch_df: DataFrame, cols) -> str:
    """Deterministic CONTENT SIGNATURE of a micro-batch's rows over
    ``cols``: bit_xor of row hashes, PLUS a sum of the hashes' upper 32
    bits, plus the row count. The xor alone cancels rows repeated an
    even number of times, so two different equal-count batches could
    collide; the hash-sum is an independent order-insensitive component
    that breaks that cancellation (notify.py's sha256-over-sorted-
    content guard is stronger still, but needs a driver-side collect
    this per-batch aggregate avoids). Shared by every foreachBatch
    writer that partitions its store by (run, epoch) to survive
    fresh-checkpoint epoch-id restarts."""
    h = F.xxhash64(*cols)
    sig = batch_df.select(
        F.bit_xor(h).alias("x"),
        # upper-32-bit sum: order-insensitive like the xor but does NOT
        # cancel even-multiplicity repeats; masked so the int64 sum
        # cannot overflow under ANSI mode
        F.sum(F.shiftrightunsigned(h, 32)).alias("s"),
        F.count(F.lit(1)).alias("c"),
    ).first()
    return (
        f"{(sig['x'] or 0) & 0xFFFFFFFFFFFF:012x}"
        f"s{(sig['s'] or 0) & 0xFFFFFFFFFF:010x}n{sig['c']}"
    )


def kll_sketch_writer(
    path: str,
    key_col: str = "source",
    val_col: str = "metric",
    k: int = 200,
):
    """foreachBatch incremental KLL materializer — the streaming twin of
    the batch sketch pipeline (functions/sketches.py x13): each
    micro-batch reduces its rows to per-(key, day) KllDoublesSketch
    binaries and stores them append-style, so any-range quantiles are
    answered later by merging stored sketches, never by rescanning
    events.

    Replay idempotence WITHOUT read-modify-write: a stored-sketch
    MERGE-on-write (read existing day sketch, union, write back) would
    double-count a replayed epoch — KLL has no idempotent union. So the
    storage unit is the (day, run, epoch) partition, written with
    dynamic partition overwrite: a replayed epoch rewrites exactly its
    own partitions (same rows → same n), other epochs untouched, and
    the read side merges across epochs with ``kll_merge_agg_double``.

    The ``run`` partition level closes the epoch-id-collision hazard
    the pure (day, epoch) layout had: a stream restarted from a FRESH
    checkpoint (or a second query sharing the path) restarts epoch ids
    at 0 and would silently overwrite previously stored sketches for
    the same (day, epoch). ``run`` is a deterministic
    CONTENT SIGNATURE of the epoch's rows: bit_xor of row hashes, PLUS
    a sum of the hashes' upper 32 bits, plus the row count. The xor
    alone cancels rows repeated an even number of times, so two
    different equal-count batches could collide; the hash-sum is an
    independent order-insensitive component that breaks that
    cancellation (notify.py's sha256-over-sorted-content guard is
    stronger still, but needs a driver-side collect this per-batch
    aggregate avoids). A same-checkpoint replay (identical rows) lands
    on the identical partition and overwrites idempotently, while a
    fresh-checkpoint epoch 0 (different rows) gets a different ``run``
    and APPENDS.

    MIGRATION: this (day, run, epoch) layout is incompatible with a
    store written by the older (day, epoch) writer at the same path —
    Spark partition discovery rejects mixed directory depths. Compact
    or rewrite an existing store (read old, merge with
    kll_merge_agg_double, write under the new layout) before pointing
    the upgraded writer at it; readers then work unchanged.

    The per-epoch sketch rows are O(keys × days-touched) few-KB
    payloads; a maintenance pass may later compact runs/epochs into
    daily sketches with the same merge function (nothing downstream
    changes — readers merge whatever granularity is stored)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        rid = _batch_run_signature(batch_df, (key_col, "ts", val_col))
        (
            batch_df.groupBy(
                F.col(key_col).alias("key"), F.to_date("ts").alias("day")
            )
            .agg(F.kll_sketch_agg_double(val_col, F.lit(k)).alias("sketch"))
            .withColumn("run", F.lit(rid))
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day", "run", "epoch")
            .parquet(path)
        )

    return write


def kll_store_quantiles(
    spark, path: str, quantiles: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """Per-key quantile estimates from the stored sketches — merge-only,
    no event data touched. Column naming matches x13 (p50/p95/p99)."""
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    merged = (
        spark.read.parquet(path)
        .groupBy("key")
        .agg(F.kll_merge_agg_double("sketch").alias("merged"))
    )
    est = merged.select(
        "key",
        F.kll_sketch_get_n_double("merged").alias("n"),
        F.kll_sketch_get_quantile_double("merged", qarr).alias("qs"),
    )
    cols = [
        F.col("qs")[i].alias(f"p{int(round(q * 100))}")
        for i, q in enumerate(quantiles)
    ]
    return est.select("key", "n", *cols)


def shard_export_writer(path: str, checkpoint: str | None = None):
    """foreachBatch incremental shard exporter — the streaming twin of
    the x30 batch export (functions/pipeline.write_shards): a curated
    document stream is appended to a WebDataset-style K-shard store as
    it arrives, instead of re-exporting the whole corpus per refresh
    (the daily-ingest path a 100 TB pipeline actually runs).

    Each micro-batch is assigned the SAME deterministic shard/order
    keys as the batch export (shard = first md5 hex char of doc_id,
    within-shard order = the full md5), repartitioned by shard so K
    writer tasks stream their shard in shuffle order, and written to
    (shard, run, epoch) partitions with dynamic partition overwrite.

    Exactly-once envelope (S35/S37/S41):

    - a same-checkpoint REPLAY of epoch N rewrites exactly its own
      partitions with identical content — idempotent, no dedup pass;
    - a FRESH-checkpoint restart (epoch ids restart at 0 with
      different rows) lands on a different ``run`` and APPENDS instead
      of clobbering — the same hazard closure as kll_sketch_writer;
    - a fresh-checkpoint first batch that OVERLAPS a committed batch
      without equaling it (old docs plus new) appends the overlap as
      duplicate rows — no run-id scheme can distinguish that from
      genuinely new data at write time. The store-level closure is
      ``compact_shard_store(..., reconcile_docs=True)`` (S41), which
      folds the accumulated (run, epoch) partitions while keeping
      exactly one row per document — the first-committed occurrence —
      so the store is exactly-once again after the next maintenance
      pass regardless of how the restart overlapped.

    ``run`` resolution: a ``checkpoint`` location (the string passed to
    the query's ``checkpointLocation``) is hashed to a stable id, so
    every epoch of one checkpointed query shares a run and replay
    clobbering needs no per-batch job; else a per-batch content
    signature (``_batch_run_signature``), which costs one tiny aggregate
    job per batch but needs no wiring."""
    from ..functions.pipeline import X30_SHARDS, _sharded

    run = None
    if checkpoint is not None:
        import hashlib
        import os as _os

        run = "k" + hashlib.md5(
            _os.path.abspath(checkpoint).encode("utf-8")
        ).hexdigest()[:16]

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        rid = run
        if rid is None:
            cols = [c for c in ("doc_id", "text") if c in batch_df.columns]
            rid = _batch_run_signature(batch_df, cols or batch_df.columns[:1])
        sharded = _sharded(batch_df)
        (
            sharded.repartition(X30_SHARDS, "shard")
            .withColumn("run", F.lit(rid))
            .withColumn("epoch", F.lit(int(epoch_id)))
            # sort leads with ALL partition columns (run/epoch are
            # per-batch constants, so h stays the effective key): a
            # task can hold several shards (mod-16 collisions), and
            # the dynamic-partition writer re-sorts any task whose
            # ordering doesn't satisfy its partition-cols prefix —
            # an unstable sort that would scramble h.
            .sortWithinPartitions("shard", "run", "epoch", "h")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard", "run", "epoch")
            .parquet(path)
        )
        # Incremental manifest partial for this batch — the 100 TB
        # manifest shape: one tiny mergeable row per (shard, run,
        # epoch), so manifest reads fold O(epochs) partial rows instead
        # of rescanning the whole store (shard_store_manifest_fast).
        # Same partition keys + dynamic overwrite as the data, so a
        # replay rewrites its own partials identically; the whole side
        # table lives under an underscore directory the store's data
        # readers ignore.
        (
            _shard_partials(sharded)
            .withColumn("run", F.lit(rid))
            .withColumn("epoch", F.lit(int(epoch_id)))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard", "run", "epoch")
            .parquet(_partials_path(path))
        )

    return write


def _partials_path(path: str) -> str:
    # underscore prefix: ignored by the store's parquet data listing
    return f"{path}/_manifest_partials"


def _shard_partials(sharded: DataFrame) -> DataFrame:
    """Per-shard mergeable manifest partial of a frame already carrying
    (h, shard): counts, token sums, and the (h, doc_id) extremes. These
    merge exactly because h = md5(doc_id) is unique per document and
    every aggregate here is associative."""
    from ..functions.pipeline import _WS_TOK_SPARK

    return sharded.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.expr(_WS_TOK_SPARK)).cast("bigint").alias("total_tokens"),
        F.min("h").alias("h_min"),
        F.expr("min_by(doc_id, h)").cast("bigint").alias("doc_min"),
        F.max("h").alias("h_max"),
        F.expr("max_by(doc_id, h)").cast("bigint").alias("doc_max"),
    )


def compact_shard_store(
    spark,
    path: str,
    shards=None,
    target_files: int = 1,
    reconcile_docs: bool = False,
) -> dict:
    """S38 — manifest-preserving compaction of an incremental shard
    store (VERDICT r11 #6). The exporter adds one (run, epoch)
    partition per micro-batch; at daily-ingest scale that is the
    classic small-files failure — a year of 1-minute batches is ~500k
    directories per shard. This rewrites each shard's accumulated
    (run, epoch) partitions into ``target_files`` h-sorted files under
    ONE synthetic compaction run, preserving the store's read contract
    exactly: same rows exactly once, same within-file ascending h,
    identical shard_store_manifest (pinned by tests/test_shard_export.py).

    Crash safety is an idempotent intent-file protocol, not luck —
    re-running this function after a SIGKILL at ANY point restores
    exactly-once (S38 kill harness):

    1. recovery: an existing ``_compaction.json`` intent means a prior
       attempt died. If its compacted run directory holds _SUCCESS the
       data is complete — finish by deleting whatever listed inputs
       remain; otherwise the write died mid-flight — delete the
       partial run directory. Either way the intent is then removed
       and the store is exactly-once again.
    2. list the shard's current (run, epoch) leaf directories as the
       compaction INPUTS; the compacted run id is deterministic from
       that list ("c" + md5 of the sorted relative paths), so a crashed
       attempt and its retry name the same output.
    3. write the intent file (inputs + crun) via temp + rename, then
       write the inputs' rows — explicitly those directories, so rows
       appended by a concurrent exporter are neither compacted nor
       deleted — range-partitioned and sorted by h into
       ``run=<crun>/epoch=0``.
    4. only after _SUCCESS: delete the input directories, then the
       intent.

    Readers that race a mid-compaction store can observe duplicates
    between steps 3 and 4 (single-writer maintenance windows or a
    transactional table format are the production answer for
    reader-concurrent compaction); the exactly-once guarantee is for
    the store at rest and after recovery. The scale path is
    ``target_files > 1``: repartitionByRange keeps a global h order
    ACROSS a shard's files, so a shard compacts to bounded-size sorted
    files with one shuffle and no global sort.

    ``reconcile_docs=True`` (S41, VERDICT r12 #2) additionally keeps
    exactly ONE row per document across the shard's inputs — the
    first-committed occurrence (lowest epoch, then run) — closing the
    overlapping-fresh-checkpoint-restart hole the exporter cannot
    close at write time: shard = first md5 hex char of doc_id, so all
    copies of a document live in one shard and the per-shard dedup is
    complete. Cost is one row_number window over the shard's rows,
    partitioned by the (unique) order key h — an extra sort within the
    same one-shuffle compaction budget — plus one count job for the
    report's ``docs_dropped``. The compacted run id folds the mode in,
    so a crashed plain compaction is never rolled forward as if it had
    reconciled."""
    import json as _json

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(path)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return {}

    def _list_dirs(p):
        return [
            st.getPath()
            for st in fs.listStatus(p)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]

    def _leaf_inputs(shard_dir):
        leaves = []
        for run_dir in _list_dirs(shard_dir):
            leaves.extend(_list_dirs(run_dir))
        return sorted(leaves, key=lambda q: str(q))

    def _data_files(p):
        n = 0
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith(("_", ".")):
                n += 1
            elif st.isDirectory():
                n += _data_files(st.getPath())
        return n

    def _write_crun_partial(name, crun):
        """(Re)build the compacted run's manifest partial from its
        committed data — idempotent, so roll-forward recovery can
        always call it."""
        dest = f"{path}/{name}/run={crun}/epoch=0"
        shard_val = name.split("=", 1)[1]
        (
            _shard_partials(
                spark.read.parquet(dest).withColumn(
                    "shard", F.lit(int(shard_val))
                )
            )
            # shard/run/epoch live in the directory names here, exactly
            # like the exporter's partitionBy layout — embedding shard
            # in the data files too would collide with the inferred
            # partition column on read
            .drop("shard")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{_partials_path(path)}/{name}/run={crun}/epoch=0")
        )

    def _partial_dir(name, rel):
        return HPath(f"{_partials_path(path)}/{name}", rel)

    def _prune_empty_runs(shard_dir, keep_run=None):
        for run_dir in _list_dirs(shard_dir):
            if keep_run is not None and run_dir.getName() == f"run={keep_run}":
                continue
            if len(fs.listStatus(run_dir)) == 0:
                fs.delete(run_dir, True)

    def _recover(shard_dir, intent_path):
        if not fs.exists(intent_path):
            return
        stream = fs.open(intent_path)
        try:
            raw = bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()
        intent = _json.loads(raw)
        name = shard_dir.getName()
        crun_dir = HPath(shard_dir, f"run={intent['crun']}")
        done = fs.exists(HPath(crun_dir, "epoch=0/_SUCCESS"))
        if done:
            # roll forward: (re)write the compacted partial, then
            # finish the input deletes (data + partials)
            _write_crun_partial(name, intent["crun"])
            for rel in intent["inputs"]:
                for leftover in (HPath(shard_dir, rel), _partial_dir(name, rel)):
                    if fs.exists(leftover):
                        fs.delete(leftover, True)
            _prune_empty_runs(shard_dir)
            pshard = HPath(f"{_partials_path(path)}/{name}")
            if fs.exists(pshard):
                _prune_empty_runs(pshard, keep_run=intent["crun"])
        else:
            # roll back: the write died mid-flight — remove the partial
            # data and any partial-manifest debris
            if fs.exists(crun_dir):
                fs.delete(crun_dir, True)
            pcrun = _partial_dir(name, f"run={intent['crun']}")
            if fs.exists(pcrun):
                fs.delete(pcrun, True)
        fs.delete(intent_path, False)

    report: dict = {}
    for shard_st in fs.listStatus(root):
        if not shard_st.isDirectory():
            continue
        shard_dir = shard_st.getPath()
        name = shard_dir.getName()
        if not name.startswith("shard="):
            continue
        shard_val = name.split("=", 1)[1]
        if shards is not None and int(shard_val) not in set(shards):
            continue
        intent_path = HPath(shard_dir, "_compaction.json")
        _recover(shard_dir, intent_path)

        inputs = _leaf_inputs(shard_dir)
        files_before = _data_files(shard_dir)
        if len(inputs) <= 1 and files_before <= target_files:
            report[shard_val] = {
                "inputs": len(inputs),
                "files_before": files_before,
                "files_after": files_before,
                "compacted": False,
            }
            continue
        rels = [
            f"{q.getParent().getName()}/{q.getName()}" for q in inputs
        ]
        import hashlib

        mode_tag = "dedup|" if reconcile_docs else ""
        crun = "c" + hashlib.md5(
            (mode_tag + "|".join(rels)).encode()
        ).hexdigest()[:16]
        tmp_intent = HPath(shard_dir, "._compaction.json.tmp")
        out = fs.create(tmp_intent, True)
        try:
            out.write(
                _json.dumps({"crun": crun, "inputs": rels}).encode("utf-8")
            )
        finally:
            out.close()
        if fs.exists(intent_path):
            fs.delete(intent_path, False)
        fs.rename(tmp_intent, intent_path)

        dest = f"{path}/{name}/run={crun}/epoch=0"
        docs_dropped = 0
        if reconcile_docs:
            from pyspark.sql import Window as _W

            # basePath keeps the (run, epoch) partition columns so the
            # winner is deterministic: first-committed = lowest epoch,
            # then run. h = md5(doc_id) is the document identity.
            ranked = (
                spark.read.option("basePath", str(shard_dir))
                .parquet(*[str(q) for q in inputs])
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        _W.partitionBy("h").orderBy(
                            F.col("epoch").asc(), F.col("run").asc()
                        )
                    ),
                )
            )
            docs_dropped = ranked.where(F.col("_rn") > 1).count()
            src = ranked.where(F.col("_rn") == 1).drop("_rn", "run", "epoch")
        else:
            src = spark.read.parquet(*[str(q) for q in inputs])
        (
            src.repartitionByRange(max(1, int(target_files)), "h")
            .sortWithinPartitions("h")
            .write.mode("overwrite")
            .parquet(dest)
        )
        _write_crun_partial(name, crun)
        for q in inputs:
            fs.delete(q, True)
            prel = _partial_dir(name, f"{q.getParent().getName()}/{q.getName()}")
            if fs.exists(prel):
                fs.delete(prel, True)
        _prune_empty_runs(shard_dir, keep_run=crun)
        pshard = HPath(f"{_partials_path(path)}/{name}")
        if fs.exists(pshard):
            _prune_empty_runs(pshard, keep_run=crun)
        fs.delete(intent_path, False)
        report[shard_val] = {
            "inputs": len(inputs),
            "files_before": files_before,
            "files_after": _data_files(shard_dir),
            "compacted": True,
        }
        if reconcile_docs:
            report[shard_val]["docs_dropped"] = docs_dropped
    return report


def shard_store_manifest_fast(spark, path: str) -> DataFrame:
    """shard_store_manifest without the full-store scan — the 100 TB
    manifest shape: fold the tiny per-(shard, run, epoch) partials the
    exporter maintains (and compaction rewrites), O(epochs) rows
    instead of O(documents). Every aggregate is associative and h =
    md5(doc_id) is unique per document, so the fold is exact — pinned
    row-for-row against the full-scan manifest after export, replay,
    fresh-restart append, compaction, and the two-day loop
    (tests/test_shard_export.py). Only valid for stores written by
    shard_export_writer / compacted by compact_shard_store; batch
    write_shards stores carry no partials (use the full-scan form or
    the x30_shard_manifest query there).

    Divergence window (ADVICE r12): the exporter's data write and
    partials write are two separate jobs, so a crash BETWEEN them
    leaves the epoch's rows committed but its partial missing — the
    fast manifest under-reports while the full scan stays correct.
    A same-checkpoint restart heals it (the replayed epoch rewrites
    both sides — the S37 kill harness asserts fast == full after every
    drain), and a reconciling/compacting pass rebuilds partials from
    the data; only a crash followed by checkpoint ABANDONMENT with no
    subsequent compaction leaves the gap standing."""
    p = spark.read.parquet(_partials_path(path))
    return (
        p.groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
            F.expr("min_by(doc_min, h_min)").cast("bigint").alias("first_doc"),
            F.expr("max_by(doc_max, h_max)").cast("bigint").alias("last_doc"),
        )
        .orderBy("shard")
    )


def shard_store_manifest(spark, path: str) -> DataFrame:
    """Per-shard manifest of an incremental shard store — the same
    (n_docs, total_tokens, first_doc, last_doc) shape as the batch
    x30_shard_manifest query, aggregated across every appended (run,
    epoch). After streaming a corpus through shard_export_writer this
    must equal the batch manifest of the same corpus row-for-row
    (pinned by tests/test_shard_export.py), regardless of how the
    stream was micro-batched. Full-store scan — works on ANY store
    layout; ``shard_store_manifest_fast`` is the O(epochs) form for
    exporter-maintained stores."""
    from ..functions.pipeline import _WS_TOK_SPARK

    t = spark.read.parquet(path)
    return (
        t.groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.expr(_WS_TOK_SPARK)).cast("bigint").alias("total_tokens"),
            F.expr("min_by(doc_id, h)").cast("bigint").alias("first_doc"),
            F.expr("max_by(doc_id, h)").cast("bigint").alias("last_doc"),
        )
        .orderBy("shard")
    )
