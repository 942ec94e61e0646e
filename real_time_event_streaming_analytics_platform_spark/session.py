"""Tuned SparkSession factory.

The reference runs Flink with parallelism 2 on a single machine
(EventAggregationJob.java:56); our engine targets a 1000-executor cluster,
so every knob here is chosen to also make sense at that scale:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  join-strategy re-planning replace hand-tuned parallelism.
- Broadcast threshold: small dimension tables (region/nation/supplier in
  the star schema; alert rules in the streaming path) broadcast instead of
  shuffling the fact side.
- Arrow enabled: every Python-side operator (stateful anomaly detection,
  multimodal decode) moves batches, never rows.
- UTC session timezone: oracle comparisons and window math are
  timezone-proof.
- One shuffle (and state-store) partition per core. Every stateful
  operator loads, writes and commits every one of its state partitions on
  every micro-batch, rows or not, so partitions beyond the cores only add
  waves of commit-bound tasks; batch shuffles are sized at runtime by AQE
  coalescing and skew splitting. A checkpoint keeps the partition count it
  was started with (Spark restores it from the offset log).
- RocksDB state store: streaming state (sliding windows, rolling anomaly
  stats, cooldown dedup) spills to disk instead of living on the JVM heap —
  required for per-key state at 100 TB ingest.
- RocksDB changelog checkpointing: a micro-batch commit writes one
  changelog file per state partition (the batch's puts and deletes)
  instead of a RocksDB checkpoint, a zip upload and a clean-up of the
  local checkpoint dir; snapshots move to the background maintenance
  task. Existing checkpoints switch over in place.
- FileSystem-based checkpoint file manager: Spark's default FileContext
  manager resolves every path through ``getFileLinkStatus``, which on a
  local file system without Hadoop's native library forks ``readlink``
  per call, several times for every checkpoint file written
  (``scripts/stream_commit_cost.py`` counts them). The FileSystem
  manager checks that the target is absent and then renames (one
  ``rename(2)`` on a local path). On a local path Hadoop's FileContext
  rename does the same check-then-rename
  (``AbstractFileSystem.renameInternal``), so the write-temp-then-rename
  guarantee of the offset, commit and state logs is unchanged.
- Driver heap: half of physical memory, capped at 16g
  (``SPARK_DRIVER_MEMORY`` overrides). In local mode the driver JVM is
  the whole engine, and its resident size runs past the heap (off-heap
  buffers, RocksDB, metaspace), so a heap sized to the machine gets the
  JVM killed by the kernel's OOM killer instead of spilling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")
_DRIVER_MEMORY_CAP_MB = 16 * 1024


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    half of physical memory, at most 16g."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, _DRIVER_MEMORY_CAP_MB)}m"


class SessionFactory:
    """Build a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    """

    @staticmethod
    def builder(app_name: str = "streaming-analytics-spark", cpus: int | None = None):
        if cpus is None:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        b = (
            SparkSession.builder.appName(app_name)
            .master(f"local[{cpus}]")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            # Python worker cost per task, measured with
            # scripts/worker_task_cost.py (4-core VM, trivial
            # mapPartitions): 130-210 ms of worker CPU with the stock
            # pyspark.worker, because Spark's importlib.invalidate_caches()
            # at each task start re-reads the directory of every zip on
            # sys.path (pyspark.zip, the spark-core jar). The _worker
            # module keeps unchanged archives cached: 15-25 ms per task.
            # A worker still reads each archive once on its first task,
            # so the saving needs reuse, which keeps workers across tasks.
            # The module is importable only through the executor
            # PYTHONPATH (Spark merges it with the env PYTHONPATH the
            # protobuf shim uses); if its import fails the daemon dies
            # and every Python task fails loudly.
            .config("spark.python.worker.reuse", "true")
            .config("spark.python.worker.module", "pyspark_zipcache_worker")
            .config("spark.executorEnv.PYTHONPATH", _WORKER_DIR)
            .config("spark.sql.parquet.filterPushdown", "true")
            .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
            )
            .config(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
            .config(
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                "true",
            )
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
            .config("spark.ui.enabled", "false")
            # saveAsTable target (bucketed tables); static conf, so it must
            # be set at session build — keep it out of the repo tree
            .config(
                "spark.sql.warehouse.dir",
                os.environ.get(
                    "SPARK_GRAFT_WAREHOUSE", f"/tmp/sgr-warehouse-{os.getpid()}"
                ),
            )
        )
        return b

    @staticmethod
    def get(app_name: str = "streaming-analytics-spark", cpus: int | None = None) -> SparkSession:
        return SessionFactory.builder(app_name, cpus).getOrCreate()


def get_spark(cpus: int | None = None) -> SparkSession:
    return SessionFactory.get(cpus=cpus)


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Force session confs this engine relies on, on an externally-provided
    session (the driver constructs its own SparkSession for ``queries()``).

    - UTC session timezone: epoch math (unix_timestamp) on naive parquet
      timestamps is session-TZ dependent.
    - nanosAsLong: the testdata ``events.ts`` is parquet TIMESTAMP(NANOS),
      which Spark 4 refuses to read natively; we read it as a long and the
      catalog converts to TimestampType (µs) — the data is µs-distinct, so
      ordering/bucketing semantics are unchanged.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_package_shipped(spark)
    return spark


_SHIPPED: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to the Python workers (addPyFile).

    cloudpickle serializes module-level functions BY REFERENCE, so any
    UDF/mapInPandas body defined in this package requires the package to
    be importable inside the worker processes. When the driver process
    was launched from the repo root that happens implicitly via cwd; an
    external driver (the correctness harness, a notebook, a real
    cluster) has no such guarantee — addPyFile is the standard way to
    ship the code, and is exactly what a 1000-executor deployment does.
    Zipped once per process, added once per SparkContext.
    """
    import hashlib
    import zipfile

    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    members = []
    sig = hashlib.md5()
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(root, fn)
            rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
            st = os.stat(full)
            members.append((full, rel))
            sig.update(f"{rel}:{st.st_mtime_ns}:{st.st_size};".encode())
    # Content-keyed zip name: a stale zip must never be reused after an
    # in-place edit (directory mtime does not change when nested files
    # are edited, and /tmp outlives pids), so the key is the per-file
    # (path, mtime, size) signature. Each process writes its own tmp
    # file and os.replace()s UNCONDITIONALLY — an exists-check would
    # race another process deleting the zip between the check and
    # addPyFile (cross-process TOCTOU). No deletion on exit either:
    # content-keyed zips are tiny (~100 KB) and another live process
    # may still be about to addPyFile the same path.
    zip_path = os.path.join("/tmp", f"sgr-pkg-{sig.hexdigest()[:16]}.zip")
    tmp = f"{zip_path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for full, rel in sorted(members, key=lambda m: m[1]):
            zf.write(full, rel)
    os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED.add(sc.applicationId)
