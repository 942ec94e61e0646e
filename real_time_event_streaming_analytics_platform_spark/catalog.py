"""Table catalog: loaders for the driver-generated parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``{sf_dir}/{name}.parquet``.

At 100 TB these would be partitioned datasets (events partitioned by
``date(ts)``, lineitem bucketed on join keys); ``spark.read.parquet`` on a
directory is the same code path, so nothing here assumes single-file
inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_utc

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Tables and models derived from a source table, built once per session
# and reused: the MinHash signature and candidate indexes, the bucketed
# band index, the anomalies table, the held-out train-fold models. The
# production shape is a standing table that later jobs read instead of
# recomputing; a written table also survives spark.catalog.clearCache().
_DERIVED: dict[tuple[str, str, str, str], object] = {}


def fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of a source table from its files' names,
    sizes and mtimes. Listing a parquet directory reads no data, and a
    table rewritten at the same path gets a new fingerprint."""
    import hashlib

    root = table_path(sf_dir, table)
    paths = [root]
    if os.path.isdir(root):
        paths = sorted(os.path.join(r, f) for r, _, fs in os.walk(root) for f in fs)
    h = hashlib.md5()
    for p in paths:
        try:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns};".encode())
        except OSError:
            h.update(f"{p}:missing;".encode())
    return h.hexdigest()[:12]


def scratch_dir(prefix: str) -> str:
    """mkdtemp, removed at process exit: derived tables are per-process
    state, and ~0.5 KB/doc of signatures per run would otherwise pile up
    in the temp directory."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def derived(spark: SparkSession, sf_dir: str, table: str, tag: str, build):
    """``build()``'s value — a parquet path, a table name or a fitted
    model — derived from ``table`` under ``sf_dir``, built once per
    (application, sf_dir, fingerprint of the table's files, tag).

    ``tag`` must name everything else the value depends on. A caller
    that changes the data without changing the files (a test replacing
    ``load``) must call ``clear_derived`` on both sides of the change."""
    key = (spark.sparkContext.applicationId, sf_dir, fingerprint(sf_dir, table), tag)
    value = _DERIVED.get(key)
    if value is None:
        value = _DERIVED.setdefault(key, build())
    return value


def clear_derived() -> None:
    """Forget every derived table and model, so the next use rebuilds."""
    _DERIVED.clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; forces UTC session TZ (epoch math correctness).

    ``events.ts`` arrives as parquet TIMESTAMP(NANOS): read as long
    (nanosAsLong) and converted to µs TimestampType with exact integer
    division (double division would lose precision at 1.7e18 ns).
    """
    ensure_utc(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    # The nanos→µs conversion is keyed to the ONE table written with
    # TIMESTAMP(NANOS) (events), not sniffed by column name/dtype — a
    # future table with a genuine bigint epoch column named ts must not
    # be silently divided by 1000.
    if name == "events":
        for field in df.schema.fields:
            if field.name == "ts" and field.dataType.simpleString() == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so query builders can use spark.sql freely."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
