"""The Python worker entry module (``_worker/pyspark_zipcache_worker.py``).

Spark calls ``importlib.invalidate_caches()`` at the start of every
Python task, which makes each zipimporter re-read its archive's central
directory. The worker module keeps the cached directory of an archive
whose (mtime, size) has not changed, and re-reads any other. These tests
pin that the module is the one the workers of a ``SessionFactory``
session run, that an unchanged archive is not re-read, and that a
rewritten archive still is.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

_WORKER_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "real_time_event_streaming_analytics_platform_spark",
    "_worker",
)


def test_session_workers_run_the_zipcache_module(spark):
    def probe(_rows):
        import sys

        yield "pyspark_zipcache_worker" in sys.modules

    seen = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert seen == [True] * 4


@pytest.fixture
def zipcache(monkeypatch):
    # importing the module installs its wrapper; monkeypatch puts the
    # original zipimporter method back after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(_WORKER_DIR)
    yield importlib.import_module("pyspark_zipcache_worker")
    sys.modules.pop("pyspark_zipcache_worker", None)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zc_old.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in ("zc_old", "zc_new"):
        sys.modules.pop(name, None)


@pytest.fixture
def directory_reads(monkeypatch):
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zipcache, zip_on_path, directory_reads):
    assert importlib.import_module("zc_old").VALUE == 1
    assert directory_reads.count(zip_on_path) == 1
    # the first invalidation reads once more and records the stamp
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 2
    for _ in range(5):
        importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 2
    assert importlib.import_module("zc_old").VALUE == 1


def test_rewritten_archive_is_reread(zipcache, zip_on_path, directory_reads):
    importlib.import_module("zc_old")
    importlib.invalidate_caches()
    before = directory_reads.count(zip_on_path)
    with zipfile.ZipFile(zip_on_path, "w") as zf:
        zf.writestr("zc_old.py", "VALUE = 1\n")
        zf.writestr("zc_new.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == before + 1
    assert importlib.import_module("zc_new").VALUE == 2
