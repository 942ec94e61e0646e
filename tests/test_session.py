"""Session defaults that depend on the machine."""

import os

from real_time_event_streaming_analytics_platform_spark.session import SessionFactory


def test_default_driver_memory_fits_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    built = SessionFactory.builder("driver-memory")._options["spark.driver.memory"]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert built.endswith("m") and 0 < int(built[:-1]) <= min(phys_mb, 16 * 1024)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert SessionFactory.builder("driver-memory")._options["spark.driver.memory"] == "3g"
