import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_event_streaming_analytics_platform_spark.session import SessionFactory

# Imported BEFORE any fixture builds the SparkSession: state_v2's
# module-level ensure_protobuf() applies _pbshim/sitecustomize.py and,
# when the vendored protobuf runtime is in use, exports the shim's
# PYTHONPATH. That export only reaches the JVM's Python children (the
# state-v2 driver worker, daemon-forked executor workers) if it is in the
# environment when the JVM launches. See state_v2.ensure_protobuf.
from real_time_event_streaming_analytics_platform_spark.streaming import (  # noqa: E402,F401
    state_v2 as _state_v2_shim,
)

# Default to sf0.01 — the driver's CORRECTNESS gate scale — so local green
# predicts the gate. Set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 for
# a faster smoke loop while iterating.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = SessionFactory.get("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
