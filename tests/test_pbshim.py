"""The protobuf shim (_pbshim/sitecustomize.py) relaxes protobuf's
runtime version check only when the vendored runtime is in use; a
properly installed protobuf keeps its own check. (The vendored, relaxed
path is exercised end to end by tests/test_state_v2.py.)

The probe runs a fresh interpreter whose PYTHONPATH holds the shim
directory, so ``site`` imports the shim as ``sitecustomize`` at startup,
the way the Python processes the Spark JVM spawns get it."""

import json
import os
import subprocess
import sys
import textwrap

from real_time_event_streaming_analytics_platform_spark._pbshim import (
    sitecustomize as pbshim,
)

SHIM_DIR = os.path.dirname(os.path.abspath(pbshim.__file__))

_PROBE = textwrap.dedent(
    """
    import json, sitecustomize
    from google.protobuf import runtime_version as rv
    print(json.dumps({
        "shim": sitecustomize.__file__,
        "blocker": sitecustomize.BLOCKER,
        "vendored": sitecustomize.USING_VENDORED,
        "own_check": getattr(rv, "_STUB_ORIGINAL", None)
            is rv.ValidateProtobufRuntimeVersion,
        "relaxed": getattr(rv, "_sgr_minor_gap_relaxed", False),
    }))
    """
)


def test_installed_protobuf_keeps_its_version_check(tmp_path):
    pkg = tmp_path / "google" / "protobuf"
    pkg.mkdir(parents=True)
    (tmp_path / "google" / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("")
    (pkg / "runtime_version.py").write_text(
        textwrap.dedent(
            """
            class VersionError(Exception):
                pass

            def ValidateProtobufRuntimeVersion(domain, major, minor, patch, suffix, location):
                raise VersionError("stub")

            _STUB_ORIGINAL = ValidateProtobufRuntimeVersion
            """
        )
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        env=dict(os.environ, PYTHONPATH=os.pathsep.join([str(tmp_path), SHIM_DIR])),
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    got = json.loads(out.stdout)
    assert got["shim"] == os.path.join(SHIM_DIR, "sitecustomize.py")
    assert got["blocker"] is None
    assert got["vendored"] is False
    assert got["own_check"] is True
    assert got["relaxed"] is False
