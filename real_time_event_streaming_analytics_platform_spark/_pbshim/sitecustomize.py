"""Protobuf shim for the state API v2 (``transformWithStateInPandas``).

Spark's state-v2 client needs ``google.protobuf``. Where no protobuf
wheel is installed, an installed google-cloud-sdk may vendor a
pure-Python runtime at ``VENDORED``; this shim puts that path on
``sys.path``. Spark's generated ``StateMessage_pb2`` declares gencode
6.33.0 while the vendored runtime reports 6.32.0-dev, and protobuf's
strict check rejects any runtime older than the gencode even within a
major version. For the vendored runtime only, the shim relaxes that one
same-major minor-gap rejection (wire compatibility within a major is
protobuf's published guarantee); a cross-major mismatch still raises.
A properly installed protobuf is left untouched.

The same file serves two callers:

- ``site.py`` imports ``sitecustomize`` from ``sys.path`` in every
  Python process, so a process whose PYTHONPATH holds this directory
  applies the shim at startup. That is how it reaches the Python
  children the Spark JVM spawns (the state-v2 driver worker and the
  daemon-forked executor workers), which import ``StateMessage_pb2``
  before any engine module.
- ``streaming/state_v2.py`` imports it as
  ``_pbshim.sitecustomize`` (a namespace-package module) and reads
  ``BLOCKER`` and ``USING_VENDORED``.

Standalone on purpose: no engine or pyspark imports, since it runs in
every Python process with that PYTHONPATH.
"""

import os
import sys

VENDORED = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def _apply() -> tuple[str | None, bool]:
    """Make ``google.protobuf`` importable. Returns (blocker, vendored):
    a human-readable reason when it cannot be imported, else None; and
    whether the import resolved to the vendored runtime."""
    try:
        import google.protobuf
    except ImportError:
        if not os.path.isdir(os.path.join(VENDORED, "google", "protobuf")):
            return (
                "google.protobuf is not installed, and no vendored copy "
                f"was found at {VENDORED}"
            ), False
        sys.path.insert(0, VENDORED)
        try:
            import google.protobuf
        except ImportError as exc:
            return f"vendored protobuf failed to import: {exc!r}", False
    if not google.protobuf.__file__.startswith(VENDORED + os.sep):
        return None, False
    from google.protobuf import runtime_version as _rv

    if getattr(_rv, "_sgr_minor_gap_relaxed", False):
        return None, True
    _orig = _rv.ValidateProtobufRuntimeVersion

    def _relaxed(domain, major, minor, patch, suffix, location):  # noqa: ANN001
        try:
            _orig(domain, major, minor, patch, suffix, location)
        except _rv.VersionError:
            # tolerate ONLY a same-major gencode/runtime gap; majors
            # still raise
            if domain != _rv.Domain.PUBLIC or major != _rv.MAJOR:
                raise

    _rv.ValidateProtobufRuntimeVersion = _relaxed
    _rv._sgr_minor_gap_relaxed = True
    return None, True


BLOCKER, USING_VENDORED = _apply()
