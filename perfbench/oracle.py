"""Result checks for the batch workload's queries.

Queries with a DuckDB oracle are compared by ``tests.oracle.compare``
itself, the repository's own check; ``Collected`` hands it the result
the warm pass already collected. ``fingerprint`` is the pinned-result
form for queries without an oracle: row count plus a hash of the sorted
rows, each value normalised by ``tests.oracle`` after rounding floats to
6 significant digits, so a different summation order still matches.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from tests.oracle import _from_pandas, _norm


class Collected:
    """A collected result in the shape ``tests.oracle.compare`` takes."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def _sig6(v):
    if isinstance(v, float) and math.isfinite(v):
        return float(f"{v:.6g}")
    if isinstance(v, tuple):
        return tuple(_sig6(x) for x in v)
    return v


def fingerprint(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    idx = [list(pdf.columns).index(c) for c in cols]
    rows = sorted(
        (tuple(_norm(_sig6(_from_pandas(t[i]))) for i in idx) for t in pdf.itertuples(index=False, name=None)),
        key=repr,
    )
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]
    return f"rows={len(rows)}:{h}"
