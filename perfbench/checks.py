"""Correctness checks: per-call checksums and reference comparisons.

* Every timed call is consumed by the noop sink with an ``observe()``
  attached, so the same pass that does the work also yields the row count
  and an order-insensitive checksum (the wrapping sum of ``xxhash64`` over
  all output columns). No extra job and no extra exchange is added.
* During warm-up a deterministic slice of each output is compared, row by
  row, with an independent formulation (DuckDB oracle SQL, or another
  execution mode of the same plan).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class Mismatch(AssertionError):
    """A call's output differs from its reference."""


def checksum_cols(df: DataFrame) -> list:
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*df.columns)), F.lit(0)).alias("h"),
    ]


def noop_checksum(df: DataFrame) -> tuple[int, int]:
    """Run ``df`` into the noop sink; return (row count, checksum)."""
    obs = Observation()
    df.observe(obs, *checksum_cols(df)).write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["n"]), int(got["h"])


def checksum(df: DataFrame) -> tuple[int, int]:
    """(row count, checksum) by a single aggregate job."""
    row = df.agg(*checksum_cols(df)).first()
    return int(row["n"]), int(row["h"])


def _canon(v):
    """Hashable, engine-neutral form of one cell (arrays, structs, NaN)."""
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return tuple((k, _canon(x)) for k, x in sorted(v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if v is None or (not isinstance(v, (str, bytes)) and _isna(v)):
        return None
    return v


def _isna(v) -> bool:
    try:
        return bool(v != v)  # NaT / NaN
    except (TypeError, ValueError):
        return False


def rows(pdf, columns: list[str]) -> list[tuple]:
    """Sorted canonical rows of a pandas frame restricted to ``columns``."""
    cols = [pdf[c].tolist() for c in columns]
    return sorted(
        (tuple(_canon(v) for v in r) for r in zip(*cols)), key=repr
    )


def same_rows(label: str, got, want, columns: list[str]) -> None:
    """Raise ``Mismatch`` unless the two frames hold the same rows."""
    a, b = rows(got, columns), rows(want, columns)
    if len(a) != len(b):
        raise Mismatch(f"{label}: {len(a)} rows vs {len(b)} in the reference")
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            raise Mismatch(f"{label}: sorted row {i} differs: {x!r} vs {y!r}")
    if not a:
        raise Mismatch(f"{label}: the checked slice is empty")
