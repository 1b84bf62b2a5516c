"""Arrow list columns as flat numpy arrays — the one reader behind every
list-input ``mapInArrow`` kernel.

An Arrow ``ListArray`` already is a pair of (flat values, offsets), so a
kernel reads a whole batch of token or vector lists without building one
numpy object per row. The values come from ``flatten()`` and the offsets
from the list lengths, never from ``.values`` and the raw offsets: a
batch may be a slice of a larger array, and a NULL list slot may cover a
non-empty segment of the child array.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

# cap the concatenated element count per kernel invocation — keeps each
# slice's working set near L2/L3-resident so concurrent workers don't
# saturate DRAM bandwidth (measured optimum ~64k tokens across 1/4/16/32
# worker configurations)
MAX_TOKENS_PER_SLICE = 64_000


class ListColumn(NamedTuple):
    """One list column of a batch: row ``i`` is
    ``values[offsets[i]:offsets[i + 1]]``."""

    values: np.ndarray     # flat elements; a NULL element reads 0
    offsets: np.ndarray    # int64, rows + 1 entries, offsets[0] == 0
    valid: np.ndarray      # bool per element: the element is not NULL
    null_rows: np.ndarray  # bool per row: the list itself is NULL (length 0)

    def pairs(self) -> np.ndarray:
        """Mask over flat positions ``i < len(values) - 1``: elements
        ``i`` and ``i + 1`` lie in the same row (one bigram each)."""
        last = np.zeros(len(self.values), dtype=bool)
        last[self.offsets[1:][np.diff(self.offsets) > 0] - 1] = True
        return ~last[:-1]


def read_list(batch: pa.RecordBatch, name: str, dtype) -> ListColumn:
    """Read list column ``name`` of ``batch`` with elements as ``dtype``."""
    arr = batch.column(name)
    flat = arr.flatten()  # honours the slice offset, skips NULL slots
    valid = flat.is_valid().to_numpy(zero_copy_only=False)
    if flat.null_count:
        flat = flat.fill_null(0)
    values = flat.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    lens = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    offsets = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    null_rows = arr.is_null().to_numpy(zero_copy_only=False)
    return ListColumn(values, offsets, valid, null_rows)


def read_fixed(
    batch: pa.RecordBatch, name: str, dim: int, dtype=np.float64
) -> tuple[np.ndarray, np.ndarray]:
    """``(matrix, ok)``: the first ``dim`` elements of every well-formed
    row of list column ``name`` as a ``(ok.sum(), dim)`` matrix, and the
    per-row mask of the well-formed rows.

    A row is malformed when the list is NULL, shorter than ``dim``, or
    NULL in one of its first ``dim`` elements; elements beyond ``dim``
    are ignored.
    """
    col = read_list(batch, name, dtype)
    ok = ~col.null_rows & (np.diff(col.offsets) >= dim)
    idx = col.offsets[:-1][ok, None] + np.arange(dim, dtype=np.int64)
    whole = col.valid[idx].all(axis=1)
    ok[ok] = whole
    return col.values[idx[whole]], ok


def list_array(matrix: np.ndarray) -> pa.ListArray:
    """One Arrow list per row of a 2-D ``matrix``, over its flat values."""
    n, d = matrix.shape
    offsets = np.arange(n + 1, dtype=np.int32) * d
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(matrix.ravel()))


def slice_bounds(offsets: np.ndarray, limit: int = MAX_TOKENS_PER_SLICE):
    """Yield row ranges ``(lo, hi)`` that cover the column in order; a
    range ends at the first row that brings its element count to
    ``limit`` or more."""
    n = len(offsets) - 1
    lo = 0
    while lo < n:
        hi = min(int(np.searchsorted(offsets, offsets[lo] + limit)), n)
        yield lo, hi
        lo = hi
