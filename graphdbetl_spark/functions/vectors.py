"""Vector math over embedding columns, in two halves that share one
float order.

Column half (``dot``, ``l2_norm``, ``cosine_similarity``): pure
higher-order built-ins (``aggregate``/``zip_with``) evaluated in the
JVM, with no Python in the hot path. Each reduction is a left fold
from 0.0, the order DuckDB's ``list_reduce`` replays.

Numpy half (``seq_sum``, ``fold_dots``, ``sign_buckets``,
``arrow_matrix``, ``list_column``): the one boundary every numpy vector
kernel crosses. Kernels run under ``mapInArrow``. ``arrow_matrix``
views a list column of the record batch as an (n, d) matrix over its
values buffer, rejecting null rows, ragged widths (within the batch or
against the width the kernel expects) and null elements.
The kernel does its math and hands vectors back with ``list_column``,
one list array over offsets plus the flat values. Every reduction is a
true left fold (``seq_sum``, ``fold_dots``), so a kernel's doubles are
bit-identical to the column half and to the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def seq_sum(a, axis: int):
    """Sequential (left-fold) summation along ``axis``. Required for
    bit-exactness against the engine folds: np.add.reduce/np.sum use
    pairwise blocking internally, which differs from a sequential fold
    by ULPs. Vectorized across every other axis; the loop runs only
    over the (small, fixed) reduced dimension."""
    moved = np.moveaxis(a, axis, 0)
    out = np.zeros(moved.shape[1:], dtype=np.float64)
    for sl in moved:
        out = out + sl
    return out


def fold_dots(v, m):
    """(n, d) × (k, d) → (n, k) dot products, accumulated dimension-major
    so each pair's sum is a true left fold (0.0 + x1 == x1 in IEEE),
    the order ``list_reduce`` and the column-half ``dot`` replay."""
    out = np.zeros((v.shape[0], m.shape[0]))
    for i in range(m.shape[1]):
        out = out + v[:, i : i + 1] * m[None, :, i]
    return out


def sign_buckets(acc):
    """Hyperplane sign bits → bucket id: bit j is set when column j of
    ``acc`` is ≥ 0. Integer arithmetic, so exact on every engine."""
    bits = (acc >= 0).astype(np.int64) << np.arange(acc.shape[1])
    return bits.sum(axis=1).astype(np.int32)


def arrow_matrix(rb, col: str, dtype=np.float64, width: int | None = None):
    """(n, width) matrix view over a record batch's list column ``col``.

    Uniform row width is asserted from the list offsets before the
    reshape: ``reshape(n, -1)`` alone only checks total divisibility,
    so a ragged batch whose flattened length happens to divide n would
    silently misalign every later vector. ``width`` also pins the width
    the kernel's closure was built for (the query or centroid
    dimension), which catches a corpus that is ragged ACROSS batches:
    numpy broadcasting would otherwise fold a narrower batch into
    plausible-looking scores. Null rows and null elements are rejected
    for the same reason (a NaN-filled row scores plausibly). The view
    is zero-copy when the values already have ``dtype``. Callers skip
    empty batches."""
    lv = rb.column(col)
    if lv.null_count:
        raise ValueError(f"null rows in list column '{col}'")
    widths = np.diff(np.asarray(lv.offsets))
    expect = widths[:1] if width is None else width
    if widths.size and (widths != expect).any():
        raise ValueError(
            f"ragged list column '{col}': widths {np.unique(widths).tolist()}"
            + ("" if width is None else f", expected {width}")
        )
    flat = lv.flatten()
    if flat.null_count:
        raise ValueError(f"null elements in list column '{col}'")
    return np.asarray(flat).astype(dtype, copy=False).reshape(rb.num_rows, -1)


def list_column(mat):
    """List array with one row per row of the (n, d) matrix ``mat``,
    built from offsets plus the flat values (no per-row boxing)."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel()))
