"""Arrow batch decoding shared by the dense-vector kernels.

The kernels (``pq_encode_udf``, ``pq_adc_udf``, ``rotate_udf`` and the
semantic screens' pair stats) promise bit-equality with a JVM reference
tier, so they must see a row exactly as Spark's higher-order functions
do. They read Spark's Arrow arrays, not pandas, because the pandas
conversion loses that view: it turns both a NULL element and a NaN
element into NaN on input, and a NaN result back into NULL on output.
Here a row NULL and an element NULL come from the validity bitmaps and
a NaN element stays a NaN value, so each kernel can apply the
reference's NULL law and Spark's NaN law separately.

Every helper is vectorized over the whole batch (a gather from the
list offsets, one bincount, fused numpy folds over the dims); none
loops over rows in Python.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _rows(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets into ``arr.values``, row-valid mask) of a list array."""
    off = arr.offsets.to_numpy()
    return off, arr.is_valid().to_numpy(zero_copy_only=False)


def dense_col(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A numeric column as (float64 values, NULL mask); NULLs read 0."""
    x = arr.fill_null(0).to_numpy(zero_copy_only=False).astype(np.float64)
    return x, ~arr.is_valid().to_numpy(zero_copy_only=False)


def dense_rows(
    arr: pa.Array, width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A list column as an (n, width) float64 matrix.

    Returns ``(X, holes, ragged)``: ``holes[i, d]`` is True where row i
    has no value at dim d (a NULL row, a NULL element, or a dim past
    the end of a short row), and X reads 0 there; ``ragged[i]`` is True
    for a non-NULL row whose length is not ``width``. Dims past
    ``width`` are dropped. That is the ``slice`` law of the reference
    tiers: a short subspace folds to NULL, a long row's tail is never
    read. A kernel whose reference pairs the whole row with a
    ``width``-long array (``zip_with`` pads the shorter side with
    NULLs) NULLs ragged rows as well.
    """
    off, valid = _rows(arr)
    lens = np.where(valid, np.diff(off), 0)
    x, null = dense_col(arr.values)
    # One sentinel slot (0, hole) past the values for every absent cell.
    x, null = np.append(x, 0.0), np.append(null, True)
    cols = np.arange(width)
    idx = np.where(cols < lens[:, None], off[:-1, None] + cols, len(x) - 1)
    return x[idx], null[idx], valid & (lens != width)


def count_rows(arr: pa.Array, dd: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, dd) float64 counts of each value 0..dd-1 per row, and the
    NULL-row mask: the ``array_size(filter(row, h -> h = d))`` law.
    NULL elements and values outside [0, dd) are not counted; a NULL
    row has only NULL counts, as ``array_size(NULL)`` and DuckDB's
    ``len(NULL)`` do, so it reads 0 and is marked in the mask."""
    off, valid = _rows(arr)
    n = len(arr)
    v = arr.values.fill_null(-1).to_numpy(zero_copy_only=False)[off[0] : off[-1]]
    rows = np.repeat(np.arange(n), np.diff(off))
    keep = (v >= 0) & (v < dd)
    out = np.bincount(rows[keep] * dd + v[keep], minlength=n * dd)
    return out.reshape(n, dd).astype(np.float64), ~valid


def l2_rows(V: np.ndarray) -> np.ndarray:
    """Row L2 norms by the dim-sequential fold sqrt(0 + v0*v0 + v1*v1
    + ...): the ``sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), 0D,
    (s, x) -> s + x))`` association."""
    acc = np.zeros(len(V), dtype=np.float64)
    for d in range(V.shape[1]):
        acc += V[:, d] * V[:, d]
    return np.sqrt(acc)


def list_array(mat: np.ndarray, null: np.ndarray) -> pa.ListArray:
    """(n, w) matrix -> list array of n rows of w elements; ``null``
    (broadcast to (n, w)) marks the NULL elements. No row is NULL: the
    reference tiers return an array of NULLs, not a NULL array."""
    n, w = mat.shape
    mask = np.broadcast_to(null, mat.shape).ravel()
    offsets = pa.array(np.arange(0, n * w + 1, w, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), mask=mask))


def cos_stats(
    V: np.ndarray,
    nrm: np.ndarray,
    E: np.ndarray,
    en: np.ndarray,
    thresh: float,
    ok: np.ndarray,
    axis: int,
) -> tuple[pa.Array, pa.Array]:
    """Max cosine and >= ``thresh`` count of every (V row, E row) pair,
    reduced over ``axis`` (1: per V row, 0: per E row).

    The laws of the JVM form ``aggregate(zip_with(a, b, (x, y) -> x *
    y), 0D, (s, x) -> s + x) / (nrm * enrm)`` then ``max`` and
    ``sum(c >= thresh)``:

    - the dot is the dim-sequential left fold acc += V[:, d] * E[:, d];
    - a pair outside ``ok`` (its dot is NULL) and a pair whose norm
      product is 0.0 (ANSI-off ``x / 0.0`` is NULL) has a NULL cosine:
      it drops out of the max and never counts;
    - a NaN cosine compares greater than any double, so it is a hit and
      wins the max (numpy's max propagates NaN; its ``>=`` is False on
      NaN, hence the isnan);
    - a group whose every cosine is NULL has max NULL and 0 hits.
    """
    dots = np.zeros((V.shape[0], E.shape[0]), dtype=np.float64)
    for d in range(V.shape[1]):
        dots += V[:, d : d + 1] * E[None, :, d]
    den = nrm[:, None] * en[None, :]
    valid = ok & (den != 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        c = dots / den
    hits = (((c >= thresh) | np.isnan(c)) & valid).sum(axis=axis)
    mc = np.max(np.where(valid, c, -np.inf), axis=axis, initial=-np.inf)
    return pa.array(mc, mask=~valid.any(axis=axis)), pa.array(hits, pa.int64())
