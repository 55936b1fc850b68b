"""Planted edge rows through every dense-vector Arrow kernel, compared
row by row (``<=>``) with the reference tier it claims bit-equality
with: ``pq_encode_udf`` / ``pq_code_col``, ``pq_adc_udf`` /
``pq_adc_sq_col``, ``rotate_udf`` / ``rotate_expr``, and the semantic
screens' ``_sem_pair_stats`` / ``_sem_dims_stats`` with
``_SEM_PAIR_KERNEL`` on vs off (the JVM broadcast-NLJ + HOF tier).

Each kernel's plants sit in ONE single-partition DataFrame, so they
share an Arrow batch with valid rows: a per-row law that only holds for
a batch of its own kind (all NULL, all ragged) is not enough. The
``empty`` plant runs both tiers over a zero-row input frame.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from event_stream_starter_spark.operators.similarity import (
    pq_adc_sq_col,
    pq_adc_udf,
    pq_code_col,
    pq_encode_udf,
    rotate_expr,
    rotate_udf,
    with_codebooks,
)
from event_stream_starter_spark.queries import textdata as td

NAN = math.nan
# m=2 subspaces of ds=2 dims, k=3 codewords each.
_CBS = [
    [[0.0, 0.0], [1.0, 0.5], [-0.5, 2.0]],
    [[0.25, 0.25], [2.0, -1.0], [0.5, 1.5]],
]
_ROT = [
    [0.5, -0.5, 0.5, 0.5],
    [0.5, 0.5, -0.5, 0.5],
    [-0.5, 0.5, 0.5, 0.5],
    [0.5, 0.5, 0.5, -0.5],
]
# Vector plants for the 4-dim kernels (pq_encode, pq_adc's qvec, rotate).
_VEC4 = {
    "ok": [0.9, 0.4, 1.7, -0.8],
    "null_row": None,
    "null_elem": [0.9, None, 1.7, -0.8],
    "nan_elem": [NAN, 0.4, 1.7, -0.8],
    "short": [0.9, 0.4, 1.7],
    "long": [0.9, 0.4, 1.7, -0.8, 3.0],
    "zero": [0.0, 0.0, 0.0, 0.0],
    "empty_vec": [],
}
# Codes plants for pq_adc (qvec fixed at the "ok" vector).
_CODES = {
    "null_codes": None,
    "null_code": [1, None],
    "short_codes": [1],
    "long_codes": [1, 2, 0],
    "code_past_k": [1, 3],
}
_D = td._SEMDECON_D


def _v64(seed: int) -> list[float]:
    return [float((seed * 7 + d * 3) % 11) - 3.0 for d in range(_D)]


# Train-side plants for _sem_pair_stats (64-dim vec; nrm by the JVM law).
_SEM_VEC = {
    "ok": _v64(1),
    "ok_near_eval": [x + 0.01 for x in _v64(2)],
    "null_row": None,
    "null_elem": [None] + _v64(3)[1:],
    "nan_elem": _v64(4)[:-1] + [NAN],
    "short": _v64(5)[:-1],
    "long": _v64(6) + [1.0],
    "zero": [0.0] * _D,
    "empty_vec": [],
}
# Train-side plants for _sem_dims_stats (hashed token dims).
_SEM_DIMS = {
    "ok": [1, 2, 2, 5, 63],
    "ok_eval_copy": [0, 3, 3, 7],
    "null_row": None,
    "null_elem": [1, None, 5],
    "out_of_range": [70, -1, 5],
    "zero": [],
}
_EVAL_DIMS = [[0, 3, 3, 7], [1, 2, 9, 9, 9], []]

_PLANTS = {
    "pq_encode": [*_VEC4, "empty"],
    "pq_adc": [*_VEC4, *_CODES, "empty"],
    "rotate": [*_VEC4, "empty"],
    "sem_pair": [*_SEM_VEC, "holed_eval_side", "empty"],
    "sem_dims": [*_SEM_DIMS, "empty"],
}


def _one_batch(spark, plants: dict, ddl: str, empty: bool):
    """The plants as ONE single-partition frame; with ``empty``, zero
    rows behind a filter the optimizer cannot fold away."""
    rows = [(p, *(v if isinstance(v, tuple) else (v,))) for p, v in plants.items()]
    df = spark.createDataFrame(rows, f"id string, {ddl}").coalesce(1)
    return df.filter(F.rand(0) < 0) if empty else df


def _pq_encode(spark, empty):
    df = _one_batch(spark, _VEC4, "vec array<float>", empty)
    return with_codebooks(df, _CBS).coalesce(1).select(
        "id",
        pq_encode_udf(_CBS)(F.col("vec")).alias("k"),
        pq_code_col("vec", 2, 2).alias("r"),
    )


def _pq_adc(spark, empty):
    rows = {p: (v, [1, 2]) for p, v in _VEC4.items()}
    rows.update({p: (_VEC4["ok"], c) for p, c in _CODES.items()})
    df = _one_batch(spark, rows, "qvec array<double>, codes array<int>", empty)
    return with_codebooks(df, _CBS).coalesce(1).select(
        "id",
        pq_adc_udf(_CBS)(F.col("qvec"), F.col("codes")).alias("k"),
        pq_adc_sq_col("qvec", "codes", 2, 2).alias("r"),
    )


def _rotate(spark, empty):
    return _one_batch(spark, _VEC4, "vec array<float>", empty).select(
        "id",
        rotate_udf(_ROT)(F.col("vec")).alias("k"),
        rotate_expr(F.col("vec"), _ROT).alias("r"),
    )


def _both_sem_tiers(stats, tr, ev):
    """(kernel tier, JVM tier) of ``stats(tr, ev, T)``, joined on id."""
    old = td._SEM_PAIR_KERNEL
    try:
        td._SEM_PAIR_KERNEL = True
        kern = stats(tr, ev, td._SEMDECON_T)
        td._SEM_PAIR_KERNEL = False
        ref = stats(tr, ev, td._SEMDECON_T)
    finally:
        td._SEM_PAIR_KERNEL = old
    st = F.struct("mc", "hits")
    return kern.select("id", st.alias("k")).join(
        ref.select("id", st.alias("r")), "id", "full_outer"
    )


def _sem_eval(spark, vecs):
    return spark.createDataFrame([(v,) for v in vecs], "vec array<double>").select(
        F.col("vec").alias("evec"), F.expr(td._SEM_NORM_SQL).alias("enrm")
    )


def _sem_train(spark, plants: dict, empty: bool):
    return _one_batch(spark, plants, "vec array<double>", empty).withColumn(
        "nrm", F.expr(td._SEM_NORM_SQL)
    )


def _sem_pair(spark, empty):
    # eval: two real vectors (one within 0.95 of "ok_near_eval") and a
    # zero vector, whose cosines are NULL (x / 0.0).
    ev = _sem_eval(spark, [_v64(2), _v64(9), [0.0] * _D])
    tr = _sem_train(spark, _SEM_VEC, empty)
    return _both_sem_tiers(td._sem_pair_stats, tr, ev)


def _sem_pair_holed_eval(spark):
    """Plants on the broadcast side: NULL, NULL-element, short and long
    eval vectors pair to NULL cosines with every train row."""
    ev = _sem_eval(
        spark,
        [_v64(2), None, [None] + _v64(3)[1:], _v64(5)[:-1], _v64(6) + [1.0]],
    )
    tr = _sem_train(spark, {"holed_eval_side": [x + 0.01 for x in _v64(2)]}, False)
    return _both_sem_tiers(td._sem_pair_stats, tr, ev)


def _sem_dims(spark, empty):
    ev = _sem_eval(spark, [[float(d.count(i)) for i in range(_D)] for d in _EVAL_DIMS])
    tr = _one_batch(spark, _SEM_DIMS, "dims array<bigint>", empty)
    return _both_sem_tiers(td._sem_dims_stats, tr, ev)


_BUILD = {
    "pq_encode": _pq_encode,
    "pq_adc": _pq_adc,
    "rotate": _rotate,
    "sem_pair": _sem_pair,
    "sem_dims": _sem_dims,
}


def _eq_rows(df) -> dict:
    rows = df.selectExpr("id", "k <=> r AS eq", "k", "r").collect()
    return {r["id"]: (r["eq"], r["k"], r["r"]) for r in rows}


@pytest.fixture(scope="module")
def kernel_vs_ref(spark):
    """kernel -> plant -> (k <=> r, k, r), every tier evaluated once; a
    kernel that fails its plant batch maps to the exception instead, so
    the other kernels still report plant by plant."""
    out: dict = {}
    for name, build in _BUILD.items():
        try:
            got = _eq_rows(build(spark, False))
            empty = build(spark, True).collect()
            got["empty"] = (empty == [], empty, [])
            if name == "sem_pair":
                got.update(_eq_rows(_sem_pair_holed_eval(spark)))
        except Exception as e:  # noqa: BLE001 - reported per plant below
            got = e
        out[name] = got
    return out


@pytest.mark.parametrize(
    "kernel,plant", [(k, p) for k, ps in _PLANTS.items() for p in ps]
)
def test_kernel_plant_matches_reference_tier(kernel_vs_ref, kernel, plant):
    got = kernel_vs_ref[kernel]
    if isinstance(got, Exception):
        pytest.fail(f"{kernel} failed on its plant batch: {got!r}"[:2000])
    eq, k, r = got[plant]
    assert eq, f"{kernel}/{plant}: kernel {k} != reference {r}"
