"""Learned quality-classifier queries: train the hashing-trick logistic
gate on the corpus, certify it against the heuristic it distills, and
score every document with one broadcast join.

The reference gates documents through deterministic quality heuristics
plus an external model seam (reference api/hf_sentiment.py:75-148,
worker degrade ladder); the GPT-3/CCNet production pattern this family
implements is the third option — TRAIN a linear gate on the corpus
itself (Brown et al. 2020 Appendix A; Wenzek et al. 2019 §4.4).
operators/lr.py holds the distributed decomposition.

Certification story (the BPE three-tier pattern, queries/tokenizer.py):
- `x_lr_quality_score_cert`: FULL oracle — exact n_docs / n_pos /
  majority_n (DuckDB recomputes the labels from the quality formula,
  so Spark's label arithmetic is hash-checked), plus the load-bearing
  boolean `model_beats_majority` (oracle: literal TRUE) — an untrained
  or sign-flipped model fails the hash.
- `x_lr_quality_train` / `x_lr_quality_score`: the GD loop is
  iterative (not SQL-expressible) — rows-only for the driver, with
  weight-for-weight parity vs a pure-Python Decimal trainer on the
  full corpus in tests/test_lr.py (exact, because training arithmetic
  is exact decimal end to end).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, memo, table_path
from ..operators import certs, lr
from . import query
from .textdata import _quality_duck

_ITERS = 16
_LR = "1"


def _trained(spark: SparkSession, sf_dir: str) -> tuple[dict[str, Decimal], Decimal]:
    """One train per version of the documents files, reused by every
    consumer below."""

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return lr.train_logreg(docs, iters=_ITERS, lr=_LR)

    return memo(("lr_quality", sf_dir), [table_path(sf_dir, "documents")], build)


@query(
    "x_lr_quality_train",
    None,  # iterative full-batch GD: not SQL-expressible; golden-tested
    survey_ids="beyond-ref: learned quality classifier training (hashing-trick LR, GPT-3/CCNet gate)",
)
def x_lr_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned model as a table: 4096-bucket hashed features with
    9-dp decimal weights, bias under the ``__bias__`` key.

    Rows-only for the driver (the loop is iterative); the real check
    is tests/test_lr.py — weight-for-weight equality against a pure
    hashlib+Decimal trainer on the same corpus. Exact equality is
    meaningful because training never touches a float: binary
    features, decimal sums (order-independent), hard-sigmoid
    activation, driver-side Decimal updates."""
    w, bias = _trained(spark, sf_dir)
    rows = sorted(w.items()) + [(lr.BIAS_KEY, bias)]
    return spark.createDataFrame(rows, "feature string, weight decimal(14,9)")


@query(
    "x_lr_quality_score_cert",
    f"""
    WITH labeled AS (
        SELECT CASE WHEN {_quality_duck()} >= 0.5 THEN 1 ELSE 0 END AS y
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           GREATEST(CAST(SUM(y) AS BIGINT),
                    COUNT(*) - CAST(SUM(y) AS BIGINT)) AS majority_n,
           TRUE AS model_beats_majority
    FROM labeled
    """,
    survey_ids="beyond-ref: learned quality gate certified in-plan vs its distillation target",
)
def x_lr_quality_score_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trains the gate, scores every document, and certifies IN-PLAN
    that it strictly beats the majority-class baseline on its
    distillation target (the a5_approx_distinct pattern).

    The oracle recomputes n_docs / n_pos / majority_n from the quality
    formula independently — so Spark's label arithmetic is exactly
    hash-checked — and states model_beats_majority as fact: a model
    that failed to learn (ties majority by predicting one class, or
    worse) flips the boolean and fails the driver's value hash."""
    w, bias = _trained(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    scored = lr.score_expr(lr.doc_features(docs), lr.doc_labels(docs), w, bias)
    # strictly-beats-majority law shared via operators.certs; planted
    # constant-predictor golden in tests/test_cert_adversarial.py.
    return certs.beats_majority(scored)


@query(
    "x_lr_quality_score",
    None,  # scores depend on the trained weights: not SQL-expressible
    survey_ids="beyond-ref: one-pass learned-gate scoring (broadcast model join)",
)
def x_lr_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document learned-gate scores: (doc_id, y, p, pred).

    The payoff pass: the multi-expression heuristic collapses to one
    broadcast join + groupBy per 100TB scan. p is the exact-decimal
    hard sigmoid; golden-tested per doc vs the Python scorer."""
    w, bias = _trained(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return lr.score_expr(lr.doc_features(docs), lr.doc_labels(docs), w, bias)
