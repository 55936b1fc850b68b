"""Plan-quality gates: the optimizer must produce the plan we designed
for — pruned scans, pushed filters, broadcast dims, no cartesian
products — and the §4 governors (cost guard, shape lint) must fire."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_stream_starter_spark.io import load_table
from event_stream_starter_spark.plans import (
    LintViolation,
    ScanCostExceeded,
    estimated_input_bytes,
    lint_query_shape,
    plan_features,
    scan_cost_guard,
)
from event_stream_starter_spark.queries import all_queries

SPECS = all_queries()


def test_star_join_broadcasts_dims_and_prunes_columns(spark, sf_dir):
    f = plan_features(SPECS["q5_region_revenue"].fn(spark, sf_dir))
    # All four dimension joins broadcast — no shuffle joins on dims.
    assert f.n_broadcast_exchanges >= 4
    assert not f.has_cartesian
    # lineitem scan reads only the 3 needed columns of 7.
    li = [c for c in f.scan_columns if "l_extendedprice" in c]
    assert li and li[0] == {"l_orderkey", "l_extendedprice", "l_discount"}


def test_managed_load_declares_stored_schema_and_runs_no_job(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A managed copy's load declares the schema stored in its
    _schema.json sidecar: equal to parquet inference for every table,
    invisible to the scan, and a load that finds it runs no Spark job."""
    from event_stream_starter_spark import io as eio
    from event_stream_starter_spark.schemas import TESTDATA_TABLES

    monkeypatch.setattr(eio, "_MANAGED_ROOT", str(tmp_path))
    root = eio.ingest_managed(spark, sf_dir)
    for t in TESTDATA_TABLES:
        managed = os.path.join(root, f"{t}.parquet")
        inferred = spark.read.parquet(managed).schema
        assert load_table(spark, sf_dir, t).schema == inferred, t
        assert os.path.isfile(os.path.join(managed, "_schema.json")), t
    sc = spark.sparkContext
    group = "managed-load-test"
    sc.setJobGroup(group, "second load")
    try:
        docs = load_table(spark, sf_dir, "documents")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    managed_docs = spark.read.parquet(os.path.join(root, "documents.parquet"))
    assert docs.count() == managed_docs.count() > 0


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    f = plan_features(SPECS["q3_top_orders"].fn(spark, sf_dir))
    assert any("o_orderstatus" in p for p in f.pushed_filters)


def test_heat_query_prunes_to_two_columns(spark, sf_dir):
    f = plan_features(SPECS["a3_w5_heat_slope"].fn(spark, sf_dir))
    assert all(len(cols) <= 3 for cols in f.scan_columns)


def test_no_cartesian_products_anywhere(spark, sf_dir):
    # Cross joins in our queries are all broadcast singletons (now_ts /
    # config rows) — a real CartesianProduct would be a scale bug.
    for name in ("flagship_heat_rules", "j3_card_merge", "w8_series_split",
                 "a10_t7_batch_scan", "e2_jaccard_user_pairs"):
        f = plan_features(SPECS[name].fn(spark, sf_dir))
        assert not f.has_cartesian, name


def test_scan_cost_guard_estimates_and_blocks(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    est = estimated_input_bytes(df)
    assert est > 0
    assert scan_cost_guard(df, max_bytes=est + 1) is df
    with pytest.raises(ScanCostExceeded):
        scan_cost_guard(df, max_bytes=est - 1)


def test_lint_accepts_bounded_and_rejects_unbounded(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    bounded = ev.filter(F.col("ts") >= F.lit("2024-01-01")).limit(10)
    assert lint_query_shape(bounded) is bounded
    with pytest.raises(LintViolation):
        lint_query_shape(ev.limit(10))  # no time predicate
    with pytest.raises(LintViolation):
        lint_query_shape(ev.filter(F.col("ts") >= F.lit("2024-01-01")))  # no limit


def test_lint_rejects_substring_column_and_notnull_only(spark, tmp_path):
    """The governor must not be satisfiable by a filter on a column whose
    NAME contains 'ts' (counts/status), nor by IsNotNull alone — only a
    genuine range predicate on the time column counts."""
    import pyspark.sql.functions as F
    import pytest

    from event_stream_starter_spark.plans.lint import LintViolation, lint_query_shape

    d = str(tmp_path / "lintt")
    spark.range(100).select(
        F.col("id").alias("counts"), F.timestamp_seconds(F.col("id")).alias("ts")
    ).write.mode("overwrite").parquet(d)
    t = spark.read.parquet(d)
    with pytest.raises(LintViolation):
        lint_query_shape(t.filter(F.col("counts") > 3).limit(5))
    with pytest.raises(LintViolation):
        lint_query_shape(t.filter(F.col("ts").isNotNull()).limit(5))
    lint_query_shape(t.filter(F.col("ts") >= "2000-01-01").limit(5))


def test_gopher_rules_is_map_only(spark, sf_dir):
    """The Gopher gate claims a pure map stage: no shuffle, no
    broadcast, no join — just scan → project."""
    f = plan_features(SPECS["x_gopher_rules"].fn(spark, sf_dir))
    assert f.n_shuffle_exchanges == 0
    assert f.n_broadcast_exchanges == 0
    assert not f.has_cartesian


def test_lm_scoring_models_are_broadcast(spark, sf_dir):
    """CCNet / DSIR: the trigram models must reach the gram stream as
    broadcasts (bounded model tables), never as shuffled join sides."""
    for name, min_bcast in (("x_ccnet_lm_buckets", 2), ("x_dsir_select", 2)):
        f = plan_features(SPECS[name].fn(spark, sf_dir))
        assert f.n_broadcast_exchanges >= min_bcast, name
        assert not f.has_cartesian, name


def test_semdedup_pair_join_is_cluster_equi_join(spark, sf_dir):
    """SemDeDup's pair generation must stay an equi-join on cluster id —
    a cartesian here would be the all-pairs scale bug the clustering
    exists to avoid."""
    f = plan_features(SPECS["dd_semdedup"].fn(spark, sf_dir))
    assert not f.has_cartesian
