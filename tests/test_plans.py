"""Plan-quality gates: the optimizer must produce the plan we designed
for — pruned scans, pushed filters, broadcast dims, no cartesian
products — and the §4 governors (cost guard, shape lint) must fire."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from event_stream_starter_spark import io as eio
from event_stream_starter_spark import schemas
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
from event_stream_starter_spark.schemas import TESTDATA_TABLES

SPECS = all_queries()


def test_star_join_broadcasts_dims_and_prunes_columns(spark, sf_dir):
    f = plan_features(SPECS["q5_region_revenue"].fn(spark, sf_dir))
    # All four dimension joins broadcast — no shuffle joins on dims.
    assert f.n_broadcast_exchanges >= 4
    assert not f.has_cartesian
    # lineitem scan reads only the 3 needed columns of 7.
    li = [c for c in f.scan_columns if "l_extendedprice" in c]
    assert li and li[0] == {"l_orderkey", "l_extendedprice", "l_discount"}


def _row_digest(df):
    """(xxhash64 sum, count): equal for equal row multisets."""
    r = df.select(
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return r["s"], r["n"]


def _data_files(managed):
    return [f for f in os.listdir(managed) if f.endswith(".parquet")]


def _file_law(par, rows, raw_path):
    """The managed copy's file count: one per core (at most one per row)
    for a raw table of at least _SPREAD_MIN_BYTES, else one per 2000
    rows, capped at the core count."""
    size = sum(os.path.getsize(f) for f in eio._parquet_files(raw_path))
    return max(1, min(par, rows if size >= eio._SPREAD_MIN_BYTES else rows // 2000))


def _jobs_in(spark, group, fn):
    """Run ``fn()`` under job group ``group``; the ids of the jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_managed_load_declares_stored_schema_and_runs_no_job(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every table of the managed copy follows the file-count law and
    holds the raw table's rows. Its _schema.json sidecar, written at
    ingest, equals parquet inference (nullability included) and is
    invisible to the scan, so even a first load runs no Spark job. The
    ingest's jobs, run in worker threads, carry the caller's job group."""
    monkeypatch.setattr(eio, "_MANAGED_ROOT", str(tmp_path))
    root = eio._managed_dir(sf_dir)
    jobs = _jobs_in(spark, "managed-ingest", lambda: eio.ingest_managed(spark, sf_dir))
    assert len(jobs) >= len(TESTDATA_TABLES)
    assert os.listdir(tmp_path) == [os.path.basename(root)]
    loads = {}
    jobs = _jobs_in(
        spark,
        "managed-first-load",
        lambda: loads.update((t, load_table(spark, sf_dir, t)) for t in TESTDATA_TABLES),
    )
    assert jobs == []
    par = spark.sparkContext.defaultParallelism
    for t in TESTDATA_TABLES:
        managed = os.path.join(root, f"{t}.parquet")
        raw = eio._load_raw(spark, sf_dir, t)
        digest = _row_digest(raw)
        raw_path = os.path.join(sf_dir, f"{t}.parquet")
        assert len(_data_files(managed)) == _file_law(par, digest[1], raw_path), t
        assert _row_digest(loads[t]) == digest, t
        sidecar = eio.read_schema(os.path.join(managed, "_schema.json"))
        assert loads[t].schema == sidecar == spark.read.parquet(managed).schema, t


def _ingest_one(spark, monkeypatch, tmp_path, name, table):
    """Ingest a one-table sf dir holding ``table`` as ``name``; written
    as a directory of files when ``table`` is a list of tables."""
    sf = tmp_path / "sf"
    sf.mkdir()
    if isinstance(table, list):
        (sf / f"{name}.parquet").mkdir()
        for i, part in enumerate(table):
            pq.write_table(part, str(sf / f"{name}.parquet" / f"part-{i:05d}.parquet"))
    else:
        pq.write_table(table, str(sf / f"{name}.parquet"))
    monkeypatch.setattr(eio, "_MANAGED_ROOT", str(tmp_path / "managed"))
    monkeypatch.setattr(schemas, "TESTDATA_TABLES", (name,))
    root = eio.ingest_managed(spark, str(sf))
    return str(sf), os.path.join(root, f"{name}.parquet")


def test_ingest_managed_multi_file_raw_table(spark, sf_dir, tmp_path, monkeypatch):
    """A raw table stored as a directory of files (the sf1 shape) is
    coalesced without a shuffle: at most 2n files, the same rows."""
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    cuts = [0, li.num_rows // 6, li.num_rows // 2, li.num_rows]
    parts = [li.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]
    sf, managed = _ingest_one(spark, monkeypatch, tmp_path, "lineitem", parts)
    n = _file_law(spark.sparkContext.defaultParallelism, li.num_rows, f"{sf}/lineitem.parquet")
    assert n > 1
    assert 1 <= len(_data_files(managed)) <= 2 * n
    assert _row_digest(load_table(spark, sf, "lineitem")) == _row_digest(
        eio._load_raw(spark, sf, "lineitem")
    )


def test_managed_read_of_a_large_table_adds_no_round_robin_shuffle(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A single-file raw table of at least _SPREAD_MIN_BYTES is one scan
    split, so its raw read is spread by a RoundRobinPartitioning
    exchange; its managed copy holds one file per core, so a managed
    read scans in parallel with no exchange in front of it."""
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    sf, managed = _ingest_one(spark, monkeypatch, tmp_path, "embeddings", emb)
    raw_path = os.path.join(sf, "embeddings.parquet")
    assert os.path.getsize(raw_path) >= eio._SPREAD_MIN_BYTES
    assert len(_data_files(managed)) == spark.sparkContext.defaultParallelism

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    raw = eio._spread(spark, eio._load_raw(spark, sf, "embeddings"), raw_path)
    assert "RoundRobinPartitioning" in plan(raw)
    assert "RoundRobinPartitioning" not in plan(load_table(spark, sf, "embeddings"))


def test_ingest_managed_empty_raw_table(spark, sf_dir, tmp_path, monkeypatch):
    """An empty raw table lands as one readable file and a sidecar."""
    region = pq.read_table(os.path.join(sf_dir, "region.parquet")).slice(0, 0)
    sf, managed = _ingest_one(spark, monkeypatch, tmp_path, "region", region)
    assert len(_data_files(managed)) == 1
    assert spark.read.parquet(managed).count() == 0
    assert eio.read_schema(os.path.join(managed, "_schema.json")) == (
        eio._load_raw(spark, sf, "region").schema
    )
    assert load_table(spark, sf, "region").count() == 0


def test_failed_ingest_leaves_no_temp_dir(spark, sf_dir, tmp_path, monkeypatch):
    """A table write that raises removes the whole temp dir and
    re-raises; the next ingest then succeeds."""
    monkeypatch.setattr(eio, "_MANAGED_ROOT", str(tmp_path))
    load_raw = eio._load_raw

    def failing(spark, sf, name):
        if name == "orders":
            raise RuntimeError("orders unreadable")
        return load_raw(spark, sf, name)

    monkeypatch.setattr(eio, "_load_raw", failing)
    with pytest.raises(RuntimeError, match="orders unreadable"):
        eio.ingest_managed(spark, sf_dir)
    assert os.listdir(tmp_path) == []
    monkeypatch.setattr(eio, "_load_raw", load_raw)
    root = eio.ingest_managed(spark, sf_dir)
    assert os.listdir(tmp_path) == [os.path.basename(root)]
    assert os.path.isfile(os.path.join(root, "orders.parquet", "_schema.json"))


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
