"""io.reuse: the near-dup family's derived frames (shingle maps, the
connected-components pair set) are filled once per version of their
input files. A warm call over unchanged files runs no job to rebuild
them; a rewritten input file rebuilds them, so an answer never comes
from stale shingles."""

from __future__ import annotations

import glob
import itertools
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from event_stream_starter_spark import io as eio
from event_stream_starter_spark.queries import all_queries

from tests.oracle_utils import compare

NEAR_DUP = ("dd_cluster_canonical", "dd_ngram_jaccard")


def _managed_documents(spark, sf_dir, tmp_path, monkeypatch) -> str:
    """Ingest ``sf_dir`` under a temporary managed root; returns the
    managed ``documents`` directory."""
    monkeypatch.setattr(eio, "_MANAGED_ROOT", str(tmp_path / "managed"))
    docs = os.path.join(eio.ingest_managed(spark, sf_dir), "documents.parquet")
    assert eio.table_path(sf_dir, "documents") == docs
    return docs


def _oracle_problems(spark, sf_dir, docs_dir, qname) -> list[str]:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')"
    )
    spec = all_queries()[qname]
    return compare(spec.fn(spark, sf_dir), con, spec.oracle)


def _run_in_group(spark, group: str, fn) -> list[str]:
    """fn() inside job group ``group``; returns the names of the Spark
    jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    return [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]


def test_rewritten_documents_are_not_answered_from_stale_shingles(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Both near-dup queries match their oracles; then every documents
    file is rewritten in place (same paths, same inodes) with texts drawn
    from a pool of 25, and in the same session both queries match their
    oracles over the new data."""
    docs = _managed_documents(spark, sf_dir, tmp_path, monkeypatch)
    specs = all_queries()
    before = {}
    for q in NEAR_DUP:
        assert _oracle_problems(spark, sf_dir, docs, q) == [], q
        before[q] = sorted(map(tuple, specs[q].fn(spark, sf_dir).collect()))

    files = sorted(glob.glob(os.path.join(docs, "*.parquet")))
    pool = pq.read_table(files[0]).column("text").to_pylist()[:25]
    for f in files:
        t = pq.read_table(f)
        texts = [pool[i % len(pool)] for i in t.column("doc_id").to_pylist()]
        t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
        ino = os.stat(f).st_ino
        pq.write_table(t, f)
        assert os.stat(f).st_ino == ino
        # The local file system checks a file against its .crc side file.
        crc = os.path.join(docs, f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    for q in NEAR_DUP:
        assert _oracle_problems(spark, sf_dir, docs, q) == [], q
        after = sorted(map(tuple, specs[q].fn(spark, sf_dir).collect()))
        assert after != before[q], q


def test_warm_cluster_call_runs_within_its_job_budget(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A warm dd_cluster_canonical over a managed copy runs at most 4
    Spark jobs, none of them an eager cache fill, and its answer equals
    the oracle. After clearCache() the next call fills again and still
    matches."""
    docs = _managed_documents(spark, sf_dir, tmp_path, monkeypatch)
    q = "dd_cluster_canonical"
    fn = all_queries()[q].fn
    fn(spark, sf_dir).collect()  # fills the shingle map and the pair set

    warm = _run_in_group(spark, "reuse-warm", lambda: fn(spark, sf_dir).collect())
    assert len(warm) <= 4, warm
    assert not [j for j in warm if j.startswith("count at")], warm
    assert _oracle_problems(spark, sf_dir, docs, q) == []

    spark.catalog.clearCache()
    cold = _run_in_group(spark, "reuse-cold", lambda: fn(spark, sf_dir).collect())
    assert len([j for j in cold if j.startswith("count at")]) >= 2, cold
    assert _oracle_problems(spark, sf_dir, docs, q) == []


def test_reuse_keys_rdd_scans_by_identity_and_rebuilds_other_leaves(spark):
    """An RDD scan is part of the plan's identity: the same frame hits
    with no job, and a new RDD with equal rows is a new frame. A plan
    with any other leaf (here a Range) is filled on every call."""

    calls = itertools.count()

    def fills(df) -> bool:
        names = _run_in_group(spark, f"reuse-unit-{next(calls)}", lambda: eio.reuse(df))
        return any(j.startswith("count at") for j in names)

    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert fills(rows.where("k > 0"))
    assert not fills(rows.where("k > 0"))
    assert eio.reuse(rows.where("k > 0")).count() == 2
    again = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert fills(again.where("k > 0"))

    rng = spark.range(5).selectExpr("id * 2 AS x")
    assert fills(rng)
    assert fills(rng)


def test_a_fill_never_reads_a_stale_cached_subtree(spark, tmp_path):
    """A frame filled over a registered frame whose file has since been
    rewritten (and not asked for again) is computed from the new file."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": list(range(10))}), path)

    def base():
        return spark.read.parquet(path).select("k")

    assert eio.reuse(base()).count() == 10
    pq.write_table(pa.table({"k": list(range(10, 13))}), path)
    derived = eio.reuse(base().where("k >= 0"))
    assert sorted(r.k for r in derived.collect()) == [10, 11, 12]
    assert sorted(r.k for r in eio.reuse(base()).collect()) == [10, 11, 12]


def test_concurrent_callers_share_one_fill(spark):
    """Threads that ask for the same new frame at once get one filled
    frame: one caller fills it, every other one gets that same frame."""
    import sys
    import threading

    df = spark.createDataFrame([(i, i % 3) for i in range(40)], "k long, g long")
    results: list = []

    def call():
        results.append(eio.reuse(df.groupBy("g").count()))

    threads = [threading.Thread(target=call) for _ in range(12)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 12
    assert len({id(r) for r in results}) == 1
    assert sorted(results[0].collect()) == [(0, 14), (1, 13), (2, 13)]
