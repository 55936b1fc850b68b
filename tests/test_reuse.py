"""The version law of io.reuse and io.memo: the near-dup family's
derived frames (shingle maps, the connected-components pair set) and
the fitted models and rule configs are built once per version of their
input files. A warm call over unchanged files runs no job to rebuild
them; a rewritten input file rebuilds them, so an answer never comes
from stale inputs."""

from __future__ import annotations

import glob
import itertools
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame

from event_stream_starter_spark import io as eio
from event_stream_starter_spark.queries import all_queries, rules_q, vectors

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


def test_corpus_prep_calls_leave_cache_entries_flat(spark, sf_dir, tmp_path, monkeypatch):
    """e2e_corpus_prep's shingle frame, jaccard base and pair set are
    keyed by the documents files: three calls in one session leave Spark's
    cache manager holding as many entries as one call did, and the answer
    still equals the oracle."""
    docs = _managed_documents(spark, sf_dir, tmp_path, monkeypatch)
    q = "e2e_corpus_prep"
    fn = all_queries()[q].fn
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    counts = []
    for _ in range(3):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(cache.cachedData().size())
    assert counts[0] > 0 and counts[2] == counts[0], counts
    assert _oracle_problems(spark, sf_dir, docs, q) == []


def _keep_every_third_doc(path: str) -> None:
    t = pq.read_table(path)
    keep = [i for i, d in enumerate(t.column("doc_id").to_pylist()) if d % 3 == 0]
    pq.write_table(t.take(keep), path)


def _negate_embeddings(path: str) -> None:
    t = pq.read_table(path)
    i = t.schema.get_field_index("embedding")
    field = t.schema.field(i)
    neg = [None if v is None else [-x for x in v] for v in t.column(i).to_pylist()]
    pq.write_table(t.set_column(i, field, pa.array(neg, type=field.type)), path)


def _raise_first_rule_score(path: str) -> None:
    text = open(path).read()
    assert "score: 8\n" in text
    with open(path, "w") as fh:
        fh.write(text.replace("score: 8\n", "score: 9\n", 1))


def _query(name: str):
    return lambda spark, sf: all_queries()[name].fn(spark, sf)


# id -> (input, in-place rewrite of it, the memoized call)
MEMO_CASES = {
    "x_bpe_train": ("documents", _keep_every_third_doc, _query("x_bpe_train")),
    "x_unigram_train": ("documents", _keep_every_third_doc, _query("x_unigram_train")),
    "x_lr_quality_train": ("documents", _keep_every_third_doc, _query("x_lr_quality_train")),
    "_ivf_centroids": ("embeddings", _negate_embeddings, vectors._ivf_centroids),
    "_pq_codebooks": ("embeddings", _negate_embeddings, vectors._pq_codebooks),
    "rules_yml": ("rules", _raise_first_rule_score, lambda spark, sf: rules_q._load_rules()),
}


def _stage(kind: str, src_dir: str, dst, monkeypatch) -> str:
    """Copies the ``kind`` input file from ``src_dir`` into the new dir
    ``dst`` and returns the copy's path; a rules copy becomes RULES_YML."""
    dst.mkdir()
    name = "rules.yml" if kind == "rules" else f"{kind}.parquet"
    path = str(dst / name)
    shutil.copyfile(os.path.join(src_dir, name), path)
    if kind == "rules":
        monkeypatch.setattr(rules_q, "RULES_YML", path)
    return path


@pytest.mark.parametrize("case", list(MEMO_CASES))
def test_memo_follows_a_rewritten_input(spark, sf_dir, tmp_path, monkeypatch, case):
    """A fitted model (or compiled rule set) over a copy of its input:
    a repeat call on unchanged files starts no Spark job; after the file
    is rewritten in place (same inode), the next call's answer equals a
    fresh, never-memoized build over a copy of the new file, and differs
    from the old answer."""
    kind, rewrite, call = MEMO_CASES[case]

    def answer(sf):
        got = call(spark, sf)
        return sorted(map(tuple, got.collect())) if isinstance(got, DataFrame) else got

    src = os.path.dirname(rules_q.RULES_YML) if kind == "rules" else sf_dir
    path = _stage(kind, src, tmp_path / "a", monkeypatch)
    sf = os.path.dirname(path)
    before = answer(sf)
    assert _run_in_group(spark, f"memo-warm-{case}", lambda: call(spark, sf)) == []

    ino = os.stat(path).st_ino
    rewrite(path)
    assert os.stat(path).st_ino == ino
    after = answer(sf)

    fresh = os.path.dirname(_stage(kind, sf, tmp_path / "b", monkeypatch))
    assert after == answer(fresh)
    assert after != before
