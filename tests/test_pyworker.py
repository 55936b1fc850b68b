"""The Python worker daemon (pyworker.py): a warm task re-reads no
unchanged zip archive, the engine's sessions fork their workers from
it, and the workers import the engine from any driver cwd."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from event_stream_starter_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)
_PKG = "_ess_zip_probe"


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{_PKG}/__init__.py", "")
        for m in modules:
            z.writestr(f"{_PKG}/{m}.py", f"NAME = {m!r}\n")
    os.replace(tmp, path)  # a new file: new inode, new mtime


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.13 re-reads archives lazily")
def test_guarded_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Unchanged archive: repeated invalidations read its directory 0
    times (the unguarded method reads it once per importer). Rewritten
    archive: one read in all, and its new module imports."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, ["a"])
    # Fresh import-system caches, so only this archive's importers exist
    # and nothing built here outlives the test.
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module(f"{_PKG}.a").NAME == "a"
        importers = [
            f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
        ]
        assert len(importers) == 2  # the archive root and the package dir

        reads.clear()
        importlib.invalidate_caches()
        assert reads == [archive] * len(importers)

        guarded = pyworker.stat_guarded(zipimport.zipimporter.invalidate_caches)
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", guarded)
        importlib.invalidate_caches()  # first read at the archive's stat
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module(f"{_PKG}.b").NAME == "b"
        assert all(f._files is importers[0]._files for f in importers)
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == _PKG]:
            del sys.modules[name]


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.13 re-reads archives lazily")
def test_session_workers_run_the_guarded_invalidate(spark):
    """get_spark's workers fork from the engine's daemon, which has the
    stat-guarded invalidate_caches installed."""

    def guarded(_):
        import zipimport

        return bool(getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False))

    flags = spark.range(4).select(F.udf(guarded, "boolean")("id").alias("g")).collect()
    assert [r["g"] for r in flags] == [True] * 4


_ENCODE_FROM_ANY_CWD = """
import json, sys
sys.path.insert(0, {repo!r})
from event_stream_starter_spark.operators import bpe
from event_stream_starter_spark.session import get_spark

spark = get_spark("cwd-probe", cpus=1)
df = spark.createDataFrame([("Ab ab  aab",), (None,)], "text string")
rows = df.select(bpe.bpe_encode_udf({merges!r})("text").alias("u")).collect()
print(json.dumps([r["u"] for r in rows]))
spark.stop()
"""


def test_engine_udf_runs_from_a_foreign_cwd(tmp_path):
    """A driver started outside the repo, with the repo on neither the
    cwd nor PYTHONPATH, still gets workers that start the engine's
    daemon and import its UDF kernels."""
    from event_stream_starter_spark.operators import bpe

    merges = [("a", "b</w>"), ("a", "ab</w>")]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _ENCODE_FROM_ANY_CWD.format(repo=REPO, merges=merges)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == [bpe.encode_text_py("Ab ab  aab", merges), None]
