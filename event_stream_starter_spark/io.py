"""Testdata / table loaders.

All loads are plain columnar parquet scans so Catalyst gets predicate
pushdown + column pruning for free. At cluster scale the same API would
point at date-partitioned tables; nothing here assumes local mode.

The driver's events.parquet stores TIMESTAMP(NANOS), which Spark does not
read natively: we read it via the nanosAsLong legacy conf and normalize
to TimestampType by integer-dividing to microseconds — the same
truncation DuckDB applies when it coerces ns→µs, so oracle comparisons
see identical instants.

A managed copy (ingest_managed) is written in one pass: the tables run
concurrently, each as a single shuffle-free write job whose files hold
contiguous runs of source-order rows (one file per core for a table of
at least ``_SPREAD_MIN_BYTES``, so its reads need no round-robin
shuffle), and each lands with its Spark schema in a
``<table>.parquet/_schema.json`` sidecar. load_table
declares that schema instead of running a one-task parquet
schema-inference job per load (Spark's file index skips ``_``-prefixed
files, so the scan never sees it). A copy without the sidecar, made by
older code, is inferred once on its first load and the sidecar is
written then (tmp file + atomic rename), so every later load takes the
same path.

Every engine cache that depends on input files keeps one version law:
an entry is valid for the ``(path, inode, mtime_ns, size)`` of every
data file it read (_stat_tree), read before it was built. A rewritten,
added or removed file is a miss, so no answer comes from stale inputs,
and a call over unchanged files costs only the stat. Three caches keep
it, each keeping one entry per key, with no TTL and no size cap:

- reuse(df), the session's derived frames: the near-dup operators'
  shingle and signature maps and the connected-components pair set;
- memo(key, paths, build), Python values built from input files: the
  fitted tokenizer, classifier and quantizer models and the compiled
  rule configs;
- the ReadApi endpoint snapshots (api.py), keyed by inputs_version.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import stat
import threading
import weakref
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _parquet_files(path: str) -> list[str]:
    """The data files of a parquet table: the file at ``path``, or the
    ``.parquet`` files directly under the directory at ``path``."""
    if not os.path.isdir(path):
        return [path]
    return [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]


_SPLIT_BYTES = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes default
_SPREAD_MIN_BYTES = 64 * 1024


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scan-parallelism floor for low-split inputs.

    A parquet file splits into at most (bytes / maxPartitionBytes) tasks —
    and only at row-group boundaries, so a single-row-group file is ONE
    task no matter what. Every per-row expression projected before the
    first shuffle (regex shingling, sha2 keys, tokenizing) then runs
    serially. When the scan can't yield at least `defaultParallelism`
    splits, spread rows across cores right after the scan; predicate
    pushdown and column pruning still reach the scan through the exchange
    (asserted in tests/test_plans.py). On a real cluster the file count
    times splits-per-file exceeds core count and this is a no-op.
    """
    try:
        files = _parquet_files(path)
        total = sum(os.path.getsize(f) for f in files)
    except OSError:
        return df
    # Each file yields at least one split.
    est_splits = max(len(files), total // _SPLIT_BYTES)
    par = spark.sparkContext.defaultParallelism
    if est_splits >= par or total < _SPREAD_MIN_BYTES:
        return df
    return df.repartition(par)


_MANAGED_ROOT = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".managed")


def _managed_dir(sf_dir: str) -> str:
    return os.path.join(_MANAGED_ROOT, sf_dir.strip("/").replace("/", "_"))


def ingest_managed(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the raw tables as MANAGED multi-file parquet, each
    with its ``_schema.json`` sidecar (one ingest pass, idempotent via
    an atomic rename of the whole temp dir).

    The generator writes each table as ONE file with ONE row group — a
    layout no deployment would serve queries from, because a row group
    is parquet's split unit and a single group forces every scan through
    one task (the serial ~0.5-1s decode shows up in every query).
    Ingest-then-query-managed-storage is the normal engine contract
    (load → OPTIMIZE → query); load_table transparently prefers the
    managed copy once it exists. Values are byte-identical — only the
    file layout changes.

    A table of ``rows`` rows (counted from its parquet footers, no job)
    lands in ``n`` files of at most ``ceil(rows / n)`` rows: ``n =
    min(par, rows)`` when its raw files hold at least
    ``_SPREAD_MIN_BYTES``, so a managed read yields ``par`` splits and
    load_table's ``_spread`` adds no round-robin shuffle in front of it
    (a compute-dense table such as documents or embeddings is few rows
    but needs every core), else ``max(1, min(par, rows // 2000))``.
    It is written by ONE job with no shuffle: a
    single-row-group raw file is one scan task that cuts its
    source-order rows into n contiguous files; a multi-file (or
    multi-group) one is coalesced to at most n tasks (at most 2n
    files). The tables are independent, so they run side by side,
    largest first (it is the long pole), in threads that inherit the
    caller's job group. A failed write removes the temp dir and
    re-raises.
    """
    import pyarrow.dataset as ds
    from pyspark.util import inheritable_thread_target

    from .schemas import TESTDATA_TABLES

    dst = _managed_dir(sf_dir)
    if os.path.isdir(dst):
        return dst
    tmp = dst + f".tmp{os.getpid()}"
    par = spark.sparkContext.defaultParallelism

    def src(t: str) -> str:
        return os.path.join(sf_dir, f"{t}.parquet")

    size = {t: sum(os.path.getsize(f) for f in _parquet_files(src(t))) for t in TESTDATA_TABLES}

    def ingest(t: str) -> None:
        meta = [f.metadata for f in ds.dataset(src(t), format="parquet").get_fragments()]
        rows = sum(m.num_rows for m in meta)
        n = max(1, min(par, rows if size[t] >= _SPREAD_MIN_BYTES else rows // 2000))
        # A row group is parquet's split unit: more tasks than row groups
        # only adds empty ones, and task 0 writes a file even when empty.
        tasks = max(1, min(n, sum(m.num_row_groups for m in meta)))
        raw = _load_raw(spark, sf_dir, t)
        out = os.path.join(tmp, f"{t}.parquet")
        raw.coalesce(tasks).write.option("maxRecordsPerFile", math.ceil(rows / n)).mode(
            "overwrite"
        ).parquet(out)
        atomic_write(os.path.join(out, "_schema.json"), raw.schema.json())

    tables = sorted(TESTDATA_TABLES, key=size.get, reverse=True)
    try:
        with ThreadPoolExecutor(min(par, len(tables))) as pool:
            list(pool.map(inheritable_thread_target(spark)(ingest), tables))
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, dst)
    except OSError:  # concurrent ingest won the rename — use theirs
        shutil.rmtree(tmp, ignore_errors=True)
    return dst


def _load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    # Normalize TIMESTAMP_NTZ → TIMESTAMP_LTZ (session tz is UTC, so the
    # instant is unchanged); keeps epoch extraction uniform regardless of
    # the host session's NTZ-inference setting.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def atomic_write(path: str, text: str) -> None:
    """Write `text` to `path` via a per-process tmp file and an atomic
    rename, so a reader sees the old file or the whole new one."""
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def read_schema(path: str) -> StructType | None:
    """The StructType stored as JSON at `path` (a ``_schema.json``
    sidecar), or None when the file does not exist."""
    try:
        with open(path) as fh:
            return StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return None


def _managed_schema(spark: SparkSession, managed: str) -> StructType:
    """The managed copy's schema from the ``_schema.json`` sidecar that
    ingest_managed writes; for a copy made by older code, inferred once
    (one parquet footer job) and stored then."""
    path = os.path.join(managed, "_schema.json")
    schema = read_schema(path)
    if schema is None:
        schema = spark.read.parquet(managed).schema
        atomic_write(path, schema.json())
    return schema


def table_path(sf_dir: str, name: str) -> str:
    """Where ``name`` is read from: the managed copy once
    ingest_managed has made it, else the raw ``<name>.parquet``."""
    managed = os.path.join(_managed_dir(sf_dir), f"{name}.parquet")
    return managed if os.path.isdir(managed) else os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    if os.path.dirname(path) == _managed_dir(sf_dir):
        # Managed copy is already normalized (types + multi-file layout).
        # Ingest gives every table of at least _SPREAD_MIN_BYTES one file
        # per core, so the floor is a no-op on it; it still spreads a
        # copy with fewer files (a compute-dense table read as a single
        # split measured 8x slower on the embedding self-join).
        schema = _managed_schema(spark, path)
        return _spread(spark, spark.read.schema(schema).parquet(path), path)
    return _spread(spark, _load_raw(spark, sf_dir, name), path)


def _hidden(name: str) -> bool:
    # Spark's file index skips these names; so does the version, which
    # makes writing the ``_schema.json`` sidecar on a first load no change.
    return name.startswith(("_", "."))


def _stat_tree(path: str) -> list[tuple]:
    """``(path, inode, mtime_ns, size)`` of the file at ``path``, or of
    every data file under it when it is a directory; ``(path,)`` when it
    is missing, so its later creation is a change too."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return [(path,)]
    if not stat.S_ISDIR(st.st_mode):
        return [(path, st.st_ino, st.st_mtime_ns, st.st_size)]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                out.extend(_stat_tree(os.path.join(root, f)))
    return out


def _plan_files(df: DataFrame) -> list[str] | None:
    """The local paths that the file relations of ``df``'s analyzed plan
    read, or None when the plan has a leaf that is not a local file
    relation, a local relation or an RDD scan. The analyzed plan, because
    ``df.inputFiles()`` reads the plan with its cached subtrees swapped in
    and then lists no file under them."""
    paths: set[str] = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        kind = leaf.getClass().getSimpleName()
        if kind in ("LocalRelation", "LogicalRDD"):
            continue  # its rows belong to the plan's identity
        if kind != "LogicalRelation":
            return None
        relation = leaf.relation()
        if relation.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        roots = relation.location().rootPaths().iterator()
        while roots.hasNext():
            uri = roots.next().toUri()
            if uri.getScheme() not in (None, "file"):
                return None
            paths.add(uri.getPath())
    return sorted(paths)


def _files_version(paths: list[str]) -> tuple:
    return tuple(s for p in paths for s in _stat_tree(p))


@dataclass(eq=False)
class _Reused:
    frame: DataFrame
    key: int  # frame.semanticHash()
    paths: list[str]
    version: tuple


_reuse_lock = threading.Lock()
_reused: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()  # session -> [_Reused]


def reuse(df: DataFrame) -> DataFrame:
    """``df`` persisted and filled, and shared by later calls with the
    same plan for as long as its input files are unchanged.

    A frame is keyed by its semantic hash, confirmed with
    ``sameSemantics``, and versioned by the ``(path, inode, mtime_ns,
    size)`` of every file its plan's file relations read (_plan_files).
    Local relations and RDD scans are part of the plan's identity; a plan
    with any other leaf is rebuilt on every call.

    A hit (the same plan at the same version, still held by Spark's cache
    manager) returns the filled frame and runs no job. A miss drops every
    registered frame whose files changed or whose cache is gone, so the
    fill never reads a stale cached subtree; unpersists the old entry of
    this plan, which ``persist()`` would otherwise keep; then persists
    ``df`` and fills it with one job. The eager fill matters: a reused
    frame feeds several concurrent stages of one job, and each would
    recompute a partition that is not cached yet. After
    ``spark.catalog.clearCache()`` the next call is a miss.
    """
    spark = df.sparkSession
    cache = spark._jsparkSession.sharedState().cacheManager()

    def held(frame: DataFrame) -> bool:
        return cache.lookupCachedData(frame._jdf).isDefined()

    paths = _plan_files(df)
    version = None if paths is None else _files_version(paths)
    key = df.semanticHash()
    with _reuse_lock:
        entries = _reused.setdefault(spark, [])
        same = [e for e in entries if e.key == key and e.frame.sameSemantics(df)]
        if same and same[0].version == version and held(same[0].frame):
            return same[0].frame
        for e in entries[:]:
            if e in same or _files_version(e.paths) != e.version or not held(e.frame):
                e.frame.unpersist(blocking=True)
                entries.remove(e)
        df.unpersist(blocking=True)
        df.persist()
        # Count the cache's own batch RDD: one job that builds every
        # partition, where df.count() plans an aggregate over the cached
        # scan and runs it as two jobs (about 30-50 ms more per fill).
        cached = cache.lookupCachedData(df._jdf).get().cachedRepresentation()
        cached.cacheBuilder().cachedColumnBuffers().count()
        if paths is not None:
            entries.append(_Reused(df, key, paths, version))
    return df


_memos: dict = {}  # key -> (version, value)


def memo(key, paths: list[str], build):
    """``build()``, kept under ``key`` until the version of the files at
    ``paths`` changes. The version is read before the build, so a file
    rewritten during one is a miss on the next call. No lock: concurrent
    misses build twice and keep an equal value."""
    version = _files_version(paths)
    got = _memos.get(key)
    if got is not None and got[0] == version:
        return got[1]
    value = build()
    _memos[key] = (version, value)
    return value


def inputs_version(sf_dir: str) -> tuple:
    """The version of everything a read-path answer over ``sf_dir`` can
    depend on: the stat of each data file of the testdata tables, at the
    path load_table reads them from, and of the two rule configs that
    r1_rules_eval and r6_onchain_verdict hot-reload by mtime and size.
    A rewritten, added or removed file changes it. About 0.25 ms per call
    for all tables of a managed copy."""
    from .queries import rules_q
    from .schemas import TESTDATA_TABLES

    out: list[tuple] = []
    for t in TESTDATA_TABLES:
        out.extend(_stat_tree(table_path(sf_dir, t)))
    for p in (rules_q.RULES_YML, rules_q.ONCHAIN_YML):
        out.extend(_stat_tree(p))
    return tuple(out)
