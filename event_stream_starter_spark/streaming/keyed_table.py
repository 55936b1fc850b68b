"""Keyed upsert table: the engine's stand-in for the reference's
``INSERT ... ON CONFLICT (event_key) DO UPDATE`` sink (api/events.py:
1201-1244) without requiring a transactional table format.

``merge_batch`` implements the A1 merge laws as a pure DataFrame
computation (greatest last_ts, summed evidence_count, latest-non-null
scalars), and the table swaps complete parquet snapshot versions
atomically via a pointer file — idempotent per (key, batch) because the
merge laws are associative/commutative and re-merging the same batch is
a no-op for max/last-by-ts laws and guarded by batch_id for counters.

At cluster scale the same ``merge_batch`` laws drive a real MERGE INTO
on a transactional format; this snapshot-versioned layout is the
dependency-free equivalent with identical semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..io import atomic_write, read_schema

STATE_COLS = [
    "event_key",
    "start_ts",
    "last_ts",
    "evidence_count",
    "max_weight",
    "last_value",
    "last_batch_id",
]

_VALUE_COLS = STATE_COLS[1:]


def _state_cols(key_cols: list[str]) -> list[str]:
    return list(key_cols) + _VALUE_COLS


def aggregate_batch(
    batch: DataFrame, key_col: str | list[str] = "event_key"
) -> DataFrame:
    """Collapse one micro-batch to per-key partial state (map-side
    pre-aggregation: the shuffle carries one row per key, not per event).
    ``key_col`` may be a list for composite upsert keys (e.g.
    ``["event_key", "event_type"]`` — the reference's ON CONFLICT target
    plus carried-along dimension columns it functionally determines)."""
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    return batch.groupBy(*keys).agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("evidence_count"),
        F.max("value").alias("max_weight"),
        # struct-max, not max_by(value, ts): deterministic under ts ties
        # (at-least-once replay can duplicate timestamps; the merge must
        # be order-independent — same law as a1_event_upsert_merge).
        F.max(F.struct(F.col("ts"), F.col("value").alias("v")))["v"].alias(
            "last_value"
        ),
    )


def merge_states(
    current: DataFrame,
    incoming: DataFrame,
    batch_id: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """A1 merge laws over (current ⟗ incoming) per key:
    last_ts = greatest, start_ts = least, counts summed, weight = max,
    last_value = lexicographic greatest of (last_ts, last_value).

    Re-delivery safety (ST5 at-least-once): a batch with id <=
    last_batch_id is dropped before merging, making the sink idempotent
    under foreachBatch retries.
    """
    keys = key_cols or ["event_key"]
    cur = current.select(*_state_cols(keys)).alias("c")
    inc = incoming.withColumn("last_batch_id", F.lit(batch_id)).alias("i")
    cond = None
    for k in keys:
        eq = F.col(f"c.{k}") == F.col(f"i.{k}")
        cond = eq if cond is None else (cond & eq)
    joined = cur.join(inc, cond, "full_outer")
    # Commutative last-value law: lexicographic greatest of
    # (last_ts, last_value) structs. A ">= incoming wins" rule would make
    # the merged value depend on batch ARRIVAL ORDER when two batches
    # share a max timestamp — merge must be order-independent for
    # at-least-once replay. A side missing from the outer join yields a
    # struct of nulls, which sorts below any real (ts, value).
    pick_last = F.greatest(
        F.struct(F.col("c.last_ts").alias("t"), F.col("c.last_value").alias("v")),
        F.struct(F.col("i.last_ts").alias("t"), F.col("i.last_value").alias("v")),
    )["v"]
    replay = F.coalesce(F.col("i.last_batch_id") <= F.col("c.last_batch_id"), F.lit(False))
    merged = joined.select(
        *[
            F.coalesce(F.col(f"c.{k}"), F.col(f"i.{k}")).alias(k)
            for k in keys
        ],
        F.least(F.col("c.start_ts"), F.col("i.start_ts")).alias("start_ts"),
        F.greatest(F.col("c.last_ts"), F.col("i.last_ts")).alias("last_ts"),
        (
            F.coalesce(F.col("c.evidence_count"), F.lit(0))
            + F.when(replay, F.lit(0)).otherwise(
                F.coalesce(F.col("i.evidence_count"), F.lit(0))
            )
        ).alias("evidence_count"),
        F.greatest(F.col("c.max_weight"), F.col("i.max_weight")).alias("max_weight"),
        F.when(replay, F.col("c.last_value")).otherwise(pick_last).alias("last_value"),
        F.greatest(
            F.coalesce(F.col("c.last_batch_id"), F.lit(-1)).cast("long"),
            F.coalesce(F.col("i.last_batch_id"), F.lit(-1)).cast("long"),
        ).alias("last_batch_id"),
    )
    return merged


class KeyedParquetTable:
    """Snapshot-versioned keyed table with an atomic current-version
    pointer. Readers always see a complete snapshot; the writer renames
    the pointer last (rename is atomic on a POSIX fs; on object stores
    this layer is replaced by the table format's commit protocol).

    The snapshot schema is stored once, in ``_schema.json`` next to the
    pointer, before the pointer first names a snapshot; reads declare it
    instead of running a parquet schema-inference job per read."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keep_versions: int = 2,
        key_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols) if key_cols else ["event_key"]
        # >= 2: the previous snapshot must outlive the pointer swap so an
        # in-flight reader that resolved CURRENT just before the swap can
        # finish its scan (a one-version grace period; a real table
        # format's snapshot retention plays this role).
        self.keep_versions = max(2, keep_versions)
        self._schema: StructType | None = None
        os.makedirs(path, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _schema_file(self) -> str:
        return os.path.join(self.path, "_schema.json")

    def _stored_schema(self) -> StructType | None:
        """The stored snapshot schema; None for a table written before
        the schema was stored (its reads infer it until the next upsert
        stores it)."""
        if self._schema is None:
            self._schema = read_schema(self._schema_file())
        return self._schema

    def current_version(self) -> int | None:
        try:
            with open(self._pointer()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def read(self) -> DataFrame | None:
        v = self.current_version()
        if v is None:
            return None
        schema = self._stored_schema()
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(os.path.join(self.path, f"v{v}"))

    def upsert_batch(self, batch: DataFrame, batch_id: int) -> None:
        incoming = aggregate_batch(batch, self.key_cols)
        current = self.read()
        if current is None:
            merged = incoming.withColumn("last_batch_id", F.lit(batch_id).cast("long"))
        else:
            merged = merge_states(current, incoming, batch_id, self.key_cols)
        v = (self.current_version() or 0) + 1
        target = os.path.join(self.path, f"v{v}")
        snapshot = merged.select(*_state_cols(self.key_cols))
        snapshot.write.mode("overwrite").parquet(target)
        if self._stored_schema() is None:
            atomic_write(self._schema_file(), snapshot.schema.json())
        atomic_write(self._pointer(), str(v))
        self._gc(v)

    def _gc(self, current: int) -> None:
        """Drop snapshot dirs older than the retention window: without
        GC a 20s-trigger stream accumulates one FULL table copy per
        micro-batch (~4300/day) until the volume fills."""
        import re
        import shutil

        cutoff = current - self.keep_versions + 1
        for name in os.listdir(self.path):
            m = re.fullmatch(r"v(\d+)", name)
            if m and int(m.group(1)) < cutoff:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

    def foreach_batch_writer(self):
        def write(batch: DataFrame, batch_id: int) -> None:
            self.upsert_batch(batch, batch_id)

        return write
