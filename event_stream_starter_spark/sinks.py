"""Partitioned sinks (SURVEY.md §4: "date-partitioned storage from
day 1"; the reference's PG indexes become partition/bucket layout).

Facts land date-partitioned so time predicates become partition pruning
(no data read outside the window); keyed state tables land bucketed-by-
key-hash so key lookups and key-equi joins co-locate without a shuffle
on the read side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_events_partitioned(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Date-partitioned fact layout: dt=YYYY-MM-DD directories. Filters
    on dt (or on ts rewritten to dt) prune at the file listing."""
    (
        df.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


def key_bucket(key: F.Column, n_buckets: int = 256) -> F.Column:
    """Stable key→bucket assignment for keyed-table layouts: writing one
    file per bucket keeps a key's whole history in one file lineage, so
    point lookups touch one bucket and key-joins between tables bucketed
    the same way are shuffle-free after a bucket-local sort."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets))


def write_keyed_bucketed(
    df: DataFrame, path: str, key_col: str, n_buckets: int = 64
) -> None:
    (
        df.withColumn("bucket", key_bucket(F.col(key_col), n_buckets))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def merge_versioned(
    current: DataFrame,
    incoming: DataFrame,
    key_col: str,
    version_col: str = "calc_version",
) -> DataFrame:
    """Idempotent versioned upsert (SURVEY §4 'idempotent versioned
    writes'; reference worker/jobs/enrich_features.py:191-199): an
    incoming row replaces the stored row ONLY when
    ``incoming.calc_version >= current.calc_version`` — a stale recompute
    delivered late (at-least-once, out-of-order workers) can never
    clobber a newer enrichment. New keys insert; absent-incoming keys
    pass through. Equal versions let incoming win, which is the
    reference's own overwrite contract for idempotent re-delivery of the
    SAME computation.

    One full-outer join per micro-batch on the key — the MERGE this
    compiles to on a transactional table format.
    """
    cols = current.columns
    assert cols == incoming.columns, (cols, incoming.columns)
    cur, inc = current.alias("c"), incoming.alias("i")
    joined = cur.join(inc, F.col(f"c.{key_col}") == F.col(f"i.{key_col}"), "full_outer")
    # Decide on ROW presence (the join key), not on the version value: a
    # brand-new key must insert even with a NULL version — keying the
    # decision off i.version would fall through to the absent current
    # side and emit an all-NULL row. The version guard only arbitrates
    # when BOTH rows exist: incoming wins iff its version is >= (NULL
    # incoming version never clobbers versioned state; NULL current
    # version is always replaceable).
    take_incoming = F.col(f"c.{key_col}").isNull() | (
        F.col(f"i.{key_col}").isNotNull()
        & (
            F.col(f"c.{version_col}").isNull()
            | (F.col(f"i.{version_col}") >= F.col(f"c.{version_col}"))
        )
    )
    return joined.select(
        *[
            F.when(take_incoming, F.col(f"i.{c}")).otherwise(F.col(f"c.{c}")).alias(c)
            for c in cols
        ]
    )
