"""The integrated §3.1 pipeline as ONE Structured Streaming DAG
(reference: worker/tasks.py:104-140 — the tweet → dedup → upsert →
heat → rules → pushed-card chain; SURVEY §3.1).

Every stage reuses the already-certified pieces; this module only
CHAINS them:

    file source (S1)                       events_file_stream
      → C4 event key (map)                 pipeline.with_event_key
      → D1/D3 dedup (stateful)             dropDuplicatesWithinWatermark
      → foreachBatch sink:
          A1 keyed upsert                  KeyedParquetTable (composite
                                           key event_key,event_type)
          survivor-facts append            SurvivorFactsTable

and a READ side — ``read_cards`` — that derives the A3/W5 heat, rules
score, R9 routing and T7 outbox top-k from the two state tables via
``queries.pipeline_e2e.cards_from_state`` (the exact code the batch
``e2e_pipeline_trace`` runs), so streamed end-state equals the batch
trace whenever the stream saw the same events in event-time order.

Scale notes:
- The upsert table carries one row per entity key (bounded by key
  cardinality, the reference's ``events`` table) — at cluster scale the
  same merge laws drive MERGE INTO on a transactional format.
- The facts table is the deduped event log partitioned by micro-batch.
  Heat only ever reads the trailing 20 minutes, but the table has no
  retention: it gains one ``batch=N/`` dir per data micro-batch and
  grows with history, and ``read_cards`` lists and scans every dir
  (same cards, a longer read as dirs pile up).
- Both sinks are idempotent per (key, batch_id) / per batch dir, so
  foreachBatch at-least-once redelivery leaves state unchanged (ST5) —
  asserted by tests/test_streaming.py.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .keyed_table import KeyedParquetTable
from .pipeline import deduped_stream, with_event_key
from .source import events_file_stream

UPSERT_KEYS = ["event_key", "event_type"]


class SurvivorFactsTable:
    """Append-only (event_type, ts_us) fact log, one parquet dir per
    micro-batch (``batch=<id>/``). Replaying a batch overwrites its own
    dir — idempotent under foreachBatch redelivery. No dir is ever
    dropped. Reads declare the fixed ``SCHEMA`` rather than infer it."""

    SCHEMA = "event_type string, ts_us bigint"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def append_batch(self, facts: DataFrame, batch_id: int) -> None:
        facts.write.mode("overwrite").parquet(
            os.path.join(self.path, f"batch={batch_id}")
        )

    def read(self) -> DataFrame | None:
        dirs = [
            os.path.join(self.path, d)
            for d in os.listdir(self.path)
            if re.fullmatch(r"batch=\d+", d)
        ]
        if not dirs:
            return None
        return self.spark.read.schema(self.SCHEMA).parquet(*dirs)


def integrated_sink(upsert: KeyedParquetTable, facts: SurvivorFactsTable):
    """foreachBatch writer chaining the two state sinks over the deduped
    survivor stream. Facts first, then upsert: a crash between the two
    re-delivers the batch, facts overwrite their own dir and the upsert
    batch-id guard drops the replay — both orders are safe, this one
    makes the facts visible no later than the card state they feed."""

    def write(batch: DataFrame, batch_id: int) -> None:
        surv = batch.persist()
        try:
            facts.append_batch(
                surv.select("event_type", F.unix_micros("ts").alias("ts_us")),
                batch_id,
            )
            upsert.upsert_batch(surv, batch_id)
        finally:
            surv.unpersist()

    return write


def start_integrated_pipeline(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
):
    """Build + start the integrated DAG (availableNow, so a call drains
    the landing dir and terminates — restartable from the checkpoint).
    Returns (query, upsert_table, facts_table).

    The query runs without no-data micro-batches: a drain of one slice
    is one micro-batch, not a data batch plus an empty one that only
    advances the watermark (and would still write an empty facts dir
    and rewrite the unchanged upsert snapshot). The query copies the
    session conf when it starts, so the conf is switched off only
    around ``start()`` and other streams keep their no-data batches.

    Without the empty batch, dedup state is evicted one data batch later
    and the late-row filter (which uses the previous batch's watermark)
    lags one data batch behind. This is safe:

    - The dedup key embeds a 10-minute event-time bucket and the
      watermark delay is 1 hour, so every earlier row of a row's key is
      less than 10 minutes older than it, and a row that passes the
      late filter never meets an evicted copy of its key. Deferred
      eviction can only keep more state, which drops more duplicates.
    - A row the lagging filter lets through is either a duplicate whose
      key is still in state, dropped as before, or the first row of its
      key, which the stream now keeps as the batch law does.

    Either way the survivors move toward the batch keep-first law, never
    away from it. ``max_files_per_trigger=1`` must stay:
    keep-first-arrival equals the batch keep-min(ts, event_id) law only
    when each micro-batch is one slice landed in event-time order."""
    upsert = KeyedParquetTable(
        spark, os.path.join(state_dir, "upsert"), key_cols=UPSERT_KEYS
    )
    facts = SurvivorFactsTable(spark, os.path.join(state_dir, "facts"))
    src = events_file_stream(spark, landing_dir, max_files_per_trigger)
    # C4 key rename: the dedup key (user|type|600s-bucket) is the stream's
    # dedup identity; the UPSERT key (user|type) is derived in the sink's
    # aggregate via the carried user_id/event_type columns.
    survivors = deduped_stream(with_event_key(src), watermark)
    # A1 upsert key (C5-shape): same expression as the batch trace.
    from ..functions.hashing import key_concat

    survivors = survivors.drop("event_key").withColumn(
        "event_key",
        F.substring(
            F.sha2(key_concat(F.col("user_id").cast("string"), F.col("event_type")), 256),
            1,
            40,
        ),
    )
    writer = (
        survivors.writeStream.foreachBatch(integrated_sink(upsert, facts))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(no_data)
    spark.conf.set(no_data, "false")
    try:
        q = writer.start()
    finally:
        spark.conf.set(no_data, old)
    return q, upsert, facts


def read_cards(upsert: KeyedParquetTable, facts: SurvivorFactsTable) -> DataFrame | None:
    """Card read side: adapt the two state tables to the shapes
    ``cards_from_state`` expects and run the exact batch tail."""
    from ..queries.pipeline_e2e import cards_from_state

    state = upsert.read()
    fact_df = facts.read()
    if state is None or fact_df is None:
        return None
    adapted = state.select(
        "event_key",
        "event_type",
        F.unix_micros("start_ts").alias("start_ts_us"),
        F.unix_micros("last_ts").alias("last_ts_us"),
        "evidence_count",
        "last_value",
    )
    return cards_from_state(adapted, fact_df)
