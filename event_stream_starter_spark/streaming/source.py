"""Streaming sources (SURVEY.md §2.1 S1-S3, S12).

The reference's X poller keeps a per-handle ``since_id`` cursor in Redis
(worker/jobs/x_kol_poll.py:120-143); Spark's checkpointed source offsets
are the same contract, managed by the engine. A file-stream over a
landing directory is the default ingest: each micro-batch picks up new
files exactly once per checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def events_file_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Parquet landing-dir stream with an explicit schema (never inferred
    on the hot path, SURVEY §1.4) and bounded per-trigger intake
    (maxFilesPerTrigger ≈ the reference's batch LIMIT knobs, §4)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


DOCUMENTS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)


def documents_file_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Documents landing-dir stream (training-data ingest): explicit
    schema, bounded per-trigger intake — the corpus-side source for the
    streaming dedup/decontamination stages."""
    return (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic rate source shaped like the events table — used for
    soak/throughput testing of the pipeline without files."""
    from pyspark.sql import functions as F

    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("click", "view", "purchase", "error", "signup")]),
            (F.col("value") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 100).cast("double").alias("value"),
        F.concat(F.lit('{"k": '), (F.col("value") % 100).cast("string"), F.lit("}")).alias(
            "props"
        ),
    )


def events_jsonl_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """JSON-lines landing-dir stream — the reference's webhook/replay
    ingest bodies (POST /ingest/x/replay, api/routes/ingest_x.py:50-70)
    land as JSONL; schema is DECLARED (never inferred on the hot path),
    and malformed lines are quarantined to `_corrupt` (PERMISSIVE mode)
    instead of failing the stream — the reference returns 422 per bad
    record, same contract.

    ``ts`` contract: ISO-8601 strings or integer epoch SECONDS — that is
    what Spark's JSON reader parses into TimestampType (an integer is
    seconds, NOT micros; a micros producer would yield year-222737
    timestamps). Rows whose parsed ts lands outside [1970, 2200) are
    routed to the quarantine leg rather than silently poisoning every
    downstream watermark/window.
    """
    schema = StructType(
        list(EVENTS_STREAM_SCHEMA.fields)
        + [StructField("_corrupt", StringType(), True)]
    )
    from pyspark.sql import functions as F

    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(landing_dir)
    )
    ts_sane = F.col("ts").isNull() | (
        (F.col("ts") >= F.lit("1970-01-01")) & (F.col("ts") < F.lit("2200-01-01"))
    )
    flagged = df.withColumn(
        "_corrupt",
        F.when(F.col("_corrupt").isNotNull(), F.col("_corrupt")).when(
            ~ts_sane,
            F.concat(F.lit("ts_out_of_range:"), F.col("ts").cast("string")),
        ),
    )
    # Null the bogus ts on flagged rows (the raw value is preserved in
    # the _corrupt message): a year-222737 timestamp can't even be
    # collected into a Python datetime, so it must not survive as data.
    return flagged.withColumn("ts", F.when(ts_sane, F.col("ts")))


def events_orc_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """ORC landing-dir stream — the other columnar interchange format
    warehouses commonly export. Built-in Spark reader: same declared
    schema, and ORC scans get predicate pushdown + column pruning like
    parquet (asserted in tests). Avro would be the row-oriented
    equivalent, but the spark-avro connector module is not deployed in
    this environment (import-try rule: gated out rather than stubbed —
    `format("avro")` raises AnalysisException here)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .orc(landing_dir)
    )


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows, quarantined) — good rows drop the _corrupt column;
    quarantined rows keep the raw line for a dead-letter sink (the
    engine-side analog of the reference's per-record 422 response)."""
    good = df.filter(df["_corrupt"].isNull()).drop("_corrupt")
    # Keep the full row on the quarantine leg: Spark refuses a query that
    # references ONLY the corrupt-record column of a raw-file scan.
    bad = df.filter(df["_corrupt"].isNotNull())
    return good, bad
