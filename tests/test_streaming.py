"""Streaming shell tests: batch/stream parity on the sf0.001 events
parquet, keyed-table upsert idempotence, state-machine goldens, and
outbox policy checks. Streams use availableNow so runs terminate."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from event_stream_starter_spark.streaming import outbox as ob
from event_stream_starter_spark.streaming.keyed_table import (
    KeyedParquetTable,
    aggregate_batch,
)
from event_stream_starter_spark.streaming.pipeline import (
    deduped_stream,
    heat_counts_stream,
    run_to_completion,
    run_to_memory_table,
    with_event_key,
)
from event_stream_starter_spark.streaming.source import events_file_stream
from event_stream_starter_spark.streaming.state_machine import (
    apply_state_machine,
    replay_batch,
)


@pytest.fixture()
def landing(spark, sf_dir, tmp_path):
    """Copy the events parquet into a landing dir split so several
    micro-batches fire (maxFilesPerTrigger=4 over N files)."""
    from event_stream_starter_spark.io import load_table

    land = tmp_path / "landing"
    land.mkdir()
    # Re-write as multiple files so the file stream produces >1 batch
    # (load_table normalizes the nanos-timestamp to TimestampType).
    load_table(spark, sf_dir, "events").repartition(8).write.mode("overwrite").parquet(
        str(land / "split")
    )
    return str(land / "split")


def test_heat_counts_stream_equals_batch(spark, landing, tmp_path):
    stream = heat_counts_stream(events_file_stream(spark, landing))
    run_to_memory_table(stream, "heat_tbl", str(tmp_path / "ck1"), "complete")
    streamed = {
        (r["bucket_start"], r["event_type"]): (r["cnt"], r["total_value"])
        for r in spark.table("heat_tbl").collect()
    }
    batch = (
        spark.read.parquet(landing)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "event_type", "cnt", "total_value")
    )
    expected = {
        (r["bucket_start"], r["event_type"]): (r["cnt"], r["total_value"])
        for r in batch.collect()
    }
    assert streamed == expected


def test_dedup_stream_subset_and_key_unique(spark, landing, tmp_path):
    stream = deduped_stream(with_event_key(events_file_stream(spark, landing)))
    run_to_memory_table(stream, "dedup_tbl", str(tmp_path / "ck2"), "append")
    out = spark.table("dedup_tbl")
    n = out.count()
    n_keys = out.select("event_key").distinct().count()
    batch_keys = with_event_key(spark.read.parquet(landing)).select("event_key").distinct().count()
    # Exactly one survivor per key, and every key survives.
    assert n == n_keys == batch_keys


def test_keyed_table_upsert_equals_batch_agg(spark, landing, tmp_path):
    table = KeyedParquetTable(spark, str(tmp_path / "events_state"))
    stream = with_event_key(events_file_stream(spark, landing))
    run_to_completion(stream, table.foreach_batch_writer(), str(tmp_path / "ck3"))

    result = table.read().drop("last_batch_id")
    batch = aggregate_batch(with_event_key(spark.read.parquet(landing)))
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    # Idempotence: re-applying the last batch must be a no-op for counts.
    last_v = table.current_version()
    df = spark.read.parquet(landing)
    table.upsert_batch(with_event_key(df), batch_id=0)  # replayed batch_id
    replayed = table.read()
    assert replayed.agg(F.sum("evidence_count")).first()[0] == result.agg(
        F.sum("evidence_count")
    ).first()[0]
    assert table.current_version() == last_v + 1


def test_state_machine_stream_matches_python_replay(spark, tmp_path):
    rows = [
        # key A: two errors, hold, error → cooldown; upgrade inside cooldown ignored
        {"event_key": "A", "ts_us": 1, "verdict": "error"},
        {"event_key": "A", "ts_us": 2, "verdict": "error"},
        {"event_key": "A", "ts_us": 3, "verdict": "hold"},
        {"event_key": "A", "ts_us": 4, "verdict": "error"},
        {"event_key": "A", "ts_us": 5, "verdict": "error"},
        {"event_key": "A", "ts_us": 6, "verdict": "error"},
        {"event_key": "A", "ts_us": 7, "verdict": "upgrade"},  # in cooldown → ignored
        # key B: straight upgrade then downgrade attempt (sticky terminal)
        {"event_key": "B", "ts_us": 1, "verdict": "upgrade"},
        {"event_key": "B", "ts_us": 2, "verdict": "downgrade"},
        # key C: downgrade wins
        {"event_key": "C", "ts_us": 1, "verdict": "hold"},
        {"event_key": "C", "ts_us": 2, "verdict": "downgrade"},
    ]
    src_dir = tmp_path / "verdicts"
    spark.createDataFrame(
        rows, "event_key string, ts_us long, verdict string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src_dir))

    stream = (
        spark.readStream.schema("event_key string, ts_us long, verdict string")
        .parquet(str(src_dir))
    )
    out = apply_state_machine(stream)
    run_to_memory_table(out, "sm_tbl", str(tmp_path / "ck4"), "update")
    got = {
        r["event_key"]: (r["state"], r["fail_count"])
        for r in spark.table("sm_tbl").collect()
    }
    want = {k: (v[0], v[1]) for k, v in replay_batch(rows).items()}
    assert got == want
    assert got["B"][0] == "verified"
    assert got["C"][0] == "downgraded"
    assert got["A"][0] == "candidate"


def test_metrics_listener_collects_progress(spark, landing, tmp_path):
    from event_stream_starter_spark.streaming.observability import MetricsListener

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = heat_counts_stream(events_file_stream(spark, landing))
        q = (
            stream.writeStream.format("memory")
            .queryName("obs_tbl")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck_obs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Listener events are delivered asynchronously post-termination.
        import time

        expected_rows = spark.read.parquet(landing).count()
        for _ in range(50):
            snap = listener.snapshot()
            m = snap.get("obs_tbl")
            if m and m["total_input_rows"] >= expected_rows:
                break
            time.sleep(0.2)
        assert m is not None
        assert m["n_batches"] >= 1
        assert m["total_input_rows"] == expected_rows
        assert m["last_state_rows"] is not None and m["last_state_rows"] > 0
        assert not m["errors"]
        # Termination events carry only the query id — the listener must
        # fold them into the NAMED entry, not an orphan UUID row.
        for _ in range(50):
            m = listener.snapshot()["obs_tbl"]
            if m["last_event"] == "terminated":
                break
            time.sleep(0.2)
        assert m["last_event"] == "terminated"
        assert set(listener.snapshot()) == {"obs_tbl"}
        # Batch durations feed the /metrics histogram (one sample per
        # progress event), and the exposition picks them up.
        samples = listener.latency_samples()
        assert len(samples) == listener.snapshot()["obs_tbl"]["n_batches"]
        from event_stream_starter_spark.streaming.prom import build_prom_text

        body = build_prom_text(latency_samples_ms=samples)
        assert f"pipeline_latency_ms_count {len(samples)}" in body
    finally:
        spark.streams.removeListener(listener)


def test_rate_stream_is_shaped_like_events_and_follows_its_value_law(
    spark, sf_dir, tmp_path
):
    """The synthetic rate source has the events table's dtypes; a short
    processingTime run commits rows derived from the rate counter:
    user_id = n % 50, event_type cycling over the 5 names, value and
    props from n % 100."""
    import time

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.streaming.source import rate_stream

    stream = rate_stream(spark, rows_per_second=20)
    assert stream.dtypes == load_table(spark, sf_dir, "events").dtypes
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_tbl")
        .option("checkpointLocation", str(tmp_path / "ck_rate"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while spark.table("rate_tbl").count() < 10 and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    rows = sorted(spark.table("rate_tbl").collect(), key=lambda r: r.event_id)
    assert len(rows) >= 10
    assert [r.event_id for r in rows] == list(range(len(rows)))
    names = ("click", "view", "purchase", "error", "signup")
    for r in rows:
        n = r.event_id
        assert r.ts is not None
        assert r.user_id == n % 50
        assert r.event_type == names[n % 5]
        assert r.value == float(n % 100)
        assert r.props == f'{{"k": {n % 100}}}'


def test_ema_stream_matches_batch_fold(spark, sf_dir, tmp_path):
    """Ordered landing (one ts-range file per batch) → streamed EMA must
    equal the batch fold over the ts-ordered series."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.streaming.ema import ema_fold, ema_stream

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("key"),
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    land = tmp_path / "ema_land"
    land.mkdir()
    step = (hi - lo) // 4 + 1
    import glob

    for i in range(4):  # sequential ts-range slices, increasing mtimes
        part = ev.filter(
            (F.col("ts_us") >= lo + i * step) & (F.col("ts_us") < lo + (i + 1) * step)
        )
        part.coalesce(1).write.mode("overwrite").parquet(str(land / f"slice{i}"))
        # Deterministic FileStreamSource ordering without wall-clock
        # sleeps: pin strictly increasing mtimes (same pattern as the
        # packing tests).
        for f in glob.glob(str(land / f"slice{i}" / "*.parquet")):
            os.utime(f, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema("key string, ts_us long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "slice*"))
    )
    run_to_memory_table(ema_stream(stream), "ema_tbl", str(tmp_path / "ck_ema"), "update")
    # update mode: last row per key wins
    final = {}
    for r in spark.table("ema_tbl").collect():
        cur = final.get(r["key"])
        if cur is None or r["last_ts_us"] >= cur[0]:
            final[r["key"]] = (r["last_ts_us"], r["ema"])

    batch = ev.orderBy("ts_us").collect()
    series: dict[str, list[float]] = {}
    for r in batch:
        series.setdefault(r["key"], []).append(r["value"])
    for key, vals in series.items():
        expect = ema_fold(None, vals, 0.3)
        assert abs(final[key][1] - expect) < 1e-9, key


def test_outbox_policies(spark):
    now = F.to_timestamp(F.lit("2024-01-02 00:00:00"))
    rows = [
        # id, event_key, payload, created_at, attempt, status, next_try_at, ok, status_code, retry_after
        (1, "k1", "{}", "2024-01-01 00:00:00", 0, "pending", None, True, 200, None),
        (2, "k2", "{}", "2024-01-01 00:00:01", 5, "retry", None, False, 500, None),
        (3, "k3", "{}", "2024-01-01 00:00:02", 0, "retry", None, False, 429, 7),
        (4, "k4", "{}", "2024-01-01 00:00:03", 0, "pending", None, False, 404, None),
        (5, "k5", "{}", "2024-01-01 00:00:04", 19, "retry", None, False, 500, None),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, event_key string, payload_json string, created_at string, "
        "attempt int, status string, next_try_at timestamp, ok boolean, "
        "status_code int, retry_after int",
    ).withColumn("created_at", F.to_timestamp("created_at"))

    out = {r["id"]: r for r in ob.apply_delivery_result(df, now).collect()}
    assert out[1]["status"] == "done" and out[1]["next_try_at"] is None
    assert out[2]["status"] == "retry"
    # 5xx backoff: 2^6=64s with ±30% jitter → [44.8, 83.2] sec after now
    import datetime

    base = datetime.datetime(2024, 1, 2, 0, 0, 0)
    d2 = (out[2]["next_try_at"] - base).total_seconds()
    assert 44 <= d2 <= 84
    # 429 honors Retry-After exactly
    d3 = (out[3]["next_try_at"] - base).total_seconds()
    assert d3 == 7
    # permanent 4xx → dlq
    assert out[4]["status"] == "dlq"
    # attempt cap → dlq
    assert out[5]["status"] == "dlq"

    # due/order policy
    pend = spark.createDataFrame(
        [
            (1, None, "2024-01-01 00:00:05", "retry"),
            (2, "2024-01-01 00:00:01", "2024-01-01 00:00:06", "retry"),
            (3, "2025-01-01 00:00:00", "2024-01-01 00:00:07", "retry"),
            (4, None, "2024-01-01 00:00:01", "done"),
        ],
        "id long, next_try_at string, created_at string, status string",
    ).select(
        "id",
        F.to_timestamp("next_try_at").alias("next_try_at"),
        F.to_timestamp("created_at").alias("created_at"),
        "status",
    )
    due = pend.filter(ob.due_filter(now))
    ordered = [r["id"] for r in ob.delivery_order(due).collect()]
    assert ordered == [1, 2]  # 3 not due yet, 4 done; NULL next_try first


def test_state_machine_ttl_timeout_branch_emits_tombstone():
    """Deterministic unit test of the TTL expiry path: a timed-out key's
    state is removed and an 'expired' tombstone row is emitted (the
    contract that bounds state size at scale)."""
    from event_stream_starter_spark.streaming.state_machine import _make_apply_group

    class FakeState:
        def __init__(self):
            self.exists = True
            self.hasTimedOut = True
            self.get = ("candidate", 2, 0)
            self.removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(_make_apply_group(60_000)(("K",), iter([]), st))
    assert st.removed
    assert len(out) == 1 and out[0].iloc[0]["state"] == "expired"
    assert out[0].iloc[0]["fail_count"] == 2



def test_jsonl_stream_ingests_and_quarantines(spark, tmp_path):
    """JSONL replay ingest: good lines become typed rows, malformed lines
    land in the quarantine leg instead of failing the stream."""
    from event_stream_starter_spark.streaming.source import (
        events_jsonl_stream,
        quarantine_split,
    )

    land = tmp_path / "jsonl"
    land.mkdir()
    (land / "a.jsonl").write_text(
        '{"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 7,'
        ' "event_type": "view", "value": 1.5, "props": "{}"}\n'
        "this is not json\n"
        '{"event_id": 2, "ts": "2024-01-01T00:01:00Z", "user_id": 8,'
        ' "event_type": "click", "value": 2.0, "props": "{}"}\n'
        '{"event_id": 3, "ts": 1704067200, "user_id": 9,'
        ' "event_type": "view", "value": 3.0, "props": "{}"}\n'
        '{"event_id": 4, "ts": 1704067200000000, "user_id": 9,'
        ' "event_type": "view", "value": 4.0, "props": "{}"}\n'
    )
    good, bad = quarantine_split(events_jsonl_stream(spark, str(land)))
    qg = (
        good.writeStream.format("memory").queryName("jl_good")
        .option("checkpointLocation", str(tmp_path / "ckg")).start()
    )
    qb = (
        bad.writeStream.format("memory").queryName("jl_bad")
        .option("checkpointLocation", str(tmp_path / "ckb")).start()
    )
    qg.processAllAvailable(); qb.processAllAvailable()
    qg.stop(); qb.stop()
    rows = {r["event_id"]: r["event_type"] for r in spark.table("jl_good").collect()}
    # Integer ts is epoch SECONDS (3); an epoch-MICROS producer (4) is
    # quarantined as ts_out_of_range, not parsed into year 222737.
    assert rows == {1: "view", 2: "click", 3: "view"}
    good_ts = {r["event_id"]: r["ts"] for r in spark.table("jl_good").collect()}
    assert good_ts[3] == good_ts[1]  # 1704067200s == 2024-01-01T00:00:00Z
    bad = spark.table("jl_bad").collect()
    assert len(bad) == 2
    flags = {str(r["_corrupt"]) for r in bad}
    assert any(f.startswith("ts_out_of_range:") for f in flags)


def test_merge_laws_order_independent_under_ts_ties(spark):
    """Property test (SURVEY §7.4): applying batches in ANY order yields
    the same keyed state as one global aggregate — including duplicate
    timestamps per key, where a naive 'incoming wins on >=' rule (or
    max_by(value, ts)) silently becomes arrival-order-dependent."""
    from hypothesis import given, settings, strategies as st

    from event_stream_starter_spark.streaming.keyed_table import (
        STATE_COLS,
        aggregate_batch,
        merge_states,
    )

    def run(events, split):
        batches = [events[:split], events[split:]]
        empty = spark.createDataFrame(
            [], "event_key string, start_ts long, last_ts long, evidence_count long,"
            " max_weight double, last_value double, last_batch_id long"
        ).select(*STATE_COLS, "last_batch_id")
        state = empty
        for bid, b in enumerate(batches):
            if not b:
                continue
            bdf = aggregate_batch(
                spark.createDataFrame(b, "event_key string, ts long, value double")
            )
            state = merge_states(state, bdf, bid)
        return {
            r["event_key"]: (
                r["start_ts"], r["last_ts"], r["evidence_count"],
                r["max_weight"], r["last_value"],
            )
            for r in state.collect()
        }

    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(["A", "B"]),
                st.integers(min_value=0, max_value=3),  # tiny ts domain → ties
                st.sampled_from([1.0, 2.0, 5.0, 9.0]),
            ),
            min_size=1,
            max_size=8,
        ),
        split=st.integers(min_value=0, max_value=8),
    )
    def check(rows, split):
        split = min(split, len(rows))
        forward = run(rows, split)
        backward = run(rows[::-1], len(rows) - split)
        assert forward == backward
        # And both equal the single global aggregate.
        g = {
            r["event_key"]: (
                r["start_ts"], r["last_ts"], r["evidence_count"],
                r["max_weight"], r["last_value"],
            )
            for r in aggregate_batch(
                spark.createDataFrame(rows, "event_key string, ts long, value double")
            ).collect()
        }
        assert forward == g

    check()


def test_tws_state_machine_matches_python_replay(spark, tmp_path):
    """transformWithState implementation must agree with the same
    pure-Python replay oracle as the classic applyInPandasWithState one
    (identical transition semantics, newer engine API)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs the protobuf wheel (absent here; "
        "the applyInPandasWithState implementation is the tested default)",
    )
    from event_stream_starter_spark.streaming.state_machine import replay_batch
    from event_stream_starter_spark.streaming.tws_state_machine import (
        apply_state_machine_tws,
    )

    rows = [
        {"event_key": "A", "ts_us": 1, "verdict": "error"},
        {"event_key": "A", "ts_us": 2, "verdict": "error"},
        {"event_key": "A", "ts_us": 3, "verdict": "error"},
        {"event_key": "A", "ts_us": 4, "verdict": "upgrade"},  # in cooldown
        {"event_key": "B", "ts_us": 1, "verdict": "upgrade"},
        {"event_key": "B", "ts_us": 2, "verdict": "downgrade"},  # sticky
        {"event_key": "C", "ts_us": 1, "verdict": "hold"},
    ]
    src = tmp_path / "tws_src"
    src.mkdir()
    spark.createDataFrame(
        [(r["event_key"], r["ts_us"], r["verdict"]) for r in rows],
        "event_key string, ts_us long, verdict string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "event_key string, ts_us long, verdict string"
    ).parquet(str(src))
    out = apply_state_machine_tws(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_states")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_tws"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["event_key"]: (r["state"], r["fail_count"])
        for r in spark.table("tws_states").collect()
    }
    want = {
        k: (st, fails) for k, (st, fails, _cd) in replay_batch(rows).items()
    }
    assert got == want


def test_streaming_neardup_matches_one_shot_and_replay_safe(spark, sf_dir, tmp_path):
    """Documents streamed in several micro-batches through the
    incremental near-dup sink must yield exactly the one-shot
    minhash_lsh_pairs result over the full corpus; replaying a
    committed batch is a no-op."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.dedup import minhash_lsh_pairs
    from event_stream_starter_spark.streaming.incremental_dedup import (
        StreamingNearDup,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = tmp_path / "docs_landing"
    docs.repartition(4).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    nd = StreamingNearDup(
        spark, str(tmp_path / "nd_state"), threshold=0.5, num_hashes=64,
        bands=16, shingle_n=5,
    )
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    run_to_completion(stream, nd.foreach_batch_writer(), str(tmp_path / "nd_ck"))
    # Every micro-batch unions the FULL index into a persisted frame; the
    # sink must release those caches or a long stream pins O(corpus)
    # blocks per batch.
    assert (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= cached_before
    )

    def as_set(df):
        return {
            (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9)) for r in df.collect()
        }

    got = as_set(nd.pairs())
    want = as_set(
        minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=64, bands=16,
            shingle_n=5,
        )
    )
    assert got == want
    assert nd.read_index().count() == docs.count()

    # Replay a committed batch id: nothing changes.
    n_before = nd.pairs().count()
    last = nd.last_batch_id()
    nd.process_batch(docs.limit(5), last)
    assert nd.pairs().count() == n_before
    assert nd.last_batch_id() == last


def test_decontaminate_stream_equals_batch_query(spark, sf_dir, tmp_path):
    """Streaming decontamination (stream-static broadcast probe) must
    produce exactly the batch x_decontaminate result on the same corpus
    — the training-data ops run under the streaming shell unchanged."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.dedup import token_shingles
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.pipeline import (
        decontaminate_batch,
        decontaminated_stream,
        run_to_completion,
    )
    from event_stream_starter_spark.streaming.source import documents_file_stream

    docs = load_table(spark, sf_dir, "documents")
    land = str(tmp_path / "docs_landing")
    # Train side only on the stream; eval side is the static dim.
    docs.filter(F.col("source") != "src0").repartition(6).write.mode(
        "overwrite"
    ).parquet(land)
    eval_grams = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode(token_shingles(F.col("text"), 13)).alias("gram"))
        .distinct()
    )
    stream = decontaminated_stream(
        documents_file_stream(spark, land, max_files_per_trigger=2), eval_grams
    )
    rows: list = []

    def sink(batch, batch_id):
        rows.extend(decontaminate_batch(batch).collect())

    run_to_completion(stream, sink, str(tmp_path / "ck_decon"))
    streamed = {
        (r["doc_id"], r["source"], r["n_hit_grams"], r["n_grams"], r["hit_ratio"])
        for r in rows
    }
    assert len(streamed) == len(rows)  # per-batch rollups never overlap
    batch = {
        (r["doc_id"], r["source"], r["n_hit_grams"], r["n_grams"], r["hit_ratio"])
        for r in all_queries()["x_decontaminate"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_packing_stream_equals_batch_query(spark, sf_dir, tmp_path):
    """Streaming packer (8-byte cursor state per source) must reproduce
    the batch x_pack_sequences layout when docs arrive in doc_id order
    — four mtime-ordered landing files so availableNow runs four
    micro-batches and the cursor state carries across them."""
    import os as _os

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.packing import packing_stream
    from event_stream_starter_spark.streaming.pipeline import run_to_memory_table
    from event_stream_starter_spark.streaming.source import documents_file_stream

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").collect()
    land = tmp_path / "pack_landing"
    land.mkdir()
    quarter = (len(docs) + 3) // 4
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for i in range(4):
        chunk = docs[i * quarter : (i + 1) * quarter]
        if not chunk:
            continue
        spark.createDataFrame(
            [[r[c] for c in cols] for r in chunk], schema=cols
        ).coalesce(1).write.mode("overwrite").parquet(str(land / f"chunk{i}"))
        for f in (land / f"chunk{i}").glob("*.parquet"):
            _os.utime(f, (1_000_000 + i, 1_000_000 + i))  # FileStreamSource orders by mtime
    # One landing dir with all files visible via glob path.
    stream = packing_stream(
        documents_file_stream(spark, str(land / "chunk*"), max_files_per_trigger=1)
    )
    run_to_memory_table(stream, "pack_tbl", str(tmp_path / "ck_pack"), "append")
    streamed = {
        (r["doc_id"], r["source"], r["ntok"], r["seq_id"], r["seq_offset"], r["seq_end"])
        for r in spark.table("pack_tbl").collect()
    }
    batch = {
        (r["doc_id"], r["source"], r["ntok"], r["seq_id"], r["seq_offset"], r["seq_end"])
        for r in all_queries()["x_pack_sequences"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_packing_stream_checkpoint_restart_continues_cursor(spark, sf_dir, tmp_path):
    """ST5 for the packer: stop after draining the corpus, land MORE
    docs, restart on the SAME checkpoint — only the new docs are
    emitted, and their positions continue from the persisted per-source
    cursor exactly as if the whole corpus had streamed in one run."""
    import os as _os

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.packing import packing_stream
    from event_stream_starter_spark.streaming.pipeline import run_to_completion
    from event_stream_starter_spark.streaming.source import documents_file_stream

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").collect()
    half = len(docs) // 2
    land = tmp_path / "pack_restart_landing"
    land.mkdir()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def land_chunk(idx, chunk):
        spark.createDataFrame(
            [[r[c] for c in cols] for r in chunk], schema=cols
        ).coalesce(1).write.mode("overwrite").parquet(str(land / f"chunk{idx}"))
        for f in (land / f"chunk{idx}").glob("*.parquet"):
            _os.utime(f, (1_000_000 + idx, 1_000_000 + idx))

    land_chunk(0, docs[:half])
    ck = str(tmp_path / "ck_pack_restart")
    stream = lambda: packing_stream(  # noqa: E731
        documents_file_stream(spark, str(land / "chunk*"), max_files_per_trigger=1)
    )
    # foreachBatch sinks: the memory sink refuses checkpoint recovery.
    first_rows: list = []
    run_to_completion(stream(), lambda b, _id: first_rows.extend(b.collect()), ck)
    assert {r["doc_id"] for r in first_rows} == {r["doc_id"] for r in docs[:half]}

    land_chunk(1, docs[half:])
    second: list = []
    run_to_completion(stream(), lambda b, _id: second.extend(b.collect()), ck)
    # Restarted query emits ONLY the new docs (no replay of chunk 0)...
    assert {r["doc_id"] for r in second} == {r["doc_id"] for r in docs[half:]}
    # ...and their layout equals the one-shot batch computation over
    # the full corpus: the cursor state survived the restart.
    batch = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"], r["seq_end"])
        for r in all_queries()["x_pack_sequences"].fn(spark, sf_dir).collect()
    }
    for r in second:
        assert (r["seq_id"], r["seq_offset"], r["seq_end"]) == batch[r["doc_id"]]


def test_orc_stream_equals_parquet_batch_and_pushdown(spark, sf_dir, tmp_path):
    """ORC source format: streamed rows equal the parquet batch read, and
    a batch ORC scan pushes predicates + prunes columns like parquet —
    format breadth without losing the scan-level optimizations."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.plans.inspect import plan_features
    from event_stream_starter_spark.streaming.source import events_orc_stream

    events = load_table(spark, sf_dir, "events")
    orc_dir = str(tmp_path / "orc_land")
    events.repartition(8).write.mode("overwrite").orc(orc_dir)

    agg = events_orc_stream(spark, orc_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    run_to_memory_table(agg, "orc_tbl", str(tmp_path / "ck_orc"), "complete")
    streamed = {
        (r["event_type"], r["cnt"]) for r in spark.table("orc_tbl").collect()
    }
    batch = {
        (r["event_type"], r["cnt"])
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert streamed == batch

    scan = (
        spark.read.orc(orc_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id")
    )
    feats = plan_features(scan)
    assert any("event_type" in p for p in feats.pushed_filters), feats.pushed_filters
    assert all(cols <= {"event_id", "event_type"} for cols in feats.scan_columns)


def test_dlq_roundtrip_and_max_age(spark):
    """S10 producer/consumer schema consistency: apply_delivery_result →
    to_dlq_rows → dlq_recover reconstructs the outbox row (attempt
    reset, status retry), and rows older than max-age are discarded."""
    now = F.to_timestamp(F.lit("2024-01-02 00:00:00"))
    df = spark.createDataFrame(
        [
            (4, "k4", '{"p":1}', "2024-01-01 00:00:03", 0, "pending", None, False, 404, None),
            (5, "k5", '{"p":2}', "2024-01-01 00:00:04", 19, "retry", None, False, 500, None),
        ],
        "id long, event_key string, payload_json string, created_at string, "
        "attempt int, status string, next_try_at timestamp, ok boolean, "
        "status_code int, retry_after int",
    ).withColumn("created_at", F.to_timestamp("created_at"))

    dlq = ob.to_dlq_rows(ob.apply_delivery_result(df, now), now)
    assert set(dlq.columns) == {"id", "ref_id", "snapshot", "failed_at"}
    assert dlq.count() == 2  # 404 permanent + attempt cap

    # Age one row beyond max-age: only the young row is recovered.
    aged = dlq.withColumn(
        "failed_at",
        F.when(F.col("ref_id") == 5, F.to_timestamp(F.lit("2024-01-01 00:00:00")))
        .otherwise(F.col("failed_at")),
    )
    rec = {r["id"]: r for r in ob.dlq_recover(aged, now, max_age_sec=3600).collect()}
    assert set(rec) == {4}
    r = rec[4]
    assert r["event_key"] == "k4" and r["payload_json"] == '{"p":1}'
    assert r["attempt"] == 0 and r["status"] == "retry"
    assert r["next_try_at"] is None and r["created_at"] is not None


def test_topic_counts_stream_equals_batch_query(spark, landing, tmp_path):
    """A2 as a running complete-mode aggregate: the streamed per-topic
    result table must equal the a2_topic_aggregate batch query over the
    same rows (SURVEY §3.3 — reads become lookups into a continuously
    updated table)."""
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.pipeline import topic_counts_stream

    stream = topic_counts_stream(events_file_stream(spark, landing))
    run_to_memory_table(stream, "topic_tbl", str(tmp_path / "ck_topic"), "complete")
    streamed = {
        r["topic_hash"]: (r["mention_count"], r["last_ts_us"], r["entities"])
        for r in spark.table("topic_tbl").collect()
    }
    # Batch oracle over the SAME landing rows (sf_dir's a2 query reads the
    # canonical events table; the landing copy is identical rows).
    batch_df = topic_counts_stream(spark.read.parquet(landing))
    batch = {
        r["topic_hash"]: (r["mention_count"], r["last_ts_us"], r["entities"])
        for r in batch_df.collect()
    }
    assert streamed == batch
    # Same output shape as the registered a2_topic_aggregate query.
    a2 = all_queries()["a2_topic_aggregate"]
    assert set(spark.table("topic_tbl").columns) == {
        "topic_hash",
        "mention_count",
        "last_ts_us",
        "entities",
    } == set(a2.fn(spark, "/root/testdata/sf0.001").columns)


def test_topic_windowed_stream_update_mode_equals_batch(spark, landing, tmp_path):
    """A2 scale form: watermark-bounded windowed aggregate in UPDATE mode
    (state = topics × live windows, NOT all-time topics) + last-emit-wins
    rollup must equal the a2 batch totals over the same rows. The landing
    split is multi-file (maxFilesPerTrigger=2 over 8 files), so several
    micro-batches genuinely re-emit updated window partials; the
    watermark is wider than the data span so no row is late-dropped and
    exact equality is provable (the drop law itself is ST3-declared)."""
    from event_stream_starter_spark.streaming.pipeline import (
        topic_counts_stream,
        topic_counts_windowed_stream,
        topic_rollup_batch,
    )

    out_dir = str(tmp_path / "topic_windows")
    stream = topic_counts_windowed_stream(
        events_file_stream(spark, landing, max_files_per_trigger=2),
        watermark="365 days",
    )

    def sink(batch, batch_id):
        batch.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_topic_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = spark.read.parquet(out_dir)
    n_batches = emitted.select("batch_id").distinct().count()
    assert n_batches > 1, "expected multiple micro-batches (update re-emits)"

    # Last emit wins per (window, topic) — the S8 keyed-upsert read side.
    w = Window.partitionBy("window_start_us", "topic_hash").orderBy(
        F.col("batch_id").desc()
    )
    latest = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "batch_id")
    )
    streamed = {
        r["topic_hash"]: (r["mention_count"], r["last_ts_us"], r["entities"])
        for r in topic_rollup_batch(latest).collect()
    }
    batch = {
        r["topic_hash"]: (r["mention_count"], r["last_ts_us"], r["entities"])
        for r in topic_counts_stream(spark.read.parquet(landing)).collect()
    }
    assert streamed == batch


def test_sessionized_stream_append_equals_batch_closed_sessions(
    spark, landing, tmp_path
):
    """Gap-sessionization stream==batch parity: `session_window` in batch
    mode must group exactly like x_sessionize's lag+cumsum composition,
    and the APPEND-mode stream must emit exactly the sessions the
    watermark has closed (end < final watermark). Single-batch ingest so
    no row can be late-dropped; the drop law itself is ST3-declared."""
    from event_stream_starter_spark.streaming.pipeline import sessionized_stream

    # Batch form of the same session_window aggregation.
    batch = sessionized_stream(spark.read.parquet(landing))
    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in batch.collect()
    }
    want = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in _sessionize_batch_oracle(spark, landing).collect()
    }
    assert got == want

    # Streaming append: one mega-batch (no late data possible), then the
    # availableNow closing trigger advances the watermark and flushes
    # closed sessions.
    stream = sessionized_stream(
        events_file_stream(spark, landing, max_files_per_trigger=1000),
        watermark="1 minute",
    )
    run_to_memory_table(stream, "sess_tbl", str(tmp_path / "ck_sess"), "append")
    streamed = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.table("sess_tbl").collect()
    }
    max_ts_us = (
        spark.read.parquet(landing).agg(F.max(F.unix_micros("ts"))).first()[0]
    )
    cutoff = max_ts_us - 60 * 1_000_000  # final watermark
    closed = {s for s in want if s[2] + 30 * 60 * 1_000_000 < cutoff}
    assert streamed == closed
    assert streamed, "watermark closed no sessions — test vacuous"


def _sessionize_batch_oracle(spark, landing):
    """x_sessionize's lag+cumsum law applied to the landing copy (same
    rows, different directory than the registered query's sf_dir)."""
    ev = spark.read.parquet(landing)
    us = F.unix_micros("ts")
    w_order = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    gap = us - F.lag(us).over(w_order)
    is_start = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    numbered = ev.select(
        "user_id", "event_id", us.alias("ts_us"), is_start.alias("is_start")
    ).withColumn(
        "session_no",
        F.sum("is_start").over(
            Window.partitionBy("user_id")
            .orderBy("ts_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


def test_conversion_stream_stream_join_equals_batch(spark, landing, tmp_path):
    """Watermarked stream-stream inner join (clicks x purchases within a
    1h horizon per user) must equal the batch join over the same rows.
    Multi-batch ingest is fine for an INNER join: a match emits once both
    rows have arrived, and inner results are never retracted; the
    watermark only expires state (no row here is later than watermark
    minus horizon relative to its partner within one availableNow run)."""
    from event_stream_starter_spark.streaming.pipeline import conversion_join_stream

    stream = conversion_join_stream(
        events_file_stream(spark, landing), watermark="365 days"
    )
    run_to_memory_table(stream, "conv_tbl", str(tmp_path / "ck_conv"), "append")
    streamed = {
        (r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in spark.table("conv_tbl").collect()
    }
    batch = {
        (r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in conversion_join_stream(spark.read.parquet(landing)).collect()
    }
    assert streamed == batch
    assert batch, "no conversions in fixture — test vacuous"


def test_backoff_transient_4xx_and_short_429(spark):
    """Reference parity (outbox_retry.py:267-313): 429 without
    Retry-After backs off 1-3s (not the moderate-exponential branch);
    408/423/425 are transient 4xx — retried, never DLQ'd."""
    now = F.to_timestamp(F.lit("2024-01-02 00:00:00"))
    rows = [
        (1, "k1", "{}", 0, "retry", False, 429, None),   # no Retry-After
        (2, "k2", "{}", 0, "retry", False, 408, None),   # transient 4xx
        (3, "k3", "{}", 0, "retry", False, 423, None),
        (4, "k4", "{}", 0, "retry", False, 425, None),
        (5, "k5", "{}", 0, "retry", False, 410, None),   # permanent 4xx
    ]
    df = spark.createDataFrame(
        rows,
        "id long, event_key string, payload_json string, attempt int, "
        "status string, ok boolean, status_code int, retry_after int",
    ).withColumn("created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    out = {r["id"]: r for r in ob.apply_delivery_result(df, now).collect()}
    import datetime

    base = datetime.datetime(2024, 1, 2, 0, 0, 0)
    d1 = (out[1]["next_try_at"] - base).total_seconds()
    assert out[1]["status"] == "retry" and 1 <= d1 <= 3
    for i in (2, 3, 4):
        assert out[i]["status"] == "retry", i
    assert out[5]["status"] == "dlq"


class _FakeGroupState:
    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None


def test_state_machine_folds_across_chunks_in_event_time_order():
    """A key's rows can arrive split across Arrow chunks in ARBITRARY
    order; chunk-local sorting would apply a later upgrade before an
    earlier downgrade (sticky-terminal divergence). The fold must
    concat all chunks, then sort once."""
    import pandas as pd

    from event_stream_starter_spark.streaming.state_machine import _make_apply_group

    chunk1 = pd.DataFrame([{"ts_us": 2, "verdict": "upgrade"},
                           {"ts_us": 3, "verdict": "hold"}])
    chunk2 = pd.DataFrame([{"ts_us": 1, "verdict": "downgrade"}])
    state = _FakeGroupState()
    out = list(_make_apply_group(None)(("K",), iter([chunk1, chunk2]), state))
    row = out[0].iloc[0]
    # Event-time order: downgrade@1 fires first and is sticky.
    assert row["state"] == "downgraded"
    assert row["last_ts_us"] == 3


def test_ema_folds_across_chunks_and_null_resets():
    """Same chunk-order law for the EMA fold, plus the NULL law: a NULL
    value resets the accumulator (matching the batch aggregate in
    ema_last) instead of poisoning the state with NaN forever."""
    import math

    import pandas as pd

    from event_stream_starter_spark.streaming.ema import _make_fn, ema_fold

    # Chunk order vs event-time order: chunks [[ts3=30], [ts1=10, ts2=20]].
    chunk1 = pd.DataFrame([{"ts_us": 3, "value": 30.0}])
    chunk2 = pd.DataFrame([{"ts_us": 1, "value": 10.0}, {"ts_us": 2, "value": 20.0}])
    state = _FakeGroupState()
    out = list(_make_fn(0.5)(("K",), iter([chunk1, chunk2]), state))
    got = out[0].iloc[0]["ema"]
    want = ema_fold(None, [10.0, 20.0, 30.0], 0.5)
    assert got == want and not math.isnan(got)

    # NULL value: resets, next value restarts (no NaN in state).
    state2 = _FakeGroupState()
    pdf = pd.DataFrame([{"ts_us": 1, "value": 5.0},
                        {"ts_us": 2, "value": None},
                        {"ts_us": 3, "value": 7.0}])
    out2 = list(_make_fn(0.5)(("K",), iter([pdf]), state2))
    assert out2[0].iloc[0]["ema"] == 7.0
    assert state2.get[1] == 7.0


def test_keyed_table_gc_bounds_snapshot_count(spark, tmp_path):
    """Snapshot GC: a long-running stream must not accumulate one full
    table copy per micro-batch — only the retention window survives."""
    import os

    table = KeyedParquetTable(spark, str(tmp_path / "gc_state"), keep_versions=2)
    df = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:00", 1.0)], "event_key string, ts string, value double"
    ).select("event_key", F.to_timestamp("ts").alias("ts"), "value")
    for b in range(5):
        table.upsert_batch(df, batch_id=b)
    versions = sorted(
        n for n in os.listdir(str(tmp_path / "gc_state")) if n.startswith("v")
    )
    assert versions == ["v4", "v5"]  # current + one grace version
    assert table.read().count() == 1


def test_topic_rollup_flattens_nested_entities_and_handles_null(spark):
    """Upstream vectors (reference tests/test_topic_unit.py:148-205):
    the topic aggregate must flatten nested per-window entity arrays
    into a deduped sorted set, and a NULL entities array must roll up
    gracefully (empty string, not a crash)."""
    from event_stream_starter_spark.streaming.pipeline import topic_rollup_batch

    rows = [
        ("t.hash1", 0, 1, 100, ["pepe"]),
        ("t.hash1", 1, 1, 200, ["pepe", "gem"]),
        ("t.hash1", 2, 1, 300, ["gem"]),
        ("t.hash2", 0, 1, 50, None),
    ]
    df = spark.createDataFrame(
        rows,
        "topic_hash string, window_start_us long, mention_count long,"
        " last_ts_us long, entities_set array<string>",
    )
    got = {
        r["topic_hash"]: (r["mention_count"], r["last_ts_us"], r["entities"])
        for r in topic_rollup_batch(df).collect()
    }
    assert got["t.hash1"] == (3, 300, "gem,pepe")  # flattened + deduped + sorted
    assert got["t.hash2"][0] == 1 and got["t.hash2"][2] in ("", None)


def test_u5_memeable_reference_vectors(spark):
    """Upstream vectors (reference tests/test_topic_unit.py:16-43):
    '$PEPE ... moon gem' text is memeable with positive confidence;
    plain weather text is not."""
    import pyspark.sql.functions as F

    n = (
        F.col("text").rlike("moon|pump").cast("int")
        + F.col("text").rlike("inu|dog|pepe").cast("int")
        + F.col("text").rlike(r"\$[A-Za-z]{2,10}").cast("int")
    )
    df = spark.createDataFrame(
        [
            (1, "Just bought $PEPE token, this is the next moon gem!".lower()),
            (2, "The weather is nice today"),
        ],
        "id long, text string",
    ).select(
        "id",
        (n >= 1).alias("is_memeable"),
        F.round(F.least(F.lit(0.3) * n, F.lit(1.0)), 6).alias("confidence"),
    )
    got = {r["id"]: (r["is_memeable"], r["confidence"]) for r in df.collect()}
    assert got[1][0] is True and got[1][1] > 0
    assert got[2] == (False, 0.0)


def test_refined_stream_matches_batch_with_model_backend(spark, tmp_path):
    """refined_stream: the pluggable inference seam over a streaming
    source must equal the batch path per doc (stateless map-side shape),
    with the model backend's closure shipped to streaming workers and
    the degrade ladder applied per micro-batch."""
    from event_stream_starter_spark.functions import inference as I
    from event_stream_starter_spark.streaming.pipeline import (
        refined_stream,
        run_to_memory_table,
    )

    @I.register_backend("refine", "stream_echo")
    def _echo(texts):
        out = []
        for t in texts:
            if "poison" in t:
                out.append({"type": "bad", "summary": "no"})  # schema-invalid
            else:
                out.append(
                    {
                        "type": "echo",
                        "summary": t.upper()[: I.SUMMARY_MAX],
                        "impacted_assets": [],
                        "reasons": ["echo backend hit"],
                        "confidence": 0.9,
                    }
                )
        return out

    rows = [
        (1, "listing $AB on the exchange today"),
        (2, "poison text that fails validation"),
        (3, "plain words with no pattern"),
        (4, "pump and dump $CD warning"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    land = tmp_path / "doc_landing"
    # Two files so availableNow can cut >1 micro-batch with maxFilesPerTrigger.
    docs.filter(F.col("doc_id") <= 2).coalesce(1).write.parquet(str(land / "f1"))
    docs.filter(F.col("doc_id") >= 3).coalesce(1).write.parquet(str(land / "f2"))
    stream_src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*"))
    )
    I.clear_memo()
    run_to_memory_table(
        refined_stream(stream_src, backend="stream_echo"),
        "refined_tbl",
        str(tmp_path / "ck_refine"),
        "append",
    )
    got = {r["doc_id"]: r.asDict() for r in spark.table("refined_tbl").collect()}
    I.clear_memo()
    want = {
        r["doc_id"]: r.asDict()
        for r in I.refine_with_backend(
            docs, "text", ["doc_id"], backend="stream_echo"
        ).collect()
    }
    assert got == want
    assert got[1]["backend_used"] == "stream_echo"
    assert got[1]["refined_summary"] == rows[0][1].upper()
    # The poison row degraded to rules with the schema reason.
    assert got[2]["backend_used"] == "rules"
    assert got[2]["degrade_reason"] == "schema"
    assert got[2]["refine_confidence"] == I.FALLBACK_CONFIDENCE


def test_lm_scored_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming LM scoring (stream-static model join + foreachBatch
    rollup) must equal the same operators applied in batch: a doc's
    grams all live in one row, so per-micro-batch rollup is exact."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.streaming.pipeline import (
        lm_score_batch,
        lm_scored_stream,
        run_to_completion,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # Model built in batch (the x_ccnet_lm_buckets training half).
    nt = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    grams = F.expr(
        "transform(sequence(1, greatest(length(nt) - 2, 1)),"
        " i -> substring(nt, i, 3))"
    )
    ex = docs.select("doc_id", "lang", nt.alias("nt")).select(
        "doc_id", "lang", F.explode(grams).alias("g")
    )
    counts = (
        ex.filter(F.col("doc_id") % 7 == 0)
        .groupBy("lang", "g")
        .agg(F.count("*").alias("c"))
    )
    tot = counts.groupBy("lang").agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    model = counts.join(tot, "lang").select(
        "lang",
        "g",
        ((F.col("c") + 1).cast("double") / (F.col("n") + F.col("v")).cast("double")).alias("p"),
    )
    langstats = tot
    model.cache().count()
    langstats.cache().count()

    expected = {
        (r["doc_id"], r["lang"]): (r["n_grams"], r["nll"])
        for r in lm_score_batch(lm_scored_stream(docs, model, langstats)).collect()
    }

    land = tmp_path / "lm_landing"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(land / "f1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(land / "f2"))
    src = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*"))
    )
    outdir = str(tmp_path / "lm_scored_out")

    def writer(batch_df, batch_id):
        lm_score_batch(batch_df).write.mode("append").parquet(outdir)

    run_to_completion(
        lm_scored_stream(src, model, langstats), writer, str(tmp_path / "ck_lm")
    )
    got = {
        (r["doc_id"], r["lang"]): (r["n_grams"], r["nll"])
        for r in spark.read.parquet(outdir).collect()
    }
    assert got == expected
    assert len(got) == docs.count()


def test_streaming_semdedup_invariants_and_replay_safe(spark, sf_dir, tmp_path):
    """Embeddings streamed through the incremental SemDeDup sink: the
    kept-set fixpoint holds over the accumulated index, history is
    immutable across batches, caches are released per batch, and
    replaying a committed batch is a no-op."""
    import itertools

    import numpy as np

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.streaming.incremental_dedup import (
        StreamingSemDeDup,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    land = tmp_path / "emb_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    sd = StreamingSemDeDup(
        spark, str(tmp_path / "sd_state"), threshold=0.95, n_clusters=8
    )
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    run_to_completion(stream, sd.foreach_batch_writer(), str(tmp_path / "sd_ck"))
    assert (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= cached_before
    )

    decisions = sd.decisions()
    assert decisions.count() == emb.count()
    kept_rows = sd.read_kept().collect()
    kept_ids = {r["id"] for r in kept_rows}
    assert kept_ids == {
        r["id"] for r in decisions.filter("is_kept").collect()
    }
    # Fixpoint over the accumulated kept set.
    vecs = {r["id"]: np.asarray(r["v"], dtype=np.float64) for r in kept_rows}
    by_cl: dict[int, list] = {}
    for r in kept_rows:
        by_cl.setdefault(r["cluster"], []).append(r["id"])
    for cl, ids in by_cl.items():
        for x, y in itertools.combinations(ids, 2):
            vx, vy = vecs[x], vecs[y]
            denom = np.linalg.norm(vx) * np.linalg.norm(vy)
            if denom == 0:
                continue
            cos = float(vx @ vy) / denom
            assert cos < 0.95 + 1e-9, f"kept pair {x},{y} cluster {cl}: {cos:.4f}"

    # Replay: nothing changes.
    n_kept = len(kept_ids)
    last = sd.last_batch_id()
    sd.process_batch(emb.limit(5), last)
    assert sd.read_kept().count() == n_kept
    assert sd.last_batch_id() == last


def test_streaming_semdedup_crash_replay_window_is_idempotent(spark, sf_dir, tmp_path):
    """Crash AFTER the kept append but BEFORE the pointer commit: the
    replayed batch must decide exactly as the original did (its own
    kept rows are anti-joined out of the probe), so re-appends are
    byte-identical and the invariant kept_ids == is_kept decisions
    survives. Also: an empty cold-start batch must NOT fit (and freeze)
    an empty centroid table."""
    import os

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.streaming.incremental_dedup import (
        StreamingSemDeDup,
    )

    sd = StreamingSemDeDup(
        spark, str(tmp_path / "sd2_state"), threshold=0.95, n_clusters=8
    )
    # Empty cold start: pointer advances, no centroids frozen.
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    sd.process_batch(empty, 0)
    assert sd.last_batch_id() == 0
    assert not os.path.exists(sd._centroids_file())

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sd.process_batch(emb, 1)
    assert os.path.exists(sd._centroids_file())
    kept_before = {r["id"] for r in sd.read_kept().collect()}
    assert kept_before

    # Simulate the crash window: both sinks were appended for batch 1
    # but the pointer never advanced — rewind it and replay batch 1.
    with open(sd._pointer(), "w") as fh:
        fh.write("0")
    sd.process_batch(emb, 1)
    kept_after = {r["id"] for r in sd.read_kept().collect()}
    assert kept_after == kept_before
    decisions = sd.decisions()
    assert {r["id"] for r in decisions.filter("is_kept").collect()} == kept_before
    assert decisions.count() == emb.count()


def _event_time_slices(spark, sf_dir, tmp_path, n):
    """Stage the events as ``n`` contiguous event-time slices, each a
    single sorted parquet file with a pinned, strictly increasing mtime
    (FileStreamSource orders by mod time; maxFilesPerTrigger=1 → one
    slice per batch). Returns (slice_files, arm); ``arm(k)`` places
    slice k into ``tmp_path / "land"``."""
    import shutil

    from event_stream_starter_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    sliced = ev.withColumn(
        "slice", F.ntile(n).over(Window.orderBy("ts", "event_id"))
    )
    stage = tmp_path / "stage"
    land = tmp_path / "land"
    land.mkdir()
    slice_files = []
    for i in range(1, n + 1):
        out = stage / f"s{i}"
        sliced.filter(F.col("slice") == i).drop("slice").repartition(
            1
        ).sortWithinPartitions("ts", "event_id").write.mode("overwrite").parquet(
            str(out)
        )
        parts = [p for p in out.iterdir() if p.name.endswith(".parquet")]
        if not parts:
            continue
        dst = land / f"slice_{i:02d}.parquet"
        slice_files.append((parts[0], dst, 1_700_000_000 + i * 10))

    def arm(k):
        src, dst, mt = slice_files[k]
        shutil.copy(str(src), str(dst))
        os.utime(str(dst), (mt, mt))

    return slice_files, arm


def test_integrated_pipeline_stream_restart_matches_batch_trace(
    spark, sf_dir, tmp_path
):
    """The §3.1 slice as ONE chained Structured Streaming DAG
    (streaming/e2e.py): file source → C4 key → dropDuplicatesWithin-
    Watermark → foreachBatch {A1 composite-key upsert + survivor facts},
    then the read side derives heat → rules score → routing → outbox
    top-k via the SAME cards_from_state the batch e2e_pipeline_trace
    runs. Certifies the COMPOSITION: (a) end-state parity vs the batch
    trace, (b) kill-and-restart from the checkpoint mid-corpus, (c)
    foreachBatch at-least-once redelivery is a state no-op, (d) the
    rules stage agrees with the R1 compiler on the same thresholds.

    Events land in event-time order (one sorted slice file per
    micro-batch) so keep-first-arrival == the batch keep-min(ts,
    event_id) law — the ordered-ingest contract the reference's poller
    provides (SURVEY §3.1; worker/tasks.py:104-140)."""
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.e2e import (
        integrated_sink,
        read_cards,
        start_integrated_pipeline,
    )

    expected = sorted(
        tuple(r)
        for r in all_queries()["e2e_pipeline_trace"].fn(spark, sf_dir).collect()
    )

    land = tmp_path / "land"
    slice_files, _arm = _event_time_slices(spark, sf_dir, tmp_path, 6)
    ck = str(tmp_path / "ck_e2e")
    state = str(tmp_path / "state_e2e")

    # Phase 1: first half of the corpus, then the query TERMINATES
    # (availableNow) — the "kill" point, offsets committed.
    for k in range(3):
        _arm(k)
    q, upsert, facts = start_integrated_pipeline(spark, str(land), state, ck)
    q.awaitTermination()

    # Phase 2: rest of the corpus lands; RESTART from the same
    # checkpoint — only the new slices replay.
    for k in range(3, len(slice_files)):
        _arm(k)
    q2, upsert, facts = start_integrated_pipeline(spark, str(land), state, ck)
    q2.awaitTermination()

    # (c) at-least-once redelivery: re-deliver the LAST deduped batch
    # through the sink — facts overwrite their own batch dir (same
    # rows), the upsert batch-id guard drops the replay per key — so
    # BOTH state tables must be byte-identical afterwards. The batch is
    # reconstructed by the batch dedup law (keep min(ts, event_id) per
    # C4 key over the whole corpus, restricted to the last slice), which
    # equals the streamed survivors under ordered ingest — exactly what
    # parity (a) certifies.
    before_state = sorted(tuple(r) for r in upsert.read().collect())
    before_facts = sorted(tuple(r) for r in facts.read().collect())
    last_bid = upsert.read().agg(F.max("last_batch_id")).first()[0]

    from event_stream_starter_spark.functions.hashing import key_concat
    from event_stream_starter_spark.operators.dedup import exact_dedup
    from event_stream_starter_spark.streaming.pipeline import with_event_key

    corpus = with_event_key(spark.read.parquet(str(land))).withColumn(
        "ts_us", F.unix_micros("ts")
    )
    surv_all = exact_dedup(
        corpus.filter(F.col("event_key").isNotNull()),
        ["event_key"],
        "ts_us",
        tiebreak=["event_id"],
    )
    last_ids = spark.read.parquet(str(slice_files[-1][1])).select("event_id")
    redelivered = (
        surv_all.join(last_ids, "event_id")
        .drop("event_key", "ts_us")
        .withColumn(
            "event_key",
            F.substring(
                F.sha2(
                    key_concat(F.col("user_id").cast("string"), F.col("event_type")),
                    256,
                ),
                1,
                40,
            ),
        )
    )
    integrated_sink(upsert, facts)(redelivered, last_bid)
    assert sorted(tuple(r) for r in upsert.read().collect()) == before_state
    assert sorted(tuple(r) for r in facts.read().collect()) == before_facts

    # (a)+(b): end-state parity vs the batch trace.
    got = sorted(tuple(r) for r in read_cards(upsert, facts).collect())
    assert got == expected

    # (d) the rules stage through the R1 compiler: compiled thresholds
    # reproduce the trace's level labels on the streamed card state.
    from event_stream_starter_spark.rules.compiler import compile_condition

    fieldset = frozenset({"score_centi"})
    opp = compile_condition("score_centi >= 1200", fieldset)
    cau = compile_condition("score_centi <= 200", fieldset)
    cards = read_cards(upsert, facts)
    relab = cards.withColumn(
        "level2",
        F.when(F.expr(opp), "opportunity")
        .when(F.expr(cau), "caution")
        .otherwise("observe"),
    )
    assert relab.filter(F.col("level") != F.col("level2")).count() == 0


def test_integrated_cycle_runs_one_microbatch_and_infers_no_schema(
    spark, sf_dir, tmp_path
):
    """Job budget of one steady beat cycle (a start_integrated_pipeline
    drain of one landed slice, then read_cards + collect): one
    micro-batch, no no-data batch, the session's no-data conf left as
    it was, and at most 9 Spark jobs. The state tables declare schemas
    equal to what parquet inference reads, so reads run no inference
    job."""
    from event_stream_starter_spark.streaming.e2e import (
        read_cards,
        start_integrated_pipeline,
    )

    land = str(tmp_path / "land")
    _, arm = _event_time_slices(spark, sf_dir, tmp_path, 2)
    state, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(no_data)

    def cycle():
        q, upsert, facts = start_integrated_pipeline(spark, land, state, ck)
        q.awaitTermination()
        cards = read_cards(upsert, facts).collect()
        return q, upsert, facts, cards

    arm(0)
    cycle()  # warm: the first cycle also creates both tables
    arm(1)
    sc = spark.sparkContext
    group = "cycle-budget-test"
    sc.setJobGroup(group, "one steady cycle")
    try:
        q, upsert, facts, cards = cycle()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = [*tracker.getJobIdsForGroup(group), *tracker.getJobIdsForGroup(str(q.runId))]

    assert cards
    assert len(q.recentProgress) == 1
    assert q.recentProgress[0]["numInputRows"] > 0
    assert spark.conf.get(no_data) == before
    assert len(jobs) <= 9, f"{len(jobs)} Spark jobs in one cycle"
    snapshot = os.path.join(upsert.path, f"v{upsert.current_version()}")
    assert upsert.read().schema == spark.read.parquet(snapshot).schema
    fact_dirs = [str(p) for p in (tmp_path / "state" / "facts").glob("batch=*")]
    assert len(fact_dirs) == 2
    assert facts.read().schema == spark.read.parquet(*fact_dirs).schema


def test_streaming_datacard_matches_batch_query_and_replay_safe(
    spark, sf_dir, tmp_path
):
    """Documents streamed in micro-batches through the incremental
    datacard sink must converge to exactly the x_corpus_datacard batch
    output — including the retroactive flip where a later batch delivers
    the second copy of an earlier batch's doc (exact-dup mass is a
    cross-batch property). Replaying a committed batch and a crash
    re-append are both no-ops."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.datacard import StreamingDatacard
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    land = tmp_path / "dc_landing"
    docs.repartition(4).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema(
            "doc_id bigint, lang string, source string, text string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    dc = StreamingDatacard(spark, str(tmp_path / "dc_state"))
    run_to_completion(stream, dc.foreach_batch_writer(), str(tmp_path / "dc_ck"))

    def as_map(df):
        return {
            (r["lang"], r["source"]): (
                r["n_docs"],
                r["total_tokens"],
                round(r["mean_quality"], 6),
                r["exact_dup_docs"],
                r["min_tokens"],
                r["max_tokens"],
            )
            for r in df.collect()
        }

    want = as_map(all_queries()["x_corpus_datacard"].fn(spark, sf_dir))
    got = as_map(dc.datacard())
    assert got == want

    # Replay of a committed batch: pointer short-circuits, nothing changes.
    last = dc.last_batch_id()
    dc.process_batch(docs.limit(7), last)
    assert as_map(dc.datacard()) == want

    # Crash re-append (append landed, pointer did not advance): the
    # deterministic batch-tagged partials collapse on read. Re-append
    # batch 0's partials exactly as a replayed process_batch would.
    import os as _os

    import pyspark.sql.functions as F  # noqa: N812

    stats0 = spark.read.parquet(_os.path.join(dc.path, "stats")).filter(
        F.col("batch_id") == 0
    )
    stats0.write.mode("append").parquet(_os.path.join(dc.path, "stats"))
    fp0 = spark.read.parquet(_os.path.join(dc.path, "fp")).filter(
        F.col("batch_id") == 0
    )
    fp0.write.mode("append").parquet(_os.path.join(dc.path, "fp"))
    assert as_map(dc.datacard()) == want


def test_streaming_ivf_index_matches_one_shot_and_replay_safe(
    spark, sf_dir, tmp_path
):
    """Embeddings streamed in micro-batches into the persisted IVF index
    must answer queries exactly like a one-shot ivf_topk over the full
    corpus under the same frozen quantizer; committed-replay and crash
    re-append are no-ops; a restart with conflicting centroids errors."""
    import os as _os

    import pytest as _pytest

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )
    from event_stream_starter_spark.streaming.ann_index import StreamingIvfIndex
    from event_stream_starter_spark.streaming.pipeline import run_to_completion
    import pyspark.sql.functions as F  # noqa: N812

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = kmeans_centroids(emb, "embedding", 16, iters=2, id_col="vec_id")
    land = tmp_path / "emb_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    ix = StreamingIvfIndex(
        spark, str(tmp_path / "ivf_state"), centroids=cents
    )
    run_to_completion(stream, ix.foreach_batch_writer(), str(tmp_path / "ivf_ck"))

    q = emb.filter(F.col("vec_id") < 10)

    def as_set(df):
        return {
            (r["vec_id_q"], r["vec_id_c"], r["rank"]) for r in df.collect()
        }

    want = as_set(
        ivf_topk(q, emb, "vec_id", "vec_id", "embedding", k=5, centroids=cents)
    )
    got = as_set(ix.query(q, k=5, n_probe=4))
    assert got == want

    # Committed replay: pointer short-circuits.
    ix.process_batch(emb.limit(3), ix.last_batch_id())
    assert as_set(ix.query(q, k=5, n_probe=4)) == want

    # Crash re-append: re-append batch rows; read-side id dedup absorbs.
    lists = spark.read.parquet(_os.path.join(ix.path, "lists")).limit(4)
    lists.write.mode("append").parquet(_os.path.join(ix.path, "lists"))
    assert as_set(ix.query(q, k=5, n_probe=4)) == want

    # Restart with a CONFLICTING quantizer is an error, never a refit.
    other = [[v + 1.0 for v in c] for c in cents]
    bad = StreamingIvfIndex(
        spark, str(tmp_path / "ivf_state"), centroids=other
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.process_batch(emb.limit(3), ix.last_batch_id() + 1)

    # Restart WITHOUT centroids loads the persisted ones and keeps
    # answering identically.
    again = StreamingIvfIndex(spark, str(tmp_path / "ivf_state"))
    assert as_set(again.query(q, k=5, n_probe=4)) == want

    # A READER with a conflicting quantizer errors too — querying with
    # mismatched centroids would silently probe cluster ids the lists
    # were never built under (the write-path check alone is not enough).
    bad_reader = StreamingIvfIndex(
        spark, str(tmp_path / "ivf_state"), centroids=other
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad_reader.query(q, k=5, n_probe=4)


def test_streaming_index_refuses_degenerate_first_fit(spark, sf_dir, tmp_path):
    """A model fitted on a tiny first micro-batch (maxFilesPerTrigger=1
    can deliver a handful of rows) would be FROZEN for all history and
    silently degrade recall; the sinks must refuse to fit when the
    batch has fewer distinct vectors than the model has centroids."""
    import pytest as _pytest

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.streaming.ann_index import (
        StreamingIvfIndex,
        StreamingPqIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tiny = emb.limit(3)

    pq = StreamingPqIndex(spark, str(tmp_path / "pq_degenerate"))  # k=64
    with _pytest.raises(ValueError, match="distinct vectors"):
        pq.process_batch(tiny, 0)

    ivf = StreamingIvfIndex(spark, str(tmp_path / "ivf_degenerate"), n_clusters=16)
    with _pytest.raises(ValueError, match="distinct vectors"):
        ivf.process_batch(tiny, 0)

    # Neither sink may have frozen a sidecar or committed the batch.
    import os as _os

    assert not _os.path.exists(pq._codebooks_file())
    assert not _os.path.exists(ivf._centroids_file())
    assert pq.last_batch_id() < 0 and ivf.last_batch_id() < 0


def test_streaming_exact_substr_matches_one_shot_and_retroflags(
    spark, sf_dir, tmp_path
):
    """Documents streamed in micro-batches through the incremental
    ExactSubstr sink must end with EXACTLY the one-shot batch
    operator's span set — including retroactive spans on early docs
    that only become duplicated when a later micro-batch arrives — and
    replaying a committed batch must be a no-op."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries.textdata import (
        _exact_substr_spans_df,
    )
    from event_stream_starter_spark.streaming.incremental_dedup import (
        StreamingExactSubstr,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = tmp_path / "ss_landing"
    docs.repartition(4).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    sink = StreamingExactSubstr(spark, str(tmp_path / "ss_state"))
    run_to_completion(stream, sink.foreach_batch_writer(), str(tmp_path / "ss_ck"))

    def as_set(df):
        return {(r["doc_id"], r["span_start"], r["span_len"]) for r in df.collect()}

    got = as_set(sink.spans())
    want = as_set(_exact_substr_spans_df(docs))
    assert got == want and len(want) > 0

    # Retroactive flagging must have actually occurred for the equality
    # above to be meaningful: at least one doc's final span emission came
    # from a LATER batch than the doc's own index rows (it was
    # re-flagged after ingestion). With 4 shuffled micro-batches over a
    # corpus full of cross-doc duplicates this holds by construction.
    import os

    sp = spark.read.parquet(os.path.join(sink.path, "spans"))
    ix = spark.read.parquet(os.path.join(sink.path, "index"))
    import pyspark.sql.functions as F

    own = ix.groupBy("doc_id").agg(F.min("batch_id").alias("ingest_b"))
    final = sp.groupBy("doc_id").agg(F.max("batch_id").alias("final_b"))
    retro = own.join(final, "doc_id").filter(
        F.col("final_b") > F.col("ingest_b")
    )
    assert retro.count() > 0

    # Replay of a committed batch: state unchanged.
    last = sink.last_batch_id()
    one = docs.limit(3)
    sink.process_batch(one, last)  # already committed -> short-circuit
    assert as_set(sink.spans()) == want


def test_streaming_cms_partials_sum_to_one_shot_sketch(spark, sf_dir, tmp_path):
    """Mergeability made operational: micro-batch CMS partials summed on
    read must equal the one-shot sketch over the full corpus EXACTLY
    (bucket-for-bucket — merging is lossless; approximation lives only
    in probing), estimates must dominate exact counts, and a committed
    batch replays as a no-op."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.sketch import cms_table
    from event_stream_starter_spark.operators.textan import tokens
    from event_stream_starter_spark.streaming.pipeline import run_to_completion
    from event_stream_starter_spark.streaming.sketch_sink import StreamingCms

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = tmp_path / "cms_landing"
    docs.repartition(4).write.mode("overwrite").parquet(str(land))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    sink = StreamingCms(spark, str(tmp_path / "cms_state"))
    run_to_completion(stream, sink.foreach_batch_writer(), str(tmp_path / "cms_ck"))

    def as_map(df):
        return {(r["j"], r["b"]): r["cnt"] for r in df.collect()}

    toks = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    got = as_map(sink.sketch())
    want = as_map(cms_table(toks))
    assert got == want and len(want) > 0

    # Estimates from the accumulated sketch dominate the exact counts.
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(10)
    )
    est = sink.estimate(top)
    bad = est.filter(F.col("cms_est") < F.col("exact_cnt")).count()
    assert bad == 0

    # Replay of a committed batch: partials unchanged.
    sink.process_batch(docs.limit(5), sink.last_batch_id())
    assert as_map(sink.sketch()) == want


def test_streaming_decontaminator_matches_batch(spark, sf_dir, tmp_path):
    """Stream-end contamination verdicts == the one-shot batch op:
    frozen eval gram sidecar + per-batch map-side probing must
    reproduce x_decontaminate exactly on the contaminated subset, emit
    a verdict for EVERY ingested doc, and be replay-idempotent."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.decontaminate import (
        StreamingDecontaminator,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    tr = docs.filter(F.col("source") != "src0").select("doc_id", "text")

    land = tmp_path / "dc_landing"
    tr.repartition(4).write.mode("overwrite").parquet(str(land))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    sink = StreamingDecontaminator(
        spark, str(tmp_path / "dc_state"), eval_docs=ev
    )
    run_to_completion(stream, sink.foreach_batch_writer(), str(tmp_path / "dc_ck"))

    got_all = sink.verdicts()
    assert got_all.count() == tr.count()  # every ingested doc has a verdict
    got = {
        (r["doc_id"], r["n_hit_grams"], r["n_grams"], r["hit_ratio"])
        for r in got_all.filter(F.col("contaminated")).collect()
    }
    want = {
        (r["doc_id"], r["n_hit_grams"], r["n_grams"], r["hit_ratio"])
        for r in all_queries()["x_decontaminate"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0

    # Replay of a committed batch: verdicts unchanged (pointer short-circuit).
    n_before = got_all.count()
    sink.process_batch(tr.limit(5), sink.last_batch_id())
    assert sink.verdicts().count() == n_before

    # Restart against the frozen sidecar: no eval_docs needed, same grams.
    sink2 = StreamingDecontaminator(spark, str(tmp_path / "dc_state"))
    assert sink2.eval_grams().count() == sink.eval_grams().count()


def test_streaming_mixture_monitor_matches_batch(spark, sf_dir, tmp_path):
    """Stream-end mixture report == the one-shot batch computation:
    per-lang doc/token counts merge exactly across micro-batches, the
    temperature target q equals the batch family's
    (_lang_temperature_q) bit-for-bit, drift/obs_share follow, and a
    replayed committed batch is a no-op."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators import textan
    from event_stream_starter_spark.queries.textdata import (
        _lang_temperature_q,
    )
    from event_stream_starter_spark.streaming.mixture_monitor import (
        StreamingMixtureMonitor,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    land = tmp_path / "mm_landing"
    docs.repartition(4).write.mode("overwrite").parquet(str(land))
    stream = (
        spark.readStream.schema("doc_id bigint, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    sink = StreamingMixtureMonitor(spark, str(tmp_path / "mm_state"))
    run_to_completion(stream, sink.foreach_batch_writer(), str(tmp_path / "mm_ck"))

    got = {r["lang"]: r for r in sink.report().collect()}

    # One-shot twin: counts + token sums straight off the corpus, q via
    # the batch family's helper (a different code path than the sink's).
    counts = {
        r["lang"]: (r["n_docs"], r["n_tokens"])
        for r in docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(textan.token_count(F.col("text")).cast("long"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .collect()
    }
    q_want = {
        r["lang"]: r["q"] for r in _lang_temperature_q(docs).collect()
    }
    assert set(got) == set(counts) and len(got) > 1
    t_total = sum(v[1] for v in counts.values())
    for lang, (nd, nt) in counts.items():
        r = got[lang]
        assert (r["n_docs"], r["n_tokens"]) == (nd, nt)
        assert r["target_q"] == q_want[lang]
        obs = round(nt / t_total, 6)
        assert r["obs_share"] == obs
        assert r["drift"] == round(obs - q_want[lang], 6)
        assert r["over_target"] == (obs > q_want[lang])

    # Datacard-v2 columns: merged mergeable partials must equal the
    # one-shot per-lang means (quality via textan, fk via _fk_grade).
    from decimal import Decimal as _D

    from event_stream_starter_spark.streaming.mixture_monitor import (
        _fk_grade,
    )

    t = F.col("text")
    one = {
        r["lang"]: r
        for r in docs.select(
            "lang",
            F.round(textan.quality_score(t, textan.tokens(t)), 6)
            .cast("decimal(18,6)")
            .alias("q"),
            _fk_grade(t).cast("decimal(18,6)").alias("fk"),
        )
        .groupBy("lang")
        .agg(
            F.sum("q").alias("sq"),
            F.sum("fk").alias("sfk"),
            F.count("fk").alias("nfk"),
            F.count(F.lit(1)).alias("nd"),
        )
        .collect()
    }
    for lang, r in got.items():
        w = one[lang]
        assert r["mean_quality"] == float(
            round(_D(w["sq"]) / w["nd"], 6)
        ), lang
        assert r["mean_fk_grade"] == float(
            round(_D(w["sfk"]) / max(w["nfk"], 1), 6)
        ), lang

    # Replay of a committed batch: report unchanged (pointer short-circuit).
    before = sorted(tuple(r) for r in sink.report().collect())
    sink.process_batch(docs.limit(7), sink.last_batch_id())
    assert sorted(tuple(r) for r in sink.report().collect()) == before


def test_streaming_line_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Stream-end line verdicts == the one-shot x_line_dedup, including
    RETROACTIVE flips (an early occurrence must read boilerplate once a
    later batch repeats its line); replayed committed batches are
    no-ops."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.line_dedup import (
        StreamingLineDedup,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = tmp_path / "ld_landing"
    docs.repartition(4).write.mode("overwrite").parquet(str(land))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    sink = StreamingLineDedup(spark, str(tmp_path / "ld_state"))
    run_to_completion(stream, sink.foreach_batch_writer(), str(tmp_path / "ld_ck"))

    got = {
        (r["doc_id"], r["line_idx"]): (
            r["line_hash"],
            r["n_docs_with_line"],
            r["is_boilerplate"],
        )
        for r in sink.verdicts().collect()
    }
    want = {
        (r["doc_id"], r["line_idx"]): (
            r["line_hash"],
            r["n_docs_with_line"],
            r["is_boilerplate"],
        )
        for r in all_queries()["x_line_dedup"].fn(spark, sf_dir).collect()
    }
    assert got == want
    assert any(v[2] for v in want.values())  # the law actually fires
    # Retroactivity really exercised: some boilerplate line's occurrences
    # span more than one micro-batch (so an early verdict depended on a
    # later batch's count partial).
    lines = sink._read_dir("lines", ["batch_id", "doc_id", "line_idx"])
    boiler_hashes = {
        r["line_hash"]
        for r in sink.line_counts().filter(F.col("n_docs") >= 2).collect()
    }
    spans = (
        lines.filter(F.col("line_hash").isin(list(boiler_hashes)))
        .groupBy("line_hash")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .filter(F.col("nb") >= 2)
        .count()
    )
    assert spans > 0

    # Replay of a committed batch: verdicts unchanged.
    before = len(got)
    sink.process_batch(docs.limit(9), sink.last_batch_id())
    assert sink.verdicts().count() == before


def test_streaming_shard_export_matches_batch(spark, sf_dir, tmp_path):
    """StreamingShardExport (append-only shard cursor): when documents
    arrive in doc_id order, per-lane assignments (bucket, batch_id,
    slot, n_pieces) equal the one-shot e2e_tokenize_export chain on
    everything ingested; rows visible after batch k are byte-identical
    after batch k+1 (NO RE-BASING — the property the one-shot chain's
    dense global numbering cannot have); replayed committed batches are
    no-ops."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries.tokenizer import (
        _BATCHES_PER_SHARD,
        _export_assignments,
    )
    from event_stream_starter_spark.streaming.shard_export import (
        StreamingShardExport,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    slices = [
        docs.filter(F.col("doc_id") < cuts[0]),
        docs.filter(
            (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])
        ),
        docs.filter(F.col("doc_id") >= cuts[1]),
    ]
    sink = StreamingShardExport(spark, str(tmp_path / "se_state"))
    sink.process_batch(slices[0], 0)
    sink.process_batch(slices[1], 1)
    after2 = {
        r["doc_id"]: (r["source"], r["n_pieces"], r["bucket"], r["batch_id"],
                      r["slot"], r["shard_key"])
        for r in sink.assignments().collect()
    }
    sink.process_batch(slices[2], 2)
    got = {
        r["doc_id"]: (r["source"], r["n_pieces"], r["bucket"], r["batch_id"],
                      r["slot"], r["shard_key"])
        for r in sink.assignments().collect()
    }
    # no re-base: every row visible after batch 2 is unchanged
    for k, v in after2.items():
        assert got[k] == v, (k, got[k], v)
    # lane parity with the one-shot chain (global_batch/shard_id are the
    # compaction-view columns the append-only layout replaces)
    want = {
        r["doc_id"]: (r["source"], r["n_pieces"], r["bucket"], r["batch_id"],
                      r["slot"])
        for r in _export_assignments(docs).collect()
    }
    assert got.keys() == want.keys()
    for k, w in want.items():
        assert got[k][:5] == w, (k, got[k], w)
    # stable shard naming: key encodes (source, bucket, shard_seq) and
    # groups at most _BATCHES_PER_SHARD lane batches
    man = {r["shard_key"]: r for r in sink.shard_manifest().collect()}
    assert man
    for key, r in man.items():
        src, bucket, seq = key.rsplit("/", 2)
        assert r["n_batches"] <= _BATCHES_PER_SHARD
        assert int(bucket) in (64, 128, 256, 512)
    # replayed committed batch: byte-level no-op
    sink.process_batch(slices[0], 0)
    again = {
        r["doc_id"]: (r["source"], r["n_pieces"], r["bucket"], r["batch_id"],
                      r["slot"], r["shard_key"])
        for r in sink.assignments().collect()
    }
    assert again == got


def test_streaming_kn_scorer_matches_batch(spark, sf_dir, tmp_path):
    """StreamingKnScorer: with the frozen reference model fitted on the
    full documents table's deterministic sample, stream-end scores
    equal the one-shot x_kn_trigram_lm row-for-row regardless of batch
    boundaries; a restart reloads the persisted model sidecars instead
    of re-fitting (frozen-model contract); replayed committed batches
    are no-ops."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.kn_scorer import (
        StreamingKnScorer,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    state = str(tmp_path / "kn_state")
    sink = StreamingKnScorer(spark, state, docs)
    sink.process_batch(docs.filter(F.col("doc_id") < cut), 0)
    # restart WITHOUT ref_docs: must reload the frozen sidecars
    sink2 = StreamingKnScorer(spark, state, None)
    sink2.process_batch(docs.filter(F.col("doc_id") >= cut), 1)
    got = {
        r["doc_id"]: (r["lang"], r["n_grams"], r["kn_nll"])
        for r in sink2.scores().collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["n_grams"], r["kn_nll"])
        for r in all_queries()["x_kn_trigram_lm"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # replayed committed batch: byte-level no-op
    sink2.process_batch(docs.filter(F.col("doc_id") < cut), 0)
    again = {
        r["doc_id"]: (r["lang"], r["n_grams"], r["kn_nll"])
        for r in sink2.scores().collect()
    }
    assert again == got


def test_streaming_pq_index_matches_batch(spark, sf_dir, tmp_path):
    """Embeddings streamed through StreamingPqIndex (frozen full-corpus
    codebooks) must answer PQ-ADC top-k EXACTLY like the one-shot
    ann_pq_topk — same shared serving path, stream-built code table.
    Also: committed-batch replay is a no-op, crash re-appends collapse
    on the id dedup, a conflicting frozen model errors, and a restart
    without codebooks reloads the sidecar."""
    import os as _os

    import pytest as _pytest

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import _pq_codebooks
    from event_stream_starter_spark.streaming.ann_index import StreamingPqIndex
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cbs = _pq_codebooks(spark, sf_dir)
    land = tmp_path / "pq_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    ix = StreamingPqIndex(spark, str(tmp_path / "pq_state"), codebooks=cbs)
    run_to_completion(stream, ix.foreach_batch_writer(), str(tmp_path / "pq_ck"))

    q = emb.filter(F.col("vec_id") < 10)

    def as_set(df):
        return {
            (
                r["vec_id_q"],
                r["vec_id_c"],
                r["adc_dist"],
                r["exact_dist"],
                r["rank"],
            )
            for r in df.collect()
        }

    want = as_set(all_queries()["ann_pq_topk"].fn(spark, sf_dir))
    got = as_set(ix.query(q, k=5, shortlist=50))
    assert got == want

    # Committed replay: pointer short-circuits.
    ix.process_batch(emb.limit(3), ix.last_batch_id())
    assert as_set(ix.query(q, k=5, shortlist=50)) == want

    # Crash re-append: read-side id dedup absorbs duplicate rows.
    codes = spark.read.parquet(_os.path.join(ix.path, "codes")).limit(4)
    codes.write.mode("append").parquet(_os.path.join(ix.path, "codes"))
    assert as_set(ix.query(q, k=5, shortlist=50)) == want

    # Restart with a CONFLICTING frozen model is an error, never a refit.
    other = [[[v + 1.0 for v in c] for c in cb] for cb in cbs]
    bad = StreamingPqIndex(
        spark, str(tmp_path / "pq_state"), codebooks=other
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.process_batch(emb.limit(3), ix.last_batch_id() + 1)

    # Restart WITHOUT codebooks loads the sidecar, answers identically.
    again = StreamingPqIndex(spark, str(tmp_path / "pq_state"))
    assert as_set(again.query(q, k=5, shortlist=50)) == want

    # A READER with conflicting codebooks errors too — serving ADC
    # distances under a model the persisted codes were never encoded
    # with would silently return wrong neighbors.
    bad_reader = StreamingPqIndex(
        spark, str(tmp_path / "pq_state"), codebooks=other
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad_reader.query(q, k=5, shortlist=50)


def test_streaming_neardup_clusters_match_one_shot(spark, sf_dir, tmp_path):
    """StreamingNearDup.clusters() — read-side connected components over
    the accumulated pair log — must equal the one-shot minhash
    clustering (canonical_assignments over minhash_lsh_pairs) at stream
    end, including singleton coverage for never-paired docs."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from event_stream_starter_spark.operators.graph import (
        canonical_assignments,
    )
    from event_stream_starter_spark.streaming.incremental_dedup import (
        StreamingNearDup,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = tmp_path / "cc_landing"
    docs.repartition(3).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    nd = StreamingNearDup(
        spark, str(tmp_path / "cc_state"), threshold=0.5, num_hashes=64,
        bands=16, shingle_n=5,
    )
    run_to_completion(stream, nd.foreach_batch_writer(), str(tmp_path / "cc_ck"))

    def as_set(df):
        return {
            (r["doc_id"], r["cluster_id"], r["is_canonical"], r["cluster_size"])
            for r in df.collect()
        }

    # One-shot arm over the same document set the index holds (docs
    # with at least one signature).
    sig_ids = (
        minhash_signatures(docs, "doc_id", "text", 64, 5)
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, num_hashes=64, bands=16,
        shingle_n=5,
    )
    want = as_set(canonical_assignments(sig_ids, pairs, "doc_id"))
    got = as_set(nd.clusters())
    assert got == want


def test_streaming_ivfpq_index_matches_batch(spark, sf_dir, tmp_path):
    """Embeddings streamed through StreamingIvfPqIndex (both frozen
    full-corpus models) must answer IVF-PQ top-k EXACTLY like the
    one-shot ann_ivfpq_topk — same shared serving path over the
    stream-built (cluster, codes) index; replay is a no-op and a
    restart without either model reloads both sidecars."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import (
        _ivf_centroids,
        _pq_codebooks,
    )
    from event_stream_starter_spark.streaming.ann_index import (
        StreamingIvfPqIndex,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _ivf_centroids(spark, sf_dir)
    cbs = _pq_codebooks(spark, sf_dir)
    land = tmp_path / "ivfpq_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    ix = StreamingIvfPqIndex(
        spark, str(tmp_path / "ivfpq_state"), centroids=cents, codebooks=cbs
    )
    run_to_completion(
        stream, ix.foreach_batch_writer(), str(tmp_path / "ivfpq_ck")
    )

    q = emb.filter(F.col("vec_id") < 10)

    def as_set(df):
        return {
            (
                r["vec_id_q"],
                r["vec_id_c"],
                r["adc_dist"],
                r["exact_dist"],
                r["rank"],
            )
            for r in df.collect()
        }

    want = as_set(all_queries()["ann_ivfpq_topk"].fn(spark, sf_dir))
    got = as_set(ix.query(q, k=5, n_probe=4, shortlist=50))
    assert got == want

    # Committed replay: pointer short-circuits.
    ix.process_batch(emb.limit(3), ix.last_batch_id())
    assert as_set(ix.query(q, k=5, n_probe=4, shortlist=50)) == want

    # Restart with NEITHER model supplied: both sidecars reload.
    again = StreamingIvfPqIndex(spark, str(tmp_path / "ivfpq_state"))
    assert as_set(again.query(q, k=5, n_probe=4, shortlist=50)) == want


def test_streaming_opq_index_matches_batch(spark, sf_dir, tmp_path):
    """Embeddings streamed through StreamingOpqIndex (frozen offline
    rotation + codebooks) must answer OPQ top-k EXACTLY like the
    one-shot ann_opq_topk — the serving path (opq_adc_serve) is shared
    verbatim. Also: missing models on first use error, conflicting
    models error on write AND read, a restart without models reloads
    the sidecars."""
    import os as _os

    import pytest as _pytest

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import _opq_model
    from event_stream_starter_spark.streaming.ann_index import (
        StreamingOpqIndex,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rot, cbs = _opq_model(spark, sf_dir)
    land = tmp_path / "opq_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    # models are REQUIRED on first use (offline-trained, never batch-fit)
    bare = StreamingOpqIndex(spark, str(tmp_path / "opq_bare"))
    with _pytest.raises(ValueError, match="must be supplied"):
        bare.process_batch(emb.limit(3), 0)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    ix = StreamingOpqIndex(
        spark, str(tmp_path / "opq_state"), rotation=rot, codebooks=cbs
    )
    run_to_completion(stream, ix.foreach_batch_writer(), str(tmp_path / "opq_ck"))

    q = emb.filter(F.col("vec_id") < 10)

    def as_set(df):
        return {
            (
                r["vec_id_q"],
                r["vec_id_c"],
                r["adc_dist"],
                r["exact_dist"],
                r["rank"],
            )
            for r in df.collect()
        }

    want = as_set(all_queries()["ann_opq_topk"].fn(spark, sf_dir))
    got = as_set(ix.query(q, k=5, shortlist=50))
    assert got == want

    # Committed replay: pointer short-circuits.
    ix.process_batch(emb.limit(3), ix.last_batch_id())
    assert as_set(ix.query(q, k=5, shortlist=50)) == want

    # Crash re-append: read-side id dedup absorbs duplicate rows.
    codes = spark.read.parquet(_os.path.join(ix.path, "codes")).limit(4)
    codes.write.mode("append").parquet(_os.path.join(ix.path, "codes"))
    assert as_set(ix.query(q, k=5, shortlist=50)) == want

    # Conflicting rotation errors on write and on read.
    other_rot = [[v + 1.0 for v in r] for r in rot]
    bad = StreamingOpqIndex(
        spark, str(tmp_path / "opq_state"), rotation=other_rot, codebooks=cbs
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.process_batch(emb.limit(3), ix.last_batch_id() + 1)
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.query(q, k=5)

    # Restart WITHOUT models loads the sidecars, answers identically.
    again = StreamingOpqIndex(spark, str(tmp_path / "opq_state"))
    assert as_set(again.query(q, k=5, shortlist=50)) == want


def test_streaming_sq8_index_matches_batch(spark, sf_dir, tmp_path):
    """Embeddings streamed through StreamingSq8Index with the
    full-corpus (mn, mx) stats must answer SQ8 top-k EXACTLY like the
    one-shot ann_sq8_topk (same affine law, same salted serve shape).
    Also: frozen-stats conflict errors on write and read; restart
    without stats reloads the sidecar; replay and crash re-appends are
    absorbed."""
    import os as _os

    import pytest as _pytest

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.ann_index import (
        StreamingSq8Index,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = 64
    row = emb.agg(
        F.array(
            *[F.min(F.col("embedding")[i]).cast("double") for i in range(dim)]
        ).alias("mn"),
        F.array(
            *[F.max(F.col("embedding")[i]).cast("double") for i in range(dim)]
        ).alias("mx"),
    ).collect()[0]
    stats = (list(row["mn"]), list(row["mx"]))
    land = tmp_path / "sq_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    ix = StreamingSq8Index(spark, str(tmp_path / "sq_state"), stats=stats)
    run_to_completion(stream, ix.foreach_batch_writer(), str(tmp_path / "sq_ck"))

    q = emb.filter(F.col("vec_id") < 10)

    def as_set(df):
        return {
            (r["vec_id_q"], r["vec_id_c"], r["sq_dist"], r["rank"])
            for r in df.collect()
        }

    want = as_set(all_queries()["ann_sq8_topk"].fn(spark, sf_dir))
    got = as_set(ix.query(q, k=5))
    assert got == want

    # Committed replay + crash re-append are absorbed.
    ix.process_batch(emb.limit(3), ix.last_batch_id())
    codes = spark.read.parquet(_os.path.join(ix.path, "codes")).limit(4)
    codes.write.mode("append").parquet(_os.path.join(ix.path, "codes"))
    assert as_set(ix.query(q, k=5)) == want

    # Conflicting frozen stats error on write and on read.
    other = ([x - 1.0 for x in stats[0]], list(stats[1]))
    bad = StreamingSq8Index(spark, str(tmp_path / "sq_state"), stats=other)
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.process_batch(emb.limit(3), ix.last_batch_id() + 1)
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.query(q, k=5)

    # Restart WITHOUT stats loads the sidecar, answers identically.
    again = StreamingSq8Index(spark, str(tmp_path / "sq_state"))
    assert as_set(again.query(q, k=5)) == want


def test_streaming_ivfsq8_index_matches_batch(spark, sf_dir, tmp_path):
    """Embeddings streamed through StreamingIvfSq8Index (frozen
    full-corpus centroids + stats) must answer IVF-SQ8 top-k EXACTLY
    like the one-shot ann_ivfsq8_topk — the serving path (ivfsq8_serve
    over de-quantized stored codes) is shared; replay and crash
    re-appends are absorbed; model conflicts error on write AND read;
    a restart without models reloads both sidecars."""
    import os as _os

    import pytest as _pytest

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import _ivf_centroids
    from event_stream_starter_spark.streaming.ann_index import (
        StreamingIvfSq8Index,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _ivf_centroids(spark, sf_dir)
    dim = 64
    row = emb.agg(
        F.array(
            *[F.min(F.col("embedding")[i]).cast("double") for i in range(dim)]
        ).alias("mn"),
        F.array(
            *[F.max(F.col("embedding")[i]).cast("double") for i in range(dim)]
        ).alias("mx"),
    ).collect()[0]
    stats = (list(row["mn"]), list(row["mx"]))
    land = tmp_path / "ivfsq_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    ix = StreamingIvfSq8Index(
        spark, str(tmp_path / "ivfsq_state"), centroids=cents, stats=stats
    )
    run_to_completion(
        stream, ix.foreach_batch_writer(), str(tmp_path / "ivfsq_ck")
    )

    q = emb.filter(F.col("vec_id") < 10)

    def as_set(df):
        return {
            (r["vec_id_q"], r["vec_id_c"], r["sq_dist"], r["rank"])
            for r in df.collect()
        }

    want = as_set(all_queries()["ann_ivfsq8_topk"].fn(spark, sf_dir))
    got = as_set(ix.query(q, k=5, n_probe=4))
    assert got == want

    # Committed replay + crash re-append are absorbed.
    ix.process_batch(emb.limit(3), ix.last_batch_id())
    codes = spark.read.parquet(_os.path.join(ix.path, "codes")).limit(4)
    codes.write.mode("append").parquet(_os.path.join(ix.path, "codes"))
    assert as_set(ix.query(q, k=5, n_probe=4)) == want

    # Conflicting frozen stats error on write and on read.
    other = ([x - 1.0 for x in stats[0]], list(stats[1]))
    bad = StreamingIvfSq8Index(
        spark, str(tmp_path / "ivfsq_state"), centroids=cents, stats=other
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.process_batch(emb.limit(3), ix.last_batch_id() + 1)
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.query(q, k=5)

    # Conflicting centroids error on read too.
    other_cents = [[v + 1.0 for v in c] for c in cents]
    bad2 = StreamingIvfSq8Index(
        spark, str(tmp_path / "ivfsq_state"), centroids=other_cents, stats=stats
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad2.query(q, k=5)

    # Restart WITHOUT models loads both sidecars, answers identically.
    again = StreamingIvfSq8Index(spark, str(tmp_path / "ivfsq_state"))
    assert as_set(again.query(q, k=5, n_probe=4)) == want


def test_streaming_ivfopq_index_matches_batch(spark, sf_dir, tmp_path):
    """Embeddings streamed through StreamingIvfOpqIndex (frozen
    centroids + offline rotation/codebooks) must answer IVF-OPQ top-k
    EXACTLY like the one-shot ann_ivfopq_topk — the serving path
    (ivfopq_serve) is shared verbatim. Missing OPQ models on first use
    error; conflicts error on write AND read; a restart without models
    reloads all three sidecars."""
    import os as _os

    import pytest as _pytest

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import (
        _ivf_centroids,
        _opq_model,
    )
    from event_stream_starter_spark.streaming.ann_index import (
        StreamingIvfOpqIndex,
    )
    from event_stream_starter_spark.streaming.pipeline import run_to_completion

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _ivf_centroids(spark, sf_dir)
    rot, cbs = _opq_model(spark, sf_dir)
    land = tmp_path / "ivfopq_landing"
    emb.repartition(3).write.mode("overwrite").parquet(str(land))

    # OPQ models are REQUIRED on first use (offline-trained).
    bare = StreamingIvfOpqIndex(
        spark, str(tmp_path / "ivfopq_bare"), centroids=cents
    )
    with _pytest.raises(ValueError, match="must be supplied"):
        bare.process_batch(emb.limit(3), 0)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    ix = StreamingIvfOpqIndex(
        spark,
        str(tmp_path / "ivfopq_state"),
        centroids=cents,
        rotation=rot,
        codebooks=cbs,
    )
    run_to_completion(
        stream, ix.foreach_batch_writer(), str(tmp_path / "ivfopq_ck")
    )

    q = emb.filter(F.col("vec_id") < 10)

    def as_set(df):
        return {
            (
                r["vec_id_q"],
                r["vec_id_c"],
                r["adc_dist"],
                r["exact_dist"],
                r["rank"],
            )
            for r in df.collect()
        }

    want = as_set(all_queries()["ann_ivfopq_topk"].fn(spark, sf_dir))
    got = as_set(ix.query(q, k=5, n_probe=4, shortlist=50))
    assert got == want

    # Committed replay + crash re-append are absorbed.
    ix.process_batch(emb.limit(3), ix.last_batch_id())
    codes = spark.read.parquet(_os.path.join(ix.path, "codes")).limit(4)
    codes.write.mode("append").parquet(_os.path.join(ix.path, "codes"))
    assert as_set(ix.query(q, k=5, n_probe=4, shortlist=50)) == want

    # Conflicting rotation errors on write and on read.
    other_rot = [[v + 1.0 for v in r] for r in rot]
    bad = StreamingIvfOpqIndex(
        spark,
        str(tmp_path / "ivfopq_state"),
        centroids=cents,
        rotation=other_rot,
        codebooks=cbs,
    )
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.process_batch(emb.limit(3), ix.last_batch_id() + 1)
    with _pytest.raises(ValueError, match="persisted quantizer"):
        bad.query(q, k=5)

    # Restart WITHOUT models loads all three sidecars.
    again = StreamingIvfOpqIndex(spark, str(tmp_path / "ivfopq_state"))
    assert as_set(again.query(q, k=5, n_probe=4, shortlist=50)) == want


def test_streaming_hdr_histogram_matches_batch_rollup(spark, sf_dir, tmp_path):
    """Events streamed through StreamingHdrHistogram must answer
    p50/p95/p99 EXACTLY like the one-shot st9_hdr_percentile_rollup —
    hdr_percentiles is shared verbatim and histogram merging is
    lossless (bucket counts add). Replay is a no-op; a crash re-append
    collapses on the batch-tag dedup."""
    import os as _os

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.streaming.pipeline import run_to_completion
    from event_stream_starter_spark.streaming.sketch_sink import (
        StreamingHdrHistogram,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    land = tmp_path / "hdr_landing"
    ev.repartition(4).write.mode("overwrite").parquet(str(land))
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    sink = StreamingHdrHistogram(spark, str(tmp_path / "hdr_state"))
    run_to_completion(stream, sink.foreach_batch_writer(), str(tmp_path / "hdr_ck"))

    def as_set(df, grp):
        return {
            (
                r[grp],
                r["q"],
                r["n"],
                r["rank_r"],
                r["bucket_id"],
                r["est_lo_us16"],
                r["est_hi_us16"],
            )
            for r in df.collect()
        }

    want = as_set(
        all_queries()["st9_hdr_percentile_rollup"].fn(spark, sf_dir),
        "event_type",
    )
    got = as_set(sink.percentiles([0.50, 0.95, 0.99]), "grp")
    assert got == want and len(want) > 0

    # Committed replay + crash re-append are absorbed.
    sink.process_batch(ev.limit(5), sink.last_batch_id())
    partial = spark.read.parquet(
        _os.path.join(sink.path, "partials")
    ).limit(3)
    partial.write.mode("append").parquet(_os.path.join(sink.path, "partials"))
    assert as_set(sink.percentiles([0.50, 0.95, 0.99]), "grp") == want
