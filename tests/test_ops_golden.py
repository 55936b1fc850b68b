"""Golden tests for queries whose semantics are not SQL-expressible:
re-compute the expected result in pure Python and compare exactly."""

from __future__ import annotations

import os

import duckdb
import pytest

from event_stream_starter_spark.queries import all_queries
from event_stream_starter_spark.queries.ops import COOLDOWN_SEC


def test_d6_cooldown_matches_python_greedy(spark, sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        "SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us "
        f"FROM read_parquet('{os.path.join(sf_dir, 'events.parquet')}') "
        "WHERE event_type = 'purchase' ORDER BY user_id, ts_us"
    ).fetchall()
    con.close()

    expected: set[tuple[int, int]] = set()
    last_emit: dict[int, int] = {}
    for user_id, ts_us in rows:
        last = last_emit.get(user_id)
        if last is None or ts_us >= last + COOLDOWN_SEC * 1_000_000:
            expected.add((user_id, ts_us))
            last_emit[user_id] = ts_us

    df = all_queries()["d6_cooldown_emit"].fn(spark, sf_dir)
    actual = {(r["user_id"], r["emit_ts_us"]) for r in df.collect()}
    assert actual == expected


def test_t8_mmr_matches_python_core(spark, sf_dir):
    from event_stream_starter_spark.operators.mmr import mmr_select

    con = duckdb.connect()
    texts = dict(
        con.execute(
            "SELECT doc_id, text FROM "
            f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}') LIMIT 50"
        ).fetchall()
    )
    con.close()
    df = all_queries()["t8_mmr_keyphrases"].fn(spark, sf_dir)
    got = {
        r["doc_id"]: (r["mmr_phrases"].split("|") if r["mmr_phrases"] else [])
        for r in df.filter(df.doc_id.isin(*texts.keys())).collect()
    }
    for doc_id, text in texts.items():
        assert got[doc_id] == mmr_select(text), doc_id
    # MMR must diversify: selected phrases are distinct.
    for phrases in got.values():
        assert len(phrases) == len(set(phrases))


def test_resize_images_matches_python_stride(spark, sf_dir):
    """Fake stride resize is a pure function of the payload: recompute it
    in plain Python and demand byte equality (the plumbing contract a
    real codec would inherit)."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.multimodal import (
        media_from_documents,
        resize_images,
    )

    docs = load_table(spark, sf_dir, "documents").filter("text IS NOT NULL").limit(50)
    media = media_from_documents(docs)
    got = {r["media_id"]: bytes(r["payload"]) for r in resize_images(media, 8, 8).collect()}
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert got.keys() == src.keys()
    for mid, p in src.items():
        if len(p) <= 64:
            want = p
        else:
            stride = len(p) / 64
            want = bytes(p[int(i * stride)] for i in range(64))
        assert got[mid] == want, mid


def test_audio_windows_ascii_guard_excludes_nonascii(spark):
    """The mmedia queries' all-ASCII guard (length == octet_length):
    a payload with a multi-byte char would decode differently in the
    signed-LE Spark arm vs the unsigned ascii() oracle arm, so it must
    drop out of BOTH; on the guarded range the two decodes coincide
    exactly (checked against a struct-unpack recompute)."""
    import struct

    import pyspark.sql.functions as F

    from event_stream_starter_spark.operators.multimodal import (
        audio_windows,
        media_from_documents,
    )

    ascii_text = "abcd" * 200
    docs = spark.createDataFrame(
        [(1, ascii_text), (2, "café" * 200)], "doc_id long, text string"
    )
    guarded = docs.filter(F.length("text") == F.octet_length("text"))
    rows = audio_windows(
        media_from_documents(guarded).filter("n_bytes >= 2")
    ).collect()
    assert {r["media_id"] for r in rows} == {1}
    # signed-LE decode == (lo + 256*hi) unsigned decode on ASCII bytes
    samples = [
        s - 20000
        for (s,) in struct.iter_unpack("<h", ascii_text.encode("utf-8"))
    ]
    want_energy = {}
    for i, s in enumerate(samples):
        want_energy[i // 256] = want_energy.get(i // 256, 0) + s * s
    got = {r["win_idx"]: r["energy"] for r in rows}
    assert got == want_energy


def test_hll_mergeable_rollup_within_error_bound(spark, sf_dir):
    """Union-merged daily sketches must estimate distinct users within
    the HLL error envelope (<5% at default lgK=12) of the exact count —
    the guarantee that makes day-partitioned sketch rollups safe to
    substitute for full rescans."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries

    rows = all_queries()["a5_hll_mergeable_rollup"].fn(spark, sf_dir).collect()
    got = {r["event_type"]: r for r in rows}
    exact = {
        r["event_type"]: r["d"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert got.keys() == exact.keys()
    for k in exact:
        assert got[k]["distinct_users_exact"] == exact[k], (k, got[k], exact[k])
        # the query's own in-plan certification of the sketch estimate
        assert got[k]["within_5pct"] is True, (k, got[k])


def test_connected_components_long_chain_and_union_find(spark):
    """Chain 0-1-2-...-9 plus a separate triangle: the chain forces
    multiple label-propagation rounds (diameter 9), the triangle checks
    components don't bleed; compare against a pure-Python union-find."""
    from event_stream_starter_spark.operators.graph import connected_components

    edges = [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        (r["node"], r["label"])
        for r in connected_components(pairs).collect()
    }

    from tests.oracle_utils import union_find_clusters

    expected = set(union_find_clusters(edges).items())
    assert got == expected


def test_star_contraction_escape_on_adversarial_chain(spark):
    """A 512-node chain has diameter 511: label propagation capped at
    max_iter=3 cannot finish, so connected_components must escape to
    large-star/small-star contraction and still return exact components.
    The contraction itself must do it in O(log n)-ish alternations — the
    direct call is capped at 12 rounds (vs 511 propagation rounds), so a
    slow-converging implementation fails the exactness check."""
    from event_stream_starter_spark.operators.graph import (
        _star_contraction,
        connected_components,
    )
    from tests.oracle_utils import union_find_clusters

    n = 512
    edges = [(i, i + 1) for i in range(n - 1)] + [(900, 901), (901, 902)]
    expected = set(union_find_clusters(edges).items())

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    # small_graph_limit=0 forces the distributed path; max_iter=3 forces
    # the escape (the convergence sum cannot go flat in 3 rounds).
    got = {
        (r["node"], r["label"])
        for r in connected_components(
            pairs, max_iter=3, small_graph_limit=0
        ).collect()
    }
    assert got == expected

    # Direct contraction under a tight round budget: 12 alternations for
    # diameter 511 — only a path-halving algorithm converges in time.
    import pyspark.sql.functions as F

    p = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    sym = p.union(p.select(F.col("d").alias("s"), F.col("s").alias("d")))
    got2 = {
        (r["node"], r["label"])
        for r in _star_contraction(sym, max_rounds=12).collect()
    }
    assert got2 == expected

    # Convergence is observable: the operator records the alternations it
    # used, so an adversarial-input slowdown (which cannot show up in the
    # exact result) is still detectable. Diameter 511 must converge via
    # path-halving well inside the 12-round budget, not exhaust it.
    from event_stream_starter_spark.operators import graph as graph_mod

    assert 1 <= graph_mod.last_contraction_rounds < 12


def test_interval_join_equals_naive_range_join(spark):
    """Granule-bucketed interval join must EQUAL the naive range-predicate
    join: multi-granule intervals (longer than the granule) produce each
    matching pair exactly once, boundary semantics are half-open
    [start, end), and empty intervals (end <= start) match nothing."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.operators.asof import interval_join

    G = 10  # tiny granule so intervals span many buckets
    events = spark.createDataFrame(
        [(i, "k" + str(i % 2), i * 7) for i in range(60)],
        "event_id long, key string, ts_us long",
    )
    intervals = spark.createDataFrame(
        [
            (0, "k0", 5, 100),     # spans ~10 granules
            (1, "k0", 100, 101),   # 1-tick interval
            (2, "k1", 50, 50),     # empty: matches nothing
            (3, "k1", 60, 40),     # inverted: matches nothing
            (4, "k1", 0, 400),     # covers everything on k1
            (5, "k0", 98, 105),    # boundary: ts=98 in, ts=105 out
        ],
        "interval_id long, key string, start_us long, end_us long",
    )
    got = {
        (r["event_id"], r["interval_id"])
        for r in interval_join(
            events, intervals, ["key"], granule_us=G
        ).collect()
    }
    naive = {
        (r["event_id"], r["interval_id"])
        for r in events.join(
            intervals,
            (events.key == intervals.key)
            & (intervals.start_us <= events.ts_us)
            & (events.ts_us < intervals.end_us),
        ).collect()
    }
    assert got == naive
    assert naive, "naive reference empty — test vacuous"
    # exactly-once per pair: collect with multiplicity and compare sizes
    n_got = interval_join(events, intervals, ["key"], granule_us=G).count()
    assert n_got == len(got)


def test_asof_join_carries_whole_snapshot_not_column_mix(spark):
    """A NULL field in the latest right snapshot must stay NULL — not be
    backfilled from an older right row (whole-row as-of semantics)."""
    from event_stream_starter_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("k", 10, 1, 2), ("k", 20, None, 3)],
        "key string, rts long, a int, b int",
    )
    left = spark.createDataFrame(
        [("k", 15), ("k", 25)], "key string, lts long"
    )
    got = {
        r["lts"]: (r["a"], r["b"])
        for r in asof_join(
            left, right, ["key"], "lts", "rts", ["a", "b"]
        ).collect()
    }
    # lts=15 sees snapshot (1,2); lts=25 sees snapshot (NULL,3) — NOT (1,3).
    assert got == {15: (1, 2), 25: (None, 3)}


def test_topic_hash_empty_hashes_none_content(spark):
    """C7 parity (events.py:324-329): empty/null keywords hash the
    CONTENT string 'none' — the output is always 12 hex chars, never
    the literal 'none'."""
    import hashlib

    import pyspark.sql.functions as F

    from event_stream_starter_spark.functions import topic_hash

    df = spark.createDataFrame([(["b", "a"],), ([],), (None,)], "kws array<string>")
    got = [r[0] for r in df.select(topic_hash(F.col("kws")).alias("h")).collect()]
    assert got == [
        hashlib.sha256(b"a||b").hexdigest()[:12],
        hashlib.sha256(b"none").hexdigest()[:12],
        hashlib.sha256(b"none").hexdigest()[:12],
    ]


def test_interval_join_property_random_inputs(spark):
    """Hypothesis property: on arbitrary event/interval sets and granule
    sizes, the bucketed interval join equals the naive range join."""
    import pyspark.sql.functions as F
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_stream_starter_spark.operators.asof import interval_join

    ts = st.integers(min_value=0, max_value=500)

    @settings(max_examples=8, deadline=None)
    @given(
        evs=st.lists(st.tuples(st.sampled_from(["a", "b"]), ts), min_size=1, max_size=25),
        ivs=st.lists(
            st.tuples(st.sampled_from(["a", "b"]), ts, ts), min_size=1, max_size=10
        ),
        granule=st.sampled_from([1, 7, 64, 1000]),
    )
    def run(evs, ivs, granule):
        events = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(evs)],
            "event_id long, key string, ts_us long",
        )
        intervals = spark.createDataFrame(
            [(i, k, s, e) for i, (k, s, e) in enumerate(ivs)],
            "interval_id long, key string, start_us long, end_us long",
        )
        got = {
            (r["event_id"], r["interval_id"])
            for r in interval_join(events, intervals, ["key"], granule_us=granule).collect()
        }
        naive = {
            (r["event_id"], r["interval_id"])
            for r in events.join(
                intervals,
                (events.key == intervals.key)
                & (intervals.start_us <= events.ts_us)
                & (events.ts_us < intervals.end_us),
            ).collect()
        }
        assert got == naive

    run()


def test_asof_join_property_vs_pandas_merge_asof(spark):
    """Hypothesis property: asof_join (both directions, with and without
    tolerance) equals pandas merge_asof — an INDEPENDENT reference
    implementation of the as-of law, not a Spark re-derivation."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_stream_starter_spark.operators.asof import asof_join

    ts = st.integers(min_value=0, max_value=200)

    @settings(max_examples=8, deadline=None)
    @given(
        lefts=st.lists(st.tuples(st.sampled_from(["a", "b"]), ts), min_size=1, max_size=15),
        rights=st.lists(st.tuples(st.sampled_from(["a", "b"]), ts), min_size=1, max_size=10),
        direction=st.sampled_from(["backward", "forward"]),
        tol=st.sampled_from([None, 0, 10, 50]),
    )
    def run(lefts, rights, direction, tol):
        # merge_asof needs right unique per (key, ts) for determinism —
        # same precondition asof_join documents.
        rset = sorted({(k, t) for k, t in rights})
        ldf = pd.DataFrame(
            [(i, k, t) for i, (k, t) in enumerate(lefts)],
            columns=["lid", "key", "ts"],
        )
        rdf = pd.DataFrame(
            [(k, t, f"v{k}{t}") for k, t in rset], columns=["key", "rts", "rv"]
        )
        sl = spark.createDataFrame(ldf, "lid long, key string, ts long")
        sr = spark.createDataFrame(rdf, "key string, rts long, rv string")
        got = {
            (r["lid"], r["rv"])
            for r in asof_join(
                sl, sr, ["key"], "ts", "rts", ["rts", "rv"],
                direction=direction, tolerance_us=tol,
            ).collect()
        }
        want_df = pd.merge_asof(
            ldf.sort_values("ts", kind="mergesort"),
            rdf.sort_values("rts", kind="mergesort"),
            left_on="ts",
            right_on="rts",
            by="key",
            direction=direction,
            tolerance=tol,
        )
        want = {
            (int(r.lid), None if pd.isna(r.rv) else r.rv)
            for r in want_df.itertuples()
        }
        assert got == want

    run()


def test_d4_merge_vector_tweet_id_and_status_url_collide(spark):
    """Mirror of the reference's merge test vector
    (tests/test_events_phase_a.py:32-61, test_merge_evidence_completion):
    an evidence item with ref {tweet_id: '12345'} and one with
    ref {url: 'https://twitter.com/user/status/12345?utm_source=foo'}
    must derive the SAME dedup key — the url is normalized (tracking
    param stripped), its /status/<id> extracted — and merge into one
    item whose ref union keeps BOTH tweet_id and the normalized url."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.functions.normalize import normalize_url
    from event_stream_starter_spark.operators.dedup import first_nonempty

    rows = [
        (1, "x", "12345", "", 1000),
        (2, "x", "", "https://twitter.com/user/status/12345?utm_source=foo", 2000),
    ]
    df = spark.createDataFrame(
        rows, "evidence_id long, source string, tweet_id string, url string, ts long"
    ).withColumn("url", F.when(F.col("url") != "", normalize_url(F.col("url"))).otherwise(""))
    status_id = F.regexp_extract("url", r"/status(?:es)?/([0-9]+)", 1)
    key = F.when(F.col("tweet_id") != "", F.concat(F.lit("x:"), F.col("tweet_id"))).otherwise(
        F.when(status_id != "", F.concat(F.lit("x:"), status_id)).otherwise(
            F.concat(F.lit("x:"), F.col("url"))
        )
    )
    merged = (
        df.withColumn("dedup_key", key)
        .groupBy("dedup_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            first_nonempty("tweet_id", ["ts", "evidence_id"]).alias("m_tweet_id"),
            first_nonempty("url", ["ts", "evidence_id"]).alias("m_url"),
        )
        .collect()
    )
    assert len(merged) == 1
    row = merged[0]
    assert row["dedup_key"] == "x:12345" and row["n"] == 2
    assert row["m_tweet_id"] == "12345"
    assert row["m_url"].startswith("https://twitter.com/") and "utm" not in row["m_url"]


def test_heat_gates_noise_floor_and_min_sample_branches(spark):
    """Reference heat.py:264-273 branch order: below the noise floor →
    slope NULL / flat / degrade FALSE (quiet is not an error); else
    below the 30m sample minimum → slope NULL / flat / degrade TRUE;
    else slope+trend computed normally."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.operators.windows import heat_gates

    df = spark.createDataFrame(
        [
            ("quiet", 0, 2, 0),      # noise floor: 0 in 10m
            ("sparse", 1, 2, 0),     # >= floor but < 3 in 30m → degrade
            ("rising", 5, 10, 1),    # slope 0.4 → up
            ("falling", 1, 10, 6),   # slope -0.5 → down
            ("steady", 3, 10, 3),    # slope 0.0 → flat
        ],
        "name string, cnt_10m long, cnt_30m long, prev_10m long",
    )
    slope = (F.col("cnt_10m") - F.col("prev_10m")) / F.lit(10.0)
    g = heat_gates(F.col("cnt_10m"), F.col("cnt_30m"), slope)
    got = {
        r["name"]: (r["slope"], r["trend"], r["degrade"])
        for r in df.select(
            "name",
            g["slope"].alias("slope"),
            g["trend"].alias("trend"),
            g["degrade"].alias("degrade"),
        ).collect()
    }
    assert got["quiet"] == (None, "flat", False)
    assert got["sparse"] == (None, "flat", True)
    assert got["rising"] == (0.4, "up", False)
    assert got["falling"] == (-0.5, "down", False)
    assert got["steady"] == (0.0, "flat", False)


def test_salted_topn_property_equals_direct_window(spark):
    """Hypothesis property: salted_topn — the engine's central remedy
    for bounded-key corpus windows (ANN shortlists, hybrid RRF, Zipf
    heads) — is VALUE-IDENTICAL to the direct PARTITION BY qid
    row_number() <= n window whenever the order is a total order within
    a partition, across arbitrary score distributions (ties included:
    broken by id), partition counts, n, and salt widths."""
    import pyspark.sql.functions as F
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from event_stream_starter_spark.operators.similarity import salted_topn

    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),   # qid
                st.integers(min_value=0, max_value=9),   # score (ties likely)
            ),
            min_size=1,
            max_size=60,
        ),
        n=st.sampled_from([1, 3, 7]),
        n_salts=st.sampled_from([1, 2, 16]),
    )
    def run(rows, n, n_salts):
        df = spark.createDataFrame(
            [(q, i, s) for i, (q, s) in enumerate(rows)],
            "qid long, cid long, score long",
        )
        order = (F.col("score").asc(), F.col("cid").asc())
        got = {
            (r["qid"], r["cid"], r["rank"])
            for r in salted_topn(
                df, order, n, "rank", part_cols=("qid",),
                salt_key="cid", n_salts=n_salts,
            ).collect()
        }
        w = Window.partitionBy("qid").orderBy(*order)
        want = {
            (r["qid"], r["cid"], r["rank"])
            for r in df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n)
            .collect()
        }
        assert got == want

    run()


def test_hdr_percentile_bracket_contains_true_order_statistic(spark, sf_dir):
    """st9_hdr_percentile_rollup's [est_lo, est_hi) bracket must contain
    the TRUE rank-r order statistic (numpy, exact) for every
    (event_type, q), with relative width <= 1/16 — the HdrHistogram
    guarantee the mergeable sketch exists to provide."""
    import math

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries

    rows = all_queries()["st9_hdr_percentile_rollup"].fn(spark, sf_dir).collect()
    assert rows
    vals = {}
    for r in load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect():
        vals.setdefault(r["event_type"], []).append(
            math.floor(r["value"] * 1_000_000.0)
        )
    for v in vals.values():
        v.sort()
    for r in rows:
        v = vals[r["event_type"]]
        assert r["n"] == len(v)
        assert r["rank_r"] == math.ceil(r["q"] * len(v))
        # rank-r order statistic, clamped to the binning law's >= 1 floor
        true_us = max(v[r["rank_r"] - 1], 1)
        lo, hi = r["est_lo_us16"] / 16, r["est_hi_us16"] / 16
        assert lo <= true_us < hi, (r["event_type"], r["q"])
        assert (hi - lo) / lo <= 1 / 16 + 1e-12  # relative width law


def test_hdr_sub_unit_values_clamp(spark, tmp_path):
    """PLANTED sub-microsecond golden (r9 ADVICE): events with
    value = 0.0 / 5e-7 / negative must fold into HDR bucket 0 under
    the clamped binning law, in BOTH engines, with agreeing brackets.
    Pre-clamp, bin(0) yielded bucket -16: the read path's negative
    shift crashed the DuckDB oracle ('Cannot left-shift by negative
    number') while Spark wrapped the shift mod 64 and emitted garbage
    bounds — this golden re-runs the full query + oracle on a corpus
    where EVERY group's p50 rank lands in a sub-micro bucket."""
    import datetime

    from event_stream_starter_spark.queries import all_queries

    from tests.oracle_utils import duck_connection  # noqa: F401  (pattern)
    import duckdb

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # sub: 6 sub-unit values (0, 5e-7, negative) + 2 normal -> p50 sub-micro
    for i, v in enumerate([0.0, 0.0, 5e-7, 4e-7, -1.0, 0.0, 2.5, 7.0]):
        rows.append((i, t0 + datetime.timedelta(minutes=i), i % 3, "sub", v, "{}"))
    # mixed: normal values, one zero — zero must not shift anything negative
    for i, v in enumerate([0.0, 1.5, 3.25, 9.0]):
        rows.append((100 + i, t0 + datetime.timedelta(minutes=i), i, "mixed", v, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = tmp_path / "hdrsf"
    df.coalesce(1).write.mode("overwrite").parquet(str(sf / "events.parquet"))

    spec = all_queries()["st9_hdr_percentile_rollup"]
    got = {
        (r["event_type"], r["q"]): r
        for r in spec.fn(spark, str(sf)).collect()
    }
    # law: every sub-micro value clamps to 1 -> bucket 0, whose exact
    # bounds are [16, 17) in us x16 (pw=1, s=0 -> lo=16, hi=lo+pw);
    # the planted corpus puts the p50 rank (6 of 8 rows sub-micro)
    # squarely in that bucket
    r = got[("sub", 0.5)]
    assert r["bucket_id"] == 0, r
    assert (r["est_lo_us16"], r["est_hi_us16"]) == (16, 17), r
    assert all(v["bucket_id"] >= 0 for v in got.values())
    # oracle twin runs (no negative-shift crash) and hash-agrees on values
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"
    )
    want = {
        (r[0], float(r[1])): r
        for r in con.execute(spec.oracle).fetchall()
    }
    assert set(want) == set(got)
    for k, r in got.items():
        o = want[k]
        assert (
            r["n"], r["rank_r"], r["bucket_id"], r["est_lo_us16"], r["est_hi_us16"]
        ) == (o[2], o[3], o[4], o[5], o[6]), (k, r, o)


def test_source_quality_gate_flags_each_arm(spark, tmp_path):
    """x_source_quality_gate on PLANTED sources: one flagged by the
    low-quality SHARE arm, one by the MEDIAN arm, one clean — both OR
    arms proven load-bearing."""
    from event_stream_starter_spark.queries import all_queries

    clean = (
        "the quick brown fox jumps over a lazy dog and runs far away "
        "home tonight with great joy and calm delight in the field"
    )
    junk = "!!!! #### $$$$ %%%% @@@@ ^^^^ &&&& **** (((( ))))"
    docs = []
    # goodsrc: all clean -> low share 0, high median
    for i in range(10):
        docs.append((100 + i, clean + f" tail {i}", "en", "goodsrc"))
    # sharesrc: 4 of 10 junk (share 0.4 >= 0.25) but median still clean
    for i in range(6):
        docs.append((200 + i, clean + f" tail {i}", "en", "sharesrc"))
    for i in range(4):
        docs.append((206 + i, junk + f" {i}", "en", "sharesrc"))
    # mediansrc: uniformly mediocre docs — 31 tokens, exactly 2 stopword
    # hits, zero punctuation => quality = 0.4*0.31 + 0.3 + 0.3*(2/31*5)
    # ~= 0.521: above the 0.5 low-q line (share arm stays 0) but below
    # the 0.58 median bound (median arm fires).
    mediocre = "the " + " ".join(f"karv{j}" for j in range(28)) + " the"
    for i in range(10):
        docs.append((300 + i, mediocre + f" tail{i}", "en", "mediansrc"))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    sf = tmp_path / "sqsf"
    df.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))

    rows = {
        r["source"]: r
        for r in all_queries()["x_source_quality_gate"].fn(spark, str(sf)).collect()
    }
    good, share, med = rows["goodsrc"], rows["sharesrc"], rows["mediansrc"]
    assert not good["flagged"]
    assert share["flagged"] and share["low_q_share"] >= 0.25
    assert med["flagged"], med
    # the median arm specifically (its share arm must NOT be what fired)
    if med["low_q_share"] < 0.25:
        assert med["p50_quality"] < 0.58


@pytest.mark.parametrize("side", ["train", "eval"])
def test_semantic_screens_null_text_match_oracle(spark, sf_dir, tmp_path, side):
    """A NULL-text doc has NULL dims. Both screens, in both tiers, must
    then give it NULL cosines (max cos NULL, 0 hits, flag NULL) as the
    DuckDB oracles do, not score it as a finite vector (ANSI-off
    ``size(NULL)`` is -1)."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import textdata as td
    from tests.oracle_utils import compare

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tiny = docs.filter(F.col("source").isin(td._EVAL_SRC, "src1", "src2"))
    src = td._EVAL_SRC if side == "eval" else "src1"
    null_doc = spark.createDataFrame(
        [(10**9, None, "en", src, None)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "documents.parquet")
    tiny.unionByName(null_doc).coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")

    qs = all_queries()
    old = td._SEM_PAIR_KERNEL
    try:
        # Each screen emits one row per doc of one side only.
        for name, out_side in (
            ("x_semantic_decontaminate", "train"),
            ("x_semantic_exposure", "eval"),
        ):
            for kernel in (True, False):
                td._SEM_PAIR_KERNEL = kernel
                df = qs[name].fn(spark, str(tmp_path))
                problems = compare(df, con, qs[name].oracle)
                assert not problems, (name, kernel, problems)
                got = df.filter(F.col("doc_id") == 10**9).collect()
                want = [(None, 0, None)] if side == out_side else []
                assert [tuple(r)[-3:] for r in got] == want, (name, kernel, got)
    finally:
        td._SEM_PAIR_KERNEL = old


def test_sem_pair_kernel_equals_hof_tier(spark, sf_dir):
    """The semantic screens' Arrow kernel tier (featurize + pair stats
    in one boundary crossing) must be BIT-IDENTICAL to the JVM
    broadcast-NLJ + interpreted-HOF reference tier on the frozen corpus
    plus an empty-doc plant (a zero vector; under the ANSI-off session
    `x / 0.0` is NULL, so its cosine is NULL, not NaN) — over all three
    screen shapes (train-keyed, idf-weighted, eval-keyed). The NaN law
    is pinned by the `nan_elem` plants of tests/test_kernel_plants.py."""
    import shutil

    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries import textdata as td

    # Plant an empty train doc (zero vector) and an eval doc, on top of
    # the frozen corpus, in a scratch sf dir.
    import tempfile

    tmp = tempfile.mkdtemp(prefix="semkern_")
    docs = load_table(spark, sf_dir, "documents")
    plants = spark.createDataFrame(
        [(10**9, "   ", "en", "src5")],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        plants
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

    qs = all_queries()
    old = td._SEM_PAIR_KERNEL
    try:
        for name in (
            "x_semantic_decontaminate",
            "x_semantic_exposure",
            "x_semantic_decontaminate_idf",
        ):
            key = "doc_id"
            td._SEM_PAIR_KERNEL = True
            kern = qs[name].fn(spark, tmp)
            td._SEM_PAIR_KERNEL = False
            ref = qs[name].fn(spark, tmp)
            td._SEM_PAIR_KERNEL = old
            cols = [c for c in kern.columns if c != key]
            j = kern.alias("a").join(ref.alias("b"), key, "full_outer")
            checks = [
                F.sum(
                    (~F.expr(f"a.{c} <=> b.{c}")).cast("int")
                ).alias(c)
                for c in cols
            ]
            bad = j.agg(
                F.count(F.lit(1)).alias("n"), *checks
            ).collect()[0]
            assert bad["n"] > 0
            for c in cols:
                assert bad[c] == 0, f"{name}.{c}: {bad[c]} mismatches"
    finally:
        td._SEM_PAIR_KERNEL = old
        shutil.rmtree(tmp, ignore_errors=True)
