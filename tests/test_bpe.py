"""Golden tests for distributed BPE training/encoding (operators/bpe.py).

The rows-only queries' load-bearing check: exact merge-SEQUENCE parity
against an independent pure-Python Sennrich reference trainer, plus
per-document encode parity across both encoder tiers.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from event_stream_starter_spark.io import load_table
from event_stream_starter_spark.operators import bpe


def py_train(texts, n, min_count=2):
    """Reference Sennrich trainer: independent implementation (dict
    vocab, Counter pair stats, scan-merge) — shares no code with the
    Spark path beyond the tie-break contract."""
    wc = Counter(w for t in texts for w in t.lower().split() if w)
    vocab = {tuple(list(w)[:-1] + [w[-1] + bpe.END_OF_WORD]): c for w, c in wc.items()}
    merges = []
    for rank in range(1, n + 1):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        merges.append((rank, left, right, left + right, cnt))
        nv: dict = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nv[key] = nv.get(key, 0) + c
        vocab = nv
    return merges


TINY = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
    "aaaa aaaa ab",  # overlapping-pair stress: 'aaa...' must merge l-to-r
    "héllo héllo wörld wörld",  # codepoint splitting, not bytes
]


def test_train_matches_python_reference_tiny(spark):
    # small_vocab_limit=None forces the fully DISTRIBUTED per-merge
    # loop, keeping it reference-pinned even though the size gate
    # routes small vocabularies to the driver loop by default.
    df = spark.createDataFrame([(t,) for t in TINY], ["text"])
    got = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in bpe.train_bpe(df, 15, small_vocab_limit=None)
    ]
    assert got == py_train(TINY, 15)


def test_driver_and_distributed_paths_agree(spark, sf_dir):
    """The size-gated driver loop (the default below SMALL_VOCAB_LIMIT)
    and the fully distributed per-merge loop must learn the IDENTICAL
    merge table — every rank, pair, and count."""
    docs = load_table(spark, sf_dir, "documents").select("text").limit(120)
    fast = bpe.train_bpe(docs, 12)
    dist = bpe.train_bpe(docs, 12, small_vocab_limit=None)
    assert fast == dist
    assert len(fast) == 12


def test_train_matches_python_reference_corpus(spark, sf_dir):
    """Full-corpus parity at sf0.001: every rank, pair, and count of the
    registered 24-merge query must equal the reference trainer's."""
    texts = [r["text"] for r in load_table(spark, sf_dir, "documents").select("text").collect()]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in bpe.train_bpe(df, 24)
    ]
    assert got == py_train(texts, 24)
    assert len(got) == 24  # corpus is rich enough that early-stop must not fire


def test_train_early_stops_below_min_pair_count(spark):
    df = spark.createDataFrame([("ab cd ef",)], ["text"])  # every pair unique
    assert bpe.train_bpe(df, 5, min_pair_count=2) == []


def test_encode_expr_and_udf_match_python_per_doc(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(80)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    merges_full = py_train(list(texts.values()), 12)
    merges = [(m[1], m[2]) for m in merges_full]
    out = docs.select(
        "doc_id",
        bpe.encode_text_expr(F.col("text"), merges).alias("e"),
        bpe.bpe_encode_udf(merges)(F.col("text")).alias("u"),
    ).collect()
    assert len(out) == len(texts)
    for r in out:
        want = bpe.encode_text_py(texts[r["doc_id"]], merges)
        assert r["e"] == want, r["doc_id"]
        assert r["u"] == want, r["doc_id"]


_EDGE_MERGES = [("a", "a"), ("aa", "aa"), ("a", "b</w>"), ("h", "é")]
_EDGE_TEXTS = [
    "",
    "   ",
    "a",
    "aaaa",
    "héllo",
    "x " * 50,
    "ab ab ab abab",
    "Ab ab AB ab",  # three raw words, one word after lower()
    "ha\xa0ab ab",  # \xa0 is not a split char: 'ha\xa0ab' is one word
    "quick brown fox jumps",  # every word distinct
    # Lower-casing each distinct word must equal text.lower(): a final
    # sigma lowers to ς only at a word end; İ lowers to two codepoints.
    "ΟΔΟΣ ΟΔΟΣ",
    "İstanbul",
    "a\t\tb\n\n\nab\t \nab",  # tab/newline runs
    "  \tab ha  ",  # leading and trailing whitespace
    None,
]


@pytest.fixture(scope="module")
def edge_encodings(spark):
    """Both encoder tiers over every edge text, as ONE DataFrame in one
    partition, so the UDF's per-batch word dictionary sees words repeat
    across rows of a single Arrow batch."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_EDGE_TEXTS)], "i int, text string"
    ).coalesce(1)
    rows = df.select(
        "i",
        bpe.encode_text_expr(F.col("text"), _EDGE_MERGES).alias("e"),
        bpe.bpe_encode_udf(_EDGE_MERGES)(F.col("text")).alias("u"),
    ).collect()
    return {_EDGE_TEXTS[r["i"]]: (r["e"], r["u"]) for r in rows}


@pytest.mark.parametrize("text", _EDGE_TEXTS)
def test_encode_edge_cases_expr_matches_python(edge_encodings, text):
    want = None if text is None else bpe.encode_text_py(text, _EDGE_MERGES)
    assert edge_encodings[text] == (want, want)


@pytest.mark.parametrize(
    "texts", [[None, None, None], ["", "   ", "\t\n"]], ids=["all_null", "zero_words"]
)
def test_encode_batch_without_words(spark, texts):
    """A batch with no word at all: NULL rows stay NULL and wordless
    rows get empty piece lists, in the kernel and through Spark."""
    import pyarrow as pa

    want = [None if t is None else [] for t in texts]
    assert bpe.encode_batch(pa.array(texts, pa.string()), _EDGE_MERGES).to_pylist() == want
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    rows = df.coalesce(1).select("i", bpe.bpe_encode_udf(_EDGE_MERGES)("text").alias("u"))
    assert [r["u"] for r in rows.orderBy("i").collect()] == want


def test_encode_udf_across_batches_of_one_partition(spark):
    """Three-row Arrow batches: each batch encodes on its own, and the
    concatenated rows still equal the reference row for row."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(_EDGE_TEXTS)], "i int, text string"
        ).coalesce(1)
        rows = df.select("i", bpe.bpe_encode_udf(_EDGE_MERGES)("text").alias("u")).collect()
    finally:
        spark.conf.set(key, old)
    assert len(rows) == len(_EDGE_TEXTS)
    for r in rows:
        t = _EDGE_TEXTS[r["i"]]
        assert r["u"] == (None if t is None else bpe.encode_text_py(t, _EDGE_MERGES)), t


def test_merged_symbol_never_remerges_as_left_within_round(spark):
    # pair (a, a) over 'aaaa a' -> word1 ['aa','aa</w>'... wait: last char
    # carries </w>, so 'aaaa' = a a a a</w> -> ['aa','a','a</w>']; the
    # greedy fold must not treat the merged 'aa' tail as a fresh 'a'.
    df = spark.createDataFrame([("aaaa",)], ["text"])
    got = df.select(
        bpe.encode_text_expr(F.col("text"), [("a", "a")]).alias("p")
    ).first()["p"]
    assert got == ["aa", "a", "a</w>"] == bpe.encode_text_py("aaaa", [("a", "a")])


def test_frozen_merges_provenance(spark):
    """_FROZEN_MERGES is declared as the first 12 merges trained on the
    sf0.001 corpus — pin that provenance so the constant can't silently
    drift from the corpus it claims to come from."""
    from event_stream_starter_spark.queries.tokenizer import (
        _FROZEN_MERGES,
        _trained_merges,
    )

    trained = _trained_merges(spark, "/root/testdata/sf0.001")
    assert [(m["left"], m["right"]) for m in trained[: len(_FROZEN_MERGES)]] == list(
        _FROZEN_MERGES
    )


def test_frozen_encoder_three_way_on_adversarial_text(spark):
    """The frozen-merge encoder law must agree across all THREE
    implementations — the Spark Column fold (encode_text_expr), the
    pure-Python kernel (encode_text_py), and the DuckDB list_reduce
    fold that backs x_bpe_encode_frozen's oracle — on inputs nastier
    than the corpus: unicode, the separator byte itself, cascaded-merge
    words, repeated-pair runs, mixed whitespace."""
    import duckdb

    from event_stream_starter_spark.operators.bpe import encode_text_py
    from event_stream_starter_spark.queries.tokenizer import (
        _FROZEN_MERGES,
        _SEP,
        _frozen_encode_duck,
    )
    from event_stream_starter_spark.operators import bpe, textan

    texts = [
        "par par parer",            # cascaded merge: p+ar needs a+r first
        "aaaa aa a",                # repeated single-char runs
        "erer ererer",              # overlapping e+r merges
        "tow tower lowest low",     # ow</w> vs or vs to interactions
        "in inn inin to too",
        "MiXeD CaSe PAR",           # lowercasing law
        "  spaced\tout\nwords  ",   # whitespace normalization
        "naïve café über",          # unicode codepoints
        "a" + _SEP + "b ab",        # the separator byte is stripped first
        "x",                        # single char
        "ar ar</w>",                # literal marker text in input
    ]
    clean = [t.replace(_SEP, "") for t in texts]

    # Python kernel (on SEP-stripped text — the law's representation).
    want = [encode_text_py(t, _FROZEN_MERGES) for t in clean]

    # Spark Column fold.
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    strip = F.translate(F.col("text"), _SEP, "")
    got_spark = {
        r["i"]: r["p"]
        for r in df.select(
            "i", bpe.encode_text_expr(strip, _FROZEN_MERGES).alias("p")
        ).collect()
    }

    # DuckDB fold (the oracle's encoder), word-by-word like the SQL chain.
    con = duckdb.connect()
    toks_duck = (
        "list_filter(string_split(trim(regexp_replace(lower(t), "
        "'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' '), w -> w <> '')"
    )
    got_duck = []
    for t in clean:
        (pieces,) = con.execute(
            f"SELECT flatten(list_transform({toks_duck},"
            f" w -> string_split({_frozen_encode_duck('w')}, '{_SEP}')))"
            " FROM (SELECT ? AS t)",
            [t],
        ).fetchone()
        got_duck.append(pieces)

    for i, t in enumerate(texts):
        assert got_spark[i] == want[i], (t, got_spark[i], want[i])
        assert got_duck[i] == want[i], (t, got_duck[i], want[i])
