"""Distributed BPE tokenizer training + encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The reference pipeline counts tokens with a pre-trained tokenizer
(reference worker/tasks.py token budgeting); a 100TB training-data
engine also needs to TRAIN the tokenizer on the corpus it curates.
The classic scale decomposition makes this tractable:

1. ONE corpus-wide pass collapses 100TB of text to the distinct-word
   frequency table (``groupBy(word).count`` — partial aggregation
   map-side, one shuffle keyed by word). Vocabulary grows ~log with
   corpus size (Heaps' law), so the word table is ~10-100M rows —
   every merge round operates on IT, never on the corpus again.
2. Each merge round over the word table:
   a. explode adjacent symbol pairs weighted by word frequency —
      map-side; the pair count benefits from partial aggregation so
      the shuffle carries one row per distinct pair per partition;
   b. the argmax pair is ``orderBy(count desc, pair asc).limit(1)``
      = TakeOrderedAndProject over per-partition top-1s — a 1-row
      collect, the same driver-loop contract as label propagation
      (operators/graph.py);
   c. the merge applies to each word's symbol array MAP-SIDE (a
      fold, no shuffle) — left-to-right non-overlapping, matching
      the reference algorithm's scan exactly.
3. ``localCheckpoint`` every ``checkpoint_every`` rounds truncates
   the fold-on-fold lineage (the graph.py pattern).

Encoding is two-tier, like C2 URL normalization
(functions/normalize.py): a pure-Column fold path for bounded merge
lists (oracle-certifiable, whole-stage codegen) and a columnar Arrow
UDF path for production vocab sizes (32k merges would blow up codegen;
the UDF applies the same scan in rank order so the two paths are
value-identical — certified in-plan by x_bpe_encode_cert).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"
# Java-regex \s (the textan.tokens split law) = this ASCII class — NOT
# Python str.split()'s Unicode whitespace; Python tiers split with it
# so \xa0/NEL documents can't diverge from the codegen arm.
_ASCII_WS = re.compile("[ \t\n\x0b\f\r]+")


def word_symbols(word: Column) -> Column:
    """Initial BPE symbol sequence of a word: its characters, with the
    end-of-word marker appended to the LAST character (Sennrich's
    representation — so merges can't cross word boundaries and
    word-final units stay distinct from word-internal ones)."""
    chars = _chars(word)
    return F.concat(
        F.slice(chars, F.lit(1), F.size(chars) - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END_OF_WORD))),
    )


def _chars(word: Column) -> Column:
    # substring() counts CODEPOINTS (matches DuckDB regexp_extract_all
    # (word, '.') and Python iteration), so unicode words split
    # identically in all three engines.
    idx = F.sequence(F.lit(1), F.length(word))
    return F.transform(idx, lambda i: F.substring(word, i, F.lit(1)))


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Apply ONE merge (left, right) -> left+right to a symbol array,
    left-to-right non-overlapping — exactly the reference scan
    (i += 2 after a merge). The fold's greedy "merge when the
    accumulator tail is `left`" is equivalent: a just-merged tail
    equals left+right, which can never equal `left` (symbols are
    non-empty, so len(left+right) > len(left)), so a merged element
    is never re-merged as the left operand within the same round."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def build_word_vocab(docs_text: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus-wide pass: whitespace words -> (word, cnt, syms).

    Map-side explode + one shuffle keyed by word (partial aggregation
    halves the shuffle volume); everything after runs on the distinct-
    word table only."""
    from . import textan

    words = (
        docs_text.select(F.explode(textan.tokens(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return words.withColumn("syms", word_symbols(F.col("word")))


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the current symbol vocabulary,
    weighted by word frequency, counted WITH multiplicity ('aaa'
    contributes (a,a) twice — the reference get_stats contract).
    Single-symbol words are filtered before the explode so the
    sequence() bound can't invert."""
    multi = vocab.filter(F.size("syms") >= 2)
    pairs = multi.select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("left"),
                    F.element_at(F.col("syms"), i + 1).alias("right"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right")).agg(
        F.sum("cnt").alias("pair_count")
    )


# Driver-side merge-loop gate: when the distinct-word vocabulary fits
# this many rows, collect the (word, cnt) histogram ONCE and run the
# merge loop in driver Python — identical merges (pinned by
# tests/test_bpe.py::test_driver_and_distributed_paths_agree), zero
# per-merge Spark jobs. Budget: a (word, cnt) row is ~60 bytes of
# driver memory (avg word ~10 chars + long + list overhead), so 2M rows
# is ~120MB transient plus the symbol lists (~3x) — comfortably inside
# a multi-GB driver, the same posture as graph.py's
# SMALL_GRAPH_PAIR_LIMIT. Vocabulary grows ~log with corpus size
# (Heaps' law): even 100TB corpora land in the 10-100M range, so real
# deployments raise the limit with driver RAM or keep the distributed
# path; the GATE is what makes 24 merges cost ~1 vocab aggregation
# instead of 24 jobs on every corpus that fits.
SMALL_VOCAB_LIMIT = 2_000_000


def _apply_merge_py(syms: list[str], left: str, right: str) -> list[str]:
    """The reference merge scan (left-to-right, non-overlapping,
    i += 2 after a merge) — shared by the driver trainer and the
    encode kernel so all paths merge identically."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_bpe_driver(
    word_counts: list[tuple[str, int]], num_merges: int, min_pair_count: int
) -> list[dict]:
    """Driver-Python merge loop over a collected (word, cnt) histogram.

    Semantics identical to the distributed loop by construction: initial
    symbols are codepoints with END_OF_WORD glued to the last one
    (list(word) iterates codepoints, matching F.substring's codepoint
    indexing); pair counts are adjacent-with-multiplicity weighted by
    word frequency; the argmax tie-breaks on (count DESC, left ASC,
    right ASC) — Python's codepoint string order equals Spark's UTF-8
    binary order because UTF-8 is order-preserving; the merge scan is
    _apply_merge_py, the same scan merge_pair folds.
    """
    vocab = [
        ([*word[:-1], word[-1] + END_OF_WORD], cnt)
        for word, cnt in word_counts
        if word
    ]
    merges: list[dict] = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_count:
            break
        merges.append(
            {
                "rank": rank,
                "left": left,
                "right": right,
                "merged": left + right,
                "pair_count": int(cnt),
            }
        )
        vocab = [
            (_apply_merge_py(syms, left, right) if left in syms else syms, c)
            for syms, c in vocab
        ]
    return merges


def train_bpe(
    docs_text: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
    small_vocab_limit: int | None = SMALL_VOCAB_LIMIT,
) -> list[dict]:
    """Learn up to ``num_merges`` BPE merges from a text column.

    Returns the merge table as a list of dicts (rank 1-based, left,
    right, merged, pair_count) in learned order. Ties break
    deterministically on (pair_count DESC, left ASC, right ASC) —
    pinned in both the Spark argmax and the pure-Python golden
    (tests/test_bpe.py), so the merge sequence is reproducible across
    engines and partitionings. Stops early when no pair reaches
    ``min_pair_count`` (merging singletons is pure overfit).

    Two execution tiers (the graph.py small-graph pattern):

    - vocab rows <= ``small_vocab_limit``: ONE corpus pass builds the
      word histogram, one count + one collect, and the merge loop runs
      in driver Python (_train_bpe_driver) — identical merge sequence,
      ~2 Spark jobs total instead of one per merge. This is the fix
      for the real-vocab-size cost problem: a 32k-merge tokenizer must
      not be 32k Spark jobs when the vocabulary (corpus-VOCABULARY-
      sized, Heaps' law) fits the documented driver budget.
    - above the gate (or ``small_vocab_limit=None``/0): the fully
      distributed loop — one vocab-table pair aggregation + a 1-row
      collect per round, never touching the corpus again;
      localCheckpoint every ``checkpoint_every`` rounds bounds the
      fold-expression lineage depth.
    """
    vocab = build_word_vocab(docs_text, text_col).localCheckpoint(eager=True)
    if small_vocab_limit and vocab.count() <= small_vocab_limit:
        rows = vocab.select("word", "cnt").collect()
        return _train_bpe_driver(
            [(r["word"], r["cnt"]) for r in rows], num_merges, min_pair_count
        )
    merges: list[dict] = []
    for rank in range(1, num_merges + 1):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < min_pair_count:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append(
            {
                "rank": rank,
                "left": left,
                "right": right,
                "merged": left + right,
                "pair_count": int(cnt),
            }
        )
        vocab = vocab.withColumn("syms", merge_pair(F.col("syms"), left, right))
        if rank % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def encode_word_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Column-expression encoder: initial symbols, then each merge in
    rank order. Codegen-friendly only for bounded merge lists (each
    merge is one fold over the array) — the certification arm. For
    production vocab sizes use :func:`bpe_encode_udf`."""
    syms = word_symbols(word)
    for left, right in merges:
        syms = merge_pair(syms, left, right)
    return syms


def encode_text_expr(text: Column, merges: list[tuple[str, str]]) -> Column:
    """Encode whitespace-tokenized text to BPE pieces, expression path.
    Map-only: no shuffle, no Python — the merge list is baked into the
    plan as literals (the broadcast-of-a-model pattern, model = merge
    table)."""
    from . import textan

    words = F.filter(textan.tokens(text), lambda w: F.length(w) > 0)
    return F.flatten(F.transform(words, lambda w: encode_word_expr(w, merges)))


def _encode_word_py(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = list(word)
    syms[-1] = syms[-1] + END_OF_WORD
    for left, right in merges:
        syms = _apply_merge_py(syms, left, right)
    return syms


def encode_text_py(text: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python row encoder — the golden-test reference for the
    Arrow kernel (:func:`encode_batch`). Same scan as
    merge_pair/encode_word_expr by construction; x_bpe_encode_cert
    proves the agreement in-plan.
    Splits on the Java-regex ASCII \\s class (the textan.tokens law),
    not Python's Unicode whitespace — \\xa0/NEL stay inside words."""
    pieces: list[str] = []
    for w in _ASCII_WS.split(text.lower()):
        if w:
            pieces.extend(_encode_word_py(w, merges))
    return pieces


def encode_batch(texts: pa.Array, merges: list[tuple[str, str]]) -> pa.ListArray:
    """Arrow batch encoder: a string array -> the list array of each
    row's BPE pieces, row for row equal to :func:`encode_text_py` (a
    NULL text gives a NULL row).

    Columnar apart from one Python scan per DISTINCT word: Arrow splits
    every text on the ASCII whitespace class and drops the empty words;
    ``dictionary_encode`` maps each word token to its distinct word;
    each distinct word is lower-cased (Python's ``str.lower``, so the
    final-sigma and dotted-I rules match the reference; lower-casing
    never makes or removes ASCII whitespace, so word by word equals
    ``text.lower()`` split) and run through the merge scan once; the
    output is gathered from those pieces through the token offsets.
    Text is Zipfian (sf0.1 documents: 270,704 tokens, 31 distinct
    words), so the scan is paid for a handful of words per batch."""
    words = pc.split_pattern_regex(texts, _ASCII_WS.pattern)
    tokens = words.flatten()
    keep = pc.not_equal(tokens, "")
    row_of = pc.list_parent_indices(words).filter(keep).to_numpy()
    codes = tokens.filter(keep).dictionary_encode()
    enc = [_encode_word_py(w.lower(), merges) for w in codes.dictionary.to_pylist()]
    width = np.array([len(p) for p in enc], dtype=np.int64)
    start = np.concatenate(([0], np.cumsum(width)))
    idx = codes.indices.to_numpy(zero_copy_only=False)
    # Gather: token t contributes pieces start[idx[t]] .. + width[idx[t]].
    cnt = width[idx]
    first = np.repeat(start[idx] - (np.cumsum(cnt) - cnt), cnt)
    take = first + np.arange(cnt.sum())
    values = pa.array([p for ps in enc for p in ps], pa.string()).take(pa.array(take))
    n_pieces = np.bincount(row_of, weights=cnt, minlength=len(texts)).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(n_pieces))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), values, mask=texts.is_null())


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow UDF encoder for production merge lists: :func:`encode_batch`
    over each Arrow batch, reading Spark's string arrays directly (no
    pandas conversion, no per-row Python). :func:`encode_text_py` stays
    the per-token reference the tests compare this tier against. At 32k
    merges a real deployment would swap the per-word scan for a
    compiled tokenizer via the same seam; the signature and batch shape
    are what matter here."""
    frozen = [tuple(m) for m in merges]

    @F.arrow_udf("array<string>")
    def _encode(texts):  # type: ignore[no-untyped-def]
        return encode_batch(texts, frozen)

    return _encode
