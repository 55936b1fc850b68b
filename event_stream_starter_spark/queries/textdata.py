"""Text-analysis + deduplication queries over the documents table:
filters F1-F3, the training-data dedup family (exact, n-gram Jaccard,
MinHash-LSH, SimHash), language ID, quality scoring, token counting,
fingerprinting (SURVEY.md §2.2, §2.4 + the 100TB training-pipeline ops).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, reuse
from ..operators import arrow_batch as ab
from ..operators import certs, textan
from ..operators.dedup import (
    containment_prefix_join,
    jaccard_prefix_join,
    minhash_lsh_pairs,
    simhash_pairs,
    token_shingles,
)
from ..operators.graph import canonical_assignments, connected_components
from . import query

_KEYWORDS = ("spark", "join", "stream")

# DuckDB token expr (regexp_replace needs the 'g' flag there; Spark's
# replaces all matches by default).
_TOKS_DUCK = "string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ')"


@query(
    "f1_keyword_filter",
    f"""
    SELECT doc_id,
           regexp_extract(text, '(spark|join|stream)', 1) AS first_keyword,
           lang, source
    FROM documents
    WHERE regexp_matches(text, '(spark|join|stream)')
      AND NOT contains(text, 'slow')
    """,
    survey_ids="F1 (keyword filter), F2 (negation filter), F3 (extraction projection)",
)
def f1_keyword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pat = "|".join(_KEYWORDS)
    return (
        docs.filter(F.col("text").rlike(f"({pat})"))
        .filter(~F.col("text").contains("slow"))
        .select(
            "doc_id",
            F.regexp_extract("text", f"({pat})", 1).alias("first_keyword"),
            "lang",
            "source",
        )
    )


def _lang_score_duck(words: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter({_TOKS_DUCK}, x -> x IN ({in_list}))) AS DOUBLE)"
        f" / greatest(len({_TOKS_DUCK}), 1)"
    )


def _detect_lang_duck() -> str:
    # Mirrors textan.detect_lang: running strict-greater argmax in
    # LANG_STOPWORDS iteration order, 'und' when all scores are 0.
    expr_lang = "'und'"
    expr_score = "CAST(0.0 AS DOUBLE)"
    for lang, words in textan.LANG_STOPWORDS.items():
        s = _lang_score_duck(words)
        expr_lang = f"CASE WHEN {s} > {expr_score} THEN '{lang}' ELSE {expr_lang} END"
        expr_score = f"CASE WHEN {s} > {expr_score} THEN {s} ELSE {expr_score} END"
    return expr_lang


def _quality_duck() -> str:
    en = ", ".join(f"'{w}'" for w in textan.LANG_STOPWORDS["en"])
    n_toks = f"CAST(greatest(len({_TOKS_DUCK}), 1) AS DOUBLE)"
    length_score = f"least({n_toks} / 100.0, 1.0)"
    n_chars = "CAST(greatest(length(text), 1) AS DOUBLE)"
    n_punct = (
        "CAST(length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0b\\f\\r]', '', 'g')) AS DOUBLE)"
    )
    sw = (
        f"least(CAST(len(list_filter({_TOKS_DUCK}, x -> x IN ({en}))) AS DOUBLE)"
        f" / {n_toks} * 5.0, 1.0)"
    )
    return (
        f"0.4 * {length_score} + 0.3 * (1.0 - {n_punct} / {n_chars}) + 0.3 * {sw}"
    )


@query(
    "x_text_stats",
    f"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS_DUCK}) END AS n_tokens,
           len(regexp_extract_all(lower(text), '([a-z]{{1,8}}|[0-9]{{1,3}}|[^a-z0-9 \\t\\n\\x0b\\f\\r])')) AS bpe_tokens,
           ROUND({_quality_duck()}, 6) AS quality,
           {_detect_lang_duck()} AS lang_detected,
           substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16) AS fingerprint
    FROM documents
    """,
    survey_ids="text analysis: token count, BPE-ish count, quality score, language ID, C1-style fingerprint",
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # Tokenize once; every downstream metric reuses the column.
    with_toks = docs.withColumn("__toks", textan.tokens(t))
    toks = F.col("__toks")
    return with_toks.select(
        "doc_id",
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
        .otherwise(F.size(toks))
        .cast("long")
        .alias("n_tokens"),
        textan.bpe_ish_token_count(t).cast("long").alias("bpe_tokens"),
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
        textan.detect_lang(t, toks=toks).alias("lang_detected"),
        textan.doc_fingerprint(t).alias("fingerprint"),
    )


@query(
    "dd_exact_dedup",
    """
    SELECT substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)
               AS fingerprint,
           COUNT(*) AS dup_count,
           MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)
    """,
    survey_ids="dedup: exact (hash-groupBy) over normalized text",
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        textan.doc_fingerprint(F.col("text")).alias("fingerprint")
    ).agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.min("doc_id").alias("first_doc"),
    )


_EDIT_D = 8  # max edit distance: catches the planted near-dup class


def _edit_exact_duck(cert_col: str | None = None) -> str:
    """DuckDB exact banded-Levenshtein pair set (the dd_edit_distance
    oracle); with `cert_col`, appends the a5-pattern literal-TRUE
    certification column for the recall certs."""
    cert = f",\n           TRUE AS {cert_col}" if cert_col else ""
    return f"""
    WITH t AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS s
        FROM documents
    ), tl AS (SELECT doc_id, s, length(s) AS n FROM t)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_dist,
           ROUND(1.0 - CAST(levenshtein(a.s, b.s) AS DOUBLE)
                 / greatest(a.n, b.n, 1), 6) AS edit_sim{cert}
    FROM tl a JOIN tl b
      ON a.doc_id < b.doc_id AND abs(a.n - b.n) <= {_EDIT_D}
    WHERE levenshtein(a.s, b.s) <= {_EDIT_D}
    """


@query(
    "dd_edit_distance",
    _edit_exact_duck(),
    survey_ids=(
        "dedup: banded-Levenshtein near-dup — EXACT edit-distance pairs "
        "under LOSSLESS length-band blocking (ed(a,b) >= |len(a)-len(b)|, "
        "so width-(d+1) buckets with a +/-1-bucket join provably lose no "
        "pair); the exact-verifier tier of the near-dup family, fully "
        "value-hash-oracled"
    ),
)
def dd_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within edit distance {d} of each other on
    whitespace-normalized text (the doc_fingerprint law), with the
    normalized similarity 1 - d/max(len): the EXACT member of the
    near-dup family (MinHash/SimHash/Jaccard are its candidate tiers).

    Blocking is LOSSLESS, not heuristic: ed(a,b) >= |len(a)-len(b)|, so
    with buckets of width d+1 a qualifying pair's buckets differ by at
    most 1 — the left side explodes to (b-1, b, b+1) and joins the
    right side's home bucket; no candidate enumeration beyond that.
    The per-pair cost is Spark's THRESHOLDED levenshtein (banded
    O(len x d), returns -1 past the bound — the filter, pushed before
    the emission, keeps the DP narrow).

    Scale shape: one shuffle on the bucket key; pair volume within a
    band is data-dependent (a 100 TB corpus clustered at one length
    needs a candidate prefilter — MinHash or fingerprint — in front;
    this operator is then the exact verifier over those candidates,
    same plan, candidate frame swapped in). The DuckDB oracle
    re-derives every pair with full-DP levenshtein over the plain
    length-delta join."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    t = docs.select(
        "doc_id", norm.alias("s"), F.length(norm).alias("n")
    ).withColumn("home", F.floor(F.col("n") / (_EDIT_D + 1)))
    left = t.select(
        F.col("doc_id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.col("n").alias("n_a"),
        F.explode(
            F.array(F.col("home") - 1, F.col("home"), F.col("home") + 1)
        ).alias("bucket"),
    )
    right = t.select(
        F.col("doc_id").alias("id_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("n_b"),
        F.col("home").alias("bucket"),
    )
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), _EDIT_D)
    return (
        left.join(right, "bucket")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("n_a") - F.col("n_b")) <= _EDIT_D)
        )
        .withColumn("edit_dist", dist.cast("bigint"))
        .filter(F.col("edit_dist") >= 0)  # thresholded: -1 = past bound
        .select(
            "id_a",
            "id_b",
            "edit_dist",
            F.round(
                1.0
                - F.col("edit_dist").cast("double")
                / F.greatest(F.col("n_a"), F.col("n_b"), F.lit(1)),
                6,
            ).alias("edit_sim"),
        )
    )


@query(
    "dd_edit_lsh_verify",
    None,  # LSH candidate generation is engine-specific (xxhash64);
    # the emitted pairs are certified by dd_edit_lsh_recall_cert
    # against the fully-SQL exact arm.
    survey_ids=(
        "dedup: the COMPOSED candidate->verify near-dup pipeline — "
        "MinHash-LSH candidates exact-verified by thresholded edit "
        "distance; the 100TB shape dd_edit_distance's docstring "
        "promises (candidate frame swapped in, verify plan unchanged)"
    ),
)
def dd_edit_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_edit_distance's production composition: candidates come from
    MinHash-LSH (sub-quadratic regardless of how the corpus clusters
    lengths) instead of the lossless-but-length-band-bound blocking;
    each candidate pair is verified with the same thresholded
    O(len x d) levenshtein and emitted with the same schema. Precision
    is exactly 1 (every emitted pair is verified); recall vs the exact
    arm is the free parameter — measured and certified in-plan by
    dd_edit_lsh_recall_cert.

    Scale shape: the LSH tier is dd_minhash_lsh's (banded signature
    join, mega-bucket cap); the verify adds two broadcast-free id joins
    to fetch texts and one map-side DP per candidate. No length-band
    join anywhere, so a corpus concentrated at one length costs
    candidates, not a band cross product."""
    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=64,
        bands=16,
        shingle_n=5,
        max_bucket_size=512,
    ).select("id_a", "id_b")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    t = docs.select("doc_id", norm.alias("s"), F.length(norm).alias("n"))
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), _EDIT_D)
    return (
        cands.join(
            t.select(
                F.col("doc_id").alias("id_a"),
                F.col("s").alias("s_a"),
                F.col("n").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            t.select(
                F.col("doc_id").alias("id_b"),
                F.col("s").alias("s_b"),
                F.col("n").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn("edit_dist", dist.cast("bigint"))
        .filter(F.col("edit_dist") >= 0)
        .select(
            "id_a",
            "id_b",
            "edit_dist",
            F.round(
                1.0
                - F.col("edit_dist").cast("double")
                / F.greatest(F.col("n_a"), F.col("n_b"), F.lit(1)),
                6,
            ).alias("edit_sim"),
        )
    )


@query(
    "dd_edit_lsh_recall_cert",
    _edit_exact_duck("edit_lsh_recall_certified"),
    survey_ids=(
        "dedup: the LSH->edit-verify composition certified in-plan "
        "(a5 pattern) — pooled recall vs the exact banded-Levenshtein "
        "pair set >= 0.9 boolean; oracle = exact arm + literal TRUE"
    ),
)
def dd_edit_lsh_recall_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan certification of dd_edit_lsh_verify: runs BOTH the exact
    lossless-blocked arm (SQL-expressible ground truth) and the LSH
    composition, computes pooled recall inside the plan and emits the
    truth pairs with a `recall >= 0.9` boolean (the
    dd_minhash_recall_cert pattern; the pooled-recall law is
    adversarially pinned in tests/test_cert_adversarial.py). An LSH
    recall regression — banding bug, cap over-truncation — flips the
    boolean and fails the value hash. Measured pooled recall on the
    frozen corpora: 1.000 (edit-distance-<=8 pairs are near-identical,
    squarely inside LSH's detection radius)."""
    truth = dd_edit_distance(spark, sf_dir)
    approx = dd_edit_lsh_verify(spark, sf_dir).select("id_a", "id_b")
    hits = certs.hit_flags(truth, approx, ["id_a", "id_b"])
    recall = certs.pooled_recall(hits)
    return hits.crossJoin(F.broadcast(recall)).select(
        "id_a",
        "id_b",
        "edit_dist",
        "edit_sim",
        (F.col("recall") >= 0.9).alias("edit_lsh_recall_certified"),
    )


_SHINGLE_DUCK = (
    f"list_distinct(list_transform("
    f"range(1, greatest(len({_TOKS_DUCK}) - 2, 1) + 1), "
    f"i -> array_to_string(list_slice({_TOKS_DUCK}, i, i + 2), ' ')))"
)

# 5-token variant (the MinHash/SimHash pipelines shingle at n=5).
_SHINGLE5_DUCK = (
    f"list_distinct(list_transform("
    f"range(1, greatest(len({_TOKS_DUCK}) - 4, 1) + 1), "
    f"i -> array_to_string(list_slice({_TOKS_DUCK}, i, i + 4), ' ')))"
)


def _exact_jaccard_duck(threshold: float, cert_col: str) -> str:
    """DuckDB exact all-pairs 5-shingle Jaccard >= threshold, via an
    inverted-index join (unnest shingles → equi-join on shingle →
    per-pair intersection count; |A∪B| = |A|+|B|-|A∩B|). Value-identical
    to the nested-loop list_intersect form but ~50x faster at sf0.1
    (2s vs minutes at 500 docs, 17s at 5000) — the oracle mirrors the
    PPJoin idea instead of brute force. Appends `cert_col` as literal
    TRUE (the a5-pattern certification column)."""
    return f"""
    WITH sh AS (SELECT doc_id, {_SHINGLE5_DUCK} AS sh FROM documents),
    sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
    posts AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard_sim,
           TRUE AS {cert_col}
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {threshold}
    """


@query(
    "dd_ngram_jaccard",
    f"""
    WITH sh AS (
        SELECT doc_id, lang, source, {_SHINGLE_DUCK} AS sh
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard_sim
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
    survey_ids="dedup: n-gram Jaccard near-dup with (lang,source) blocking; D8/E2/J7",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Jaccard over 64-bit hashes of the shingles, not the strings: the
    # intersect/union sizes are identical (modulo negligible xxhash64
    # collisions) and fixed-width longs are far cheaper to join/compare
    # than variable-length strings. Candidates come from a prefix-filtered
    # inverted-index self-join (jaccard_prefix_join): parallelism scales
    # with distinct shingles instead of distinct (lang,source) blocks, and
    # nothing ever enumerates a per-block cross product.
    sh = docs.select(
        "doc_id",
        "lang",
        "source",
        F.transform(token_shingles(F.col("text"), 3), lambda s: F.xxhash64(s)).alias(
            "sh"
        ),
    )
    return jaccard_prefix_join(
        sh, "doc_id", "sh", threshold=0.5, block_cols=("lang", "source")
    ).select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim"))


@query(
    "dd_cluster_canonical",
    f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, lang, source, {_SHINGLE_DUCK} AS sh
        FROM documents
    ), pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ), edges AS (
        SELECT id_a AS s, id_b AS d FROM pr
        UNION
        SELECT id_b, id_a FROM pr
    ), reach AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s AND r.s <> e.d
    ), lab AS (
        SELECT s AS node, least(MIN(d), s) AS label FROM reach GROUP BY s
    ), assign AS (
        SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
    )
    SELECT doc_id, cluster_id,
           doc_id = cluster_id AS is_canonical,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM assign
    """,
    survey_ids=(
        "dedup: transitive near-dup clustering (distributed connected "
        "components over D8/J7 pair graph) + canonical doc selection"
    ),
)
def dd_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → one canonical doc per cluster.

    Near-dup matching is transitive in a real dedup (A~B, B~C groups
    A,C): the pair set from the prefix-filtered Jaccard join feeds
    iterative min-label connected components (operators/graph.py), and
    the component minimum doubles as cluster id + canonical pick. The
    DuckDB oracle recomputes the same clusters via a recursive-CTE
    transitive closure — exact value-hash check despite the iterative
    Spark implementation.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "lang",
        "source",
        F.transform(token_shingles(F.col("text"), 3), lambda s: F.xxhash64(s)).alias(
            "sh"
        ),
    )
    pairs = jaccard_prefix_join(
        sh, "doc_id", "sh", threshold=0.5, block_cols=("lang", "source")
    ).select("id_a", "id_b")
    return canonical_assignments(docs, pairs, "doc_id")


@query(
    "dd_cluster_keep_best",
    f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, lang, source, {_SHINGLE_DUCK} AS sh
        FROM documents
    ), pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ), edges AS (
        SELECT id_a AS s, id_b AS d FROM pr
        UNION
        SELECT id_b, id_a FROM pr
    ), reach AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s AND r.s <> e.d
    ), lab AS (
        SELECT s AS node, least(MIN(d), s) AS label FROM reach GROUP BY s
    ), assign AS (
        SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
    ), q AS (
        SELECT doc_id,
               COALESCE(ROUND({{qd}}, 6), -1.0) AS quality
        FROM documents
    ), j AS (
        SELECT a.cluster_id, a.doc_id, q.quality
        FROM assign a JOIN q ON a.doc_id = q.doc_id
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           (MAX({{'q': quality, 'n': -doc_id, 'd': doc_id}})).d AS keep_doc,
           (MAX({{'q': quality, 'n': -doc_id, 'd': doc_id}})).q
               AS keep_quality
    FROM j GROUP BY cluster_id
    """.replace("{qd}", "__QD__").replace("{{", "{").replace("}}", "}")
    .replace("__QD__", _quality_duck()),
    survey_ids=(
        "dedup: quality-argmax canonical selection — one KEEPER per "
        "near-dup cluster chosen by highest quality score (min doc_id "
        "tiebreak) instead of min-id; the keep rule real pipelines run "
        "(drop the boilerplate copy, keep the clean one)"
    ),
)
def dd_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_cluster_canonical with the keep rule a real dedup ships:
    per near-dup cluster, keep the HIGHEST-QUALITY member (the
    x_text_stats quality law, 6dp; ties to the lower doc_id), not the
    lowest id — emits (cluster_id, cluster_size, n_dropped, keep_doc,
    keep_quality). NULL quality (empty text) coalesces to -1.0 in both
    engines so the argmax never compares NULLs.

    The argmax is a lexicographic struct max over (quality, -doc_id,
    doc_id) — portable between Spark and DuckDB (both order structs by
    field position), so the oracle re-derives clusters via the
    recursive-CTE transitive closure AND the keeper choice exactly.

    Scale shape: the pair graph + iterative min-label components are
    dd_cluster_canonical's (prefix-filtered candidates, no cross
    product); the keeper pick adds ONE |docs|-row struct-max groupBy on
    cluster_id. No corpus-proportional window."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "lang",
        "source",
        F.transform(token_shingles(F.col("text"), 3), lambda s: F.xxhash64(s)).alias(
            "sh"
        ),
    )
    pairs = jaccard_prefix_join(
        sh, "doc_id", "sh", threshold=0.5, block_cols=("lang", "source")
    ).select("id_a", "id_b")
    assign = canonical_assignments(docs, pairs, "doc_id").select(
        "doc_id", "cluster_id"
    )
    t = F.col("text")
    toks = textan.tokens(t)
    q = docs.select(
        "doc_id",
        F.coalesce(
            F.round(textan.quality_score(t, toks), 6), F.lit(-1.0)
        ).alias("quality"),
    )
    best = F.max(
        F.struct(
            F.col("quality").alias("q"),
            (-F.col("doc_id")).alias("n"),
            F.col("doc_id").alias("d"),
        )
    )
    return (
        assign.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
            best.alias("b"),
        )
        .select(
            "cluster_id",
            "cluster_size",
            "n_dropped",
            F.col("b.d").alias("keep_doc"),
            F.col("b.q").alias("keep_quality"),
        )
    )


_SRC_LOW_Q = 0.5      # a doc below this quality is "low quality"
_SRC_SHARE_BOUND = 0.25  # flag a source when >= this share is low-q...
_SRC_P50_BOUND = 0.58    # ...or its median quality sits below this


@query(
    "x_source_quality_gate",
    f"""
    WITH q AS (
        SELECT source,
               COALESCE(ROUND({_quality_duck()}, 6), -1.0) AS quality
        FROM documents
    ), s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(COUNT(*) FILTER (WHERE quality < {_SRC_LOW_Q})
                          AS DOUBLE) / COUNT(*), 6) AS low_q_share,
               ROUND(quantile_cont(quality, 0.5), 6) AS p50_quality
        FROM q GROUP BY source
    )
    SELECT source, n_docs, low_q_share, p50_quality,
           (low_q_share >= {_SRC_SHARE_BOUND}
            OR p50_quality < {_SRC_P50_BOUND}) AS flagged
    FROM s
    """,
    survey_ids=(
        "quality: SOURCE-level curation gate (the RefinedWeb/Gopher "
        "domain-filtering posture) — per source, the low-quality doc "
        "share and median quality, flagged when either crosses its "
        "bound; the decision table a curation owner blocklists from"
    ),
)
def x_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality filtering: real pipelines drop whole
    SOURCES (domains/feeds), not just documents — a source whose
    low-quality share or median quality crosses the bound is flagged
    for the blocklist. Emits (source, n_docs, low_q_share,
    p50_quality, flagged); doc-level quality is the x_text_stats law
    (6dp, NULL → -1.0), the median the st9 exact-interpolated
    percentile (bit-identical to quantile_cont), and the flag compares
    ROUNDED values so both engines decide identically.

    Scale shape: one map pass for the quality column + one
    |sources|-group aggregation (percentile partial-aggregates); at
    100TB swap the exact percentile for the HDR bracket
    (st9_hdr_percentile_rollup) — same plan, same flag law on the
    bracket midpoint."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    q = docs.select(
        "source",
        F.coalesce(
            F.round(textan.quality_score(t, toks), 6), F.lit(-1.0)
        ).alias("quality"),
    )
    s = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.when(F.col("quality") < _SRC_LOW_Q, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("low_q_share"),
        F.round(F.percentile("quality", 0.5), 6).alias("p50_quality"),
    )
    return s.select(
        "source",
        "n_docs",
        "low_q_share",
        "p50_quality",
        (
            (F.col("low_q_share") >= _SRC_SHARE_BOUND)
            | (F.col("p50_quality") < _SRC_P50_BOUND)
        ).alias("flagged"),
    )


@query(
    "x_mixture_sample",
    """
    WITH stats AS (
        SELECT source, SUM(n_chars) AS chars_i,
               CAST(round(sqrt(CAST(SUM(n_chars) AS DOUBLE)), 6)
                    AS DECIMAL(28,6)) AS sqrt_dec
        FROM documents GROUP BY source
    ), tot AS (
        SELECT SUM(chars_i) AS total_chars, SUM(sqrt_dec) AS s FROM stats
    ), rates AS (
        SELECT source,
               round(least(1.0,
                     (0.30 * CAST(total_chars AS DOUBLE) * CAST(sqrt_dec AS DOUBLE))
                     / (CAST(s AS DOUBLE) * CAST(chars_i AS DOUBLE))), 6)
                   AS sample_rate
        FROM stats CROSS JOIN tot
    )
    SELECT d.doc_id, d.source, d.n_chars, r.sample_rate
    FROM documents d JOIN rates r USING (source)
    WHERE r.sample_rate >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
          < lpad(lower(to_hex(CAST(floor(r.sample_rate * 65536) AS BIGINT))), 4, '0')
    """,
    survey_ids=(
        "training-pipeline: temperature-weighted (alpha=0.5) data-mixture "
        "plan + deterministic md5-bucket sampling"
    ),
)
def x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing + reproducible sampling, all JVM-side.

    Stage 1 (tiny agg): per-source char mass -> alpha=0.5 temperature
    weights (q_i ∝ sqrt(share_i), the standard multilingual-corpus
    rebalance) -> per-source keep rate for a 30%% global char budget.
    The sqrt weights are summed as 6-dp DECIMALs so the denominator is
    exact and partition-order-independent (a double sum would make the
    rate nondeterministic at the bucket boundary).

    Stage 2 (map-only over the corpus): keep a doc iff the first 4 hex
    chars of md5(doc_id) fall under rate*65536 — deterministic,
    seed-free, and stable under corpus growth (a doc's keep/drop never
    flips when other docs arrive, unlike rand(seed) which reshuffles
    with partitioning). The rates dim is ~|sources| rows -> broadcast;
    at 100TB the corpus side stays one scan with no shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(F.sum("n_chars").alias("chars_i"))
    stats = stats.withColumn(
        "sqrt_dec",
        F.round(F.sqrt(F.col("chars_i").cast("double")), 6).cast("decimal(28,6)"),
    )
    tot = stats.agg(
        F.sum("chars_i").alias("total_chars"), F.sum("sqrt_dec").alias("s")
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        "source",
        F.round(
            F.least(
                F.lit(1.0),
                (
                    F.lit(0.30)
                    * F.col("total_chars").cast("double")
                    * F.col("sqrt_dec").cast("double")
                )
                / (F.col("s").cast("double") * F.col("chars_i").cast("double")),
            ),
            6,
        ).alias("sample_rate"),
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.lpad(
        F.lower(F.hex(F.floor(F.col("sample_rate") * 65536).cast("bigint"))), 4, "0"
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter((F.col("sample_rate") >= 1.0) | (bucket < thresh))
        .select("doc_id", "source", "n_chars", "sample_rate")
    )


@query(
    "dd_minhash_lsh",
    None,  # LSH candidate generation is engine-specific (xxhash64); the
    # exact-Jaccard verification step makes precision 1.0 — tested against
    # the exact pair set in tests/test_neardup_golden.py.
    survey_ids="dedup: MinHash+LSH (shingle→minhash→band→bucket-join→verify)",
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered MinHash+LSH dedup with the mega-bucket cap ON.

    max_bucket_size=512 bounds in-bucket pair expansion to C(512,2)
    (~131k pairs) per band bucket — the O(n²) blowup guard for a
    boilerplate family that survives upstream exact dedup at 100×
    scale. 512 is far above any bucket the synthetic corpus produces
    (the golden's exact pair-set comparison is unchanged at test SFs;
    tests/test_neardup_golden.py asserts both the uncapped equivalence
    here and the truncation behavior on a synthetic mega-bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=64,
        bands=16,
        shingle_n=5,
        max_bucket_size=512,
    ).select(
        "id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim")
    )


@query(
    "dd_simhash",
    None,  # xxhash64-based SimHash has no DuckDB analog; rows-only check +
    # property tests (identical text → distance 0).
    survey_ids="dedup: SimHash banding near-dup",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3, bands=4)


def _shingle5_hashed(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): xxhash64'd distinct 5-token shingle sets — the
    ground-truth arm both dedup recall certs rank against."""
    return docs.select(
        "doc_id",
        F.transform(token_shingles(F.col("text"), 5), lambda s: F.xxhash64(s)).alias(
            "sh"
        ),
    )


@query(
    "dd_minhash_recall_cert",
    _exact_jaccard_duck(0.5, "lsh_recall_certified"),
    survey_ids=(
        "dedup: MinHash+LSH path certified in-plan (a5 pattern) — "
        "pooled recall vs the exact PPJoin pair set >= 0.9 boolean; "
        "oracle = exact arm + literal TRUE"
    ),
)
def dd_minhash_recall_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan certification of dd_minhash_lsh (the a5 pattern): runs
    BOTH the exact prefix-filtered Jaccard self-join (ground truth,
    SQL-expressible) and the registered MinHash+LSH configuration
    (64 hashes, 16 bands, cap 512 — engine-specific xxhash64, NOT
    SQL-expressible), computes pooled recall of LSH against the truth
    pair set inside the plan, and emits the truth pairs with a
    `recall >= 0.9` boolean. The DuckDB oracle reproduces the exact arm
    plus a literal TRUE, so an LSH recall regression (banding bug, cap
    over-truncation, signature skew) flips the boolean and fails the
    value hash — the approximate path is load-bearing in the
    correctness gate. Measured pooled recall on the frozen corpora:
    1.000 at sf0.001/0.01/0.1 (LSH verify makes precision exactly 1, so
    recall is the only free parameter). Deterministic: fixed xxhash64
    seeds + frozen parquet inputs."""
    docs = load_table(spark, sf_dir, "documents")
    truth = jaccard_prefix_join(
        _shingle5_hashed(docs), "doc_id", "sh", threshold=0.5
    )
    lsh = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=64,
        bands=16,
        shingle_n=5,
        max_bucket_size=512,
    )
    hits = certs.hit_flags(truth, lsh, ["id_a", "id_b"])
    recall = certs.pooled_recall(hits)
    return hits.crossJoin(F.broadcast(recall)).select(
        "id_a",
        "id_b",
        F.round("jaccard_sim", 6).alias("jaccard_sim"),
        (F.col("recall") >= 0.9).alias("lsh_recall_certified"),
    )


@query(
    "dd_simhash_recall_cert",
    _exact_jaccard_duck(0.98, "simhash_recall_certified"),
    survey_ids=(
        "dedup: SimHash banding path certified in-plan (a5 pattern) — "
        "pooled recall vs the exact near-identical (Jaccard >= 0.98) "
        "pair set >= 0.9 boolean; oracle = exact arm + literal TRUE"
    ),
)
def dd_simhash_recall_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan certification of dd_simhash against near-identical
    ground truth. SimHash(64-bit, hamming<=3, 4 bands) targets pairs at
    cosine ~>= cos(3*pi/64) ~ 0.989, so the certifiable truth set is the
    near-identical pairs (exact 5-shingle Jaccard >= 0.98, which is
    SQL-expressible); looser truth thresholds are genuinely outside the
    operator's detection radius (measured: recall vs J>=0.9 truth is
    0.63-0.78 — that is the operator's published contract, not a bug).
    Emits the truth pairs plus a pooled `recall >= 0.9` boolean
    computed in-plan; the DuckDB oracle is the exact arm + literal
    TRUE. Measured pooled recall on the frozen corpora: 1.000 / 1.000 /
    0.930 at sf0.001/0.01/0.1 — constants, because both arms are
    deterministic (fixed xxhash64 seeds) over frozen parquet."""
    docs = load_table(spark, sf_dir, "documents")
    truth = jaccard_prefix_join(
        _shingle5_hashed(docs), "doc_id", "sh", threshold=0.98
    )
    sp = simhash_pairs(docs, "doc_id", "text", max_hamming=3, bands=4)
    hits = certs.hit_flags(truth, sp, ["id_a", "id_b"])
    recall = certs.pooled_recall(hits)
    return hits.crossJoin(F.broadcast(recall)).select(
        "id_a",
        "id_b",
        F.round("jaccard_sim", 6).alias("jaccard_sim"),
        (F.col("recall") >= 0.9).alias("simhash_recall_certified"),
    )


_FP_DUCK = (
    "substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)"
)


@query(
    "e2e_corpus_prep",
    f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, source, lang, text,
               ROUND({_quality_duck()}, 6) AS quality,
               len({_TOKS_DUCK}) AS ntok,
               {_FP_DUCK} AS fp
        FROM documents
    ), gate AS (
        SELECT * FROM scored WHERE quality >= 0.5 AND ntok >= 5
    ), ex AS (
        SELECT g.* FROM gate g
        JOIN (SELECT fp, MIN(doc_id) AS mid FROM gate GROUP BY fp) m
          ON g.fp = m.fp AND g.doc_id = m.mid
    ), sh AS (
        SELECT doc_id, lang, source, {_SHINGLE_DUCK} AS sh FROM ex
    ), pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ), edges AS (
        SELECT id_a AS s, id_b AS d FROM pr
        UNION
        SELECT id_b, id_a FROM pr
    ), reach AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s AND r.s <> e.d
    ), lab AS (
        SELECT s AS node, least(MIN(d), s) AS label FROM reach GROUP BY s
    )
    SELECT e.doc_id, e.source, e.quality
    FROM ex e LEFT JOIN lab l ON e.doc_id = l.node
    WHERE COALESCE(l.label, e.doc_id) = e.doc_id
      AND substr(md5(CAST(e.doc_id AS VARCHAR)), 1, 4) < '8000'
    """,
    survey_ids=(
        "training-pipeline e2e: quality/length gate -> exact dedup -> "
        "transitive near-dup canonicalization -> deterministic 50%% sample "
        "(composes x_text_stats, dd_exact_dedup, dd_cluster_canonical, "
        "x_mixture_sample into one corpus-prep dataflow)"
    ),
)
def e2e_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus preparation pipeline as ONE dataflow.

    documents -> quality+length gate -> exact dedup (normalized-text
    fingerprint, keep min id) -> near-dup pair graph -> connected
    components -> keep only canonical docs -> deterministic md5-bucket
    50% sample. Every stage is the already-certified operator; this
    query certifies their COMPOSITION end-to-end against a single
    DuckDB oracle (recursive CTE for the clustering step).

    Scale shape: gate + fingerprint are map-only; exact dedup is one
    hash shuffle; the pair join is prefix-filtered (never a per-block
    cross product); CC iterations touch only the pair graph (tiny vs
    corpus); the final sample is a shuffle-free scan predicate.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
        F.size(toks).alias("ntok"),
        textan.doc_fingerprint(t).alias("fp"),
    )
    gate = scored.filter((F.col("quality") >= 0.5) & (F.col("ntok") >= 5))
    w = Window.partitionBy("fp")
    ex = gate.withColumn("min_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("min_id")
    )
    # TEXT-FREE barrier at the gated/deduped neck: the survivor set is
    # consumed by BOTH the near-dup pair chain and the final canonical
    # join, and each reference re-executed the tokenize + quality + fp
    # window chain (the r10 A/B that barriered `ex` WITH the text
    # column was neutral — the text materialization offset the saved
    # pass; this one carries the shingle hashes the pair join needs
    # plus (source, quality), never the text — the e2e_export_prep
    # corpus-NARROW precedent, guide §3.3). A/B (same-session best-of-3
    # each): sf0.1 3.32 -> 2.73s; sf1 a wash inside run noise
    # ({5.94, 8.49} old vs {6.36, 6.54} new). io.reuse rather than a
    # localCheckpoint: a checkpoint is a new RDD scan on every call, so
    # the reused frames downstream of it (the jaccard base, the CC pair
    # set) would be new plans each call, never hit and never freed.
    sh = reuse(
        ex.select(
            "doc_id",
            "lang",
            "source",
            "quality",
            F.transform(token_shingles(t, 3), lambda s: F.xxhash64(s)).alias("sh"),
        )
    )
    pairs = jaccard_prefix_join(
        sh.select("doc_id", "lang", "source", "sh"),
        "doc_id",
        "sh",
        threshold=0.5,
        block_cols=("lang", "source"),
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    return (
        sh.join(cc, sh["doc_id"] == cc["node"], "left")
        .filter(F.coalesce("label", F.col("doc_id")) == F.col("doc_id"))
        .filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.lit("8000")
        )
        .select("doc_id", "source", "quality")
    )


# ---------------------------------------------------------------------------
# Test-set decontamination + sequence packing (training-pipeline ops)
# ---------------------------------------------------------------------------

_DECON_N = 13  # 13-gram collision = contaminated (the GPT-3 convention)
_EVAL_SRC = "src0"  # held-out benchmark corpus


def _shingle_duck_n(n: int) -> str:
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({_TOKS_DUCK}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({_TOKS_DUCK}, i, i + {n - 1}), ' ')))"
    )


@query(
    "x_decontaminate",
    f"""
    WITH g AS (
        SELECT doc_id, source, {_shingle_duck_n(_DECON_N)} AS g
        FROM documents
    ), ev AS (
        SELECT DISTINCT unnest(g) AS gram FROM g WHERE source = '{_EVAL_SRC}'
    ), tr AS (
        SELECT doc_id, source, len(g) AS n_grams, unnest(g) AS gram
        FROM g WHERE source <> '{_EVAL_SRC}'
    )
    SELECT t.doc_id, t.source,
           COUNT(DISTINCT t.gram) AS n_hit_grams,
           MIN(t.n_grams) AS n_grams,
           ROUND(CAST(COUNT(DISTINCT t.gram) AS DOUBLE) / MIN(t.n_grams), 6)
               AS hit_ratio
    FROM tr t JOIN ev e ON t.gram = e.gram
    GROUP BY t.doc_id, t.source
    """,
    survey_ids=(
        "training-pipeline: test-set decontamination (13-gram overlap vs a "
        "held-out eval corpus, GPT-3 style); D8/J7 n-gram machinery"
    ),
)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any 13-gram with the eval corpus.

    The standard pre-training hygiene pass (GPT-3 appendix C / PaLM):
    any training document that shares a >= 13-token n-gram with a
    benchmark document is contaminated and must be dropped or audited.

    Scale shape: the eval side collapses to a DISTINCT gram set that is
    tiny relative to the corpus (benchmarks are ~1e6 grams even for big
    suites) -> broadcast hash join; the train side is one map-side
    explode with NO shuffle of corpus data at all. The per-doc groupBy
    aggregates only the surviving hits (rare), so 100TB of train text
    costs one scan + a broadcast probe. If the eval set ever outgrows
    broadcast, the same plan degrades gracefully to a shuffle join on
    the gram (or its xxhash64) — semantics unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", "source", token_shingles(F.col("text"), _DECON_N).alias("g")
    )
    ev = (
        g.filter(F.col("source") == _EVAL_SRC)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    tr = g.filter(F.col("source") != _EVAL_SRC).select(
        "doc_id",
        "source",
        F.size("g").cast("long").alias("n_grams"),
        F.explode("g").alias("gram"),
    )
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.countDistinct("gram").alias("n_hit_grams"),
            F.min("n_grams").alias("n_grams"),
        )
        .withColumn(
            "hit_ratio",
            F.round(
                F.col("n_hit_grams").cast("double") / F.col("n_grams"), 6
            ),
        )
    )


@query(
    "x_decontaminate_strip",
    f"""
    WITH g AS (
        SELECT doc_id, source, {_shingle_duck_n(_DECON_N)} AS g
        FROM documents
    ), ev AS (
        SELECT DISTINCT unnest(g) AS gram FROM g WHERE source = '{_EVAL_SRC}'
    ), tt AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
        WHERE source <> '{_EVAL_SRC}'
    ), pos AS (
        SELECT doc_id, i,
               array_to_string(list_slice(toks, CAST(i AS INTEGER),
                               CAST(i + {_DECON_N - 1} AS INTEGER)), ' ') AS gram
        FROM (SELECT doc_id, toks,
                     unnest(range(1, CAST(len(toks) AS BIGINT)
                                     - {_DECON_N - 2})) AS i
              FROM tt WHERE len(toks) >= {_DECON_N})
    ), cov AS (
        SELECT p.doc_id, p.i FROM pos p JOIN ev e ON p.gram = e.gram
    ), brks AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         <= {_DECON_N}
                    THEN 0 ELSE 1 END AS brk
        FROM cov
    ), runs AS (
        SELECT doc_id, i,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM brks
    ), spans AS (
        SELECT doc_id, CAST(min(i) AS BIGINT) AS s,
               CAST(max(i) - min(i) + {_DECON_N} AS BIGINT) AS l
        FROM runs GROUP BY doc_id, run
    ), idx AS (
        SELECT doc_id, toks, unnest(range(1, CAST(len(toks) AS BIGINT) + 1)) AS j
        FROM tt
    ), cpos AS (
        SELECT doc_id, unnest(range(s, s + l)) AS j FROM spans
    ), kept AS (
        SELECT i.doc_id, i.j, i.toks[CAST(i.j AS INTEGER)] AS tok
        FROM idx i ANTI JOIN cpos c ON c.doc_id = i.doc_id AND c.j = i.j
    ), agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS text_clean
        FROM kept GROUP BY doc_id
    ), rem AS (
        SELECT doc_id, SUM(l) AS toks_removed, COUNT(*) AS n_spans
        FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.text_clean, '') AS text_clean,
           CAST(coalesce(r.toks_removed, 0) AS BIGINT) AS toks_removed,
           CAST(coalesce(r.n_spans, 0) AS BIGINT) AS n_spans
    FROM tt t
    LEFT JOIN agg a ON a.doc_id = t.doc_id
    LEFT JOIN rem r ON r.doc_id = t.doc_id
    """,
    survey_ids=(
        "training-pipeline: contamination-aware span STRIPPING — the "
        "eval-colliding 13-gram islands are cut out of training docs "
        "(the C4/RealNews deployed behavior) instead of dropping whole "
        "documents; ExactSubstr span-merge machinery composed with the "
        "x_decontaminate gram probe"
    ),
)
def x_decontaminate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove the CONTAMINATED SPANS, keep the document: every training
    token position whose 13-gram appears in the eval corpus is covered;
    covered positions merge into islands (the ExactSubstr
    gaps-and-islands rule in token space, gap = 13) and the islands are
    cut, the doc reassembled from the surviving tokens — what C4 /
    RealNews-style pipelines deploy, since dropping a whole book for
    one quoted benchmark paragraph wastes data (x_decontaminate's
    doc-level verdict remains the audit view).

    Output per train doc: text_clean (surviving tokens of the
    normalized token stream, space-joined — the representation the
    gram law itself is defined on), toks_removed, n_spans. Spans
    require true 13-token gram collisions, so sub-13-token docs are
    never stripped. Full oracle: the identical gaps-and-islands SQL
    plus an anti-join reassembly.

    Scale shape: x_decontaminate's exactly — eval grams collapse to a
    broadcast DISTINCT set, the corpus is scanned once map-side, and
    only HIT positions (rare) reach the shuffle/window; the span merge
    and the strip fold are per-doc bounded (the _strip_text pattern on
    token arrays). No corpus-sized shuffle anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", "source", token_shingles(F.col("text"), _DECON_N).alias("g")
    )
    ev = (
        g.filter(F.col("source") == _EVAL_SRC)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    tt = docs.filter(F.col("source") != _EVAL_SRC).select(
        "doc_id", textan.tokens(F.col("text")).alias("toks")
    )
    pos = (
        tt.filter(F.size("toks") >= _DECON_N)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - F.lit(_DECON_N - 1))
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "i",
            F.expr(f"concat_ws(' ', slice(toks, i, {_DECON_N}))").alias("gram"),
        )
    )
    cov = pos.join(F.broadcast(ev), "gram", "left_semi").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(
        F.col("i") - F.lag("i").over(w) <= _DECON_N, F.lit(0)
    ).otherwise(F.lit(1))
    runs = cov.withColumn("brk", brk).withColumn(
        "run", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = runs.groupBy("doc_id", "run").agg(
        F.min("i").cast("bigint").alias("s"),
        (F.max("i") - F.min("i") + F.lit(_DECON_N)).cast("bigint").alias("l"),
    )
    arr = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "l"))).alias("spans")
    )
    empty = F.expr("array()").cast("array<struct<s:bigint,l:bigint>>")
    joined = tt.join(arr, "doc_id", "left").select(
        "doc_id", "toks", F.coalesce(F.col("spans"), empty).alias("spans")
    )
    kept = F.expr(
        """
        aggregate(
            spans,
            named_struct('out', cast(array() as array<string>),
                         'cur', cast(1 as bigint)),
            (acc, sp) -> named_struct(
                'out', concat(acc.out,
                              slice(toks, cast(acc.cur as int),
                                    cast(sp.s - acc.cur as int))),
                'cur', sp.s + sp.l),
            acc -> concat(acc.out,
                          slice(toks, cast(acc.cur as int),
                                greatest(0, cast(size(toks) - acc.cur + 1
                                                 as int))))
        )
        """
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("text_clean"),
        F.expr(
            "aggregate(spans, cast(0 as bigint), (acc, sp) -> acc + sp.l)"
        ).alias("toks_removed"),
        F.size("spans").cast("bigint").alias("n_spans"),
    )


# Semantic decontamination: x_decontaminate catches VERBATIM 13-gram
# overlap; paraphrased or lightly-edited benchmark leakage needs a
# similarity test instead (the SemDeDup-style cross-set screen modern
# curation adds on top of the n-gram law). Unit vectors: the same
# deterministic md5-hashing featurization as dd_semdedup_para, at doc
# granularity.
_SEMDECON_T = 0.95
_SEMDECON_D = 64

# A doc's hashing vector from its hashed token ``dims``: per dim, the
# count of tokens hashed there. ``array_size``, not ``size``: ANSI-off
# ``size(NULL)`` is -1, which scored a NULL-text doc as the all -1
# vector. DuckDB's ``len(NULL)`` is NULL, so a NULL dims row's vector
# holds only NULLs, and its norm and every cosine are NULL. The oracles
# make that vector NULL outright, since DuckDB's
# ``list_cosine_similarity`` raises on a list holding NULLs.
_SEM_VEC_SQL = (
    f"transform(sequence(0, {_SEMDECON_D - 1}),"
    f" d -> cast(array_size(filter(dims, h -> h = cast(d as bigint)))"
    f" as double))"
)

# Per-ROW L2 norm and the norm-hoisted pair cosine: the norm sqrt runs
# once per vector row (corpus side as a column, eval side inside the
# broadcast), so the per-pair expression is a single 64-wide dot — same
# ops, same association, bit-identical cosines to the inline form.
_SEM_NORM_SQL = (
    "sqrt(aggregate(zip_with(vec, vec, (a, b) -> a * b), 0D,"
    " (s, x) -> s + x))"
)
_SEM_COS_SQL = (
    "aggregate(zip_with(vec, evec, (a, b) -> a * b), 0D, (s, x) -> s + x)"
    " / (nrm * enrm)"
)

# Arrow kernel tier for the screens' pair pass (guide §4.2): the
# broadcast-NLJ + interpreted-HOF fold evaluates ~3·D lambda steps per
# (train, eval) pair — |tr|·|ev|·192 interpreted steps at D=64 — while
# the kernel ships only (vec, nrm) per train row (~520 bytes) and runs
# the SAME dim-sequential fold vectorized over the whole batch
# (steps/byte ≈ |ev|·D/520 — high, the PQ-kernel regime, unlike the
# pair-frame cosine that lost in r10). The r10 attempt collected the
# EVAL side by re-running its featurization as a separate job; here the
# idf screen collects from the already-materialized barrier and the
# unweighted screen's eval collect is a source-pruned map job — both
# the same bounded side the JVM form broadcasts anyway.
_SEM_PAIR_KERNEL = True


def _sem_eval_side(ev: DataFrame):
    """Collect the bounded eval side (evec, enrm[, eid]) ONCE and
    broadcast it as numpy: ``(E, en, ok, eid)`` with E the
    (|ev|, _SEMDECON_D) vector matrix, ``ok`` the eval rows whose dot is
    defined (no hole, _SEMDECON_D wide, non-NULL enrm) and ``eid`` the
    eid Arrow column or None. None when the eval side is empty: the JVM
    form's crossJoin then emits no rows, and since that is build-time
    knowledge no filter ever touches the UDF output (a filter on a
    Python-UDF column is the guide §4.4 duplication/pushdown trap).

    A Spark broadcast ships once per executor, not once per task
    closure (at a few thousand eval docs x 64 doubles the closure form
    re-serializes MBs per task)."""
    t = ev.toArrow()
    if t.num_rows == 0:
        return None
    E, holes, ragged = ab.dense_rows(t["evec"].combine_chunks(), _SEMDECON_D)
    en, enull = ab.dense_col(t["enrm"].combine_chunks())
    ok = ~(holes.any(axis=1) | ragged | enull)
    eid = t["eid"].combine_chunks() if "eid" in t.column_names else None
    return ev.sparkSession.sparkContext.broadcast((E, en, ok, eid))


def _sem_none(df: DataFrame, *lead: Column) -> DataFrame:
    """The kernel tier's zero-row result against an empty eval side."""
    return df.filter(F.lit(False)).select(
        *lead,
        F.lit(None).cast("double").alias("mc"),
        F.lit(None).cast("bigint").alias("hits"),
    )


def _sem_pair_stats_udf(bc, thresh: float):
    """Arrow UDF (vec, nrm) -> struct<mc double, hits bigint>: max
    cosine to any eval row and the >= thresh count, BIT-EQUAL to the
    crossJoin(broadcast(ev)) + groupBy(max, sum) form (pinned by
    tests/test_ops_golden.py::test_sem_pair_kernel_equals_hof_tier and
    the plants of tests/test_kernel_plants.py). The cosine laws (dot
    fold order, product-of-norms divisor, x / 0.0 NULL, NaN as a hit
    and the max) are ab.cos_stats'; ``nrm`` is computed JVM-side with
    _SEM_NORM_SQL.

    - NULL law: ``zip_with(vec, evec)`` pads the shorter side with
      NULLs, so a NULL vec or nrm, a NULL element, or a vec that is not
      _SEMDECON_D wide has only NULL cosines: mc NULL, 0 hits;
    - NaN law: a NaN element makes every cosine NaN: mc NaN, every
      eval row a hit.
    """

    @F.arrow_udf("struct<mc: double, hits: bigint>")
    def _stats(vec, nrm):  # type: ignore[no-untyped-def]
        E, en, eok, _ = bc.value
        V, holes, ragged = ab.dense_rows(vec, _SEMDECON_D)
        nv, nnull = ab.dense_col(nrm)
        ok = ~(holes.any(axis=1) | ragged | nnull)[:, None] & eok[None, :]
        mc, hits = ab.cos_stats(V, nv, E, en, thresh, ok, axis=1)
        return pa.StructArray.from_arrays([mc, hits], names=["mc", "hits"])

    return _stats


def _sem_dims_stats_udf(bc, thresh: float):
    """Arrow UDF dims -> struct<mc double, hits bigint> — the
    unweighted screens' kernel tier: featurization AND the pair stats
    in one boundary crossing (ab.count_rows, the _SEM_NORM_SQL fold
    ab.l2_rows, then ab.cos_stats).
    NULL elements and values outside [0, _SEMDECON_D) are not counted;
    a NULL dims row (a NULL-text doc) has only NULL cosines, mc NULL and
    0 hits, as its all-NULL _SEM_VEC_SQL vector has in the JVM form; an
    empty row is the zero vector, whose cosines are NULL."""

    @F.arrow_udf("struct<mc: double, hits: bigint>")
    def _stats(dims):  # type: ignore[no-untyped-def]
        E, en, eok, _ = bc.value
        V, vnull = ab.count_rows(dims, _SEMDECON_D)
        ok = ~vnull[:, None] & eok[None, :]
        mc, hits = ab.cos_stats(V, ab.l2_rows(V), E, en, thresh, ok, axis=1)
        return pa.StructArray.from_arrays([mc, hits], names=["mc", "hits"])

    return _stats


def _sem_dims_stats(hd_tr: DataFrame, ev: DataFrame, thresh: float) -> DataFrame:
    """Train frame carrying the hashed token ``dims`` x bounded eval
    frame (evec + enrm) -> (keys..., mc, hits). Kernel tier featurizes
    AND scores in one boundary crossing (_sem_dims_stats_udf); the JVM
    reference tier assembles the count vector with the 64-pass
    size(filter(...)) expression and goes through _sem_pair_stats."""
    keys = [c for c in hd_tr.columns if c != "dims"]
    if _SEM_PAIR_KERNEL:
        bc = _sem_eval_side(ev)
        if bc is None:
            return _sem_none(hd_tr, *keys)
        stats = _sem_dims_stats_udf(bc, thresh)
        st = hd_tr.select(*keys, stats(F.col("dims")).alias("_st"))
        return st.select(*keys, "_st.mc", "_st.hits")
    vec = F.expr(_SEM_VEC_SQL)
    tr = hd_tr.select(*keys, vec.alias("vec")).withColumn(
        "nrm", F.expr(_SEM_NORM_SQL)
    )
    return _sem_pair_stats(tr, ev, thresh)


def _sem_exposure_stats(
    hd_tr: DataFrame, ev: DataFrame, thresh: float
) -> DataFrame:
    """The exposure direction: per EVAL doc, (mc, hits) over every
    train doc. The streamed side is the corpus, so the kernel emits
    per-batch PARTIALS — |eval| rows of (eid, pmax, phits) per Arrow
    batch, by _sem_dims_stats_udf's laws (a NULL dims row pairs to NULL
    cosines with every eval doc) — and a bounded groupBy(eid)
    combines them (guide §2.3 aggregate-before-shuffle; max is
    order-independent, Spark's NaN-greatest final max matches numpy's
    NaN-propagating partial, and hit counts are exact integer partial
    sums). An empty batch emits nothing, so an empty train side emits
    no rows, as the JVM crossJoin does."""
    if _SEM_PAIR_KERNEL:
        bc = _sem_eval_side(ev)
        if bc is None:
            return _sem_none(hd_tr, F.lit(None).cast("long").alias("eid"))

        def _partials(batches):  # type: ignore[no-untyped-def]
            E, en, eok, eid = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                V, vnull = ab.count_rows(b.column(0), _SEMDECON_D)
                ok = ~vnull[:, None] & eok[None, :]
                mc, hits = ab.cos_stats(
                    V, ab.l2_rows(V), E, en, thresh, ok, axis=0
                )
                yield pa.RecordBatch.from_arrays(
                    [eid, mc, hits], names=["eid", "pmax", "phits"]
                )

        part = hd_tr.select("dims").mapInArrow(
            _partials, "eid long, pmax double, phits long"
        )
        return part.groupBy("eid").agg(
            F.max("pmax").alias("mc"),
            F.sum("phits").cast("bigint").alias("hits"),
        )
    vec = F.expr(_SEM_VEC_SQL)
    nrm = F.expr(_SEM_NORM_SQL)
    tr = hd_tr.select(vec.alias("vec")).withColumn("nrm", nrm)
    cos = F.expr(
        "aggregate(zip_with(evec, vec, (a, b) -> a * b), 0D,"
        " (s, x) -> s + x) / (enrm * nrm)"
    )
    scored = tr.crossJoin(F.broadcast(ev)).select("eid", cos.alias("c"))
    return scored.groupBy("eid").agg(
        F.max("c").alias("mc"),
        F.sum(F.when(F.col("c") >= thresh, 1).otherwise(0))
        .cast("bigint")
        .alias("hits"),
    )


def _sem_pair_stats(tr: DataFrame, ev: DataFrame, thresh: float) -> DataFrame:
    """tr (vec + nrm per row) x ev (evec + enrm, bounded) -> tr with
    (mc, hits) appended — the screens' pair pass. Kernel tier by
    default (_SEM_PAIR_KERNEL); the JVM broadcast-NLJ + HOF tier is the
    reference implementation both tiers are pinned against."""
    keys = [c for c in tr.columns if c not in ("vec", "nrm")]
    if _SEM_PAIR_KERNEL:
        bc = _sem_eval_side(ev)
        if bc is None:
            return _sem_none(tr, *keys)
        stats = _sem_pair_stats_udf(bc, thresh)
        st = tr.select(*keys, stats(F.col("vec"), F.col("nrm")).alias("_st"))
        return st.select(*keys, "_st.mc", "_st.hits")
    scored = tr.crossJoin(F.broadcast(ev)).select(
        *keys, F.expr(_SEM_COS_SQL).alias("c")
    )
    return scored.groupBy(*keys).agg(
        F.max("c").alias("mc"),
        F.sum(F.when(F.col("c") >= thresh, 1).otherwise(0))
        .cast("bigint")
        .alias("hits"),
    )


@query(
    "x_semantic_decontaminate",
    f"""
    WITH t AS (
        SELECT doc_id, source, list_filter({_TOKS_DUCK}, w -> w <> '') AS toks
        FROM documents
    ), hd AS (
        SELECT doc_id, source,
               list_transform(toks,
                   t -> CAST(concat('0x', substr(md5(t), 1, 8))
                             AS BIGINT) % {_SEMDECON_D}) AS dims
        FROM t
    ), v AS (
        SELECT doc_id, source,
               CASE WHEN dims IS NOT NULL THEN
               list_transform(generate_series(0, {_SEMDECON_D - 1}),
                   d -> CAST(len(list_filter(dims, h -> h = d)) AS DOUBLE))
               END AS vec
        FROM hd
    ), ev AS (
        SELECT doc_id, vec FROM v WHERE source = '{_EVAL_SRC}'
    ), tr AS (
        SELECT doc_id, source, vec FROM v WHERE source <> '{_EVAL_SRC}'
    ), mx AS (
        SELECT tr.doc_id, tr.source,
               max(list_cosine_similarity(tr.vec, ev.vec)) AS mc,
               CAST(SUM(CASE WHEN list_cosine_similarity(tr.vec, ev.vec)
                                  >= {_SEMDECON_T} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_eval_hits
        FROM tr, ev GROUP BY tr.doc_id, tr.source
    )
    SELECT doc_id, source, ROUND(mc, 6) AS max_eval_cos, n_eval_hits,
           mc >= {_SEMDECON_T} AS contaminated
    FROM mx
    """,
    survey_ids=(
        "training-pipeline: SEMANTIC decontamination — per train doc, "
        "max cosine to ANY eval doc over deterministic hashing vectors "
        "+ contaminated flag at 0.95 (the paraphrase-robust screen on "
        "top of x_decontaminate's verbatim 13-gram law; SemDeDup-style "
        "cross-set similarity, full oracle)"
    ),
)
def x_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-set sibling of x_decontaminate: verbatim-gram overlap
    misses paraphrased benchmark leakage, so every training document
    is also screened by SIMILARITY against the eval corpus — max
    cosine to any eval doc over the engine's deterministic hashing
    featurization (the documented stand-in for an embedding encoder
    behind the same seam; the law downstream is encoder-agnostic).
    Emits every train doc with its max eval cosine, the number of
    >= 0.95 eval neighbours, and the contaminated flag — the audit
    table whose 'contaminated' column a gate composes exactly like
    x_decontaminate's.

    Scale shape: the EVAL side is benchmark-sized — its vectors
    broadcast; the train corpus takes one scan through the broadcast
    nested-loop compare and a per-doc partial-aggregated max/count.
    No corpus-side shuffle beyond the per-doc rollup; at real scale
    the eval side stays a few thousand rows (the x_decontaminate
    posture, with vectors instead of a gram set).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(textan.tokens(F.col("text")), lambda w: F.length(w) > 0)
    dims = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
        % _SEMDECON_D,
    )
    vec = F.expr(_SEM_VEC_SQL)
    hd = docs.select("doc_id", "source", dims.alias("dims"))
    # Eval side: JVM-featurized (bounded, source-pruned scan) with the
    # hoisted norm; train side ships only the hashed dims through the
    # kernel, which featurizes (bincount) and scores in one crossing.
    ev = (
        hd.filter(F.col("source") == _EVAL_SRC)
        .select(vec.alias("vec"))
        .select(
            F.col("vec").alias("evec"),
            F.expr(_SEM_NORM_SQL).alias("enrm"),
        )
    )
    tr = hd.filter(F.col("source") != _EVAL_SRC)
    st = _sem_dims_stats(tr, ev, _SEMDECON_T)
    return st.select(
        "doc_id",
        "source",
        F.round("mc", 6).alias("max_eval_cos"),
        F.col("hits").alias("n_eval_hits"),
        (F.col("mc") >= _SEMDECON_T).alias("contaminated"),
    )


@query(
    "x_semantic_exposure",
    f"""
    WITH t AS (
        SELECT doc_id, source, list_filter({_TOKS_DUCK}, w -> w <> '') AS toks
        FROM documents
    ), hd AS (
        SELECT doc_id, source,
               list_transform(toks,
                   t -> CAST(concat('0x', substr(md5(t), 1, 8))
                             AS BIGINT) % {_SEMDECON_D}) AS dims
        FROM t
    ), v AS (
        SELECT doc_id, source,
               CASE WHEN dims IS NOT NULL THEN
               list_transform(generate_series(0, {_SEMDECON_D - 1}),
                   d -> CAST(len(list_filter(dims, h -> h = d)) AS DOUBLE))
               END AS vec
        FROM hd
    ), ev AS (
        SELECT doc_id, vec FROM v WHERE source = '{_EVAL_SRC}'
    ), tr AS (
        SELECT doc_id, vec FROM v WHERE source <> '{_EVAL_SRC}'
    ), mx AS (
        SELECT ev.doc_id,
               max(list_cosine_similarity(ev.vec, tr.vec)) AS mc,
               CAST(SUM(CASE WHEN list_cosine_similarity(ev.vec, tr.vec)
                                  >= {_SEMDECON_T} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exposing_train_docs
        FROM ev, tr GROUP BY ev.doc_id
    )
    SELECT doc_id, ROUND(mc, 6) AS max_train_cos, n_exposing_train_docs,
           mc >= {_SEMDECON_T} AS compromised
    FROM mx
    """,
    survey_ids=(
        "training-pipeline: SEMANTIC eval-exposure report — the reverse "
        "direction of x_semantic_decontaminate (per benchmark item: max "
        "train cosine + exposing-train-doc count + compromised flag), "
        "completing the both-directions symmetry the verbatim gram law "
        "has (x_decontaminate / x_eval_exposure); full oracle"
    ),
)
def x_semantic_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_eval_exposure's semantic sibling: an eval item paraphrased
    into training can't be fixed by dropping train docs already
    trained on — the remedy is scoring clean and dirty eval subsets
    separately, which needs this table: per EVAL doc, the max cosine
    to any training doc over the deterministic hashing vectors, the
    number of >= 0.95 exposing train docs, and the compromised flag.
    Every eval doc emits a row (the clean subset is the point).

    Scale shape: identical to x_semantic_decontaminate with the
    aggregation flipped to the (benchmark-sized) eval side — eval
    vectors broadcast, the train corpus streams map-side through the
    compare, and the per-eval-doc rollup is a broadcast-sized groupBy.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(textan.tokens(F.col("text")), lambda w: F.length(w) > 0)
    dims = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
        % _SEMDECON_D,
    )
    vec = F.expr(_SEM_VEC_SQL)
    hd = docs.select("doc_id", "source", dims.alias("dims"))
    ev = (
        hd.filter(F.col("source") == _EVAL_SRC)
        .select(F.col("doc_id").alias("eid"), vec.alias("vec"))
        .select(
            "eid",
            F.col("vec").alias("evec"),
            F.expr(_SEM_NORM_SQL).alias("enrm"),
        )
    )
    tr = hd.filter(F.col("source") != _EVAL_SRC).select("dims")
    st = _sem_exposure_stats(tr, ev, _SEMDECON_T)
    return st.select(
        F.col("eid").alias("doc_id"),
        F.round("mc", 6).alias("max_train_cos"),
        F.col("hits").alias("n_exposing_train_docs"),
        (F.col("mc") >= _SEMDECON_T).alias("compromised"),
    )




# IDF-weighted semantic screen (VERDICT r6 task 6): the hashing
# featurization above weights every token equally, so boilerplate
# tokens ("the", markup) dominate the vector mass and dilute the
# paraphrase signal. The twin weights each token occurrence by its
# smoothed inverse document frequency ln((N+1)/(df+1)) — one DF
# groupBy over the corpus, broadcast back — which is tf-idf on the
# same 64-dim hashing lattice. Per-(doc, dim) weight sums are rounded
# to 7 dp and aggregated as DECIMAL so the vectors are bit-equal
# across engines (ln() last-ulp + order-independence; the x_ccnet
# posture), making the WHOLE weighted screen fully value-hash-oracled.

_SIDF_CTES = """sidf_t AS (
        SELECT doc_id, source, list_filter({toks}, w -> w <> '') AS toks
        FROM documents
    ), sidf_ex AS (
        SELECT doc_id, source, unnest(toks) AS tok FROM sidf_t
    ), sidf_df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS dfd FROM sidf_ex GROUP BY tok
    ), sidf_n AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents
    ), sidf_w AS (
        SELECT e.doc_id, e.source,
               CAST(concat('0x', substr(md5(e.tok), 1, 8)) AS BIGINT)
                   % {dd} AS dim,
               ln((nd + 1.0) / (CAST(dfd AS DOUBLE) + 1.0)) AS w
        FROM sidf_ex e JOIN sidf_df USING (tok) CROSS JOIN sidf_n
    ), sidf_sums AS (
        SELECT doc_id, source,
               CAST(SUM(CASE WHEN dim = 0 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v0,
               CAST(SUM(CASE WHEN dim = 1 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v1,
               CAST(SUM(CASE WHEN dim = 2 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v2,
               CAST(SUM(CASE WHEN dim = 3 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v3,
               CAST(SUM(CASE WHEN dim = 4 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v4,
               CAST(SUM(CASE WHEN dim = 5 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v5,
               CAST(SUM(CASE WHEN dim = 6 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v6,
               CAST(SUM(CASE WHEN dim = 7 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v7,
               CAST(SUM(CASE WHEN dim = 8 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v8,
               CAST(SUM(CASE WHEN dim = 9 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v9,
               CAST(SUM(CASE WHEN dim = 10 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v10,
               CAST(SUM(CASE WHEN dim = 11 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v11,
               CAST(SUM(CASE WHEN dim = 12 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v12,
               CAST(SUM(CASE WHEN dim = 13 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v13,
               CAST(SUM(CASE WHEN dim = 14 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v14,
               CAST(SUM(CASE WHEN dim = 15 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v15,
               CAST(SUM(CASE WHEN dim = 16 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v16,
               CAST(SUM(CASE WHEN dim = 17 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v17,
               CAST(SUM(CASE WHEN dim = 18 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v18,
               CAST(SUM(CASE WHEN dim = 19 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v19,
               CAST(SUM(CASE WHEN dim = 20 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v20,
               CAST(SUM(CASE WHEN dim = 21 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v21,
               CAST(SUM(CASE WHEN dim = 22 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v22,
               CAST(SUM(CASE WHEN dim = 23 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v23,
               CAST(SUM(CASE WHEN dim = 24 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v24,
               CAST(SUM(CASE WHEN dim = 25 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v25,
               CAST(SUM(CASE WHEN dim = 26 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v26,
               CAST(SUM(CASE WHEN dim = 27 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v27,
               CAST(SUM(CASE WHEN dim = 28 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v28,
               CAST(SUM(CASE WHEN dim = 29 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v29,
               CAST(SUM(CASE WHEN dim = 30 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v30,
               CAST(SUM(CASE WHEN dim = 31 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v31,
               CAST(SUM(CASE WHEN dim = 32 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v32,
               CAST(SUM(CASE WHEN dim = 33 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v33,
               CAST(SUM(CASE WHEN dim = 34 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v34,
               CAST(SUM(CASE WHEN dim = 35 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v35,
               CAST(SUM(CASE WHEN dim = 36 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v36,
               CAST(SUM(CASE WHEN dim = 37 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v37,
               CAST(SUM(CASE WHEN dim = 38 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v38,
               CAST(SUM(CASE WHEN dim = 39 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v39,
               CAST(SUM(CASE WHEN dim = 40 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v40,
               CAST(SUM(CASE WHEN dim = 41 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v41,
               CAST(SUM(CASE WHEN dim = 42 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v42,
               CAST(SUM(CASE WHEN dim = 43 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v43,
               CAST(SUM(CASE WHEN dim = 44 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v44,
               CAST(SUM(CASE WHEN dim = 45 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v45,
               CAST(SUM(CASE WHEN dim = 46 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v46,
               CAST(SUM(CASE WHEN dim = 47 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v47,
               CAST(SUM(CASE WHEN dim = 48 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v48,
               CAST(SUM(CASE WHEN dim = 49 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v49,
               CAST(SUM(CASE WHEN dim = 50 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v50,
               CAST(SUM(CASE WHEN dim = 51 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v51,
               CAST(SUM(CASE WHEN dim = 52 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v52,
               CAST(SUM(CASE WHEN dim = 53 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v53,
               CAST(SUM(CASE WHEN dim = 54 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v54,
               CAST(SUM(CASE WHEN dim = 55 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v55,
               CAST(SUM(CASE WHEN dim = 56 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v56,
               CAST(SUM(CASE WHEN dim = 57 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v57,
               CAST(SUM(CASE WHEN dim = 58 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v58,
               CAST(SUM(CASE WHEN dim = 59 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v59,
               CAST(SUM(CASE WHEN dim = 60 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v60,
               CAST(SUM(CASE WHEN dim = 61 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v61,
               CAST(SUM(CASE WHEN dim = 62 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v62,
               CAST(SUM(CASE WHEN dim = 63 THEN CAST(ROUND(w, 7) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS v63
        FROM sidf_w GROUP BY doc_id, source
    ), sidf_v AS (
        SELECT doc_id, source, [v0, v1, v2, v3, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, v14, v15, v16, v17, v18, v19, v20, v21, v22, v23, v24, v25, v26, v27, v28, v29, v30, v31, v32, v33, v34, v35, v36, v37, v38, v39, v40, v41, v42, v43, v44, v45, v46, v47, v48, v49, v50, v51, v52, v53, v54, v55, v56, v57, v58, v59, v60, v61, v62, v63] AS vec FROM sidf_sums
    ), sidf_ev AS (
        SELECT doc_id, vec FROM sidf_v WHERE source = '{ev}'
    ), sidf_tr AS (
        SELECT doc_id, source, vec FROM sidf_v WHERE source <> '{ev}'
    ), sidf_mx AS (
        SELECT tr.doc_id, tr.source,
               max(list_cosine_similarity(tr.vec, ev.vec)) AS mc,
               CAST(SUM(CASE WHEN list_cosine_similarity(tr.vec, ev.vec)
                                  >= {t} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_eval_hits
        FROM sidf_tr tr, sidf_ev ev GROUP BY tr.doc_id, tr.source
    )"""


@query(
    "x_semantic_decontaminate_idf",
    "WITH "
    + _SIDF_CTES.format(toks=_TOKS_DUCK, dd=_SEMDECON_D, ev=_EVAL_SRC, t=_SEMDECON_T)
    + f"""
    SELECT doc_id, source, ROUND(mc, 6) + 0 AS max_eval_cos, n_eval_hits,
           mc >= {_SEMDECON_T} AS contaminated
    FROM sidf_mx
    """,
    survey_ids=(
        "training-pipeline: IDF-weighted semantic decontamination — "
        "x_semantic_decontaminate with tf-idf hashing vectors (IDF "
        "from one DF groupBy, broadcast); rare benchmark-specific "
        "terms carry the cosine instead of boilerplate, materially "
        "sharpening paraphrase detection; full oracle (DECIMAL-summed "
        "weighted vectors bit-equal across engines)"
    ),
)
def x_semantic_decontaminate_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted twin of x_semantic_decontaminate: same screen law
    (per train doc, max cosine to any eval doc + contaminated flag at
    0.95), with each token occurrence contributing its smoothed IDF
    ln((N+1)/(df+1)) to its hashed dimension instead of 1.

    Scale shape: the IDF table is vocabulary-bounded and reaches the
    exploded token stream as a broadcast join; the per-(doc, dim)
    DECIMAL rollup is the one corpus-sized shuffle (combiner-friendly:
    the exchange carries at most 64 rows per doc per map partition, and each token row is touched ONCE — not once per
    output dimension); the 64-dim vector assembles from those <= 64
    rows per doc via a map lookup; eval vectors broadcast; no
    corpus-side shuffle after vector assembly (the unweighted screen's
    posture). Value-identical to the 64-conditional-sums formulation
    (per-dim sums are the same DECIMAL terms; absent dims are exact
    0), which the unchanged full oracle hash-proves.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(textan.tokens(F.col("text")), lambda w: F.length(w) > 0)
    ex = docs.select(
        "doc_id", "source", F.explode(toks.alias("toks")).alias("tok")
    )
    # Collapse occurrences to (doc, tok, cnt) FIRST: one explode pass
    # feeds both the DF table (dfd = rows per tok, since each (doc, tok)
    # appears once) and the weighted sums — and cnt · round(idf, 7) as
    # DECIMAL equals the per-occurrence DECIMAL sum exactly (repeated
    # decimal addition), so the unchanged oracle hash-proves the rewrite.
    dt = ex.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dfc = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("dfd"))
    # N as an in-plan 1-row broadcast, not a docs.count() driver action:
    # the standalone action was a separate job (an extra corpus scan at
    # scale); as a plan branch it collapses to parquet count-star
    # metadata and pipelines into this query's single execution.
    ndf = docs.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    w = F.log(
        (F.col("nd") + F.lit(1.0)) / (F.col("dfd").cast("double") + F.lit(1.0))
    )
    wtok = dt.join(F.broadcast(dfc), "tok").crossJoin(F.broadcast(ndf)).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % _SEMDECON_D
        ).alias("dim"),
        (F.round(w, 7).cast("decimal(18,9)") * F.col("cnt")).alias("ws"),
    )
    sums = wtok.groupBy("doc_id", "source", "dim").agg(
        F.sum("ws").cast("double").alias("s")
    )
    v = (
        sums.groupBy("doc_id", "source")
        .agg(
            F.map_from_arrays(
                F.collect_list("dim"), F.collect_list("s")
            ).alias("m")
        )
        .select(
            "doc_id",
            "source",
            F.expr(
                f"transform(sequence(0, {_SEMDECON_D - 1}),"
                " d -> coalesce(element_at(m, cast(d as bigint)), 0d))"
            ).alias("vec"),
        )
        # Plan barrier: the assembled vectors feed the train-side scan
        # AND the eval broadcast build — without it each branch
        # re-executes the whole explode + 3-shuffle featurization
        # (filter pushdown makes the branches non-identical, so
        # exchange reuse can't dedupe them; measured 8.7s -> 2.8s at
        # sf0.1). The repartition re-spreads the barrier output: AQE
        # coalesces this tiny final stage to ONE partition, and a
        # 1-partition checkpoint serializes the downstream broadcast
        # compare (measured 9.2s — worse than no barrier). At scale the
        # barrier materializes |docs| x 64 doubles once, far cheaper
        # than recomputing the token chain per branch (guide §3.3/§5).
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    nrm = F.expr(_SEM_NORM_SQL)
    ev = v.filter(F.col("source") == _EVAL_SRC).select(
        F.col("vec").alias("evec"), nrm.alias("enrm")
    )
    tr = v.filter(F.col("source") != _EVAL_SRC).select(
        "doc_id", "source", "vec", nrm.alias("nrm")
    )
    # Pair pass through the Arrow kernel tier: the eval side collects
    # off the BARRIER above (a checkpoint read, not a featurization
    # re-run — what sank the r10 attempt), the train side ships only
    # (vec, nrm) per row (guide §4.2).
    st = _sem_pair_stats(tr, ev, _SEMDECON_T)
    return st.select(
        "doc_id",
        "source",
        (F.round("mc", 6) + 0).alias("max_eval_cos"),
        F.col("hits").alias("n_eval_hits"),
        (F.col("mc") >= _SEMDECON_T).alias("contaminated"),
    )


@query(
    "x_semantic_decon_idf_agree",
    "WITH "
    + _SIDF_CTES.format(toks=_TOKS_DUCK, dd=_SEMDECON_D, ev=_EVAL_SRC, t=_SEMDECON_T)
    + f""", suw_hd AS (
        SELECT doc_id, source,
               list_transform(toks,
                   t -> CAST(concat('0x', substr(md5(t), 1, 8))
                             AS BIGINT) % {_SEMDECON_D}) AS dims
        FROM sidf_t
    ), suw_v AS (
        SELECT doc_id, source,
               list_transform(generate_series(0, {_SEMDECON_D - 1}),
                   d -> CAST(len(list_filter(dims, h -> h = d)) AS DOUBLE))
                   AS vec
        FROM suw_hd
    ), suw_ev AS (
        SELECT vec FROM suw_v WHERE source = '{_EVAL_SRC}'
    ), suw_tr AS (
        SELECT doc_id, source, vec FROM suw_v WHERE source <> '{_EVAL_SRC}'
    ), suw_mx AS (
        SELECT tr.doc_id, tr.source,
               max(list_cosine_similarity(tr.vec, ev.vec)) >= {_SEMDECON_T}
                   AS c_unw
        FROM suw_tr tr, suw_ev ev GROUP BY tr.doc_id, tr.source
    ), sidf_flag AS (
        SELECT doc_id, source, mc >= {_SEMDECON_T} AS c_idf FROM sidf_mx
    )
    SELECT u.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN i.c_idf THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flag_idf,
           CAST(SUM(CASE WHEN u.c_unw THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flag_unw,
           CAST(SUM(CASE WHEN i.c_idf = u.c_unw THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
           ROUND(CAST(SUM(CASE WHEN i.c_idf = u.c_unw THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) + 0 AS agree_frac
    FROM suw_mx u JOIN sidf_flag i
      ON u.doc_id = i.doc_id AND u.source = i.source
    GROUP BY u.source""",
    survey_ids=(
        "training-pipeline: agreement report between the IDF-weighted "
        "and unweighted semantic screens — per source, flag counts on "
        "both arms plus the agreement fraction; both arms fully "
        "SQL-expressible, so the comparison is a hash-checked VALUE"
    ),
)
def x_semantic_decon_idf_agree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source agreement between x_semantic_decontaminate_idf's flag
    and the unweighted screen's flag over the same train docs:
    (source, n_docs, n_flag_idf, n_flag_unw, n_agree, agree_frac).
    Quantifies what the IDF weighting changes — the report the VERDICT
    asked to accompany the weighted twin."""
    idf = x_semantic_decontaminate_idf(spark, sf_dir).select(
        "doc_id", "source", F.col("contaminated").alias("c_idf")
    )
    unw = x_semantic_decontaminate(spark, sf_dir).select(
        "doc_id", "source", F.col("contaminated").alias("c_unw")
    )
    j = unw.join(idf, ["doc_id", "source"])
    agree = (F.col("c_idf") == F.col("c_unw")).cast("int")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("c_idf").cast("int")).cast("bigint").alias("n_flag_idf"),
        F.sum(F.col("c_unw").cast("int")).cast("bigint").alias("n_flag_unw"),
        F.sum(agree).cast("bigint").alias("n_agree"),
        (F.round(F.sum(agree).cast("double") / F.count("*"), 6) + 0).alias(
            "agree_frac"
        ),
    )


@query(
    "x_ngram_topk",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ), g AS (
        SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS gram
        FROM t
    ), c AS (
        SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
    )
    SELECT gram, cnt FROM c
    ORDER BY cnt DESC, gram ASC
    LIMIT 20
    """,
    survey_ids=(
        "training-pipeline: corpus-level n-gram frequency top-k "
        "(LM-data vocabulary/boilerplate audit); T2/T3 ordered limit at corpus scale"
    ),
)
def x_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus 3-grams with counts (deterministic gram tie-break).

    The boilerplate-audit / vocabulary-coverage primitive: explode
    3-grams with multiplicity, count corpus-wide, take the global
    top-k. Scale shape: the explode is map-side; the count benefits
    from partial (map-side combine) aggregation so the shuffle carries
    one row per distinct gram per partition, not one per occurrence;
    the global top-20 is a TakeOrdered over per-partition top-20s —
    no full sort of the gram histogram ever materializes.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(textan.tokens(F.col("text")).alias("toks"))
    grams = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(toks) - 2, 1)), "
                "i -> concat_ws(' ', slice(toks, i, 3)))"
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(20)
    )


@query(
    "x_split_assign",
    """
    SELECT doc_id, source,
           CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '028f' THEN 'val'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '051e' THEN 'test'
               ELSE 'train'
           END AS split
    FROM documents
    """,
    survey_ids=(
        "training-pipeline: deterministic stratification-free train/val/test "
        "split (hash-bucket 98/1/1, stable under corpus growth)"
    ),
)
def x_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by content key.

    The split is a pure function of doc_id's md5 (first 4 hex chars
    against 1%% and 2%% cut points: 0x028f ~ 655/65536, 0x051e ~
    1310/65536), so membership never flips when the corpus grows or
    repartitions — the property rand(seed) lacks — and a doc can never
    appear in two splits. Map-only at any scale: no shuffle, no state;
    the same expression serves as the filter predicate for each
    split's writer. (Per-source stratified quotas are x_mixture_sample
    composed on top of this split column.)
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return docs.select(
        "doc_id",
        "source",
        F.when(bucket < "028f", F.lit("val"))
        .when(bucket < "051e", F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@query(
    "x_split_leakage_safe",
    """
    WITH fp AS (
        SELECT doc_id, source,
               substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)
                   AS fingerprint
        FROM documents
    )
    SELECT doc_id, source, fingerprint,
           CASE
               WHEN substr(md5(fingerprint), 1, 4) < '028f' THEN 'val'
               WHEN substr(md5(fingerprint), 1, 4) < '051e' THEN 'test'
               ELSE 'train'
           END AS split
    FROM fp
    """,
    survey_ids=(
        "training-pipeline: leakage-safe split — assignment hashes the "
        "CONTENT fingerprint, so exact duplicates can never straddle "
        "train/test (the eval-leak x_decontaminate exists to catch)"
    ),
)
def x_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split keyed on the content fingerprint.

    x_split_assign hashes doc_id — two byte-identical docs with
    different ids can land in different splits and leak eval text into
    training. Hashing the C14 content fingerprint instead puts every
    exact-duplicate group wholly inside ONE split (the group shares the
    key, hence the bucket) while keeping all of x_split_assign's
    properties: deterministic, seed-free, growth-stable, map-only, no
    shuffle. Near-dup (not just exact) leakage-safety composes the
    dd_cluster_canonical cluster id as the key the same way — that
    variant inherits the clustering job's cost, so the fingerprint form
    is the default. The same fingerprint expression as dd_exact_dedup
    (operators/textan.doc_fingerprint) — one law, one place.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = textan.doc_fingerprint(F.col("text"))
    bucket = F.substring(F.md5(fp), 1, 4)
    return docs.select(
        "doc_id",
        "source",
        fp.alias("fingerprint"),
        F.when(bucket < "028f", F.lit("val"))
        .when(bucket < "051e", F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@query(
    "x_quality_bins",
    f"""
    WITH q AS (
        SELECT doc_id, lang, ROUND({_quality_duck()}, 6) AS quality
        FROM documents
    ), b AS (
        SELECT lang, quality,
               ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS bin
        FROM q
    )
    SELECT lang, bin,
           COUNT(*) AS n_docs,
           ROUND(MIN(quality), 6) AS q_min,
           ROUND(MAX(quality), 6) AS q_max
    FROM b GROUP BY lang, bin
    """,
    survey_ids=(
        "training-pipeline: quality-decile curriculum binning "
        "(ntile window per lang + per-bin rollup)"
    ),
)
def x_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality deciles (curriculum / filtering bins).

    ntile(10) over (lang, quality asc) with doc_id tie-break makes bin
    edges deterministic; the rollup reports each decile's doc count
    and quality range — the table a curriculum sampler or a
    quality-threshold sweep reads. Scale shape: one shuffle on lang
    for the window sort, then partial-agg rollup on (lang, bin) which
    AQE keeps co-partitioned with the window output (no second
    exchange). A skewed mega-language would swap ntile for
    approx-percentile cut points (one pass, no global sort) — same
    output contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    q = docs.select(
        "doc_id",
        "lang",
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    b = q.withColumn("bin", F.ntile(10).over(w).cast("long"))
    return b.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("quality"), 6).alias("q_min"),
        F.round(F.max("quality"), 6).alias("q_max"),
    )


@query(
    "x_quality_bins_approx",
    None,  # sketch-thresholded deciles; golden vs the exact twin
    # (tests/test_scale_variants.py) — the a5_approx pattern.
    survey_ids=(
        "training-pipeline 100TB path: quality deciles via per-lang "
        "approx_percentile cut points + map-only binning — the declared "
        "scale substitute for x_quality_bins' per-lang ntile(10) "
        "full-sort window"
    ),
)
def x_quality_bins_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of x_quality_bins: per-lang decile cut points from a
    mergeable approx_percentile sketch (one small agg, no row sort),
    broadcast back for a map-only bin assignment, then the same
    (lang, bin) rollup. Ties at a cut point all take the lower bin and
    sketch rank error can shift a boundary by ≤n/10000 rows — the
    declared trade for removing the per-lang full-sort window, whose
    partitions are ~20% of the corpus at ~5 langs (multi-TB single
    tasks at 100TB)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    # No plan barrier here (r10 A/B): the threshold agg and the binning
    # join both consume the per-doc quality frame, but the quality-score
    # text pass is one cheap map stage — the barrier's fixed cost
    # (eager job + repartition shuffle) measured MORE than the saved
    # recompute at sf0.1 (1.58s with barrier vs 1.07s without, focused
    # best-of-4; the r9 no-barrier form restored). The heavier scoring
    # chains (DSIR/CCNet/KN) keep their barriers — there the saved
    # corpus pass is multi-second.
    q = docs.select(
        "doc_id",
        "lang",
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
    )
    th = q.groupBy("lang").agg(
        F.percentile_approx(
            "quality",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            F.lit(10000),
        ).alias("th")
    )
    b = q.join(F.broadcast(th), "lang").select(
        "lang",
        "quality",
        (
            F.lit(1)
            + F.size(F.filter(F.col("th"), lambda x: F.col("quality") > x))
        )
        .cast("long")
        .alias("bin"),
    )
    return b.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("quality"), 6).alias("q_min"),
        F.round(F.max("quality"), 6).alias("q_max"),
    )


@query(
    "x_boilerplate_frac",
    f"""
    WITH g AS (
        SELECT doc_id, {_SHINGLE_DUCK} AS g FROM documents
    ), e AS (
        SELECT doc_id, unnest(g) AS gram, len(g) AS n_grams FROM g
    ), df AS (
        SELECT gram FROM e GROUP BY gram HAVING COUNT(*) >= 2
    )
    SELECT e.doc_id,
           MIN(e.n_grams) AS n_grams,
           COUNT(d.gram) AS n_dup_grams,
           ROUND(CAST(COUNT(d.gram) AS DOUBLE) / MIN(e.n_grams), 6)
               AS boilerplate_frac
    FROM e LEFT JOIN df d ON e.gram = d.gram
    GROUP BY e.doc_id
    """,
    survey_ids=(
        "training-pipeline: cross-document boilerplate fraction (C4-style "
        "corpus-duplicated span mass per doc; df>=2 gram set as the probe dim)"
    ),
)
def x_boilerplate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mass of corpus-duplicated 3-gram spans (C4-style).

    The cross-document cousin of x_repetition_filter: a gram counts as
    boilerplate when it appears in >= 2 documents corpus-wide (each
    doc's gram set is distinct, so corpus df equals document
    frequency); a doc's boilerplate_frac is the share of its grams
    that are duplicated somewhere else — the signal C4/RefinedWeb use
    to strip shared headers/footers/templates before training.

    Scale shape: gram df is one explode + partial-agg count; the
    duplicated-gram set (df >= 2) is then the JOIN DIMENSION — by
    Heaps'-law it is a small fraction of the gram vocabulary, so the
    per-doc probe is an equi-join against a set that fits far fewer
    machines than the corpus (broadcast when it fits, shuffle join
    degrades gracefully when it doesn't — the plan encodes no
    broadcast hint for exactly that reason). Nothing re-reads text
    twice: both branches explode the same map-side projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", token_shingles(F.col("text"), 3).alias("g")
    )
    e = g.select(
        "doc_id", F.size("g").cast("long").alias("n_grams"), F.explode("g").alias("gram")
    )
    # Gram df as ONE window over the exploded stream (the r10
    # exact-substr rewrite, applied here): each doc's gram set is
    # distinct, so count(*) per gram partition IS the document
    # frequency — no groupBy + join-back that re-executes the explode
    # subtree (guide §2.4; plan 10 -> 6 Exchanges, one explode).
    df_w = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    return (
        e.withColumn("df", df_w)
        .groupBy("doc_id")
        .agg(
            F.min("n_grams").alias("n_grams"),
            F.count(F.when(F.col("df") >= 2, 1)).alias("n_dup_grams"),
        )
        .withColumn(
            "boilerplate_frac",
            F.round(F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6),
        )
    )


@query(
    "x_boilerplate_strip",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ), g AS (
        SELECT doc_id, i AS start,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
        FROM t, unnest(CASE WHEN len(toks) >= 3 THEN range(1, len(toks) - 1)
                            ELSE CAST([] AS BIGINT[]) END) AS u(i)
    ), dup AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        GROUP BY gram HAVING COUNT(*) >= 2
    ), kill AS (
        SELECT DISTINCT g.doc_id, g.start + v.o AS pos
        FROM g JOIN dup USING (gram), unnest([0, 1, 2]) AS v(o)
    ), tok AS (
        SELECT doc_id, toks[i] AS tok, CAST(i AS BIGINT) AS pos
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
    ), kept AS (
        SELECT tok.doc_id,
               string_agg(tok.tok, ' ' ORDER BY tok.pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM tok LEFT JOIN kill ON tok.doc_id = kill.doc_id AND tok.pos = kill.pos
        WHERE kill.pos IS NULL
        GROUP BY tok.doc_id
    )
    SELECT t.doc_id,
           COALESCE(kept.clean_text, '') AS clean_text,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(t.toks) - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_removed
    FROM t LEFT JOIN kept USING (doc_id)
    """,
    survey_ids=(
        "training-pipeline: C4-style boilerplate REMOVAL (rewrite, not just "
        "score): corpus-duplicated 3-gram spans stripped, text reassembled "
        "in token order"
    ),
)
def x_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip corpus-duplicated spans and emit the CLEANED text.

    x_boilerplate_frac scores the duplicated mass; this is the rewrite
    C4 actually performs: any 3-gram span occurring in >= 2 documents
    is boilerplate, every token it covers is dropped, and the document
    is reassembled from the surviving tokens in their original order.

    Scale shape: the duplicated-gram set is the small join dimension
    (Heaps' law, same as x_boilerplate_frac); the kill set is 3 rows
    per duplicated gram OCCURRENCE (linear, distinct-collapsed before
    the anti-join); reassembly is one sort per document inside a keyed
    aggregate — array_sort on (pos, tok) structs, so the output text is
    partition-order-independent. Docs shorter than one gram (or fully
    stripped) survive via the left join with clean_text = ''.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks_col = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    t = docs.select("doc_id", toks_col.alias("toks"))
    # Positional 3-grams, 1-based start; sequence() is guarded because
    # sequence(1, 0) yields a DESCENDING [1, 0], not an empty array.
    starts = F.when(
        F.size("toks") >= 3, F.sequence(F.lit(1), F.size("toks") - 2)
    ).otherwise(F.expr("array()").cast("array<int>"))
    g = (
        t.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    starts,
                    lambda i: F.struct(
                        i.alias("start"),
                        F.array_join(F.slice(F.col("toks"), i, 3), " ").alias("gram"),
                    ),
                )
            ).alias("_i", "sg"),
        )
        .select("doc_id", F.col("sg.start").alias("start"), F.col("sg.gram").alias("gram"))
    )
    # Duplicated-gram detection as ONE window over the positional gram
    # stream (the r10 exact-substr rewrite): df = distinct docs per
    # gram via collect_set, computed on the SAME pass that carries the
    # positions — the old shape ran the posexplode subtree twice
    # (distinct+groupBy to build the dup set, then the join-back) and
    # shuffled it three times. Killed POSITIONS then aggregate to one
    # per-doc array, and the surviving text reassembles MAP-SIDE with
    # array_except over the position sequence — the per-token explode,
    # its (doc, pos) anti-join shuffle and the collect_list/array_sort
    # reassembly all disappear (guide §2.3/§2.4: the corpus token
    # stream never enters a shuffle as rows; plan 22 -> 8 Exchanges).
    kill = (
        g.withColumn(
            "df",
            F.size(
                F.collect_set("doc_id").over(Window.partitionBy("gram"))
            ),
        )
        .filter(F.col("df") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start").cast("long"), F.col("start").cast("long") + 2)
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("kill_pos"))
    )
    return (
        t.join(kill, "doc_id", "left")
        .select(
            "doc_id",
            "toks",
            F.expr(
                "array_except(sequence(1L, cast(size(toks) as long)),"
                " coalesce(kill_pos, array()))"
            ).alias("keep_pos"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.expr("transform(keep_pos, p -> element_at(toks, cast(p as int)))"),
                " ",
            ).alias("clean_text"),
            F.size("keep_pos").cast("long").alias("n_kept"),
            (F.size("toks") - F.size("keep_pos"))
            .cast("long")
            .alias("n_removed"),
        )
    )


@query(
    "x_repetition_filter",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ), g2 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
        FROM t
    ), g3 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
        FROM t
    ), c2 AS (
        SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, g
    ), c3 AS (
        SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY doc_id, g
    ), s2 AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_2grams,
               ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top2_frac
        FROM c2 GROUP BY doc_id
    ), s3 AS (
        SELECT doc_id,
               ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                     / SUM(cnt), 6) AS dup3_frac
        FROM c3 GROUP BY doc_id
    )
    SELECT s2.doc_id, s2.n_2grams, s2.top2_frac, s3.dup3_frac,
           (s2.top2_frac > 0.18 OR s3.dup3_frac > 0.16) AS is_repetitive
    FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
    """,
    survey_ids=(
        "training-pipeline: within-doc repetition filter (Gopher-style "
        "top-2-gram mass + duplicated-3-gram mass quality gates)"
    ),
)
def x_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality gates.

    Two signals from Rae et al. 2021 (Gopher, table A1): the mass of
    the single most frequent 2-gram (top2_frac) and the mass of
    3-grams that occur more than once (dup3_frac); a doc is flagged
    repetitive past the published-style thresholds (0.18 / 0.16).
    N-gram occurrences are counted with multiplicity — the distinct
    shingle machinery of the dedup family is deliberately NOT reused.

    Scale shape: explode n-grams -> groupBy(doc, gram) with map-side
    partial aggregation -> per-doc rollup. Both aggregations hash on
    doc_id-led keys, so the two branches co-partition and the final
    join is shuffle-free under AQE; nothing is quadratic in doc length.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", textan.tokens(F.col("text")).alias("toks"))

    def grams(n: int) -> F.Column:
        return F.expr(
            f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)), "
            f"i -> concat_ws(' ', slice(toks, i, {n})))"
        )

    def counts(n: int) -> DataFrame:
        return (
            t.select("doc_id", F.explode(grams(n)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    s2 = counts(2).groupBy("doc_id").agg(
        F.sum("cnt").alias("n_2grams"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias("top2_frac"),
    )
    s3 = counts(3).groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).cast("double")
            / F.sum("cnt"),
            6,
        ).alias("dup3_frac")
    )
    return s2.join(s3, "doc_id").select(
        "doc_id",
        "n_2grams",
        "top2_frac",
        "dup3_frac",
        ((F.col("top2_frac") > 0.18) | (F.col("dup3_frac") > 0.16)).alias(
            "is_repetitive"
        ),
    )


# ONE constant shared with the streaming packer — its whole contract is
# bit-equality with this batch layout; a re-declared copy could drift.
from ..streaming.packing import PACK_BUDGET as _PACK_BUDGET  # noqa: E402


@query(
    "x_pack_sequences",
    f"""
    WITH t AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok
        FROM documents
    ), c AS (
        SELECT doc_id, source, ntok,
               CAST(COALESCE(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS cum_prev
        FROM t
    )
    SELECT doc_id, source, ntok,
           cum_prev // {_PACK_BUDGET} AS seq_id,
           cum_prev % {_PACK_BUDGET} AS seq_offset,
           (cum_prev + greatest(ntok, 1) - 1) // {_PACK_BUDGET} AS seq_end
    FROM c
    """,
    survey_ids=(
        "training-pipeline: sequence packing (concat-then-chunk layout of "
        "docs into fixed 512-token sequences per source)"
    ),
)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each doc its position in fixed-budget packed sequences.

    Concat-then-chunk packing (the GPT/T5 data-loader layout): within
    each source, docs are laid end-to-end in deterministic doc_id order
    and cut into 512-token sequences. Emitted per doc: the sequence it
    starts in (seq_id), its token offset there, and the sequence it
    ends in (seq_end > seq_id means the doc straddles a chunk
    boundary). Pure prefix-sum — integer arithmetic only, so the
    layout is bit-reproducible across engines and runs.

    Scale shape: one shuffle on source (the pack partition key), then a
    running SUM window inside each partition — exactly the distributed
    prefix-sum a 100TB packing job wants. Sources are the natural unit
    of parallelism; a skewed mega-source would be salted by doc_id
    range into sub-partitions with offset re-basing (same arithmetic,
    applied per salt bucket then shifted by the bucket's global prefix).
    """
    docs = load_table(spark, sf_dir, "documents")
    ntok = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(textan.tokens(F.col("text"))))
        .cast("long")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = docs.select("doc_id", "source", ntok.alias("ntok")).withColumn(
        "cum_prev", F.coalesce(F.sum("ntok").over(w), F.lit(0))
    )
    b = F.lit(_PACK_BUDGET)
    return c.select(
        "doc_id",
        "source",
        "ntok",
        F.expr(f"cum_prev div {_PACK_BUDGET}").alias("seq_id"),
        (F.col("cum_prev") % b).alias("seq_offset"),
        F.expr(
            f"(cum_prev + greatest(ntok, 1) - 1) div {_PACK_BUDGET}"
        ).alias("seq_end"),
    )


@query(
    "x_pack_sequences_salted",
    f"""
    WITH t AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok
        FROM documents
    ), c AS (
        SELECT doc_id, source, ntok,
               CAST(COALESCE(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS cum_prev
        FROM t
    )
    SELECT doc_id, source, ntok,
           cum_prev // {_PACK_BUDGET} AS seq_id,
           cum_prev % {_PACK_BUDGET} AS seq_offset,
           (cum_prev + greatest(ntok, 1) - 1) // {_PACK_BUDGET} AS seq_end
    FROM c
    """,
    survey_ids=(
        "training-pipeline: SALTED sequence packing — the mega-source "
        "skew remedy in TOKEN space (doc_id-range salt buckets, "
        "per-bucket running sums, model-sized re-basing frame); oracle "
        "is the unsalted per-source window, value-hash-proving the "
        "decomposition for the packing family too (byte space is "
        "x_shard_plan_salted)"
    ),
)
def x_pack_sequences_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_pack_sequences' output computed through the documented skew
    remedy: the per-source running token sum is split into
    doc_id-range salt buckets (width _SALT_W=64, data-independent and
    order-preserving), summed independently per (source, salt), and
    re-based by the per-source bucket-totals prefix frame
    (|sources| x |salts| rows, broadcast). cum_prev = bucket_off +
    cum_in_bucket equals the per-source prefix sum because doc_id
    order refines salt order within a source. The ORACLE is the
    unsalted arm, so the hash gate value-proves the decomposition —
    together with x_shard_plan_salted this covers both prefix-sum
    spaces (tokens here, bytes there) the family's ops document.

    At 100 TB: a CommonCrawl-shaped mega-source stops serializing into
    one window partition; every corpus-touching window has width
    <= salt bucket size, chosen as (source rows / target parallelism).
    """
    docs = load_table(spark, sf_dir, "documents")
    ntok = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(textan.tokens(F.col("text"))))
        .cast("long")
    )
    t = docs.select(
        "doc_id",
        "source",
        ntok.alias("ntok"),
        F.expr(f"doc_id div {_SALT_W}").alias("salt"),
    )
    w_in = (
        Window.partitionBy("source", "salt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_in_bucket", F.coalesce(F.sum("ntok").over(w_in), F.lit(0))
    )
    w_salt = (
        Window.partitionBy("source")
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boffs = (
        t.groupBy("source", "salt")
        .agg(F.sum("ntok").alias("btot"))
        .withColumn(
            "bucket_off", F.coalesce(F.sum("btot").over(w_salt), F.lit(0))
        )
        .select("source", "salt", "bucket_off")
    )
    plan = c.join(F.broadcast(boffs), ["source", "salt"]).withColumn(
        "cum_prev",
        (F.col("bucket_off") + F.col("cum_in_bucket")).cast("bigint"),
    )
    return plan.select(
        "doc_id",
        "source",
        "ntok",
        F.expr(f"cum_prev div {_PACK_BUDGET}").alias("seq_id"),
        (F.col("cum_prev") % _PACK_BUDGET).alias("seq_offset"),
        F.expr(
            f"(cum_prev + greatest(ntok, 1) - 1) div {_PACK_BUDGET}"
        ).alias("seq_end"),
    )


# Length-bucketed batching: the padding-world alternative to
# concat-then-chunk. Docs are padded (never split), but to their
# LENGTH BUCKET's boundary instead of the max context — the standard
# waste-reducing move x_padding_waste only *measured* until now.
_PACK_BUCKETS_DUCK = f"""t AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok
        FROM documents
    ), b AS (
        SELECT doc_id, source,
               least(CAST(ntok AS BIGINT), 512) AS eff_tok,
               CAST(CASE WHEN ntok <= 64 THEN 64
                    WHEN ntok <= 128 THEN 128
                    WHEN ntok <= 256 THEN 256
                    ELSE 512 END AS BIGINT) AS bucket
        FROM t
    )"""


def _bucketed_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, source, eff_tok, bucket) — shared by the bucketed-pack
    assignment and its waste cert; the Spark twin of _PACK_BUCKETS_DUCK
    and the same bucketing law as x_padding_waste."""
    ntok = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(textan.tokens(F.col("text"))))
        .cast("long")
    )
    return docs.select(
        "doc_id",
        "source",
        F.least(ntok, F.lit(512)).alias("eff_tok"),
        F.when(ntok <= 64, 64)
        .when(ntok <= 128, 128)
        .when(ntok <= 256, 256)
        .otherwise(512)
        .cast("long")
        .alias("bucket"),
    )


@query(
    "x_pack_bucketed",
    f"""
    WITH {_PACK_BUCKETS_DUCK}, r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source, bucket
                                     ORDER BY doc_id) AS rn
        FROM b
    )
    SELECT doc_id, source, eff_tok, bucket,
           CAST((rn - 1) // ({_PACK_BUDGET} // bucket) AS BIGINT) AS batch_id,
           CAST((rn - 1) % ({_PACK_BUDGET} // bucket) AS BIGINT) AS slot,
           bucket - eff_tok AS padding
    FROM r
    """,
    survey_ids=(
        "training-pipeline: length-bucketed batch assembly — docs padded "
        "to their {64,128,256,512} bucket boundary and batched within "
        "(source, bucket) at a fixed 512-token compute budget per batch "
        "(8/4/2/1 rows), the padding-world alternative to "
        "x_pack_sequences' concat-then-chunk"
    ),
)
def x_pack_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bucketed-batch assignment: each doc joins batch
    ``batch_id`` at slot ``slot`` inside its (source, length-bucket)
    group, deterministic doc_id order. Every batch costs exactly
    PACK_BUDGET=512 tokens of padded compute (bucket * rows_per_batch,
    rows_per_batch = 512 // bucket), so the data loader sees uniform
    step cost while short docs stop paying max-context padding —
    sum(padding) here vs pad-to-512 is certified by
    x_pack_bucketed_waste_cert. Docs are padded, never split
    (batch_id/slot, vs x_pack_sequences' seq_id/seq_offset/seq_end
    straddles). Integer arithmetic throughout: bit-reproducible.

    Scale shape: one shuffle keyed by (source, bucket), a row_number
    window inside each group — the same distributed-prefix posture as
    x_pack_sequences, with the same skew remedy (salt a mega group by
    doc_id range, re-base rn by the bucket's global prefix counts).
    """
    r = _bucketed_docs(load_table(spark, sf_dir, "documents")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source", "bucket").orderBy("doc_id")
        ),
    )
    return r.select(
        "doc_id",
        "source",
        "eff_tok",
        "bucket",
        F.expr(f"(rn - 1) div ({_PACK_BUDGET} div bucket)")
        .cast("bigint")
        .alias("batch_id"),
        F.expr(f"(rn - 1) % ({_PACK_BUDGET} div bucket)")
        .cast("bigint")
        .alias("slot"),
        (F.col("bucket") - F.col("eff_tok")).alias("padding"),
    )


@query(
    "x_pack_bucketed_waste_cert",
    f"""
    WITH {_PACK_BUCKETS_DUCK}, g AS (
        SELECT source, bucket, COUNT(*) AS n_docs,
               SUM(eff_tok) AS sum_tokens,
               SUM(bucket - eff_tok) AS sum_padding,
               SUM(512 - eff_tok) AS sum_padding_greedy
        FROM b GROUP BY source, bucket
    )
    SELECT source, bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((n_docs + ({_PACK_BUDGET} // bucket) - 1)
                // ({_PACK_BUDGET} // bucket) AS BIGINT) AS n_batches,
           CAST(sum_tokens AS BIGINT) AS sum_tokens,
           CAST(sum_padding AS BIGINT) AS sum_padding,
           CAST(sum_padding_greedy AS BIGINT) AS sum_padding_greedy,
           ROUND(CAST(sum_padding AS DOUBLE) / (n_docs * bucket), 6)
               AS waste_frac,
           TRUE AS waste_le_greedy
    FROM g
    """,
    survey_ids=(
        "training-pipeline: bucketed-batching waste certification (a5 "
        "pattern) — per-(source,bucket) padding rollup vs pad-to-max, "
        "padding_waste(bucketed) <= padding_waste(greedy) certified "
        "in-plan"
    ),
)
def x_pack_bucketed_waste_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The waste-reduction receipt for x_pack_bucketed: per
    (source, bucket), both exact padding rollups — bucketed
    (pad to bucket) and greedy (pad every doc to the 512 max) — plus
    batch counts and the in-plan boolean
    ``sum_padding <= sum_padding_greedy``. The oracle recomputes every
    rollup and states the boolean as literal TRUE (it is a theorem:
    bucket <= 512 pointwise), so a bucketing/aggregation bug flips the
    hash. Padding counts occupied slots only (a short final batch runs
    smaller, it doesn't pad phantom rows). One scan, one small groupBy
    — no window; the cert adds nothing to the assignment op's cost.
    """
    return certs.pack_waste_rollup(
        _bucketed_docs(load_table(spark, sf_dir, "documents")),
        budget=_PACK_BUDGET,
        max_len=512,
    )


# ---------------------------------------------------------------------------
# Winnowing / rolling-hash document fingerprints
# ---------------------------------------------------------------------------

_RH_BASE = 257
_RH_MOD = 1_000_000_007
_WIN_K = 5  # k-gram length
_WIN_W = 8  # winnowing window (guarantee: any match >= w+k-1 chars shares a print)


@query(
    "x_winnow_fingerprints",
    f"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS nt
        FROM documents
    ), codes AS (
        SELECT doc_id, nt,
               list_transform(list_filter(split(nt, ''), c -> c <> ''),
                              c -> unicode(c)::BIGINT) AS cs
        FROM norm
    ), grams AS (
        SELECT doc_id, cs,
               CASE WHEN len(cs) >= {_WIN_K} THEN
                   list_transform(generate_series(1, len(cs) - {_WIN_K} + 1),
                       i -> list_reduce(list_prepend(0::BIGINT, cs[i:i+{_WIN_K}-1]),
                                        (a, c) -> (a * {_RH_BASE} + c) % {_RH_MOD}))
               ELSE [] END AS gh
        FROM codes
    )
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT, cs),
                       (a, c) -> (a * {_RH_BASE} + c) % {_RH_MOD}) AS doc_hash,
           array_to_string(
               CASE WHEN len(gh) >= {_WIN_W} THEN
                   list_sort(list_distinct(
                       list_transform(generate_series(1, len(gh) - {_WIN_W} + 1),
                                      j -> list_min(gh[j:j+{_WIN_W}-1]))))
               ELSE list_sort(list_distinct(gh)) END, '|') AS winnow_fp
    FROM grams
    """,
    survey_ids="text analysis: rolling-hash doc fingerprint + winnowing fingerprint set",
)
def x_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprints, all inside whole-stage codegen.

    doc_hash: polynomial Rabin-Karp fold over the normalized char stream
    (base 257 mod 1e9+7 — cross-engine-deterministic, unlike xxhash64).
    winnow_fp: the winnowing fingerprint set (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-gram, slide a w-window over the hash
    sequence, keep each window's min, dedup+sort. Guarantees any shared
    substring of length >= w+k-1 contributes a common fingerprint —
    the standard sublinear document-similarity sketch. Map-only: at
    100TB this is a projection feeding an explode+groupBy(print) join
    for plagiarism/overlap detection.
    """
    docs = load_table(spark, sf_dir, "documents")
    nt = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select("doc_id", nt.alias("nt")).withColumn(
        "cs",
        F.expr("transform(filter(split(nt, ''), c -> c <> ''), c -> cast(ascii(c) as bigint))"),
    )
    fold = f"(a, c) -> (a * {_RH_BASE} + c) % {_RH_MOD}"
    grams = base.withColumn(
        "gh",
        F.expr(
            f"case when size(cs) >= {_WIN_K} then "
            f"transform(sequence(1, size(cs) - {_WIN_K} + 1), "
            f"i -> aggregate(slice(cs, i, {_WIN_K}), 0L, {fold})) "
            "else array() end"
        ),
    )
    return grams.select(
        "doc_id",
        F.expr(f"aggregate(cs, 0L, {fold})").alias("doc_hash"),
        F.expr(
            f"array_join(transform("
            f"case when size(gh) >= {_WIN_W} then "
            f"array_sort(array_distinct(transform(sequence(1, size(gh) - {_WIN_W} + 1), "
            f"j -> array_min(slice(gh, j, {_WIN_W}))))) "
            "else array_sort(array_distinct(gh)) end, "
            "v -> cast(v as string)), '|')"
        ).alias("winnow_fp"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data redaction pass)
# ---------------------------------------------------------------------------

# One pattern list, applied in ORDER (emails first so their digits never
# feed the phone/number rules; card-length digit runs before the looser
# phone shape). Shared verbatim by both dialects — RE2 (DuckDB) and Java
# (Spark) agree on this subset (\d, \b, classes, bounded repeats).
_PII_RULES = (
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ips", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("idnums", r"\b\d{13,19}\b", "<IDNUM>"),
    ("phones", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)



def _pii_inject_sql() -> str:
    return (
        "text"
        " || CASE WHEN doc_id % 4 = 0 THEN ' contact bob@example.com now' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 123-4567 today' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.1.77 addr' ELSE '' END"
        " || CASE WHEN doc_id % 9 = 0 THEN ' card 4111111111111111 on file' ELSE '' END"
    )


def _pii_inject_col():
    """Deterministic synthetic-PII injection, Spark side (the corpus is
    word salad, so every rule must be fed a known subset). ONE source of
    truth with _pii_inject_sql() — keep the strings in lockstep."""
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" contact bob@example.com now")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call +1 (555) 123-4567 today")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" from 192.168.1.77 addr")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0, F.lit(" card 4111111111111111 on file")).otherwise(F.lit("")),
    )


def _pii_fold(df: DataFrame) -> DataFrame:
    """Progressive PII fold over a frame with column t0: adds n_<rule>
    columns (each counted on the text already scrubbed by earlier
    rules) and t<len(rules)> = fully scrubbed text. Shared by
    x_pii_scrub and e2e_training_prep — one fold, two queries."""
    for i, (name, pat, repl) in enumerate(_PII_RULES):
        cur, nxt = f"t{i}", f"t{i + 1}"
        df = df.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(cur), F.lit(pat), 0)).cast("long"),
        ).withColumn(nxt, F.regexp_replace(F.col(cur), pat, repl))
    return df


def _pii_scrubbed_col() -> str:
    return f"t{len(_PII_RULES)}"


def _pii_total_col():
    n_cols = [f"n_{name}" for name, _, _ in _PII_RULES]
    total = F.col(n_cols[0])
    for c in n_cols[1:]:
        total = total + F.col(c)
    return total


def _pii_cte_chain(base_cte: str, prefix: str) -> tuple[str, str, str]:
    """DuckDB progressive-fold CTE chain over {base_cte}(doc_id, t0).
    Returns (joined CTE definitions, final CTE name, final text column).
    Shared by the x_pii_scrub and e2e_training_prep oracles."""
    ctes, cur = [], "t0"
    for i, (name, pat, repl) in enumerate(_PII_RULES):
        nxt = f"t{i + 1}"
        prev = base_cte if i == 0 else f"{prefix}{i - 1}"
        carried = "".join(f", n_{n}" for n, _, _ in _PII_RULES[:i])
        ctes.append(
            f"{prefix}{i} AS (SELECT doc_id{carried}, "
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS n_{name}, "
            f"regexp_replace({cur}, '{pat}', '{repl}', 'g') AS {nxt} FROM {prev})"
        )
        cur = nxt
    return ", ".join(ctes), f"{prefix}{len(_PII_RULES) - 1}", cur


def _pii_oracle() -> str:
    ctes, final_cte, cur = _pii_cte_chain("base", "s")
    n_cols = ", ".join(f"n_{n}" for n, _, _ in _PII_RULES)
    return f"""
    WITH base AS (
        SELECT doc_id, {_pii_inject_sql()} AS t0 FROM documents
    ), {ctes}
    SELECT doc_id, {n_cols},
           {cur} AS scrubbed,
           ({' + '.join(f'n_{n}' for n, _, _ in _PII_RULES)}) > 0 AS has_pii
    FROM {final_cte}
    """


@query(
    "x_pii_scrub",
    None,  # patched below (template shares the rule table)
    survey_ids=(
        "training-pipeline: PII redaction pass (email/IP/id-number/phone "
        "typed counts + ordered scrub) — standard pre-training hygiene"
    ),
)
def x_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact PII with typed counts, map-only inside codegen.

    The rule ORDER is part of the contract: emails are replaced before
    the digit rules (an email's digits must not count as a phone), and
    card-length digit runs before the looser phone shape. Each rule
    counts on the text already scrubbed by earlier rules (progressive
    fold), so one substring never double-counts across rules.
    Map-only projection — at 100TB this is one scan, no shuffle, and
    the regex work stays JVM-side (no Python in the hot path).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", _pii_inject_col().alias("t0"))
    df = _pii_fold(base)
    n_cols = [f"n_{name}" for name, _, _ in _PII_RULES]
    return df.select(
        "doc_id",
        *n_cols,
        F.col(_pii_scrubbed_col()).alias("scrubbed"),
        (_pii_total_col() > 0).alias("has_pii"),
    )


from . import REGISTRY as _REG2  # noqa: E402

_REG2["x_pii_scrub"].oracle = _pii_oracle()


@query(
    "x_padding_waste",
    f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok
        FROM documents
    ), b AS (
        SELECT doc_id,
               least(CAST(ntok AS BIGINT), 512) AS eff_tok,
               CAST(CASE WHEN ntok <= 64 THEN 64
                    WHEN ntok <= 128 THEN 128
                    WHEN ntok <= 256 THEN 256
                    ELSE 512 END AS BIGINT) AS bucket
        FROM t
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(eff_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(bucket - eff_tok) AS BIGINT) AS sum_padding,
           ROUND(CAST(SUM(bucket - eff_tok) AS DOUBLE)
                 / (COUNT(*) * bucket), 6) AS waste_frac
    FROM b GROUP BY bucket
    """,
    survey_ids=(
        "training-pipeline: padding-waste report for length-bucketed "
        "batching ({64,128,256,512} buckets, truncate-at-512) — the "
        "table that justifies bucket boundaries vs concat-chunk packing"
    ),
)
def x_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket padding overhead if docs are padded to power-of-2
    length buckets (the dynamic-batching alternative to x_pack_sequences'
    concat-then-chunk layout). All-integer arithmetic until the final
    ratio, so the report is exact and partition-order-independent; one
    scan + one small groupBy. Docs over 512 tokens count truncated
    (eff_tok = min(ntok, 512)), matching the fixed-context contract."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(textan.tokens(F.col("text"))))
        .cast("long")
    )
    b = docs.select(
        F.least(ntok, F.lit(512)).alias("eff_tok"),
        F.when(ntok <= 64, 64)
        .when(ntok <= 128, 128)
        .when(ntok <= 256, 256)
        .otherwise(512)
        .cast("long")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("eff_tok").alias("sum_tokens"),
        F.sum(F.col("bucket") - F.col("eff_tok")).alias("sum_padding"),
        F.round(
            F.sum(F.col("bucket") - F.col("eff_tok")).cast("double")
            / (F.count(F.lit(1)) * F.first("bucket")),
            6,
        ).alias("waste_frac"),
    )


def _e2e_training_prep_oracle() -> str:
    ctes, final_cte, cur = _pii_cte_chain("base", "p")
    n_sum = " + ".join(f"n_{n}" for n, _, _ in _PII_RULES)
    return f"""
    WITH scored AS (
        SELECT doc_id, source,
               ROUND({_quality_duck()}, 6) AS quality,
               CAST(len({_TOKS_DUCK}) AS BIGINT) AS ntok,
               {_pii_inject_sql()} AS t0
        FROM documents
    ), base AS (
        SELECT doc_id, source, ntok, t0 FROM scored
        WHERE quality >= 0.5 AND ntok >= 5
    ), {ctes}, scrubbed AS (
        SELECT doc_id, ({n_sum}) AS n_pii,
               substring(sha256(trim(regexp_replace(lower({cur}), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)
                   AS fp
        FROM {final_cte}
    ), joined AS (
        SELECT b.doc_id, b.source, b.ntok, s.n_pii, s.fp
        FROM base b JOIN scrubbed s USING (doc_id)
    ), ex AS (
        SELECT j.* FROM joined j
        JOIN (SELECT fp, MIN(doc_id) AS mid FROM joined GROUP BY fp) m
          ON j.fp = m.fp AND j.doc_id = m.mid
    )
    SELECT doc_id, source, ntok, n_pii,
           CASE WHEN substr(md5(fp), 1, 4) < '028f' THEN 'val'
                WHEN substr(md5(fp), 1, 4) < '051e' THEN 'test'
                ELSE 'train' END AS split
    FROM ex
    """


@query(
    "e2e_training_prep",
    None,  # patched below (shares the PII rule table)
    survey_ids=(
        "training-pipeline e2e #2: quality/length gate -> PII scrub -> "
        "exact dedup on the SCRUBBED fingerprint -> leakage-safe split "
        "(composes x_text_stats, x_pii_scrub, dd_exact_dedup, "
        "x_split_leakage_safe into one hygiene dataflow)"
    ),
)
def e2e_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus hygiene end-to-end: gate on quality/length, scrub PII,
    dedup on the fingerprint of the SCRUBBED text (two docs differing
    only in their PII are duplicates — scrubbing first is what makes
    that true), then assign leakage-safe splits keyed on the same
    fingerprint. All map-only until the one dedup shuffle; the split is
    a pure function of content, so membership survives re-runs and
    corpus growth. PII inject/fold shared with x_pii_scrub (one rule
    table, one fold)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    base = docs.select(
        "doc_id",
        "source",
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
        F.size(toks).cast("long").alias("ntok"),
        _pii_inject_col().alias("t0"),
    ).filter((F.col("quality") >= 0.5) & (F.col("ntok") >= 5))
    df = _pii_fold(base)
    fp = textan.doc_fingerprint(F.col(_pii_scrubbed_col()))
    keyed = df.select(
        "doc_id", "source", "ntok", _pii_total_col().alias("n_pii"), fp.alias("fp")
    )
    w = Window.partitionBy("fp")
    ex = keyed.withColumn("min_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("min_id")
    )
    bucket = F.substring(F.md5(F.col("fp")), 1, 4)
    return ex.select(
        "doc_id",
        "source",
        "ntok",
        "n_pii",
        F.when(bucket < "028f", F.lit("val"))
        .when(bucket < "051e", F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


_REG2["e2e_training_prep"].oracle = _e2e_training_prep_oracle()


# ---------------------------------------------------------------------------
# Gopher document-level quality rules (Rae et al. 2021, table A1 subset)
# ---------------------------------------------------------------------------

# Gopher's stop-word law: a doc must contain at least two of an
# eight-word stop set. The published set is ("the, be, to, of, and,
# that, have, with"); the synthetic corpus's function words are only
# {the, a}, so "have" is swapped for "a" — same adapted-lexicon
# treatment the sentiment word lists get (declared divergence; with the
# verbatim set the rule degenerately kills 100% of this corpus).
_GOPHER_STOPS = ("the", "a", "to", "of", "and", "that", "be", "with")
_GOPHER_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in _GOPHER_STOPS) + "]"

# DuckDB fragments shared by x_gopher_rules and e2e_curation: the
# metric expressions (over a CTE exposing `text` and `toks`) and the
# keep predicate (over the metric aliases).
_GOPHER_METRICS_SQL = f"""
               len(toks) AS n_words,
               ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                     / greatest(len(toks), 1), 6) + 0 AS mean_word_len,
               ROUND((CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
                      + CAST(len(text) - len(replace(text, '...', '')) AS DOUBLE) / 3.0)
                     / greatest(len(toks), 1), 6) + 0 AS symbol_ratio,
               ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                          AS DOUBLE) / greatest(len(toks), 1), 6) + 0 AS alpha_frac,
               len(list_filter({_GOPHER_STOPS_SQL},
                               w -> list_contains(toks, w))) AS n_stop"""

_GOPHER_KEEP_SQL = (
    "(n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0) "
    "AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2"
)


def _gopher_metric_cols() -> dict[str, F.Column]:
    """The five Gopher metrics as column expressions over `text`
    (rounded exactly as the oracle fragments round them)."""
    toks = textan.tokens(F.col("text"))
    n_words = F.size(toks)
    n_div = F.greatest(n_words, F.lit(1)).cast("double")
    sum_len = F.expr(
        "aggregate(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '),"
        " 0L, (a, x) -> a + length(x))"
    )
    n_hash = F.length("text") - F.length(F.regexp_replace(F.col("text"), r"#", ""))
    n_ell = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), r"\.\.\.", ""))
    ) / F.lit(3.0)
    stops = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(sum_len.cast("double") / n_div, 6) + 0,
        "symbol_ratio": F.round((n_hash.cast("double") + n_ell) / n_div, 6) + 0,
        "alpha_frac": F.round(
            F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double") / n_div, 6
        )
        + 0,
        "n_stop": F.size(F.filter(stops, lambda w: F.array_contains(toks, w))).cast(
            "long"
        ),
    }


def _gopher_rule_cols() -> dict[str, F.Column]:
    """Per-rule booleans over the metric ALIASES (apply after selecting
    _gopher_metric_cols under their names)."""
    return {
        "r_word_count": F.col("n_words").between(50, 100000),
        "r_mean_len": F.col("mean_word_len").between(3.0, 10.0),
        "r_symbol": F.col("symbol_ratio") <= 0.1,
        "r_alpha": F.col("alpha_frac") >= 0.8,
        "r_stop": F.col("n_stop") >= 2,
    }


def _gopher_metrics(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    m = _gopher_metric_cols()
    return docs.select(
        "doc_id", *passthrough, *[c.alias(n) for n, c in m.items()]
    )


def _gopher_keep() -> F.Column:
    """The combined keep predicate over the metric aliases — the ONE
    Spark twin of _GOPHER_KEEP_SQL (both queries build from it)."""
    rules = _gopher_rule_cols()
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return keep


@query(
    "x_gopher_rules",
    f"""
    WITH t AS (
        SELECT doc_id, text, {_TOKS_DUCK} AS toks FROM documents
    ), m AS (
        SELECT doc_id,{_GOPHER_METRICS_SQL}
        FROM t
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
           (n_words BETWEEN 50 AND 100000) AS r_word_count,
           (mean_word_len BETWEEN 3.0 AND 10.0) AS r_mean_len,
           (symbol_ratio <= 0.1) AS r_symbol,
           (alpha_frac >= 0.8) AS r_alpha,
           (n_stop >= 2) AS r_stop,
           ({_GOPHER_KEEP_SQL}) AS keep
    FROM m
    """,
    survey_ids=(
        "training-pipeline: Gopher document-level quality rules "
        "(word count, mean word length, symbol ratio, alpha-word "
        "fraction, stop-word presence; Rae et al. 2021 table A1)"
    ),
)
def x_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's document-level quality gates as per-rule flag columns.

    The published filter set (Rae et al. 2021, table A1), restricted to
    the rules expressible over the synthetic single-line corpus: word
    count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio ('#' and '...') <= 0.1, >=80% of words containing an
    alphabetic character, and at least two of Gopher's eight stop words
    present. Per-rule booleans are emitted (not just `keep`) so a
    curation pipeline can measure each gate's kill rate independently —
    the shape every published replication (Gopher, RefinedWeb, Dolma)
    reports.

    Scale: pure map-stage column expressions, no shuffle, no UDF;
    predicate-pushdown-friendly. The line-level rules (bullet/ellipsis
    line fractions) need multi-line text and are declared out for this
    corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = _gopher_metrics(docs)
    rules = _gopher_rule_cols()
    return base.select(
        "*", *[c.alias(n) for n, c in rules.items()], _gopher_keep().alias("keep")
    )


# ---------------------------------------------------------------------------
# CCNet-style n-gram LM perplexity buckets (Wenzek et al. 2019)
# ---------------------------------------------------------------------------

# Oracle template: `{src}` is the corpus CTE/table exposing
# (doc_id, lang, text). x_ccnet_lm_buckets formats it with `documents`;
# e2e_curation prepends the Gopher gate CTEs and formats with `gated`.
_CCNET_CTES_SQL = """ccbase AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS nt
        FROM {src}
    ), ccex AS (
        SELECT doc_id, lang, substring(nt, CAST(i AS INTEGER), 3) AS g
        FROM ccbase, unnest(generate_series(1, greatest(len(nt) - 2, 1))) AS u(i)
    ), cccounts AS (
        SELECT lang, g, COUNT(*) AS c FROM ccex WHERE doc_id % 7 = 0 GROUP BY lang, g
    ), cctot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v
        FROM cccounts GROUP BY lang
    ), ccmodel AS (
        SELECT lang, g, CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE) AS p
        FROM cccounts JOIN cctot USING (lang)
    ), ccscored AS (
        SELECT ccex.doc_id, ccex.lang,
               COUNT(*) AS n_grams,
               CAST(SUM(CAST(ROUND(-ln(
                   CASE WHEN ccmodel.p IS NOT NULL THEN ccmodel.p
                        WHEN cctot.n IS NOT NULL
                            THEN 1.0 / CAST(cctot.n + cctot.v AS DOUBLE)
                        ELSE 1.0 END), 7) AS DECIMAL(28,9))) AS DOUBLE) AS s
        FROM ccex
        LEFT JOIN ccmodel ON ccex.lang = ccmodel.lang AND ccex.g = ccmodel.g
        LEFT JOIN cctot ON ccex.lang = cctot.lang
        GROUP BY ccex.doc_id, ccex.lang
    ), ccb AS (
        SELECT *,
               ntile(3) OVER (PARTITION BY lang ORDER BY s / n_grams, doc_id) AS nt3
        FROM ccscored
    ), ccout AS (
        SELECT doc_id, lang, n_grams,
               ROUND(s / n_grams, 6) + 0 AS nll,
               CASE nt3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
                   AS ppl_bucket
        FROM ccb
    )"""


def _ccnet_scored(docs: DataFrame) -> DataFrame:
    """CCNet LM scoring over a (doc_id, lang, text) frame: char-trigram
    add-one LM trained on the deterministic ``doc_id % 7 = 0`` sample,
    UNK mass 1/(N+V). Returns the pre-bucketing per-doc scores
    (doc_id, lang, n_grams, s) — shared by the exact-tercile and the
    approx-threshold bucketing variants."""
    nt = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select("doc_id", "lang", nt.alias("nt"))
    grams = F.expr(
        "transform(sequence(1, greatest(length(nt) - 2, 1)),"
        " i -> substring(nt, i, 3))"
    )
    ex = base.select("doc_id", "lang", F.explode(grams).alias("g"))
    model, tot = _ccnet_model(ex)
    return (
        ex.join(F.broadcast(model), ["lang", "g"], "left")
        .join(F.broadcast(tot), ["lang"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.round(-F.log(_ccnet_p_eff()), 7).cast("decimal(28,9)"))
            .cast("double")
            .alias("s"),
        )
    )


def _ccnet_model(ex: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The add-one trigram model (lang, g, p) + per-lang (n, v) totals
    fitted on the ``doc_id % 7 == 0`` sample of an exploded gram
    stream — factored out of _ccnet_scored so the fused twin-LM scorer
    (knlm._kn_cc_scored) can attach it to ONE shared gram explode."""
    counts = (
        ex.filter(F.col("doc_id") % 7 == 0).groupBy("lang", "g").agg(
            F.count("*").alias("c")
        )
        # Plan barrier on the sampled count table (the knlm `tri`
        # rationale): `model` and `tot` each re-inline the corpus
        # explode + sample aggregation into their broadcast builds
        # without it. Bounded by per-lang trigram TYPES.
        .localCheckpoint(eager=True)
    )
    tot = counts.groupBy("lang").agg(F.sum("c").alias("n"), F.count("*").alias("v"))
    model = counts.join(tot, "lang").select(
        "lang",
        "g",
        (
            (F.col("c") + 1).cast("double") / (F.col("n") + F.col("v")).cast("double")
        ).alias("p"),
    )
    return model, tot


def _ccnet_p_eff(p: str = "p", n: str = "n", v: str = "v") -> Column:
    """The CCNet per-gram probability over the joined (p, n, v)
    columns: model hit, else UNK mass 1/(N+V), else 1.0 for an
    unsampled language (nll 0). Column names are parameters so the
    fused twin-LM scorer can rename them away from the KN model's."""
    return (
        F.when(F.col(p).isNotNull(), F.col(p))
        .when(
            F.col(n).isNotNull(),
            F.lit(1.0) / (F.col(n) + F.col(v)).cast("double"),
        )
        .otherwise(F.lit(1.0))
    )


def _ccnet_bucketed(docs: DataFrame) -> DataFrame:
    """Exact per-lang head/middle/tail terciles over the CCNet scores
    (ntile(3), doc_id tie-break). Returns
    (doc_id, lang, n_grams, nll, ppl_bucket)."""
    return _ccnet_bucketed_from(_ccnet_scored(docs))


def _ccnet_bucketed_from(scored: DataFrame) -> DataFrame:
    """The exact ntile(3) tail over a pre-built scored frame — split out
    so the agree cert can score once and feed both arms (the DSIR
    shared-score pattern); the window is layout-independent
    (deterministic orderBy, decimal sums), so values match the
    registered twin bit-for-bit."""
    w = Window.partitionBy("lang").orderBy(
        (F.col("s") / F.col("n_grams")).asc(), F.col("doc_id").asc()
    )
    b = scored.withColumn("nt3", F.ntile(3).over(w))
    return b.select(
        "doc_id",
        "lang",
        "n_grams",
        (F.round(F.col("s") / F.col("n_grams"), 6) + 0).alias("nll"),
        F.when(F.col("nt3") == 1, F.lit("head"))
        .when(F.col("nt3") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


@query(
    "x_ccnet_lm_buckets",
    "WITH " + _CCNET_CTES_SQL.format(src="documents") + "\n    SELECT * FROM ccout",
    survey_ids=(
        "training-pipeline: CCNet-style LM perplexity bucketing "
        "(char-trigram LM trained on a deterministic corpus sample, "
        "add-one smoothing, per-lang head/middle/tail terciles; "
        "Wenzek et al. 2019)"
    ),
)
def x_ccnet_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing by n-gram language-model score.

    CCNet scores each document with a per-language LM trained on a
    reference corpus and splits each language into head/middle/tail
    perplexity terciles. Here the LM is a char-trigram add-one-smoothed
    model trained on the deterministic `doc_id % 7 = 0` sample (the
    analog of CCNet's fixed Wikipedia training corpus — the model must
    NOT be trained on everything it scores, or dedup of the model
    becomes dedup of the corpus); unseen grams take the UNK mass
    1/(N+V) and an unsampled language scores 1.0 (nll 0).

    Scale shape: the model is a bounded per-lang trigram table
    (vocab <= charset^3) built with one partial-agg shuffle over the
    SAMPLE only, then broadcast to score the full corpus — the
    corpus-sized exploded gram stream is never shuffled for scoring,
    only for its per-doc rollup, which AQE co-partitions with the
    ntile window on lang. Per-gram log terms are rounded to 7 dp and summed as DECIMAL so
    the doc score is order-independent (a 100TB sum must not depend on
    partition order) and a 1-ulp ln() difference between engines cannot
    flip a term (9 dp was measured to flip one sf0.1 output row).
    """
    docs = load_table(spark, sf_dir, "documents")
    return _ccnet_bucketed(docs.select("doc_id", "lang", "text"))


@query(
    "x_ccnet_lm_buckets_approx",
    None,  # sketch-thresholded buckets: boundary ties/sketch error make
    # exact SQL parity meaningless; golden-tested against the exact twin
    # (tests/test_scale_variants.py) — the a5_approx pattern.
    survey_ids=(
        "training-pipeline 100TB path: CCNet buckets via per-lang "
        "approx_percentile thresholds + map-only assignment — the "
        "declared scale substitute for x_ccnet_lm_buckets' per-lang "
        "ntile(3) full-sort window"
    ),
)
def x_ccnet_lm_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of x_ccnet_lm_buckets (same scoring law, same output
    schema) with the per-lang ntile(3) window replaced by
    approx_percentile tercile thresholds.

    Why: ntile needs every row of a language in ONE sorted task — with
    ~5 languages each window partition is ~20% of the corpus, a
    multi-TB single-task sort at 100TB. approx_percentile is a
    mergeable KLL-family sketch: partial per-partition sketches combine
    in one small agg (no row sort anywhere), then the 2-value-per-lang
    threshold table broadcasts back for a map-only bucket assignment.

    Divergence from the exact twin, by construction: ties AT a
    threshold all take the lower bucket (ntile splits ties by doc_id),
    and the sketch's rank error can shift boundaries by up to
    n/accuracy rows (accuracy=10000 → ≤0.01%/lang). nll values are
    bit-identical to the twin (shared _ccnet_scored)."""
    docs = load_table(spark, sf_dir, "documents")
    # Plan barrier on the per-doc scored frame (the x_dsir_select_approx
    # pattern): the threshold agg and the assignment join both consume
    # it, each re-running the corpus trigram-LM pass otherwise.
    scored = (
        _ccnet_scored(docs.select("doc_id", "lang", "text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    return _ccnet_approx_from(scored)


def _ccnet_approx_from(scored: DataFrame) -> DataFrame:
    """The sketch-threshold tail over a pre-built scored frame (see
    x_ccnet_lm_buckets_approx); callers barrier `scored` — the
    threshold agg and the assignment join both consume it."""
    raw = (F.col("s") / F.col("n_grams")).alias("raw")
    sc = scored.select("doc_id", "lang", "n_grams", "s", raw)
    th = sc.groupBy("lang").agg(
        F.percentile_approx(
            "raw", F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)), F.lit(10000)
        ).alias("th")
    )
    return sc.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "n_grams",
        (F.round(F.col("raw"), 6) + 0).alias("nll"),
        F.when(F.col("raw") <= F.col("th")[0], F.lit("head"))
        .when(F.col("raw") <= F.col("th")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# e2e slice #3: corpus curation (Gopher gate → CCNet buckets → split mix)
# ---------------------------------------------------------------------------


@query(
    "e2e_curation",
    f"""
    WITH t AS (
        SELECT doc_id, lang, text, {_TOKS_DUCK} AS toks FROM documents
    ), m AS (
        SELECT doc_id, lang, text,{_GOPHER_METRICS_SQL}
        FROM t
    ), gated AS (
        SELECT doc_id, lang, text FROM m WHERE {_GOPHER_KEEP_SQL}
    ), {_CCNET_CTES_SQL.format(src="gated")}
    , kept AS (
        SELECT doc_id, lang, n_grams, nll FROM ccout WHERE ppl_bucket <> 'tail'
    ), assigned AS (
        SELECT *,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
                        THEN 'val'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3332'
                        THEN 'test'
                    ELSE 'train' END AS split
        FROM kept
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
           ROUND(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) + 0
               AS mean_nll
    FROM assigned
    GROUP BY lang, split
    """,
    survey_ids=(
        "training-pipeline e2e #3: Gopher quality gate → CCNet LM "
        "terciles (tail dropped) → deterministic split assignment → "
        "per-(lang, split) corpus stats, one dataflow, one oracle"
    ),
)
def e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation slice composing the published filters: Gopher
    document gates kill low-quality docs, the CCNet LM drops the tail
    perplexity tercile of what survives, an md5-bucket split assigns
    val/test/train (~10/10/80), and the output is the per-(lang, split)
    corpus inventory a training run reads.

    The CCNet stage runs ON THE GATED SUBSET (terciles of the surviving
    distribution, matching how curation pipelines chain: each stage sees
    its predecessor's output). Scale shape inherits the pieces: Gopher
    is map-only, CCNet shuffles only the per-doc rollup + lang window,
    the final rollup is a partial agg on (lang, split).
    """
    docs = load_table(spark, sf_dir, "documents")
    flagged = _gopher_metrics(docs, ("lang", "text"))
    gated = flagged.where(_gopher_keep()).select("doc_id", "lang", "text")
    cc = _ccnet_bucketed(gated)
    kept = cc.filter(F.col("ppl_bucket") != "tail")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    assigned = kept.withColumn(
        "split",
        F.when(bucket < "1999", F.lit("val"))
        .when(bucket < "3332", F.lit("test"))
        .otherwise(F.lit("train")),
    )
    return assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("sum_grams"),
        (
            F.round(
                F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            )
            + 0
        ).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------


@query(
    "x_dsir_select",
    """
    WITH base AS (
        SELECT doc_id, lang, source,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS nt
        FROM documents
    ), ex AS (
        SELECT doc_id, lang, source, substring(nt, CAST(i AS INTEGER), 3) AS g
        FROM base, unnest(generate_series(1, greatest(len(nt) - 2, 1))) AS u(i)
    ), tcounts AS (
        SELECT lang, g, COUNT(*) AS c FROM ex WHERE source = 'src0' GROUP BY lang, g
    ), ttot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v
        FROM tcounts GROUP BY lang
    ), tmodel AS (
        SELECT lang, g, CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE) AS p
        FROM tcounts JOIN ttot USING (lang)
    ), rcounts AS (
        SELECT lang, g, COUNT(*) AS c FROM ex WHERE doc_id % 7 = 0 GROUP BY lang, g
    ), rtot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v
        FROM rcounts GROUP BY lang
    ), rmodel AS (
        SELECT lang, g, CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE) AS p
        FROM rcounts JOIN rtot USING (lang)
    ), scored AS (
        SELECT ex.doc_id, ex.lang,
               COUNT(*) AS n_grams,
               CAST(SUM(CAST(ROUND(
                   ln(CASE WHEN tmodel.p IS NOT NULL THEN tmodel.p
                           WHEN ttot.n IS NOT NULL
                               THEN 1.0 / CAST(ttot.n + ttot.v AS DOUBLE)
                           ELSE 1.0 END)
                   - ln(CASE WHEN rmodel.p IS NOT NULL THEN rmodel.p
                             WHEN rtot.n IS NOT NULL
                                 THEN 1.0 / CAST(rtot.n + rtot.v AS DOUBLE)
                             ELSE 1.0 END), 7) AS DECIMAL(28,9))) AS DOUBLE) AS s
        FROM ex
        LEFT JOIN tmodel ON ex.lang = tmodel.lang AND ex.g = tmodel.g
        LEFT JOIN ttot ON ex.lang = ttot.lang
        LEFT JOIN rmodel ON ex.lang = rmodel.lang AND ex.g = rmodel.g
        LEFT JOIN rtot ON ex.lang = rtot.lang
        GROUP BY ex.doc_id, ex.lang
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY s / n_grams DESC, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM scored
    )
    SELECT doc_id, lang, n_grams,
           ROUND(s / n_grams, 6) + 0 AS llr,
           (rk <= CAST(ceil(n_lang / 5.0) AS BIGINT)) AS selected
    FROM ranked
    """,
    survey_ids=(
        "training-pipeline: DSIR-style importance resampling "
        "(per-lang target vs raw char-trigram LMs, per-doc mean "
        "log-likelihood ratio, top-20% selection; Xie et al. 2023)"
    ),
)
def x_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, deterministic variant.

    DSIR scores each raw document with the log-likelihood ratio of a
    target-domain n-gram LM over a raw-corpus LM and resamples
    proportionally to the importance weight. Here both are char-trigram
    add-one models — target trained on the `source = 'src0'` slice (the
    target-domain proxy), raw on the `doc_id % 7 = 0` sample — and the
    published Gumbel-noise resampling is replaced by deterministic
    top-20%-per-language selection (rank by mean LLR, ties by doc_id)
    so the result is oracle-checkable; the llr column IS the sampling
    weight a production pipeline would draw against.

    Scale shape: both models are bounded trigram tables built from
    bounded slices and broadcast; the corpus-sized gram stream is
    shuffled only for its per-doc rollup. LLR terms are rounded to 7 dp
    and decimal-summed (order-independent), exactly as the CCNet query
    (7 dp: coarse enough that a 1-ulp ln() difference between engines
    cannot flip a term's rounding, fine enough to be noise at the 6-dp
    output round — verified at sf0.1 where 9 dp produced one flipped
    output row in 100k docs).
    """
    docs = load_table(spark, sf_dir, "documents")
    return _dsir_exact_from(_dsir_scored(docs))


def _dsir_exact_from(scored: DataFrame) -> DataFrame:
    """Exact top-20%-per-lang selection over a (doc_id, lang, n_grams,
    s) scored frame — split out so the agree cert can score once and
    feed both selection arms."""
    w = Window.partitionBy("lang").orderBy(
        (F.col("s") / F.col("n_grams")).desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_lang", F.count("*").over(Window.partitionBy("lang"))
    )
    return ranked.select(
        "doc_id",
        "lang",
        "n_grams",
        (F.round(F.col("s") / F.col("n_grams"), 6) + 0).alias("llr"),
        (
            F.col("rk")
            <= F.ceil(F.col("n_lang") / F.lit(5.0)).cast("bigint")
        ).alias("selected"),
    )


def _dsir_scored(docs: DataFrame) -> DataFrame:
    """DSIR per-doc LLR scoring (target LM over raw LM, char trigrams,
    add-one smoothing). Returns (doc_id, lang, n_grams, s) — shared by
    the exact top-20%-rank and the approx-threshold selection variants."""
    nt = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select("doc_id", "lang", "source", nt.alias("nt"))
    grams = F.expr(
        "transform(sequence(1, greatest(length(nt) - 2, 1)),"
        " i -> substring(nt, i, 3))"
    )
    ex = base.select("doc_id", "lang", "source", F.explode(grams).alias("g"))

    def model(sample: DataFrame, tag: str) -> tuple[DataFrame, DataFrame]:
        # Plan barrier on the count table (bounded by per-lang trigram
        # TYPES — the KN-model-table pattern): tot and m both reference
        # counts, and each reference re-inlined the corpus explode +
        # sample aggregation; with two models and the scoring join's two
        # broadcast builds the approx plan carried 92 Exchange nodes.
        # Measured (with the scored barrier below) 3.40 -> 2.46s at
        # sf0.1; exact twin 2.57 -> 2.38s; values bit-identical.
        counts = (
            sample.groupBy("lang", "g")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
        tot = counts.groupBy("lang").agg(
            F.sum("c").alias(f"n_{tag}"), F.count("*").alias(f"v_{tag}")
        )
        m = counts.join(tot, "lang").select(
            "lang",
            "g",
            (
                (F.col("c") + 1).cast("double")
                / (F.col(f"n_{tag}") + F.col(f"v_{tag}")).cast("double")
            ).alias(f"p_{tag}"),
        )
        return m, tot

    tmodel, ttot = model(ex.filter(F.col("source") == "src0"), "t")
    rmodel, rtot = model(ex.filter(F.col("doc_id") % 7 == 0), "r")
    # Fold both models into ONE broadcast (lang, g, p_t, p_r) table and
    # both lang-level stats into one 5-row frame: the corpus-sized gram
    # stream takes two broadcast joins instead of four (measured ~3.6s
    # -> ~2.9s at sf0.1; at 100TB each saved pass over the gram stream
    # is a full-corpus map stage).
    models = tmodel.join(rmodel, ["lang", "g"], "full_outer")
    langstats = ttot.join(rtot, ["lang"], "full_outer")

    def logp(tag: str) -> F.Column:
        return F.log(
            F.when(F.col(f"p_{tag}").isNotNull(), F.col(f"p_{tag}"))
            .when(
                F.col(f"n_{tag}").isNotNull(),
                F.lit(1.0)
                / (F.col(f"n_{tag}") + F.col(f"v_{tag}")).cast("double"),
            )
            .otherwise(F.lit(1.0))
        )

    return (
        ex.join(F.broadcast(models), ["lang", "g"], "left")
        .join(F.broadcast(langstats), ["lang"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.round(logp("t") - logp("r"), 7).cast("decimal(28,9)"))
            .cast("double")
            .alias("s"),
        )
    )


@query(
    "x_dsir_select_approx",
    None,  # sketch-thresholded selection; golden vs the exact twin
    # (tests/test_scale_variants.py) — the a5_approx pattern.
    survey_ids=(
        "training-pipeline 100TB path: DSIR top-20% via per-lang "
        "approx_percentile(0.8) threshold + map-only filter — the "
        "declared scale substitute for x_dsir_select's per-lang "
        "row_number full-sort window"
    ),
)
def x_dsir_select_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of x_dsir_select: identical LLR scoring
    (shared _dsir_scored), but `selected` comes from comparing each
    doc's mean LLR to its language's 80th-percentile threshold
    (mergeable approx_percentile sketch, broadcast back, map-only
    filter) instead of an exact per-lang rank window whose partitions
    are ~20% of the corpus. Ties at the threshold are all selected and
    sketch rank error can move the count by ≤n/10000 per lang — the
    selected SET may differ from the twin at the boundary; llr values
    are bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    # Plan barrier on the per-doc scored frame: the threshold agg and
    # the final join BOTH consume it, and each consumption re-executed
    # the whole scoring chain (the semantic-IDF vector-frame pattern —
    # corpus-linear rows, 4 narrow columns). Re-spread first: AQE
    # coalesces the tiny rollup to few partitions and a narrow barrier
    # serializes the downstream join. llr is bit-identical (the decimal
    # LLR sum is order-independent); the sketch threshold tolerates
    # layout changes by contract and measured identical output on the
    # frozen corpora (0 differing rows at sf0.001/0.01/0.1).
    scored = (
        _dsir_scored(docs)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    return _dsir_approx_from(scored)


def _dsir_approx_from(scored: DataFrame) -> DataFrame:
    """Sketch-threshold selection over a scored frame (see
    x_dsir_select_approx); split out for the agree cert's shared-score
    path. Callers barrier `scored` — both consumers below re-execute
    it otherwise."""
    sc = scored.select(
        "doc_id", "lang", "n_grams", "s", (F.col("s") / F.col("n_grams")).alias("raw")
    )
    th = sc.groupBy("lang").agg(
        F.percentile_approx("raw", F.lit(0.8), F.lit(10000)).alias("t80")
    )
    return sc.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "n_grams",
        (F.round(F.col("raw"), 6) + 0).alias("llr"),
        (F.col("raw") >= F.col("t80")).alias("selected"),
    )


# ---------------------------------------------------------------------------
# Soft dedup: suppression weights instead of dropping
# ---------------------------------------------------------------------------


@query(
    "x_soft_dedup_weights",
    """
    WITH fp AS (
        SELECT doc_id,
               substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)
                   AS fingerprint
        FROM documents
    )
    SELECT doc_id, fingerprint,
           COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies,
           ROUND(1.0 / COUNT(*) OVER (PARTITION BY fingerprint), 6) AS weight,
           (ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1)
               AS is_canonical
    FROM fp
    """,
    survey_ids=(
        "training-pipeline: soft dedup — per-doc suppression weight "
        "1/n_copies over the exact-dedup fingerprint groups (keep every "
        "copy, downweight instead of dropping; the sampling-weight "
        "alternative to hard dedup)"
    ),
)
def x_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: every document keeps a sampling weight
    1/n_copies of its exact-duplicate group instead of being dropped —
    the downweighting alternative to hard dedup (a training sampler
    multiplies example probability by `weight`, so a 10-copy boilerplate
    family contributes one document's worth of mass). `is_canonical`
    marks the hard-dedup survivor so one output serves both policies.

    Scale shape: one shuffle on the fingerprint (the same key the
    hard-dedup groupBy uses); both window functions share that single
    partitioning, so the plan is scan → hash → one exchange → window.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", textan.doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint")
    wo = Window.partitionBy("fingerprint").orderBy("doc_id")
    return fp.select(
        "doc_id",
        "fingerprint",
        F.count("*").over(w).alias("n_copies"),
        F.round(F.lit(1.0) / F.count("*").over(w), 6).alias("weight"),
        (F.row_number().over(wo) == 1).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Cross-document LINE-level dedup (the RefinedWeb/CCNet deployed law)
# ---------------------------------------------------------------------------
# Line unit: newline-bounded segments, hard-wrapped at _LINE_W tokens.
# The frozen test corpora are single-line (no '\n' anywhere), so without
# the wrap the law would be vacuously exercised; hard-wrapping long
# lines at a fixed token width is itself standard crawled-text
# normalization, and the dedup LAW below is defined on the line unit
# whatever the splitter. K = _LINE_K: a line occurring in >= K distinct
# documents is boilerplate (nav bars, cookie banners, licence headers)
# and is stripped from EVERY document carrying it.

_LINE_W = 8
_LINE_K = 2

# Shared DuckDB CTE chain ending in h(doc_id, line_idx, line, line_hash)
# and g(line_hash, n_docs).
_LINES_DUCK = f"""t AS (
        SELECT doc_id, list_filter({_TOKS_DUCK}, w -> w <> '') AS toks
        FROM documents
    ), l AS (
        SELECT doc_id, i AS line_idx,
               array_to_string(toks[{_LINE_W}*i+1:{_LINE_W}*i+{_LINE_W}], ' ')
                   AS line
        FROM (SELECT doc_id, toks,
                     unnest(range(0, (len(toks) + {_LINE_W - 1}) // {_LINE_W}))
                         AS i
              FROM t)
    ), h AS (
        SELECT doc_id, line_idx, line,
               substring(sha256(line), 1, 16) AS line_hash
        FROM l
    ), g AS (
        SELECT line_hash, COUNT(DISTINCT doc_id) AS n_docs
        FROM h GROUP BY line_hash
    )"""


def _doc_nlines(docs: DataFrame) -> DataFrame:
    """(doc_id, n_lines) computed MAP-SIDE: the hard-wrap law makes the
    line count a pure function of the filtered token count
    (ceil(|toks| / W); 0 when token-less), so consumers that only need
    the per-doc total skip re-executing the line explode + a groupBy +
    a join (guide §2.4)."""
    toks = F.filter(textan.tokens(F.col("text")), lambda w: F.length(w) > 0)
    return docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.expr(f"(size(toks) + {_LINE_W - 1}) div {_LINE_W}").alias(
            "n_lines"
        ),
    )


def _doc_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, line_idx, line, line_hash) — the Spark twin of
    _LINES_DUCK's h: filtered whitespace tokens hard-wrapped into
    _LINE_W-token lines, one map-side explode (no shuffle)."""
    toks = F.filter(textan.tokens(F.col("text")), lambda w: F.length(w) > 0)
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    return base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, ((size(toks) + {_LINE_W - 1})"
                f" div {_LINE_W}) - 1),"
                f" i -> named_struct("
                f"'line_idx', cast(i as bigint),"
                f" 'line', concat_ws(' ', slice(toks,"
                f" cast(i*{_LINE_W}+1 as int), {_LINE_W}))))"
            )
        ).alias("x"),
    ).select(
        "doc_id",
        F.col("x.line_idx").alias("line_idx"),
        F.col("x.line").alias("line"),
        F.substring(F.sha2(F.col("x.line"), 256), 1, 16).alias("line_hash"),
    )


@query(
    "x_line_dedup",
    f"""
    WITH {_LINES_DUCK}
    SELECT h.doc_id, CAST(h.line_idx AS BIGINT) AS line_idx, h.line_hash,
           CAST(g.n_docs AS BIGINT) AS n_docs_with_line,
           g.n_docs >= {_LINE_K} AS is_boilerplate
    FROM h JOIN g USING (line_hash)
    """,
    survey_ids=(
        "training-pipeline: cross-document LINE-level dedup verdicts "
        "(RefinedWeb/CCNet law: a line occurring in >= k distinct docs "
        "is boilerplate) — one line-hash groupBy, no position explode; "
        "the cheap deployed alternative to ExactSubstr for line-shaped "
        "duplication"
    ),
)
def x_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per line occurrence: its hash, how many DISTINCT documents carry
    the line corpus-wide, and the boilerplate verdict (>= {_LINE_K}
    docs). The line-unit law production curation pipelines actually run
    (RefinedWeb §"line-wise corrections", CCNet paragraph hashing):
    ExactSubstr subsumes it semantically for long lines, but this costs
    one line-hash groupBy instead of a position explode — no
    gaps-and-islands, no per-position shuffle rows.

    Scale shape: the line explode is map-side; the groupBy(line_hash)
    is ONE shuffle whose rows are (16-char hash, doc_id) pairs with
    partial distinct aggregation; the verdict join back is keyed by the
    same hash, so AQE reuses the partitioning. At 100 TB line-hash keys
    are near-uniform (hash-distributed) — no skew remedy needed, unlike
    the prefix-sum family.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Per-line df as ONE window over the (narrow) occurrence stream —
    # countDistinct == size(collect_set), and the old groupBy +
    # join-back re-executed the line explode and shuffled it twice
    # (guide §2.4). The line text never enters the shuffle (projected
    # away first; the output doesn't carry it).
    h = _doc_lines(docs).select("doc_id", "line_idx", "line_hash")
    n_docs = F.size(
        F.collect_set("doc_id").over(Window.partitionBy("line_hash"))
    )
    return h.select(
        "doc_id",
        "line_idx",
        "line_hash",
        n_docs.cast("bigint").alias("n_docs_with_line"),
        (n_docs >= _LINE_K).alias("is_boilerplate"),
    )


@query(
    "x_line_dedup_strip",
    f"""
    WITH {_LINES_DUCK}, kept AS (
        SELECT h.doc_id, h.line_idx, h.line
        FROM h JOIN g USING (line_hash) WHERE g.n_docs < {_LINE_K}
    ), agg AS (
        SELECT doc_id, string_agg(line, ' ' ORDER BY line_idx) AS text_clean,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ), tot AS (
        SELECT doc_id, COUNT(*) AS n_lines FROM h GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.text_clean, '') AS text_clean,
           CAST(coalesce(t2.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(t2.n_lines, 0) - coalesce(a.n_kept, 0) AS BIGINT)
               AS n_lines_removed
    FROM documents d
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    LEFT JOIN tot t2 ON t2.doc_id = d.doc_id
    """,
    survey_ids=(
        "training-pipeline: line-level boilerplate STRIP — every "
        "occurrence of a >= k-doc line is removed and the document "
        "reassembled from its surviving lines (the RefinedWeb deployed "
        "transformation; the line-unit sibling of x_decontaminate_strip)"
    ),
)
def x_line_dedup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply x_line_dedup's verdicts: cut every boilerplate line (all
    copies — the law's point is that nav-bar/licence text carries no
    training signal anywhere), reassemble each doc from its surviving
    lines in order. Emits text_clean (space-joined, the token-stream
    representation the wrap law is defined on), n_lines,
    n_lines_removed; docs reduced to nothing keep a row with
    text_clean = '' (the curation step after this one decides whether
    empty docs drop).

    Scale shape: the boilerplate hash SET (duplicated lines only —
    tiny relative to the corpus) broadcasts into a map-side anti-join;
    the doc reassembly groupBy(doc_id) is the one corpus shuffle, and
    line boundaries are free (no gaps-and-islands pass, vs
    x_decontaminate_strip's span merge).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = _doc_lines(docs)
    boiler = (
        h.groupBy("line_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= _LINE_K)
        .select("line_hash")
    )
    kept = h.join(F.broadcast(boiler), "line_hash", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("line_idx", "line"))).alias(
            "arr"
        ),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # n_lines map-side from the token count (== the number of exploded
    # lines: ceil(|toks| / W), 0 for token-less docs) — the third
    # execution of the line explode and its groupBy + join are gone.
    return (
        _doc_nlines(docs)
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.concat_ws(
                    " ", F.expr("transform(arr, x -> x.line)")
                ),
                F.lit(""),
            ).alias("text_clean"),
            F.col("n_lines").cast("bigint").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_lines_removed"),
        )
    )


@query(
    "x_line_dedup_strip_keep_first",
    f"""
    WITH {_LINES_DUCK}, rk AS (
        SELECT h.doc_id, h.line_idx, h.line, g.n_docs,
               ROW_NUMBER() OVER (PARTITION BY h.line_hash
                                  ORDER BY h.doc_id, h.line_idx) AS occ
        FROM h JOIN g USING (line_hash)
    ), kept AS (
        SELECT doc_id, line_idx, line FROM rk
        WHERE n_docs < {_LINE_K} OR occ = 1
    ), agg AS (
        SELECT doc_id, string_agg(line, ' ' ORDER BY line_idx) AS text_clean,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ), tot AS (
        SELECT doc_id, COUNT(*) AS n_lines FROM h GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.text_clean, '') AS text_clean,
           CAST(coalesce(t2.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(t2.n_lines, 0) - coalesce(a.n_kept, 0) AS BIGINT)
               AS n_lines_removed
    FROM documents d
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    LEFT JOIN tot t2 ON t2.doc_id = d.doc_id
    """,
    survey_ids=(
        "training-pipeline: line-level dedup, KEEP-FIRST semantics — "
        "boilerplate lines keep exactly their first occurrence (global "
        "(doc_id, line_idx) order) and lose the rest; the CCNet "
        "paragraph-hash deployment, vs x_line_dedup_strip's "
        "remove-everywhere law (both published semantics registered, "
        "the x_exact_substr_strip / _keep_one precedent)"
    ),
)
def x_line_dedup_strip_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_line_dedup_strip's sibling under the OTHER published law:
    CCNet-style paragraph hashing keeps ONE copy of a duplicated line
    (its first occurrence in global (doc_id, line_idx) order — a total
    order, so deterministic) instead of stripping the text entirely;
    content survives somewhere, repetition mass still drops to one.

    Scale shape: the keep-first law needs per-line occurrence RANK, so
    the tiny boilerplate-set broadcast of the strip variant is replaced
    by one line_hash-keyed shuffle shared between the count aggregate
    and the occurrence window (same key — AQE reuses the exchange),
    then the doc-keyed reassembly. Line-hash keys are uniform; no skew
    remedy needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = _doc_lines(docs)
    # Per-line df and occurrence rank from ONE line_hash shuffle: the
    # countDistinct groupBy + join-back re-executed the line explode
    # and shuffled both sides; size(collect_set(..)) over the same
    # window partitioning shares the occ window's exchange (guide
    # §2.4). n_lines comes map-side from the token count.
    w_hash = Window.partitionBy("line_hash")
    w_occ = w_hash.orderBy("doc_id", "line_idx")
    rk = h.withColumn(
        "n_docs", F.size(F.collect_set("doc_id").over(w_hash))
    ).withColumn("occ", F.row_number().over(w_occ))
    kept = rk.filter(
        (F.col("n_docs") < _LINE_K) | (F.col("occ") == 1)
    )
    agg = kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("line_idx", "line"))).alias(
            "arr"
        ),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        _doc_nlines(docs)
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.concat_ws(" ", F.expr("transform(arr, x -> x.line)")),
                F.lit(""),
            ).alias("text_clean"),
            F.col("n_lines").cast("bigint").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_lines_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Context-window chunking (the dual of sequence packing)
# ---------------------------------------------------------------------------

_CHUNK, _OVERLAP = 128, 16
_STRIDE = _CHUNK - _OVERLAP


@query(
    "x_chunk_documents",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ), s AS (
        SELECT doc_id, toks, len(toks) AS n_toks,
               unnest(generate_series(1, greatest(len(toks), 1), {_STRIDE})) AS start_tok
        FROM t
    )
    SELECT doc_id,
           CAST((start_tok - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
           start_tok,
           least(start_tok + {_CHUNK - 1}, n_toks) - start_tok + 1 AS n_chunk_toks,
           substring(sha256(array_to_string(
               toks[start_tok:least(start_tok + {_CHUNK - 1}, n_toks)], ' ')), 1, 16)
               AS chunk_sig
    FROM s
    WHERE start_tok = 1 OR start_tok <= n_toks - {_OVERLAP}
    """,
    survey_ids=(
        "training-pipeline: context-window chunking (sliding "
        f"{_CHUNK}-token windows, {_OVERLAP}-token overlap) — the dual "
        "of sequence packing for long documents"
    ),
)
def x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping context-window chunks: sliding
    128-token windows with a 16-token overlap (stride 112), one output
    row per chunk with its token span and a content signature. The tail
    rule drops a final window that would add only already-covered
    overlap tokens (start beyond n_toks - overlap), except the first
    window, which always emits — so every token is covered exactly
    once plus the overlap seams, and a short doc yields one chunk.

    Scale shape: map-only explode (one row per chunk, bounded by
    n_toks/stride per doc) — no shuffle, no join; the chunk signature
    is computed from the token slice in the same pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", textan.tokens(F.col("text")).alias("toks")
    ).withColumn("n_toks", F.size("toks").cast("long"))
    starts = F.explode(
        F.expr(f"sequence(1L, greatest(cast(size(toks) as long), 1L), {_STRIDE}L)")
    )
    s = base.withColumn("start_tok", starts).filter(
        (F.col("start_tok") == 1)
        | (F.col("start_tok") <= F.col("n_toks") - _OVERLAP)
    )
    chunk_toks = F.expr(f"slice(toks, cast(start_tok as int), {_CHUNK})")
    return s.select(
        "doc_id",
        ((F.col("start_tok") - 1) / _STRIDE).cast("bigint").alias("chunk_idx"),
        "start_tok",
        (
            F.least(F.col("start_tok") + (_CHUNK - 1), F.col("n_toks"))
            - F.col("start_tok")
            + 1
        ).alias("n_chunk_toks"),
        F.substring(F.sha2(F.array_join(chunk_toks, " "), 256), 1, 16).alias(
            "chunk_sig"
        ),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility report (mixture-decision input)
# ---------------------------------------------------------------------------


@query(
    "x_token_fertility",
    f"""
    WITH t AS (
        SELECT lang, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ws_toks,
               len(regexp_extract_all(lower(text),
                   '([a-z]{{1,8}}|[0-9]{{1,3}}|[^a-z0-9 \\t\\n\\x0b\\f\\r])')) AS bpe_toks
        FROM documents
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe_toks) AS BIGINT) AS bpe_tokens,
           ROUND(CAST(SUM(bpe_toks) AS DOUBLE) / greatest(SUM(ws_toks), 1), 6) + 0
               AS fertility
    FROM t
    GROUP BY lang, source
    """,
    survey_ids=(
        "training-pipeline: tokenizer fertility report per (lang, source) "
        "— BPE-ish tokens per whitespace token, the cost signal mixture "
        "weighting and budget planning read"
    ),
)
def x_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (lang, source): how many BPE-ish pieces
    each whitespace token explodes into. High-fertility slices cost more
    context budget per word — the per-corpus statistic mixture weighting
    and token-budget planning consume.

    Scale: map-side token counts (integer sums are exact and
    order-independent by construction), one partial-agg shuffle on the
    low-cardinality (lang, source) key.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    ws = textan.token_count(t).cast("long")
    bpe = textan.bpe_ish_token_count(t).cast("long")
    return (
        docs.select("lang", "source", ws.alias("ws"), bpe.alias("bpe"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            (
                F.round(
                    F.sum("bpe").cast("double")
                    / F.greatest(F.sum("ws"), F.lit(1)),
                    6,
                )
                + 0
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (Robertson-Sparck Jones; k1=1.2, b=0.75)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "stream", "join")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TOPK = 20


def bm25_scored(docs: DataFrame) -> DataFrame:
    """Per-doc BM25 score (doc_id, s) for the fixed _BM25_TERMS query —
    the lexical arm shared by x_bm25_topk and the hybrid RRF fusion
    (queries/retrieval.py). Python twin of _BM25_SCORED_CTES.

    Scale shape: corpus stats (N, avgdl) are a 1-row broadcast; term
    frequencies come from one map-side pass over tokens filtered to the
    |Q| query terms (never a full inverted index); df is a |Q|-row
    broadcast join-back; the only corpus-sized shuffle is the per-doc
    score rollup. Contributions are rounded to 7 dp and decimal-summed
    (partition-order independent)."""
    toks = textan.tokens(F.col("text"))
    dl = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("dlen")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count("*")).alias("avgdl"),
    )
    # Occurrence counts via ONE token explode + literal IN filter
    # instead of |terms| interpreted array-filter scans per document
    # (the retrieval.py batch-arm note: HOFs are interpreted, and df_ +
    # contrib each re-ran the chain). Emits exactly the f > 0 rows both
    # consumers use — values and the shared oracle CTEs unchanged.
    tf = (
        dl.select("doc_id", "dlen", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dlen", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("f"))
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.when(F.col("f") > 0, 1)).alias("dfreq")
    )
    contrib = (
        tf.filter(F.col("f") > 0)
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("dfreq") + 0.5)
                    / (F.col("dfreq") + 0.5)
                    + 1.0
                )
                * (F.col("f") * (_BM25_K1 + 1.0))
                / (
                    F.col("f")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl"))
                ),
                7,
            )
            .cast("decimal(28,7)")
            .alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(F.sum("c").cast("double").alias("s"))


# CTE chain through the per-doc BM25 score — shared by the x_bm25_topk
# oracle and the hybrid-fusion oracle (queries/retrieval.py), so both
# engines' lexical arms are one definition.
_BM25_SCORED_CTES = f"""t AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ), dl AS (
        SELECT doc_id, toks, len(toks) AS dlen FROM t
    ), stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, dlen, term,
               len(list_filter(toks, x -> x = term)) AS f
        FROM dl, unnest({list(_BM25_TERMS)}) AS q(term)
    ), df AS (
        SELECT term, COUNT(*) FILTER (f > 0) AS dfreq FROM tf GROUP BY term
    ), contrib AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                   ln((stats.n_docs - df.dfreq + 0.5) / (df.dfreq + 0.5) + 1.0)
                   * (tf.f * ({_BM25_K1} + 1.0))
                   / (tf.f + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * tf.dlen / stats.avgdl)), 7)
                   AS DECIMAL(28,7)) AS c
        FROM tf, stats
        JOIN df ON tf.term = df.term
        WHERE tf.f > 0
    ), scored AS (
        SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS s FROM contrib GROUP BY doc_id
    )"""


@query(
    "x_bm25_topk",
    f"""
    WITH {_BM25_SCORED_CTES}, ranked AS (
        SELECT doc_id, ROUND(s, 6) + 0 AS bm25,
               ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rank
        FROM scored
    )
    SELECT doc_id, bm25, rank FROM ranked WHERE rank <= {_BM25_TOPK}
    """,
    survey_ids=(
        "training-pipeline: BM25 lexical retrieval top-k "
        "(k1=1.2, b=0.75; per-term contributions decimal-summed) — "
        "the keyword-retrieval companion to the ANN family for "
        "curation/decontamination candidate generation"
    ),
)
def x_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the documents table for a fixed query
    term set — lexical retrieval, the standard companion to embedding
    ANN when assembling topical subsets or generating candidate pools
    for dedup/decontamination.

    Laws: Robertson IDF ln((N - df + 0.5)/(df + 0.5) + 1), k1=1.2,
    b=0.75; per-term contributions are rounded to 7 dp and summed as
    DECIMAL (the LM-score recipe: a 1-ulp ln() difference between
    engines cannot flip a term, and a 100TB per-doc sum is
    partition-order independent).

    Scale shape: corpus stats (N, avgdl) are a 1-row broadcast; term
    frequencies come from one map-side pass over tokens filtered to the
    |Q| query terms (never a full inverted index); df is a |Q|-row
    aggregate joined back by broadcast. The only corpus-sized shuffle
    is the per-doc score rollup; the global top-k is a rank window over
    docs that matched at least one term.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scored(docs)
    # Global top-k WITHOUT a partition-less rank window: orderBy().limit(k)
    # compiles to TakeOrderedAndProject (per-partition top-k + driver-side
    # k-way merge), so no single task ever sorts the full match set — the
    # 100TB-safe shape. Rank is then derived over the k-row result, where
    # a single-task window is k rows by construction.
    topk = scored.orderBy(F.col("s").desc(), F.col("doc_id").asc()).limit(_BM25_TOPK)
    w = Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(
            "doc_id",
            (F.round("s", 6) + 0).alias("bm25"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic fixed-size per-group sample (reservoir analog)
# ---------------------------------------------------------------------------

_RESERVOIR_K = 40

_RESERVOIR_ORACLE = f"""
    WITH h AS (
        SELECT doc_id, lang,
               md5(CAST(doc_id AS VARCHAR) || ':rsv') AS hk
        FROM documents
    ), r AS (
        SELECT doc_id, lang, hk,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
        FROM h
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_RESERVOIR_K}
    """


@query(
    "x_reservoir_sample",
    _RESERVOIR_ORACLE,
    survey_ids=(
        "training-pipeline: exact fixed-size per-group sample "
        "(deterministic reservoir analog: rank by salted hash, keep "
        "first k per lang) — the EXACT-k counterpart of the rate-based "
        "mixture sampler"
    ),
)
def x_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k documents per language, deterministically: rank rows by
    a salted hash of the id and keep the first k per group — the
    distributed, replayable analog of reservoir sampling (same sample
    on every run and every partitioning, unlike rand()-based sampling).
    The rate-based mixture sampler (x_mixture_sample) answers 'keep p%
    of each slice'; this answers 'give me exactly k per slice'
    (eval-set carving, per-lang probes, human-review batches).

    Scale shape: one hash per row map-side, one shuffle on the group
    key for the rank window. For k much smaller than the group, the
    window sort can be replaced by a per-partition top-k + merge
    (aggregate of sorted k-arrays) — same contract, no full-group sort;
    at this k the window is already dominated by the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rsv")))
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        docs.select("doc_id", "lang", hk.alias("hk"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


_RESERVOIR_SALTS = 64


@query(
    "x_reservoir_sample_topk",
    _RESERVOIR_ORACLE,  # VALUE-IDENTICAL to x_reservoir_sample: the
    # two-phase plan computes the same deterministic sample, so the
    # exact twin's oracle hash-checks it.
    survey_ids=(
        "training-pipeline 100TB path: exact per-group k-sample via "
        "salted two-phase top-k (per-(lang,salt) window, then a merge "
        "window over ≤salts·k survivors) — same output as "
        "x_reservoir_sample with no full-group sort anywhere"
    ),
)
def x_reservoir_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of x_reservoir_sample producing the IDENTICAL sample
    (same salted-hash order, same k) without ever sorting a whole
    language in one task.

    Phase 1 ranks within (lang, salt) — salt = hash(doc_id) mod 64
    spreads each language over 64 sort partitions, each 1/64th of the
    language — and keeps k per salted group (any row outside its
    group's top-k cannot be in the group-union's top-k). Phase 2 ranks
    the ≤64·k survivors per lang: that window partition is ≤2,560 rows
    by construction, INDEPENDENT of corpus size. Two shuffles instead
    of one, but the largest single-task sort shrinks from |lang| rows
    to max(|lang|/64, 64k) — the trade that keeps the exact-k contract
    at 100TB (the doc-sketched alternative for x_reservoir_sample's
    acknowledged full-sort caveat)."""
    docs = load_table(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rsv")))
    salted = docs.select(
        "doc_id",
        "lang",
        hk.alias("hk"),
        F.pmod(F.xxhash64("doc_id"), F.lit(_RESERVOIR_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("lang", "salt").orderBy("hk", "doc_id")
    cand = salted.withColumn("rk1", F.row_number().over(w1)).filter(
        F.col("rk1") <= _RESERVOIR_K
    )
    w2 = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# Agreement certs for the sketch-threshold scale twins (the a5 pattern):
# run BOTH arms in one plan, emit the exact twin's output plus an in-plan
# exact-vs-approx agreement boolean. The DuckDB oracle is the exact twin's
# oracle wrapped with a literal TRUE, so a sketch-path regression (wrong
# thresholds, broken map-only assignment) fails the value hash — the
# approximate 100TB path becomes load-bearing in the correctness gate.
# ---------------------------------------------------------------------------


def _agreement(exact: DataFrame, approx: DataFrame, col: str) -> DataFrame:
    """1-row (agree) frame: fraction of EXACT-arm docs whose approx
    value matches — the shared certs.agreement law (left join: a doc
    missing from the approx arm counts as disagreement; planted golden
    in tests/test_cert_adversarial.py)."""
    return certs.agreement(exact, approx, col, key="doc_id")


@query(
    "x_ccnet_buckets_agree_cert",
    "SELECT *, TRUE AS agreement_certified FROM ("
    + _REG2["x_ccnet_lm_buckets"].oracle
    + ")",
    survey_ids=(
        "CCNet sketch-tercile scale path certified in-plan (a5 "
        "pattern): per-doc bucket agreement with the exact ntile "
        "twin >= 0.98; oracle = exact arm + literal TRUE"
    ),
)
def x_ccnet_buckets_agree_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies x_ccnet_lm_buckets_approx against its exact twin:
    both arms run in one plan, the boolean asserts per-doc
    head/middle/tail agreement >= 0.98 (measured on the frozen
    corpora: 1.000 / 1.000 / 1.000 at sf0.001/0.01/0.1 — sketch
    accuracy 10000 leaves tercile boundaries exact at these n)."""
    # Score ONCE and feed both bucketing arms (the DSIR shared-score
    # pattern): calling the registered arms directly paid the corpus
    # trigram-LM pass twice. Both tails are the registered queries'
    # verbatim (_ccnet_bucketed_from / _ccnet_approx_from) over the
    # approx arm's exact barrier construction.
    docs = load_table(spark, sf_dir, "documents")
    scored = (
        _ccnet_scored(docs.select("doc_id", "lang", "text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    exact = _ccnet_bucketed_from(scored)
    approx = _ccnet_approx_from(scored)
    agree = _agreement(exact, approx, "ppl_bucket")
    return exact.crossJoin(F.broadcast(agree)).select(
        *[c for c in exact.columns],
        (F.col("agree") >= 0.98).alias("agreement_certified"),
    )


@query(
    "x_dsir_select_agree_cert",
    "SELECT *, TRUE AS agreement_certified FROM ("
    + _REG2["x_dsir_select"].oracle
    + ")",
    survey_ids=(
        "DSIR sketch-threshold scale path certified in-plan (a5 "
        "pattern): per-doc selected-flag agreement with the exact "
        "rank twin >= 0.98; oracle = exact arm + literal TRUE"
    ),
)
def x_dsir_select_agree_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies x_dsir_select_approx against its exact twin: per-doc
    `selected` agreement >= 0.98 (measured 0.998 / 0.996 / 1.000 —
    the documented boundary-tie movement is the only divergence; llr
    itself is bit-identical by construction, shared _dsir_scored)."""
    # Score ONCE and feed both selection arms: each registered arm
    # builds its own corpus-sized scoring chain, so calling them
    # directly here paid the trigram-LM pass twice (probe 5.89s).
    # Selection tails are identical to the registered queries
    # (_dsir_exact_from / _dsir_approx_from), and the shared frame uses
    # the approx arm's exact barrier construction, so both arms'
    # values match their registered twins bit-for-bit (the exact arm's
    # window is layout-independent: deterministic orderBy + decimal
    # sums).
    docs = load_table(spark, sf_dir, "documents")
    scored = (
        _dsir_scored(docs)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    exact = _dsir_exact_from(scored)
    approx = _dsir_approx_from(scored)
    agree = _agreement(exact, approx, "selected")
    return exact.crossJoin(F.broadcast(agree)).select(
        *[c for c in exact.columns],
        (F.col("agree") >= 0.98).alias("agreement_certified"),
    )


@query(
    "x_quality_bins_agree_cert",
    "SELECT *, TRUE AS agreement_certified FROM ("
    + _REG2["x_quality_bins"].oracle
    + ")",
    survey_ids=(
        "quality-decile sketch scale path certified in-plan (a5 "
        "pattern): per-doc bin agreement with the exact ntile(10) "
        "twin >= 0.9; oracle = exact rollup arm + literal TRUE"
    ),
)
def x_quality_bins_agree_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies x_quality_bins_approx's per-doc binning against the
    exact ntile(10) twin. Bound 0.9, not 0.98: with ~100 docs/lang a
    decile is ~10 docs, so one tie/sketch-rank slip at each of 9 cut
    points can move up to ~9% of a language — measured agreement on
    the frozen corpora is 0.962 / 0.940 / 0.988 at sf0.001/0.01/0.1
    (the boundary effect shrinks as n grows, which is the point of the
    sketch path). Output is the exact twin's (lang, bin) rollup plus
    the boolean."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    # No plan barrier here (r10 A/B, the x_quality_bins_approx note):
    # four downstream references re-run the quality pass, but it is one
    # cheap map stage and the barrier measured slower at sf0.1
    # (1.42s -> 1.19s without).
    q = docs.select(
        "doc_id",
        "lang",
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    exact_doc = q.withColumn("bin", F.ntile(10).over(w).cast("long"))
    th = q.groupBy("lang").agg(
        F.percentile_approx(
            "quality",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            F.lit(10000),
        ).alias("th")
    )
    approx_doc = q.join(F.broadcast(th), "lang").select(
        "doc_id",
        (
            F.lit(1)
            + F.size(F.filter(F.col("th"), lambda x: F.col("quality") > x))
        )
        .cast("long")
        .alias("bin"),
    )
    agree = _agreement(exact_doc, approx_doc, "bin")
    rollup = exact_doc.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("quality"), 6).alias("q_min"),
        F.round(F.max("quality"), 6).alias("q_max"),
    )
    return rollup.crossJoin(F.broadcast(agree)).select(
        *[c for c in rollup.columns],
        (F.col("agree") >= 0.9).alias("agreement_certified"),
    )


# ---------------------------------------------------------------------------
# Epoch shuffle: deterministic global training-order permutation
# ---------------------------------------------------------------------------

_EPOCH_SEED = 7
_SHUFFLE_BUCKETS = 256  # = 16^2: bucket key is the md5 prefix, see below


@query(
    "x_epoch_shuffle",
    f"""
    SELECT doc_id,
           ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':ep{_EPOCH_SEED}'),
                        doc_id) - 1 AS pos
    FROM documents
    """,
    survey_ids=(
        "training-pipeline: deterministic epoch shuffle — seeded global "
        "training-order permutation with NO global sort (hash-prefix "
        "buckets + 256-row prefix-sum offsets)"
    ),
)
def x_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle for a training dataloader:
    every doc gets a position 0..n-1 in an order that is (a) seeded and
    reproducible (md5(doc_id:epoch) — rerunning the epoch gives the
    same order; changing the seed gives an independent permutation),
    and (b) stable under partitioning (no rand(), whose sample depends
    on task layout).

    Scale shape — the naive form is ROW_NUMBER() OVER (ORDER BY hash):
    a GLOBAL sort whose final window runs in ONE task over the whole
    corpus. Instead the first 2 hex chars of the hash split the corpus
    into 256 ordered buckets (lowercase-hex lexicographic order ==
    numeric prefix order, so (bucket, hash) order == hash order); each
    bucket ranks independently (largest single-task sort = ~n/256,
    and the bucket count is a knob), while a 256-row count frame takes
    the only global window — a prefix sum over bucket counts, broadcast
    back as offsets. pos = bucket_offset + in-bucket rank reproduces
    the exact global permutation; the DuckDB oracle IS the naive global
    form, so the decomposition is value-hash-verified equal."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":ep{_EPOCH_SEED}"))
    )
    base = docs.select(
        "doc_id",
        h.alias("hk"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("bkt"),
    )
    wb = Window.partitionBy("bkt").orderBy("hk", "doc_id")
    ranked = base.withColumn(
        "rk", F.row_number().over(wb).cast("long") - F.lit(1)
    )
    counts = base.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    wo = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(wo), F.lit(0))
    ).select("bkt", "off")
    return ranked.join(F.broadcast(offsets), "bkt").select(
        "doc_id", (F.col("off") + F.col("rk")).alias("pos")
    )


@query(
    "x_curriculum_order",
    f"""
    WITH q AS (
        SELECT doc_id, ROUND(%%QD%%, 6) AS quality FROM documents
    ), b AS (
        SELECT doc_id,
               CAST(floor(quality * 100) AS BIGINT) AS qbin,
               md5(CAST(doc_id AS VARCHAR) || ':cur{_EPOCH_SEED}') AS hk
        FROM q
    )
    SELECT doc_id, qbin,
           ROW_NUMBER() OVER (ORDER BY qbin DESC, hk, doc_id) - 1 AS pos
    FROM b
    """.replace("%%QD%%", _quality_duck()),
    survey_ids=(
        "training-pipeline: curriculum training order — high-quality "
        "bands first, seeded shuffle within band, global position with "
        "NO global sort (ordered quality buckets + prefix-sum offsets)"
    ),
)
def x_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum dataloader order: docs stream highest-quality band
    first (qbin = floor(quality*100), a ~100-value ordered difficulty
    key), seeded-shuffled WITHIN each band so the model never sees
    source/doc_id ordering artifacts. Same decomposition as
    x_epoch_shuffle with the ordered bucket = the quality band itself:
    per-band ranking windows (largest single-task sort = the biggest
    band, bounded by the quality distribution and splittable by a
    hash sub-bucket if one band dominates), plus a <=101-row prefix-sum
    offsets frame ordered by band DESC. floor(round(quality,6)*100) is
    the same IEEE-double expression in both engines, so band edges are
    bit-identical; the oracle is the naive global ROW_NUMBER form."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    q = docs.select(
        "doc_id",
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
    )
    hk = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":cur{_EPOCH_SEED}"))
    )
    b = q.select(
        "doc_id",
        F.floor(F.col("quality") * 100).cast("long").alias("qbin"),
        hk.alias("hk"),
    )
    wb = Window.partitionBy("qbin").orderBy("hk", "doc_id")
    ranked = b.withColumn(
        "rk", F.row_number().over(wb).cast("long") - F.lit(1)
    )
    counts = b.groupBy("qbin").agg(F.count(F.lit(1)).alias("n"))
    wo = (
        Window.orderBy(F.col("qbin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(wo), F.lit(0))
    ).select("qbin", "off")
    return ranked.join(F.broadcast(offsets), "qbin").select(
        "doc_id", "qbin", (F.col("off") + F.col("rk")).alias("pos")
    )


@query(
    "x_corpus_datacard",
    f"""
    WITH base AS (
        SELECT doc_id, lang, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok,
               ROUND(%%QD2%%, 6) AS quality,
               {_FP_DUCK} AS fp
        FROM documents
    ), dup AS (
        SELECT fp, COUNT(*) AS n_copies FROM base GROUP BY fp
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_quality,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_dup_docs,
           CAST(MIN(ntok) AS BIGINT) AS min_tokens,
           CAST(MAX(ntok) AS BIGINT) AS max_tokens
    FROM base JOIN dup USING (fp)
    GROUP BY lang, source
    """.replace("%%QD2%%", _quality_duck()),
    survey_ids=(
        "training-pipeline: corpus datacard — one-pass per-(lang,source) "
        "datasheet (docs, tokens, mean quality, exact-dup mass, token "
        "range; Gebru et al. 2021 'Datasheets for Datasets' shape)"
    ),
)
def x_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inventory table a corpus release ships: per (lang, source)
    partition — document and token counts, mean quality (summed as
    DECIMAL so the 100TB aggregate is partition-order-independent),
    how many docs belong to an exact-duplicate family (corpus-global
    fingerprint, so cross-source copies are counted in every partition
    they pollute), and the token range.

    Scale shape: one map pass computes ntok/quality/fingerprint, one
    fingerprint groupBy builds the dup dimension (output ~= distinct
    docs, joined back on the 16-hex fp key), one (lang,source) rollup.
    No windows, no self-joins; every aggregate is partial-before-
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        textan.token_count(t).cast("long").alias("ntok"),
        F.round(textan.quality_score(t, textan.tokens(t)), 6).alias("quality"),
        textan.doc_fingerprint(t).alias("fp"),
    )
    dup = base.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    joined = base.join(dup, "fp")
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("exact_dup_docs"),
        F.min("ntok").cast("bigint").alias("min_tokens"),
        F.max("ntok").cast("bigint").alias("max_tokens"),
    )


@query(
    "x_contamination_report",
    f"""
    WITH g AS (
        SELECT doc_id, source, {_shingle_duck_n(_DECON_N)} AS g
        FROM documents
    ), ev AS (
        SELECT DISTINCT unnest(g) AS gram FROM g WHERE source = '{_EVAL_SRC}'
    ), tr AS (
        SELECT doc_id, source, len(g) AS n_grams, unnest(g) AS gram
        FROM g WHERE source <> '{_EVAL_SRC}'
    ), hits AS (
        SELECT t.doc_id, t.source,
               ROUND(CAST(COUNT(DISTINCT t.gram) AS DOUBLE) / MIN(t.n_grams), 6)
                   AS hit_ratio
        FROM tr t JOIN ev e ON t.gram = e.gram
        GROUP BY t.doc_id, t.source
    ), tot AS (
        SELECT source, COUNT(*) AS n_docs FROM documents
        WHERE source <> '{_EVAL_SRC}' GROUP BY source
    )
    SELECT tot.source, tot.n_docs,
           CAST(COUNT(hits.doc_id) AS BIGINT) AS n_contaminated,
           ROUND(CAST(COUNT(hits.doc_id) AS DOUBLE) / tot.n_docs, 6)
               AS contamination_rate,
           ROUND(COALESCE(
               CAST(SUM(CAST(hits.hit_ratio AS DECIMAL(18,6))) AS DOUBLE)
               / NULLIF(COUNT(hits.doc_id), 0), 0.0), 6) AS mean_hit_ratio
    FROM tot LEFT JOIN hits ON tot.source = hits.source
    GROUP BY tot.source, tot.n_docs
    """,
    survey_ids=(
        "training-pipeline: contamination audit report — per-source "
        "eval-overlap rate + mean hit ratio over the contaminated set "
        "(the release-gate table next to x_decontaminate's per-doc drop "
        "list)"
    ),
)
def x_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination audit: how much of each training source
    overlaps the held-out eval corpus at the 13-gram level — the table
    a release review reads (x_decontaminate emits the per-doc drop
    list; this is its rollup with zero-hit sources kept at rate 0).

    Scale shape: identical to x_decontaminate (eval grams broadcast,
    train side map-only explode + probe, per-doc agg over rare hits)
    plus a per-source doc count and a LEFT join of the ~|sources|-row
    rollups — both tiny. Mean hit ratio sums 6-dp DECIMALs so the
    aggregate is partition-order-independent."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", "source", token_shingles(F.col("text"), _DECON_N).alias("g")
    )
    ev = (
        g.filter(F.col("source") == _EVAL_SRC)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    tr = g.filter(F.col("source") != _EVAL_SRC).select(
        "doc_id",
        "source",
        F.size("g").cast("long").alias("n_grams"),
        F.explode("g").alias("gram"),
    )
    hits = (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.countDistinct("gram").cast("double") / F.min("n_grams"), 6
            ).alias("hit_ratio")
        )
    )
    tot = (
        docs.filter(F.col("source") != _EVAL_SRC)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        tot.join(hits, "source", "left")
        .groupBy("source", "n_docs")
        .agg(
            F.count("hit_ratio").cast("bigint").alias("n_contaminated"),
            F.round(
                F.count("hit_ratio").cast("double") / F.col("n_docs"), 6
            ).alias("contamination_rate"),
            F.round(
                F.coalesce(
                    F.sum(F.col("hit_ratio").cast("decimal(18,6)")).cast(
                        "double"
                    )
                    / F.nullif(F.count("hit_ratio"), F.lit(0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("mean_hit_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-split n-gram novelty (train-contamination audit of val/test)
# ---------------------------------------------------------------------------

_SPLIT_DUCK = """CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '028f' THEN 'val'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '051e' THEN 'test'
               ELSE 'train'
           END"""


@query(
    "x_split_novelty",
    f"""
    WITH t AS (
        SELECT {_SPLIT_DUCK} AS split, {_TOKS_DUCK} AS toks FROM documents
    ), g0 AS (
        SELECT split,
               unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS gram
        FROM t
    ), g AS (
        SELECT DISTINCT split, gram FROM g0
    ), tr AS (
        SELECT gram FROM g WHERE split = 'train'
    ), ev AS (
        SELECT split, gram FROM g WHERE split <> 'train'
    ), tot AS (
        SELECT split, COUNT(*) AS n_grams FROM ev GROUP BY split
    ), seen AS (
        SELECT split, COUNT(*) AS n_seen FROM ev
        WHERE gram IN (SELECT gram FROM tr)
        GROUP BY split
    )
    SELECT tot.split,
           CAST(tot.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(seen.n_seen, 0) AS BIGINT) AS n_seen_in_train,
           ROUND(1.0 - CAST(COALESCE(seen.n_seen, 0) AS DOUBLE) / tot.n_grams, 6) + 0
               AS novelty_rate
    FROM tot LEFT JOIN seen ON tot.split = seen.split
    """,
    survey_ids=(
        "training-pipeline: cross-split n-gram novelty audit — fraction "
        "of each eval split's distinct 3-grams unseen in train (the "
        "inverse of train->eval leakage; composes the x_split_assign "
        "hash split with the x_decontaminate gram machinery)"
    ),
)
def x_split_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-split novel-3-gram rate against the train split.

    The metric a leakage-safe split is judged by: if val/test 3-grams
    are mostly present in train, eval loss is memorization, not
    generalization (the Lee et al. 2021 / Brown et al. 2020 dedup-and-
    decontaminate rationale, measured split-to-split).

    Scale shape: grams explode map-side; ONE distinct shuffle keyed by
    (split, gram); the seen-in-train check is a gram-keyed left-semi
    join (shuffle on gram, no broadcast needed — both sides are
    corpus-gram-sized); the final rollup is a 2-row aggregate. No
    windows, no full sorts.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(bucket < "028f", F.lit("val"))
        .when(bucket < "051e", F.lit("test"))
        .otherwise(F.lit("train"))
    )
    t = docs.select(split.alias("split"), textan.tokens(F.col("text")).alias("toks"))
    g = (
        t.select(
            "split",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(toks) - 2, 1)), "
                    "i -> concat_ws(' ', slice(toks, i, 3)))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    train = g.filter(F.col("split") == "train").select("gram")
    ev = g.filter(F.col("split") != "train")
    tot = ev.groupBy("split").agg(F.count(F.lit(1)).alias("n_grams"))
    seen = (
        ev.join(train, "gram", "left_semi")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    n_seen = F.coalesce(F.col("n_seen"), F.lit(0)).cast("bigint")
    return tot.join(seen, "split", "left").select(
        "split",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        n_seen.alias("n_seen_in_train"),
        (
            F.round(
                F.lit(1.0) - n_seen.cast("double") / F.col("n_grams"), 6
            )
            + 0
        ).alias("novelty_rate"),
    )


# --- Exact substring deduplication (Lee et al. 2022, "Deduplicating
# --- Training Data Makes Language Models Better": the ExactSubstr op) ------

_SUBSTR_K = 20  # minimum duplicated-substring length, in characters


def _exact_substr_spans_df(
    docs: DataFrame, stride: int = 1, sample_mod: int | None = None
) -> DataFrame:
    """All maximal duplicated spans of length >= _SUBSTR_K across the
    corpus, as (doc_id, span_start, span_len). Two-phase exact:

    1. Every k-gram start position is hashed (xxhash64, 8 bytes) and the
       hash histogram is counted with map-side partial aggregation — the
       corpus-wide shuffle carries fixed-width hashes, never the gram
       strings.
    2. Only positions whose hash count >= 2 (a superset of the true
       duplicates: hash collisions add candidates, never drop them)
       carry the actual 20-char gram through a second, survivor-sized
       shuffle where an exact gram count confirms duplication — so the
       result is exact, not probabilistic.

    A position is covered iff its k-gram occurs >= 2 times anywhere in
    the corpus (self-repeats included, per the paper). Covered starts
    are merged into islands with a gap threshold of k — starts i < j
    cover overlapping-or-adjacent CHAR ranges iff j <= i + k — so the
    emitted spans are maximal DISJOINT character intervals (span sums
    are true character budgets; a start-gap-of-1 merge would emit
    overlapping spans and double-count). Per-doc lag/cumsum window,
    bounded by document length, never corpus-wide. A duplicated
    substring of length L >= k yields a span of exactly length L.

    100 TB notes: phase 1 is the unavoidable corpus-sized shuffle any
    non-suffix-array formulation pays, minimized to 8-byte keys with
    combiner-friendly counts; phase 2 and the span merge are sized by
    duplicated content only. Knobs at real scale: token-level grams
    (~5x fewer positions than chars — x_exact_substr_token_spans) and
    stride-s position sampling (this function's `stride` argument,
    registered as x_exact_substr_spans_stride).

    stride > 1 restricts the position lattice to i == 1 (mod stride):
    explode volume, hash volume AND the phase-1 shuffle all divide by
    s. The operator stays EXACT over the sampled lattice (hash
    prefilter is still a superset, survivors still string-confirm, the
    same gaps-and-islands merge applies — consecutive covered sampled
    starts are s <= k apart, so contiguous duplicated regions still
    merge into one island). As a detector of TRUE duplicated spans it
    is a sampling of the exact arm: every emitted span is contained in
    an exact span (sampled-gram counts never exceed full counts — see
    x_exact_substr_stride_cert for the in-plan proof); duplicate pairs
    whose occurrences share alignment mod s and have length >= k+s-1
    are always caught (each occurrence's start window spans >= s
    consecutive positions, so the SAME lattice-sampled gram appears in
    both); unaligned pairs are caught when any shared gram lands on
    both occurrences' lattices; and realized recall on a given corpus
    is what the cert query measures against the exact arm. This is
    the affordability lever Lee et al. 2022 reach for suffix arrays to
    get: s=4 cuts the dominant corpus-sized shuffle 4x.

    sample_mod > 1 (mutually composable with stride but used alone by
    the registered x_exact_substr_spans_cds) keeps only CONTENT-DEFINED
    sampled grams — those whose md5-derived 32-bit hash is 0 mod s (the
    winnowing/MOD-p idea; hash chosen for cross-engine replication, see
    _CDS_PRED_DUCK). Unlike the stride lattice this is
    ALIGNMENT-INVARIANT: a gram is sampled in EVERY occurrence or none,
    so sampled-gram duplicate counts equal full counts and
    covered(cds) = exact-covered ∩ sampled — a true duplicated region
    of length L is detected whenever ANY of its L-k+1 grams is
    selected (miss mass ~(1-1/s)^(L-k+1), content-deterministic),
    with no phase condition at all. Cost profile: map-side explode and
    hashing still run at full volume (every gram must be hashed to
    decide selection — and the sampling hash must be md5, the only
    cheap-enough hash both engines replicate bit-for-bit), but the
    phase-1 SHUFFLE — the operator's dominant 100 TB cost — carries
    1/s of the rows. Stride cuts CPU too but pays the alignment
    condition; CDS is the knob to prefer when the network, not the
    scan, is the bottleneck. Measured at sf0.1 local[32] (r5 bench):
    stride 1.54s, exact 2.46s, CDS 2.56s — local mode prices CPU, not
    shuffle bytes, so CDS's md5 shows and its 4x network cut doesn't;
    on a real cluster the trade reverses (and a deployment free of the
    cross-engine-oracle constraint would use xxhash64 for sampling,
    making CDS strictly cheaper map-side too).
    """
    stop = F.length("text") - F.lit(_SUBSTR_K - 1)
    seq = (
        F.sequence(F.lit(1), stop)
        if stride == 1
        else F.sequence(F.lit(1), stop, F.lit(stride))
    )
    pos = (
        docs.filter(F.length("text") >= _SUBSTR_K)
        .select("doc_id", F.explode(seq).alias("i"), "text")
        .select(
            "doc_id", "i", F.expr(f"substring(text, i, {_SUBSTR_K})").alias("gram")
        )
    )
    if sample_mod and sample_mod > 1:
        pos = pos.filter(
            F.expr("conv(substr(md5(gram), 1, 8), 16, 10)").cast("bigint")
            % sample_mod
            == 0
        )
    hashed = pos.withColumn("h", F.xxhash64("gram"))
    cand_h = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    surv = hashed.join(cand_h, "h", "left_semi")
    # Exact gram confirmation as ONE window count over the survivor
    # frame instead of groupBy(gram) + a second semi-join: the join
    # form re-executed the explode+hash map work for the dup_grams
    # branch (map-side subtrees carry no exchange for reuse to dedupe —
    # measured 2.08 -> 1.44s at sf0.1), and at scale it would broadcast
    # a duplicated-gram list of unbounded size; the window shuffles the
    # survivor rows (duplicated-content-sized) once by gram, a
    # high-cardinality key, so no partition is corpus-proportional.
    # Same law: count per gram within surv, keep >= 2.
    wg = Window.partitionBy("gram")
    covered = (
        surv.withColumn("gc", F.count(F.lit(1)).over(wg))
        .filter(F.col("gc") >= 2)
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(F.col("i") - F.lag("i").over(w) <= _SUBSTR_K, F.lit(0)).otherwise(
        F.lit(1)
    )
    runs = covered.withColumn("brk", brk).withColumn(
        "run", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return runs.groupBy("doc_id", "run").agg(
        F.min("i").cast("bigint").alias("span_start"),
        (F.max("i") - F.min("i") + F.lit(_SUBSTR_K)).cast("bigint").alias("span_len"),
    ).select("doc_id", "span_start", "span_len")


def _substr_spans_ctes(
    stride: int = 1, sfx: str = "", sample_pred: str | None = None
) -> str:
    """DuckDB CTE chain ending in spans{sfx}(doc_id, span_start,
    span_len) — WITHOUT the leading WITH, so two chains (e.g. exact +
    stride) compose in one statement. stride > 1 restricts the position
    lattice to i == 1 (mod stride) via a range() step, mirroring the
    `stride` argument of _exact_substr_spans_df; sample_pred (a SQL
    predicate over `gram`) restricts to content-defined-sampled grams,
    mirroring `sample_mod`."""
    step = f", {stride}" if stride != 1 else ""
    if sample_pred:
        samp = f""", samp{sfx} AS (
        SELECT doc_id, i, gram FROM pos{sfx} WHERE {sample_pred}
    )"""
        dup_src = f"samp{sfx}"
    else:
        samp = ""
        dup_src = f"pos{sfx}"
    return f"""ipos{sfx} AS (
        SELECT doc_id, text,
               unnest(range(1, CAST(length(text) AS BIGINT) - {_SUBSTR_K - 2}{step})) AS i
        FROM documents
        WHERE length(text) >= {_SUBSTR_K}
    ), pos{sfx} AS (
        SELECT doc_id, i,
               substring(text, CAST(i AS INTEGER), {_SUBSTR_K}) AS gram
        FROM ipos{sfx}
    ){samp}, dup{sfx} AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS c FROM {dup_src}
        ) WHERE c >= 2
    ), brks{sfx} AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         <= {_SUBSTR_K}
                    THEN 0 ELSE 1 END AS brk
        FROM dup{sfx}
    ), runs{sfx} AS (
        SELECT doc_id, i,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM brks{sfx}
    ), spans{sfx} AS (
        SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
               CAST(max(i) - min(i) + {_SUBSTR_K} AS BIGINT) AS span_len
        FROM runs{sfx} GROUP BY doc_id, run
    )
"""


_SUBSTR_SPANS_DUCK = "\n    WITH " + _substr_spans_ctes()


@query(
    "x_exact_substr_spans",
    _SUBSTR_SPANS_DUCK + "SELECT doc_id, span_start, span_len FROM spans",
    survey_ids=(
        "training-pipeline: exact substring deduplication (ExactSubstr, "
        "Lee et al. 2022) — maximal duplicated spans >= 20 chars corpus-wide"
    ),
)
def x_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _exact_substr_spans_df for the op; this registers it on the
    documents table with its exact DuckDB oracle."""
    return _exact_substr_spans_df(load_table(spark, sf_dir, "documents"))


@query(
    "x_exact_substr_stats",
    _SUBSTR_SPANS_DUCK
    + """
    SELECT d.doc_id,
           CAST(count(s.span_start) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(sum(s.span_len), 0) AS BIGINT) AS dup_chars,
           ROUND(coalesce(sum(s.span_len), 0)
                 / greatest(length(d.text), 1), 6) AS dup_frac,
           (coalesce(sum(s.span_len), 0)
                 / greatest(length(d.text), 1)) <= 0.5 AS keep
    FROM documents d LEFT JOIN spans s ON s.doc_id = d.doc_id
    GROUP BY d.doc_id, d.text
    """,
    survey_ids=(
        "training-pipeline: per-document duplicated-content budget + "
        "keep/drop decision from exact-substring spans"
    ),
)
def x_exact_substr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rollup of the ExactSubstr spans: span count, total
    duplicated characters (spans are maximal, hence disjoint, so the sum
    is a true character budget), duplicated fraction, and the keep
    decision (drop documents that are mostly duplicated content,
    threshold 0.5). Left join keeps zero-span documents. The spans side
    aggregates before the join, so the join is spans-sized x docs-sized
    on doc_id — no position-level rows survive past the span merge."""
    docs = load_table(spark, sf_dir, "documents")
    spans = _exact_substr_spans_df(docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_len").alias("dup_chars"),
    )
    dup_chars = F.coalesce(F.col("dup_chars"), F.lit(0)).cast("bigint")
    frac = dup_chars.cast("double") / F.greatest(F.length("text"), F.lit(1))
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias(
                "n_dup_spans"
            ),
            dup_chars.alias("dup_chars"),
            F.round(frac, 6).alias("dup_frac"),
            (frac <= 0.5).alias("keep"),
        )
    )


# --- Mergeable count-min-sketch heavy hitters ------------------------------

from ..operators.sketch import CMS_D as _CMS_D
from ..operators.sketch import CMS_W as _CMS_W


@query(
    "x_cms_heavy_hitters",
    f"""
    WITH t AS (
        SELECT unnest({_TOKS_DUCK}) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ), c AS (
        SELECT tok, count(*) AS exact_cnt FROM t WHERE tok <> '' GROUP BY tok
    )
    SELECT tok, exact_cnt, TRUE AS cms_within_bound
    FROM c ORDER BY exact_cnt DESC, tok ASC LIMIT 20
    """,
    survey_ids=(
        "training-pipeline: mergeable count-min-sketch heavy hitters "
        "(Cormode & Muthukrishnan 2005) certified in-plan vs exact counts"
    ),
)
def x_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token heavy hitters via a count-min sketch, certified
    against exact counts IN THE SAME PLAN (the a5_approx_distinct
    pattern): output carries the exact count plus a Spark-computed
    `cms_within_bound` boolean asserting the (probabilistic — see
    below) CMS bound exact <= est <= exact + 2*ceil(e/w * N), so the
    DuckDB oracle (exact
    top-20 + literal TRUE) hash-checks the whole row while the sketch
    path stays load-bearing — a broken estimate flips the boolean and
    fails the hash.

    The sketch itself is pure Catalyst: each token occurrence maps to
    _CMS_D (row, bucket) pairs via seeded xxhash64, and one partial-agg
    groupBy folds them into a d x w = {_CMS_D}x{_CMS_W} count table —
    fixed size regardless of corpus, trivially mergeable across
    partitions/days (counts add), which is the whole point at 100 TB:
    the exact per-token groupBy here is the certification arm only; at
    scale you keep the 20k-row table, probe any token in O(d), and union
    daily tables by summing.

    Bound semantics — PROBABILISTIC, frozen-corpus-verified: the CMS
    error bound est <= exact + e/w*N holds with probability >= 1-e^-d
    per probe (Markov over d independent rows), not surely; a correctly
    functioning sketch can legitimately exceed it on some corpus. The
    certification therefore allows 2x that slack (>= 2 sigma of
    headroom beyond the expected-collision mass e/w*N ~ N*6.6e-4 per
    row-min), and with fixed hash seeds the check is deterministic PER
    CORPUS — verified on the frozen test corpora, and loose enough
    that only a catastrophic failure (collision-swamped row, broken
    merge) flips it. It is a regression tripwire, not a universal
    guarantee.
    """
    import math

    from ..operators.sketch import cms_estimate, cms_table

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(F.explode(textan.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cms = cms_table(toks, "tok", _CMS_D, _CMS_W)
    # N = corpus token count = sum of any sketch row; row 0 is cheapest.
    n_total = cms.filter(F.col("j") == 0).agg(
        F.sum("cnt").cast("bigint").alias("n_total")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(20)
    )
    est = cms_estimate(cms, top, "tok", _CMS_D, _CMS_W)
    slack = F.greatest(
        F.lit(2).cast("bigint"),
        F.lit(2) * F.ceil(F.lit(math.e / _CMS_W) * F.col("n_total")).cast("bigint"),
    )
    return (
        est.crossJoin(F.broadcast(n_total))
        .select(
            "tok",
            "exact_cnt",
            (
                (F.col("cms_est") >= F.col("exact_cnt"))
                & (F.col("cms_est") <= F.col("exact_cnt") + slack)
            ).alias("cms_within_bound"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
    )


# Shared oracle tail: segments between the (disjoint, ordered) spans,
# reassembled with an ordered string_agg. Appended to either spans CTE.
_SUBSTR_STRIP_TAIL_DUCK = """
    , seg_pre AS (
        SELECT doc_id, span_start,
               coalesce(lag(span_start + span_len)
                        OVER (PARTITION BY doc_id ORDER BY span_start), 1)
                   AS seg_start
        FROM spans
    ), tails AS (
        SELECT doc_id, max(span_start + span_len) AS seg_start
        FROM spans GROUP BY doc_id
    ), segs AS (
        SELECT doc_id, seg_start, span_start - seg_start AS seg_len
        FROM seg_pre
        UNION ALL
        SELECT t.doc_id, t.seg_start,
               length(d.text) - t.seg_start + 1 AS seg_len
        FROM tails t JOIN documents d USING (doc_id)
    ), agg AS (
        SELECT s.doc_id,
               string_agg(substring(d.text, CAST(s.seg_start AS INTEGER),
                                    CAST(greatest(s.seg_len, 0) AS INTEGER)),
                          '' ORDER BY s.seg_start) AS cleaned
        FROM segs s JOIN documents d USING (doc_id)
        GROUP BY s.doc_id
    )
    SELECT d.doc_id, coalesce(a.cleaned, d.text) AS text_clean,
           CAST(length(d.text) - length(coalesce(a.cleaned, d.text))
                AS BIGINT) AS chars_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def _strip_text(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut `spans` (disjoint, per-doc) out of `docs` text and return
    (doc_id, text_clean, chars_removed).

    Spans are disjoint and sorted per doc, so reassembly is a single
    Catalyst `aggregate` fold over the collected per-doc span array —
    cursor walks the text, keeping the gap before each span and the
    tail after the last one. The span array is doc-bounded (collected
    per doc_id, never corpus-wide); docs with no spans pass through the
    left join with their text intact. Everything downstream of the span
    op is one groupBy(doc_id) plus a map-side fold — no new corpus-
    scale shuffle beyond the span op itself.
    """
    arr = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_len"))).alias(
            "spans"
        )
    )
    empty = F.expr("array()").cast("array<struct<span_start:bigint,span_len:bigint>>")
    joined = docs.join(arr, "doc_id", "left").select(
        "doc_id", "text", F.coalesce(F.col("spans"), empty).alias("spans")
    )
    cleaned = F.expr(
        """
        aggregate(
            spans,
            named_struct('out', '', 'cur', cast(1 as bigint)),
            (acc, s) -> named_struct(
                'out', concat(acc.out,
                              substring(text, cast(acc.cur as int),
                                        cast(s.span_start - acc.cur as int))),
                'cur', s.span_start + s.span_len),
            acc -> concat(acc.out,
                          substring(text, cast(acc.cur as int),
                                    greatest(0, length(text)
                                             - cast(acc.cur as int) + 1)))
        )
        """
    )
    return joined.select(
        "doc_id",
        cleaned.alias("text_clean"),
        (F.length("text") - F.length(cleaned)).cast("bigint").alias(
            "chars_removed"
        ),
    )


@query(
    "x_exact_substr_strip",
    _SUBSTR_SPANS_DUCK + _SUBSTR_STRIP_TAIL_DUCK,
    survey_ids=(
        "training-pipeline: ExactSubstr REMOVAL — duplicated spans cut "
        "out, document reassembled from the surviving segments in order"
    ),
)
def x_exact_substr_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remove-everything rewrite: cut each doc's maximal duplicated
    spans (BOTH copies of duplicated text) and emit the reassembled
    clean text plus the removed-character count. See _strip_text for the
    fold; x_exact_substr_strip_keep_one is the keep-one-copy variant the
    ExactSubstr paper actually deploys."""
    docs = load_table(spark, sf_dir, "documents")
    return _strip_text(docs, _exact_substr_spans_df(docs))


_SUBSTR_SPANS_KEEP1_DUCK = _SUBSTR_SPANS_DUCK.replace(
    """, dup AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS c FROM pos
        ) WHERE c >= 2
    )""",
    f""", dup AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS c,
                   row_number() OVER (PARTITION BY gram
                                      ORDER BY doc_id, i) AS rn
            FROM pos
        ) WHERE c >= 2 AND rn > 1
    )""",
)
assert _SUBSTR_SPANS_KEEP1_DUCK != _SUBSTR_SPANS_DUCK  # replace() must hit


@query(
    "x_exact_substr_strip_keep_one",
    _SUBSTR_SPANS_KEEP1_DUCK + _SUBSTR_STRIP_TAIL_DUCK,
    survey_ids=(
        "training-pipeline: ExactSubstr keep-one-copy removal (the "
        "paper's deployed semantics) — non-canonical duplicated "
        "occurrences stripped, the globally-first occurrence preserved"
    ),
)
def x_exact_substr_strip_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-one-copy rewrite ExactSubstr deploys (Lee et al. 2022
    keep one occurrence of each duplicated substring): a position is
    stripped iff its k-gram occurs >= 2 times AND the position is not
    the gram's CANONICAL occurrence (global minimum (doc_id, i) — a
    total, deterministic order, so exactly one copy of every duplicated
    gram survives corpus-wide).

    The canonical map is one combiner-friendly groupBy-min over the
    confirmed-duplicate positions (min of a (doc_id, i) struct — no
    per-gram window, so a mega-duplicated gram costs a partial agg, not
    a single-task sort of its occurrence list). Islands, fold and the
    scale shape are shared with the remove-everything variant.
    """
    docs = load_table(spark, sf_dir, "documents")
    pos = (
        docs.filter(F.length("text") >= _SUBSTR_K)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - F.lit(_SUBSTR_K - 1))
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id", "i", F.expr(f"substring(text, i, {_SUBSTR_K})").alias("gram")
        )
    )
    hashed = pos.withColumn("h", F.xxhash64("gram"))
    cand_h = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    surv = hashed.join(cand_h, "h", "left_semi")
    # One window pass computes BOTH the exact gram count and the
    # canonical (min struct) occurrence per gram — replacing two
    # groupBy+join pairs that each re-executed the survivor subtree
    # (the _exact_substr_spans_df window note). Same laws: count >= 2
    # confirms duplication, lexicographic min(doc_id, i) is the kept
    # occurrence, covered = every other occurrence.
    wg = Window.partitionBy("gram")
    covered = (
        surv.withColumn("gc", F.count(F.lit(1)).over(wg))
        .withColumn("c", F.min(F.struct("doc_id", "i")).over(wg))
        .filter(F.col("gc") >= 2)
        .filter(
            ~(
                (F.col("doc_id") == F.col("c.doc_id"))
                & (F.col("i") == F.col("c.i"))
            )
        )
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(F.col("i") - F.lag("i").over(w) <= _SUBSTR_K, F.lit(0)).otherwise(
        F.lit(1)
    )
    runs = covered.withColumn("brk", brk).withColumn(
        "run", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = runs.groupBy("doc_id", "run").agg(
        F.min("i").cast("bigint").alias("span_start"),
        (F.max("i") - F.min("i") + F.lit(_SUBSTR_K)).cast("bigint").alias(
            "span_len"
        ),
    ).select("doc_id", "span_start", "span_len")
    return _strip_text(docs, spans)


# --- Weighted reservoir sampling (Efraimidis & Spirakis 2006) --------------

_WEIGHTED_K = 40
_WEIGHTED_SALTS = 64


@query(
    "x_weighted_sample",
    f"""
    WITH h AS (
        SELECT doc_id, lang, n_chars,
               round(ln((CAST(concat('0x',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 8))
                          AS BIGINT) + 0.5) / 4294967296.0)
                     / greatest(n_chars, 1), 9) AS key
        FROM documents
    ), r AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY key DESC, doc_id) AS rk
        FROM h
    )
    SELECT doc_id, lang, n_chars, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_WEIGHTED_K}
    """,
    survey_ids=(
        "training-pipeline: weight-proportional fixed-size per-group "
        "sample (Efraimidis-Spirakis exponential keys), salted two-phase "
        "top-k — no full-group sort"
    ),
)
def x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k docs per language sampled PROPORTIONALLY TO SIZE
    (weight = n_chars), deterministic and replayable: the
    Efraimidis-Spirakis reservoir key ln(u)/w with u derived from
    md5(doc_id) — a doc's key never changes as the corpus grows, so the
    sample is stable under ingestion (same property as
    x_reservoir_sample's uniform variant; this is its weighted sibling
    for char-budget-aware eval carving / review batches).

    The key is rounded to 9 dp (cross-engine libm guard) with doc_id as
    the total tie-break. Scale shape is the x_reservoir_sample_topk
    two-phase: rank within (lang, salt=hash mod 64) keeping k, then
    rank the <= 64k survivors per lang — the largest single-task sort
    is max(|lang|/64, 64k) rows, never a whole language.
    """
    docs = load_table(spark, sf_dir, "documents")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    key = F.round(
        F.log((v.cast("double") + 0.5) / 4294967296.0)
        / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"),
        9,
    )
    salted = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        key.alias("key"),
        F.pmod(F.xxhash64("doc_id"), F.lit(_WEIGHTED_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("lang", "salt").orderBy(F.desc("key"), F.asc("doc_id"))
    cand = salted.withColumn("rk1", F.row_number().over(w1)).filter(
        F.col("rk1") <= _WEIGHTED_K
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _WEIGHTED_K)
        .select("doc_id", "lang", "n_chars", F.col("rk").cast("long").alias("rk"))
    )


# --- Bloom-filter decontamination (constant-size broadcast scale path) -----

_BLOOM_M = 1 << 17  # bit-array size
_BLOOM_K = 7  # hash functions


def _bloom_pos_duck(j: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5(gram || ':{j}'), 1, 8)) AS BIGINT)"
        f" % {_BLOOM_M}"
    )


def _bloom_membership_duck() -> str:
    return " AND ".join(
        f"({_bloom_pos_duck(j)}) IN (SELECT pos FROM bits)" for j in range(_BLOOM_K)
    )


@query(
    "x_bloom_decontaminate",
    f"""
    WITH g AS (
        SELECT doc_id, source, {_shingle_duck_n(_DECON_N)} AS g
        FROM documents
    ), ev AS (
        SELECT DISTINCT unnest(g) AS gram FROM g WHERE source = '{_EVAL_SRC}'
    ), bits AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(gram || ':' || CAST(j AS VARCHAR)),
                                        1, 8)) AS BIGINT) % {_BLOOM_M} AS pos
        FROM ev, range(0, {_BLOOM_K}) t(j)
    ), occ AS (
        SELECT doc_id, source, len(g) AS n_grams, unnest(g) AS gram
        FROM g WHERE source <> '{_EVAL_SRC}'
    ), m AS (
        SELECT doc_id, source, n_grams, gram,
               (gram IN (SELECT gram FROM ev)) AS eh,
               ({_bloom_membership_duck()}) AS bh
        FROM occ
    )
    SELECT doc_id, source, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN eh THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
           CAST(sum(CASE WHEN bh THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
           (sum(CASE WHEN eh THEN 1 ELSE 0 END) > 0) AS contaminated
    FROM m WHERE bh OR eh
    GROUP BY doc_id, source, n_grams
    """,
    survey_ids=(
        "training-pipeline: Bloom-filter decontamination — constant-size "
        "broadcast bit set replaces the eval gram-string broadcast; "
        "false-positive behavior deterministic and oracle-replicated"
    ),
)
def x_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_decontaminate's 100 TB-eval-set path: instead of broadcasting
    the eval 13-gram STRINGS (GBs for a big benchmark suite), broadcast
    a Bloom filter over them — <= 2^17 distinct set-bit positions
    (16 KiB of information, fixed regardless of eval size; bits add
    under union so per-benchmark filters merge for free). The probe is
    {_BLOOM_K} map-side broadcast hash joins on 8-byte positions — the
    training corpus is scanned once and never shuffled; only bloom-hit
    grams (true hits + the sketch's false positives) reach the per-doc
    aggregate.

    Positions are md5-derived (not xxhash64) ON PURPOSE: the whole
    sketch — including its false positives — is deterministic and
    exactly replicated by the DuckDB oracle, so `bloom_hits` is
    hash-checked value-for-value, a strictly stronger check than an
    in-plan bound boolean. No false negatives by construction (an eval
    gram's own positions are always set), so `exact_hits <=
    bloom_hits` row-by-row; rows with exact_hits = 0 and bloom_hits > 0
    are the observable FP rate of the m={_BLOOM_M}, k={_BLOOM_K}
    configuration on this corpus.
    """
    from functools import reduce as _reduce
    from operator import and_ as _and

    def bloom_pos(col: Column, j: int) -> Column:
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(col, F.lit(f":{j}"))), 1, 8), 16, 10
            ).cast("bigint"),
            F.lit(_BLOOM_M),
        )

    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", "source", token_shingles(F.col("text"), _DECON_N).alias("g")
    )
    ev = (
        g.filter(F.col("source") == _EVAL_SRC)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    bits = (
        ev.select(
            F.explode(
                F.array(*[bloom_pos(F.col("gram"), j) for j in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    probe = g.filter(F.col("source") != _EVAL_SRC).select(
        "doc_id",
        "source",
        F.size("g").cast("long").alias("n_grams"),
        F.explode("g").alias("gram"),
    )
    # One broadcast build, reusable 7 times: every join's build side is
    # the SAME canonical `bits` subtree (only the alias differs, and
    # canonicalization normalizes that away), so AQE's stage cache can
    # serve one materialized broadcast to all 7 joins. Projecting the
    # per-j marker INSIDE the broadcast (the obvious formulation) makes
    # each build canonically distinct and forces 7 eval-scan rebuilds.
    bitsb = F.broadcast(bits)
    for j in range(_BLOOM_K):
        bj = bitsb.alias(f"b{j}")
        probe = (
            probe.withColumn(f"pos{j}", bloom_pos(F.col("gram"), j))
            .join(bj, F.col(f"pos{j}") == F.col(f"b{j}.pos"), "left")
            .withColumn(f"f{j}", F.col(f"b{j}.pos").isNotNull())
            .drop(F.col(f"b{j}.pos"))
        )
    probe = probe.join(
        F.broadcast(ev.withColumn("ex", F.lit(True))), "gram", "left"
    )
    bh = _reduce(
        _and, [F.coalesce(F.col(f"f{j}"), F.lit(False)) for j in range(_BLOOM_K)]
    )
    eh = F.coalesce(F.col("ex"), F.lit(False))
    return (
        probe.select("doc_id", "source", "n_grams", bh.alias("bh"), eh.alias("eh"))
        .filter(F.col("bh") | F.col("eh"))
        .groupBy("doc_id", "source", "n_grams")
        .agg(
            F.sum(F.col("eh").cast("long")).alias("exact_hits"),
            F.sum(F.col("bh").cast("long")).alias("bloom_hits"),
        )
        .select(
            "doc_id",
            "source",
            "n_grams",
            "exact_hits",
            "bloom_hits",
            (F.col("exact_hits") > 0).alias("contaminated"),
        )
    )


# --- Asymmetric containment near-dup ---------------------------------------

_CONTAIN_T = 0.9


@query(
    "dd_containment",
    f"""
    WITH sh AS (
        SELECT doc_id, lang, source, {_SHINGLE_DUCK} AS sh
        FROM documents
    ), nz AS (
        SELECT * FROM sh WHERE len(sh) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(a.sh), 6) AS containment
    FROM nz a JOIN nz b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(a.sh) >= {_CONTAIN_T}
    """,
    survey_ids=(
        "dedup: directed containment near-dup (|A∩B|/|A| — short doc "
        "quoted/embedded inside a longer one, the asymmetric case "
        "Jaccard resemblance misses); prefix-filtered inverted index"
    ),
)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs C(A,B) = |A∩B|/|A| >= 0.9 over 3-token
    shingles with (lang, source) blocking — finds documents mostly
    CONTAINED in another (excerpts, quote pages, boilerplate inclusion)
    which resemblance-based dedup structurally misses: a 100-shingle doc
    inside a 10,000-shingle doc has Jaccard ~0.01 but containment 1.0.

    Same 64-bit shingle-hash + prefix-filtered inverted-index machinery
    as dd_ngram_jaccard; only the probe side prefix-truncates (the
    index side must post all shingles — see
    operators/dedup.containment_prefix_join for the losslessness
    argument), and the size prune is one-directional (|B| >= t|A|).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "lang",
        "source",
        F.transform(token_shingles(F.col("text"), 3), lambda s: F.xxhash64(s)).alias(
            "sh"
        ),
    )
    return containment_prefix_join(
        sh, "doc_id", "sh", threshold=_CONTAIN_T, block_cols=("lang", "source")
    ).select("id_a", "id_b", "containment")


_SUBSTR_TOK_K = 5  # minimum duplicated run, in tokens


@query(
    "x_exact_substr_token_spans",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
        WHERE len({_TOKS_DUCK}) >= {_SUBSTR_TOK_K}
          AND length(trim(text)) > 0
    ), pos AS (
        SELECT doc_id, i,
               array_to_string(list_slice(toks, CAST(i AS INTEGER),
                               CAST(i + {_SUBSTR_TOK_K - 1} AS INTEGER)), ' ')
                   AS gram
        FROM (SELECT doc_id, toks,
                     unnest(range(1, CAST(len(toks) AS BIGINT)
                                     - {_SUBSTR_TOK_K - 2})) AS i
              FROM t)
    ), dup AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS c FROM pos
        ) WHERE c >= 2
    ), brks AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         <= {_SUBSTR_TOK_K}
                    THEN 0 ELSE 1 END AS brk
        FROM dup
    ), runs AS (
        SELECT doc_id, i,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM brks
    )
    SELECT doc_id, CAST(min(i) AS BIGINT) AS tok_start,
           CAST(max(i) - min(i) + {_SUBSTR_TOK_K} AS BIGINT) AS tok_len
    FROM runs GROUP BY doc_id, run
    """,
    survey_ids=(
        "training-pipeline 100TB path: token-level ExactSubstr — the "
        "declared volume knob of x_exact_substr_spans made real "
        "(~5x fewer positions than char grams at the same semantic "
        "dedup power)"
    ),
)
def x_exact_substr_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level twin of x_exact_substr_spans: maximal duplicated runs
    of >= 5 TOKENS, positions indexed in token space. Same two-phase
    exact machinery (8-byte hash prefilter, gram confirm on survivors,
    per-doc gaps-and-islands merge) over ~5x fewer positions than the
    char-gram arm — this is the volume knob the char version's
    docstring names for 100 TB, registered with its own exact oracle
    (Lee et al. 2022 dedup at 50-token granularity is the published
    operating point; 5 here so the frozen corpora exercise nontrivial
    spans).
    """
    docs = load_table(spark, sf_dir, "documents")
    k = _SUBSTR_TOK_K
    t = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", textan.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= k)
    pos = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1))).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.expr(f"concat_ws(' ', slice(toks, i, {k}))").alias("gram"),
    )
    hashed = pos.withColumn("h", F.xxhash64("gram"))
    cand_h = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    surv = hashed.join(cand_h, "h", "left_semi")
    # Exact gram confirmation as ONE window count over the survivor
    # frame instead of groupBy(gram) + a second semi-join: the join
    # form re-executed the explode+hash map work for the dup_grams
    # branch (map-side subtrees carry no exchange for reuse to dedupe —
    # measured 2.08 -> 1.44s at sf0.1), and at scale it would broadcast
    # a duplicated-gram list of unbounded size; the window shuffles the
    # survivor rows (duplicated-content-sized) once by gram, a
    # high-cardinality key, so no partition is corpus-proportional.
    # Same law: count per gram within surv, keep >= 2.
    wg = Window.partitionBy("gram")
    covered = (
        surv.withColumn("gc", F.count(F.lit(1)).over(wg))
        .filter(F.col("gc") >= 2)
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(F.col("i") - F.lag("i").over(w) <= k, F.lit(0)).otherwise(F.lit(1))
    runs = covered.withColumn("brk", brk).withColumn(
        "run", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return runs.groupBy("doc_id", "run").agg(
        F.min("i").cast("bigint").alias("tok_start"),
        (F.max("i") - F.min("i") + F.lit(k)).cast("bigint").alias("tok_len"),
    ).select("doc_id", "tok_start", "tok_len")


_SUBSTR_STRIDE = 4  # position-lattice sampling step for the stride variant


@query(
    "x_exact_substr_spans_stride",
    "WITH " + _substr_spans_ctes(_SUBSTR_STRIDE)
    + "SELECT doc_id, span_start, span_len FROM spans",
    survey_ids=(
        "training-pipeline 100TB path: stride-sampled ExactSubstr — the "
        "second declared volume knob of x_exact_substr_spans made real "
        "(position lattice i==1 mod s; explode, hash and the dominant "
        "phase-1 shuffle all divide by s)"
    ),
)
def x_exact_substr_spans_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-s twin of x_exact_substr_spans (s=4): the same two-phase
    hash-prefilter machinery over the i == 1 (mod s) position lattice.
    See _exact_substr_spans_df's stride notes for exactly what is and
    is not guaranteed; x_exact_substr_stride_cert certifies span
    containment (a theorem) and measures realized recall against the
    exact arm. The oracle is _substr_spans_ctes with a range() step —
    the identical SQL shape as the exact oracle, so the hash gate
    checks the sampled operator's full output, not a summary."""
    return _exact_substr_spans_df(
        load_table(spark, sf_dir, "documents"), stride=_SUBSTR_STRIDE
    )


@query(
    "x_exact_substr_stride_cert",
    "WITH " + _substr_spans_ctes() + ", " + _substr_spans_ctes(_SUBSTR_STRIDE, "_s")
    + """
    , ed AS (
        SELECT doc_id, sum(span_len) AS exact_dup_chars
        FROM spans GROUP BY doc_id
    ), sd AS (
        SELECT doc_id, sum(span_len) AS stride_dup_chars
        FROM spans_s GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(ed.exact_dup_chars, 0) AS BIGINT) AS exact_dup_chars,
           CAST(coalesce(sd.stride_dup_chars, 0) AS BIGINT) AS stride_dup_chars,
           TRUE AS contained_in_exact
    FROM documents d
    LEFT JOIN ed ON ed.doc_id = d.doc_id
    LEFT JOIN sd ON sd.doc_id = d.doc_id
    """,
    survey_ids=(
        "training-pipeline: agreement certification of the stride-sampled "
        "ExactSubstr vs the exact arm (a5 pattern) — per-doc recall "
        "observable, span containment certified in-plan"
    ),
)
def x_exact_substr_stride_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the stride variant against the exact arm, per document:

    - exact_dup_chars / stride_dup_chars: duplicated-character budgets
      from each arm (spans are disjoint in both, so sums are true
      budgets) — BOTH value-checked against a DuckDB oracle that
      recomputes both span sets, so the stride arm's whole output is
      re-derived independently, and realized recall
      (stride/exact) is directly observable per doc and corpus-wide.
    - contained_in_exact: Spark-computed `forall(stride spans, exists
      exact span containing it)`; oracle side is literal TRUE because
      containment is a THEOREM — a stride-covered position's gram is
      duplicated among sampled grams, hence corpus-wide, hence
      exact-covered, and island merging over a position superset with
      the same gap rule only extends intervals. A violation means the
      implementation (not the sampling) broke, flipping the boolean
      and failing the hash gate.

    Scale shape: both arms' span outputs are duplicated-content-sized;
    the per-doc span arrays are doc-bounded, the containment check is a
    higher-order forall/exists over those arrays (no join explosion),
    and the only corpus-sized input is the shared documents scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _substr_sampled_cert_df(
        docs, _exact_substr_spans_df(docs, stride=_SUBSTR_STRIDE),
        "stride_dup_chars",
    )


def _substr_sampled_cert_df(
    docs: DataFrame, sampled: DataFrame, sampled_col: str
) -> DataFrame:
    """Shared body of the sampled-ExactSubstr agreement certs (stride +
    content-defined): per-doc dup-char budgets from the exact arm and
    the sampled arm, plus the span-containment theorem boolean. See
    x_exact_substr_stride_cert for the proof sketch; it applies to ANY
    sampled position subset — both stride lattices and content-defined
    gram selection produce covered sets that are subsets of the exact
    covered set, so island merging can only yield contained spans."""
    ex = _exact_substr_spans_df(docs)
    span_arr = F.array_sort(F.collect_list(F.struct("span_start", "span_len")))
    earr = ex.groupBy("doc_id").agg(span_arr.alias("e"))
    sarr = sampled.groupBy("doc_id").agg(span_arr.alias("s"))
    empty = F.expr("array()").cast(
        "array<struct<span_start:bigint,span_len:bigint>>"
    )
    j = (
        docs.select("doc_id")
        .join(earr, "doc_id", "left")
        .join(sarr, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("e", empty).alias("e"),
            F.coalesce("s", empty).alias("s"),
        )
    )

    def _sum_len(c: str):
        return F.expr(
            f"aggregate({c}, cast(0 as bigint), (acc, x) -> acc + x.span_len)"
        )

    contained = F.expr(
        "forall(s, sp -> exists(e, ep -> ep.span_start <= sp.span_start"
        " and sp.span_start + sp.span_len <= ep.span_start + ep.span_len))"
    )
    return j.select(
        "doc_id",
        _sum_len("e").alias("exact_dup_chars"),
        _sum_len("s").alias(sampled_col),
        contained.alias("contained_in_exact"),
    )


_CDS_MOD = 4  # expected 1-in-4 content-defined gram sampling
# Cross-engine sampling hash: first 8 md5 hex chars as a 32-bit int —
# Spark conv(substr(md5(g),1,8),16,10) == DuckDB CAST('0x'||... AS BIGINT)
# (the repo's deterministic-randomness convention; xxhash64 has no DuckDB
# twin).
_CDS_PRED_DUCK = (
    f"CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) % {_CDS_MOD} = 0"
)


@query(
    "x_exact_substr_spans_cds",
    "WITH " + _substr_spans_ctes(sample_pred=_CDS_PRED_DUCK)
    + "SELECT doc_id, span_start, span_len FROM spans",
    survey_ids=(
        "training-pipeline 100TB path: content-defined-sampled "
        "ExactSubstr (winnowing/MOD-p gram selection, hash % 4 == 0) — "
        "ALIGNMENT-INVARIANT volume knob: the phase-1 shuffle carries "
        "1/s of the rows and a gram is sampled in every occurrence or "
        "none, so detection has no phase condition"
    ),
)
def x_exact_substr_spans_cds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-sampling twin of x_exact_substr_spans: keep only
    grams whose md5-derived 32-bit hash is 0 mod 4, then run the
    identical two-phase machinery and island merge. See
    _exact_substr_spans_df's sample_mod notes for the exact semantics
    and the stride-vs-CDS cost trade; x_exact_substr_cds_cert
    certifies containment and measures realized recall. Full DuckDB
    oracle — the sampling predicate replicates bit-for-bit across
    engines."""
    return _exact_substr_spans_df(
        load_table(spark, sf_dir, "documents"), sample_mod=_CDS_MOD
    )


@query(
    "x_exact_substr_cds_cert",
    "WITH " + _substr_spans_ctes()
    + ", "
    + _substr_spans_ctes(sfx="_s", sample_pred=_CDS_PRED_DUCK)
    + """
    , ed AS (
        SELECT doc_id, sum(span_len) AS exact_dup_chars
        FROM spans GROUP BY doc_id
    ), sd AS (
        SELECT doc_id, sum(span_len) AS cds_dup_chars
        FROM spans_s GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(ed.exact_dup_chars, 0) AS BIGINT) AS exact_dup_chars,
           CAST(coalesce(sd.cds_dup_chars, 0) AS BIGINT) AS cds_dup_chars,
           TRUE AS contained_in_exact
    FROM documents d
    LEFT JOIN ed ON ed.doc_id = d.doc_id
    LEFT JOIN sd ON sd.doc_id = d.doc_id
    """,
    survey_ids=(
        "training-pipeline: agreement certification of the "
        "content-defined-sampled ExactSubstr vs the exact arm (a5 "
        "pattern) — realized recall observable per doc, span "
        "containment certified in-plan"
    ),
)
def x_exact_substr_cds_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_exact_substr_stride_cert's twin for the content-defined
    sampling arm: both dup-char budgets value-checked (the oracle
    recomputes both span sets, sampling predicate replicated), span
    containment certified in-plan. The containment theorem is even
    tighter here: a sampled gram's count among sampled positions EQUALS
    its full count (alignment invariance), so covered(cds) is exactly
    exact-covered ∩ selected."""
    docs = load_table(spark, sf_dir, "documents")
    return _substr_sampled_cert_df(
        docs,
        _exact_substr_spans_df(docs, sample_mod=_CDS_MOD),
        "cds_dup_chars",
    )


# --- Temperature-based mixture resampling + token-budget allocation --------
# The multilingual pre-training mixture law (Conneau et al. 2020 XLM-R /
# Xue et al. 2021 mT5): sampling share q_i proportional to p_i^alpha
# flattens the language distribution (alpha < 1 upsamples low-resource
# languages), and a fixed token budget is then apportioned across
# languages by q_i.

_TEMP_ALPHA = 0.3  # the XLM-R operating point
_TEMP_BUDGET = 10_000  # corpus token budget for the allocator

# Per-lang temperature weights as a DuckDB CTE chain ending in
# qs(lang, n_l, n, q). Double discipline: the alpha-power is rounded to
# 9dp and summed as DECIMAL (partition-order independence + a 1-ulp
# cross-engine pow() difference cannot leak past the rounding), q is
# re-rounded to 9dp after the normalization divide. `src` parametrizes
# the input relation so e2e slices can run the mixture law over an
# already-gated corpus CTE.
def _temp_qs_ctes(src: str = "documents") -> str:
    return f"""lc AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_l
        FROM {src} GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(n_l) AS BIGINT) AS n FROM lc
    ), wts AS (
        SELECT lang, n_l, n,
               CAST(ROUND(POWER(CAST(n_l AS DOUBLE) / n, {_TEMP_ALPHA}), 9)
                    AS DECIMAL(18,9)) AS w
        FROM lc, tot
    ), sw AS (
        SELECT CAST(SUM(w) AS DECIMAL(28,9)) AS s FROM wts
    ), qs AS (
        SELECT lang, n_l, n,
               ROUND(CAST(w AS DOUBLE) / CAST(s AS DOUBLE), 9) AS q
        FROM wts, sw
    )"""


_TEMP_QS_CTES = _temp_qs_ctes()


def _lang_temperature_q(docs: DataFrame) -> DataFrame:
    """Spark twin of _TEMP_QS_CTES: (lang, n_l, n, q). The per-lang
    table is |langs| rows (a model-sized frame); every arithmetic step
    mirrors the SQL exactly — 9dp-rounded DECIMAL power sum, 9dp q."""
    lc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    tot = lc.agg(F.sum("n_l").cast("bigint").alias("n"))
    wts = lc.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_l",
        "n",
        F.round(
            F.pow(F.col("n_l").cast("double") / F.col("n"), _TEMP_ALPHA), 9
        )
        .cast("decimal(18,9)")
        .alias("w"),
    )
    sw = wts.agg(F.sum("w").cast("decimal(28,9)").alias("s"))
    return wts.crossJoin(F.broadcast(sw)).select(
        "lang",
        "n_l",
        "n",
        F.round(F.col("w").cast("double") / F.col("s").cast("double"), 9).alias(
            "q"
        ),
    )


@query(
    "x_temperature_resample",
    f"""
    WITH {_TEMP_QS_CTES}, rates AS (
        SELECT lang, n_l, ROUND(n * q / n_l, 6) AS rate FROM qs
    )
    SELECT d.doc_id, d.lang,
           CAST(r.n_l AS BIGINT) AS n_docs_lang,
           r.rate AS sample_rate,
           CAST(FLOOR(r.rate) AS BIGINT)
               + CASE WHEN CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)),
                                               1, 8)) AS BIGINT) % 1000000
                       < CAST(ROUND((r.rate - FLOOR(r.rate)) * 1000000)
                              AS BIGINT)
                      THEN 1 ELSE 0 END AS n_copies
    FROM documents d JOIN rates r ON d.lang = r.lang
    """,
    survey_ids=(
        "training-pipeline: temperature mixture resampling (Conneau 2020 "
        "alpha=0.3) — per-lang rate n*q_i/n_i, per-doc deterministic "
        "copy count (floor + hash-Bernoulli on the fraction); upsampled "
        "languages repeat docs, downsampled ones drop them"
    ),
)
def x_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to the temperature mixture: language i's
    expected share of the resampled corpus is q_i ∝ p_i^0.3, keeping
    total size N. Per-doc copy count is floor(rate) plus a
    deterministic hash-Bernoulli draw on the fractional part (the
    repo's md5-conv uniform, compared as integers in millionths so a
    1-ulp pow() divergence cannot flip a draw) — n_copies=0 drops the
    doc, >=2 repeats it (the standard low-resource upsampling
    semantics). Scale shape: the mixture table is |langs| rows
    (broadcast); the corpus is scanned once map-side; no shuffle of
    document data at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    rates = _lang_temperature_q(docs).select(
        "lang",
        "n_l",
        F.round(F.col("n") * F.col("q") / F.col("n_l"), 6).alias("rate"),
    )
    u6 = (
        F.expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)")
        .cast("bigint")
        % 1000000
    )
    thresh = F.round((F.col("rate") - F.floor("rate")) * 1000000).cast("bigint")
    return docs.join(F.broadcast(rates), "lang").select(
        "doc_id",
        "lang",
        F.col("n_l").cast("bigint").alias("n_docs_lang"),
        F.col("rate").alias("sample_rate"),
        (
            F.floor("rate").cast("bigint")
            + F.when(u6 < thresh, 1).otherwise(0)
        ).alias("n_copies"),
    )


@query(
    "x_temperature_resample_dedup",
    f"""
    WITH fp AS (
        SELECT doc_id, lang,
               substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)
                   AS fingerprint
        FROM documents
    ), wdoc AS (
        SELECT doc_id, lang,
               CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT)
                   AS n_copies,
               CAST(ROUND(CAST(1.0 AS DOUBLE)
                          / COUNT(*) OVER (PARTITION BY fingerprint), 9)
                    AS DECIMAL(18,9)) AS w
        FROM fp
    ), lc AS (
        SELECT lang, CAST(SUM(w) AS DECIMAL(28,9)) AS n_eff,
               CAST(COUNT(*) AS BIGINT) AS n_raw
        FROM wdoc GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(n_eff) AS DECIMAL(38,9)) AS n_eff_tot,
               CAST(SUM(n_raw) AS BIGINT) AS n
        FROM lc
    ), wts AS (
        SELECT lang, n_eff, n,
               CAST(ROUND(POWER(CAST(n_eff AS DOUBLE)
                                / CAST(n_eff_tot AS DOUBLE), {_TEMP_ALPHA}), 9)
                    AS DECIMAL(18,9)) AS tw
        FROM lc, tot
    ), sw AS (
        SELECT CAST(SUM(tw) AS DECIMAL(28,9)) AS s FROM wts
    ), qs AS (
        SELECT lang, n_eff, n,
               ROUND(CAST(tw AS DOUBLE) / CAST(s AS DOUBLE), 9) AS q
        FROM wts, sw
    ), rated AS (
        SELECT d.doc_id, d.lang, d.n_copies,
               ROUND(CAST(r.n_eff AS DOUBLE), 6) AS eff_docs_lang,
               ROUND(r.n * r.q * CAST(d.w AS DOUBLE)
                     / CAST(r.n_eff AS DOUBLE), 6) AS sample_rate
        FROM wdoc d JOIN qs r ON d.lang = r.lang
    )
    SELECT doc_id, lang, n_copies, eff_docs_lang, sample_rate,
           CAST(FLOOR(sample_rate) AS BIGINT)
               + CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8)) AS BIGINT) % 1000000
                       < CAST(ROUND((sample_rate - FLOOR(sample_rate))
                                    * 1000000) AS BIGINT)
                      THEN 1 ELSE 0 END AS n_draws
    FROM rated
    """,
    survey_ids=(
        "training-pipeline: DEDUP-AWARE temperature resampling — the "
        "mixture law over effective counts n_eff = sum(1/n_copies) "
        "(x_soft_dedup_weights composed into the Conneau 2020 law), so "
        "duplicate-heavy languages stop buying budget with boilerplate "
        "and a doc's rate is shared across its copy family"
    ),
)
def x_temperature_resample_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_temperature_resample with the honest interaction of its two
    certified inputs: raw per-lang counts overstate a language whose
    mass is exact-duplicate boilerplate, so the mixture weights are
    computed over EFFECTIVE counts n_eff_l = sum over docs of
    1/n_copies (the x_soft_dedup_weights suppression weight), and each
    doc's rate is its weighted share of the language budget —
    rate = N * q_l * w_doc / n_eff_l. Copies of a k-family split one
    doc's worth of rate k ways (total corpus-mass law: rates sum to N
    exactly as in the raw op), and a language that is 90% duplicates
    gets the budget of its unique content, not its row count.

    Decimal discipline as the raw op, one level deeper: w_doc is
    1/n_copies rounded 9dp then summed as DECIMAL (order-independent),
    the alpha-power of the effective share is 9dp DECIMAL, q re-rounded
    9dp, the per-doc rate 6dp; the Bernoulli draw compares integer
    millionths of the ROUNDED rate, so a 1-ulp pow()/divide divergence
    cannot flip a draw.

    Scale shape: ONE corpus shuffle (the fingerprint window — shared
    with x_soft_dedup_weights's plan, same key); the lang frames are
    model-sized broadcasts; the rate/draw stage is map-side. The only
    addition over the raw op's zero-shuffle plan is the dedup
    fingerprint exchange the weights op already pays.
    """
    docs = load_table(spark, sf_dir, "documents")
    wfp = Window.partitionBy("fingerprint")
    wdoc = docs.select(
        "doc_id",
        "lang",
        textan.doc_fingerprint(F.col("text")).alias("fingerprint"),
    ).select(
        "doc_id",
        "lang",
        F.count("*").over(wfp).cast("bigint").alias("n_copies"),
        F.round(F.lit(1.0) / F.count("*").over(wfp), 9)
        .cast("decimal(18,9)")
        .alias("w"),
    )
    lc = wdoc.groupBy("lang").agg(
        F.sum("w").cast("decimal(28,9)").alias("n_eff"),
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
    )
    tot = lc.agg(
        F.sum("n_eff").cast("decimal(38,9)").alias("n_eff_tot"),
        F.sum("n_raw").cast("bigint").alias("n"),
    )
    wts = lc.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_eff",
        "n",
        F.round(
            F.pow(
                F.col("n_eff").cast("double")
                / F.col("n_eff_tot").cast("double"),
                _TEMP_ALPHA,
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("tw"),
    )
    sw = wts.agg(F.sum("tw").cast("decimal(28,9)").alias("s"))
    qs = wts.crossJoin(F.broadcast(sw)).select(
        "lang",
        "n_eff",
        "n",
        F.round(F.col("tw").cast("double") / F.col("s").cast("double"), 9).alias(
            "q"
        ),
    )
    rate = F.round(
        F.col("n")
        * F.col("q")
        * F.col("w").cast("double")
        / F.col("n_eff").cast("double"),
        6,
    )
    rated = wdoc.join(F.broadcast(qs), "lang").select(
        "doc_id",
        "lang",
        "n_copies",
        F.round(F.col("n_eff").cast("double"), 6).alias("eff_docs_lang"),
        rate.alias("sample_rate"),
    )
    u6 = (
        F.expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)")
        .cast("bigint")
        % 1000000
    )
    thresh = F.round(
        (F.col("sample_rate") - F.floor("sample_rate")) * 1000000
    ).cast("bigint")
    return rated.select(
        "doc_id",
        "lang",
        "n_copies",
        "eff_docs_lang",
        "sample_rate",
        (
            F.floor("sample_rate").cast("bigint")
            + F.when(u6 < thresh, 1).otherwise(0)
        ).alias("n_draws"),
    )


@query(
    "x_token_budget_alloc",
    f"""
    WITH {_TEMP_QS_CTES}, rem AS (
        SELECT lang, q,
               CAST(FLOOR({_TEMP_BUDGET} * q) AS BIGINT) AS base,
               {_TEMP_BUDGET} * q - FLOOR({_TEMP_BUDGET} * q) AS r
        FROM qs
    ), lv AS (
        SELECT CAST({_TEMP_BUDGET} - SUM(base) AS BIGINT) AS leftover FROM rem
    ), rk AS (
        SELECT lang, base,
               ROW_NUMBER() OVER (ORDER BY r DESC, lang) AS rr
        FROM rem
    ), alloc AS (
        SELECT lang,
               base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS b_l
        FROM rk, lv
    ), t AS (
        SELECT doc_id, lang,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok
        FROM documents
    ), c AS (
        SELECT doc_id, lang, ntok,
               CAST(COALESCE(SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_prev
        FROM t
    )
    SELECT c.doc_id, c.lang, CAST(c.ntok AS BIGINT) AS ntok,
           CAST(a.b_l AS BIGINT) AS lang_budget,
           c.cum_prev,
           CAST(least(greatest(a.b_l - c.cum_prev, 0), c.ntok) AS BIGINT)
               AS tokens_taken,
           least(greatest(a.b_l - c.cum_prev, 0), c.ntok) > 0 AS kept
    FROM c JOIN alloc a ON c.lang = a.lang
    """,
    survey_ids=(
        "training-pipeline: token-budget allocation — a fixed corpus "
        "budget apportioned across languages by the temperature mixture "
        "(largest-remainder rounding, sums exactly to the budget), then "
        "filled per lang by deterministic prefix-sum greedy selection "
        "with a truncated boundary doc"
    ),
)
def x_token_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a {_TEMP_BUDGET}-token corpus budget at the temperature
    mixture: each language gets b_i tokens by largest-remainder
    apportionment of B*q_i (the b_i sum to B exactly — floor everything,
    then +1 to the largest fractional remainders, ties by lang), and
    docs fill their language's budget in deterministic doc_id order via
    the x_pack_sequences prefix-sum, the boundary doc truncated
    (tokens_taken < ntok). Output per doc: its language's budget, its
    cumulative offset, tokens taken, kept flag.

    Scale shape: the apportionment is a |langs|-row frame (its rank
    window is |langs| rows on one partition — model-sized by
    construction); the corpus side is ONE shuffle keyed by lang for the
    running-sum window, the same distributed-prefix posture (and the
    same mega-partition salting remedy) as x_pack_sequences; the
    budget table joins back by broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = F.lit(_TEMP_BUDGET)
    rem = _lang_temperature_q(docs).select(
        "lang",
        F.floor(b * F.col("q")).cast("bigint").alias("base"),
        (b * F.col("q") - F.floor(b * F.col("q"))).alias("r"),
    )
    lv = rem.agg((b - F.sum("base")).cast("bigint").alias("leftover"))
    rk = rem.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("r"), F.asc("lang")))
    )
    alloc = rk.crossJoin(F.broadcast(lv)).select(
        "lang",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("b_l"),
    )
    ntok = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(textan.tokens(F.col("text"))))
        .cast("long")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = docs.select("doc_id", "lang", ntok.alias("ntok")).withColumn(
        "cum_prev", F.coalesce(F.sum("ntok").over(w), F.lit(0)).cast("bigint")
    )
    taken = F.least(
        F.greatest(F.col("b_l") - F.col("cum_prev"), F.lit(0)), F.col("ntok")
    )
    return c.join(F.broadcast(alloc), "lang").select(
        "doc_id",
        "lang",
        F.col("ntok").cast("bigint").alias("ntok"),
        F.col("b_l").cast("bigint").alias("lang_budget"),
        "cum_prev",
        taken.cast("bigint").alias("tokens_taken"),
        (taken > 0).alias("kept"),
    )


@query(
    "x_token_budget_dedup",
    f"""
    WITH fp AS (
        SELECT doc_id, lang,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok,
               substring(sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16)
                   AS fingerprint
        FROM documents
    ), wdoc AS (
        SELECT doc_id, lang, ntok,
               ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id)
                   = 1 AS is_canonical,
               CAST(ROUND(CAST(1.0 AS DOUBLE)
                          / COUNT(*) OVER (PARTITION BY fingerprint), 9)
                    AS DECIMAL(18,9)) AS w
        FROM fp
    ), lc AS (
        SELECT lang, CAST(SUM(w) AS DECIMAL(28,9)) AS n_eff FROM wdoc
        GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(n_eff) AS DECIMAL(38,9)) AS n_eff_tot FROM lc
    ), wts AS (
        SELECT lang,
               CAST(ROUND(POWER(CAST(n_eff AS DOUBLE)
                                / CAST(n_eff_tot AS DOUBLE), {_TEMP_ALPHA}), 9)
                    AS DECIMAL(18,9)) AS tw
        FROM lc, tot
    ), sw AS (
        SELECT CAST(SUM(tw) AS DECIMAL(28,9)) AS s FROM wts
    ), qs AS (
        SELECT lang, ROUND(CAST(tw AS DOUBLE) / CAST(s AS DOUBLE), 9) AS q
        FROM wts, sw
    ), rem AS (
        SELECT lang,
               CAST(FLOOR({_TEMP_BUDGET} * q) AS BIGINT) AS base,
               {_TEMP_BUDGET} * q - FLOOR({_TEMP_BUDGET} * q) AS r
        FROM qs
    ), lv AS (
        SELECT CAST({_TEMP_BUDGET} - SUM(base) AS BIGINT) AS leftover FROM rem
    ), rk AS (
        SELECT lang, base,
               ROW_NUMBER() OVER (ORDER BY r DESC, lang) AS rr
        FROM rem
    ), alloc AS (
        SELECT lang,
               base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS b_l
        FROM rk, lv
    ), c AS (
        SELECT doc_id, lang, ntok, is_canonical,
               CASE WHEN is_canonical THEN
                   CAST(COALESCE(SUM(CASE WHEN is_canonical THEN ntok END)
                       OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT)
               ELSE -1 END AS cum_prev
        FROM wdoc
    )
    SELECT c.doc_id, c.lang, c.is_canonical, CAST(c.ntok AS BIGINT) AS ntok,
           CAST(a.b_l AS BIGINT) AS lang_budget, c.cum_prev,
           CAST(CASE WHEN c.is_canonical
                THEN least(greatest(a.b_l - c.cum_prev, 0), c.ntok)
                ELSE 0 END AS BIGINT) AS tokens_taken,
           c.is_canonical
               AND least(greatest(a.b_l - c.cum_prev, 0), c.ntok) > 0 AS kept
    FROM c JOIN alloc a ON c.lang = a.lang
    """,
    survey_ids=(
        "training-pipeline: DEDUP-AWARE token budget — apportionment "
        "over effective counts n_eff = sum(1/n_copies) and greedy fill "
        "over hard-dedup CANONICAL docs only (the 'budget the clean "
        "corpus' law: three certified ops — soft-dedup weights, "
        "temperature mixture, largest-remainder budget — composed into "
        "the run a curation owner actually executes)"
    ),
)
def x_token_budget_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_token_budget_alloc with dedup composed in at both ends: the
    per-lang budget shares q come from EFFECTIVE counts (duplicates
    can't buy budget — x_temperature_resample_dedup's law), and the
    greedy prefix-sum fill runs over the hard-dedup CANONICAL docs
    only (a duplicate never spends budget its family already spent;
    non-canonical docs emit tokens_taken = 0, kept = false, cum_prev
    = -1 sentinel). Budgets still sum exactly to B (largest-remainder
    over the dedup-aware q).

    Scale shape: ONE fingerprint-keyed shuffle (shared with the
    soft-dedup-weights plan) + ONE lang-keyed prefix window over the
    canonical subset (same posture and salting remedy as
    x_token_budget_alloc — proven by x_pack_sequences_salted); all
    mixture/apportionment frames are |langs|-row broadcasts.
    """
    docs = load_table(spark, sf_dir, "documents")
    ntok = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(textan.tokens(F.col("text"))))
        .cast("long")
    )
    wfp = Window.partitionBy("fingerprint")
    wfo = Window.partitionBy("fingerprint").orderBy("doc_id")
    wdoc = docs.select(
        "doc_id",
        "lang",
        ntok.alias("ntok"),
        textan.doc_fingerprint(F.col("text")).alias("fingerprint"),
    ).select(
        "doc_id",
        "lang",
        "ntok",
        (F.row_number().over(wfo) == 1).alias("is_canonical"),
        F.round(F.lit(1.0) / F.count("*").over(wfp), 9)
        .cast("decimal(18,9)")
        .alias("w"),
    )
    lc = wdoc.groupBy("lang").agg(
        F.sum("w").cast("decimal(28,9)").alias("n_eff")
    )
    tot = lc.agg(F.sum("n_eff").cast("decimal(38,9)").alias("n_eff_tot"))
    wts = lc.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.pow(
                F.col("n_eff").cast("double")
                / F.col("n_eff_tot").cast("double"),
                _TEMP_ALPHA,
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("tw"),
    )
    sw = wts.agg(F.sum("tw").cast("decimal(28,9)").alias("s"))
    qs = wts.crossJoin(F.broadcast(sw)).select(
        "lang",
        F.round(F.col("tw").cast("double") / F.col("s").cast("double"), 9).alias(
            "q"
        ),
    )
    b = F.lit(_TEMP_BUDGET)
    rem = qs.select(
        "lang",
        F.floor(b * F.col("q")).cast("bigint").alias("base"),
        (b * F.col("q") - F.floor(b * F.col("q"))).alias("r"),
    )
    lv = rem.agg((b - F.sum("base")).cast("bigint").alias("leftover"))
    rk = rem.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("r"), F.asc("lang")))
    )
    alloc = rk.crossJoin(F.broadcast(lv)).select(
        "lang",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("b_l"),
    )
    wl = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    canon_tok = F.when(F.col("is_canonical"), F.col("ntok"))
    c = wdoc.withColumn(
        "cum_prev",
        F.when(
            F.col("is_canonical"),
            F.coalesce(F.sum(canon_tok).over(wl), F.lit(0)).cast("bigint"),
        ).otherwise(F.lit(-1)),
    )
    taken = F.when(
        F.col("is_canonical"),
        F.least(
            F.greatest(F.col("b_l") - F.col("cum_prev"), F.lit(0)),
            F.col("ntok"),
        ),
    ).otherwise(F.lit(0))
    return c.join(F.broadcast(alloc), "lang").select(
        "doc_id",
        "lang",
        "is_canonical",
        F.col("ntok").cast("bigint").alias("ntok"),
        F.col("b_l").cast("bigint").alias("lang_budget"),
        "cum_prev",
        taken.cast("bigint").alias("tokens_taken"),
        (F.col("is_canonical") & (taken > 0)).alias("kept"),
    )


# --- Output shard planning + manifest ---------------------------------------
# The write side of a curation engine: lay the corpus into fixed-size
# output shards in a deterministic global order and emit the manifest a
# downstream loader (or an integrity audit) consumes. Distinct from
# x_pack_sequences: BYTE-level, CROSS-source global layout, plus a
# content fingerprint per shard.

_SHARD_BYTES = 8192


@query(
    "x_shard_plan",
    f"""
    WITH c AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS bytes,
               CAST(COALESCE(SUM(n_chars) OVER (ORDER BY source, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_prev
        FROM documents
    )
    SELECT doc_id, source, bytes,
           cum_prev // {_SHARD_BYTES} AS shard_id,
           cum_prev % {_SHARD_BYTES} AS shard_offset,
           (cum_prev + greatest(bytes, 1) - 1) // {_SHARD_BYTES} AS shard_end
    FROM c
    """,
    survey_ids=(
        "training-pipeline: output shard planner — deterministic global "
        "(source, doc_id) byte layout into fixed 8 KiB shards WITHOUT a "
        "global sort (per-source prefix sums + a |sources|-row offset "
        "frame; oracle is the naive global window, value-hash-proving "
        "the decomposition)"
    ),
)
def x_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every doc its byte position in the corpus's output shard
    layout: docs laid end-to-end in global (source, doc_id) order, cut
    into {_SHARD_BYTES}-byte shards; emitted per doc: starting shard,
    byte offset there, and the shard its tail lands in (shard_end >
    shard_id = the doc straddles a boundary, exactly like
    x_pack_sequences' seq_end).

    NO GLOBAL SORT: the x_epoch_shuffle decomposition — the running sum
    inside each source partitions by source, the cross-source offset is
    a |sources|-row prefix-summed frame joined back by broadcast, and
    their sum equals the global prefix sum because the global order is
    (source, doc_id) and every earlier source contributes its whole
    byte total. The ORACLE is the naive single global window, so the
    hash gate proves the decomposition value-identical. At 100 TB the
    per-source windows are the only corpus-touching stage (one shuffle
    keyed by source; mega-source skew salts by doc_id range like
    x_pack_sequences documents).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("bytes")
    )
    w_in = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_in_src", F.coalesce(F.sum("bytes").over(w_in), F.lit(0))
    )
    # |sources|-row frame: totals prefix-summed in source order. The
    # window runs on one partition of ~|sources| rows — model-sized by
    # construction, never corpus-sized.
    w_off = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        t.groupBy("source")
        .agg(F.sum("bytes").alias("tot"))
        .withColumn("src_off", F.coalesce(F.sum("tot").over(w_off), F.lit(0)))
        .select("source", "src_off")
    )
    plan = c.join(F.broadcast(offs), "source").withColumn(
        "cum_prev", (F.col("src_off") + F.col("cum_in_src")).cast("bigint")
    )
    return plan.select(
        "doc_id",
        "source",
        "bytes",
        F.expr(f"cum_prev div {_SHARD_BYTES}").alias("shard_id"),
        (F.col("cum_prev") % _SHARD_BYTES).alias("shard_offset"),
        F.expr(
            f"(cum_prev + greatest(bytes, 1) - 1) div {_SHARD_BYTES}"
        ).alias("shard_end"),
    )


@query(
    "x_shard_manifest",
    f"""
    WITH c AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS bytes, text,
               CAST(COALESCE(SUM(n_chars) OVER (ORDER BY source, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_prev
        FROM documents
    ), p AS (
        SELECT doc_id, bytes, cum_prev,
               cum_prev // {_SHARD_BYTES} AS shard_id,
               CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h
        FROM c
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bytes) AS BIGINT) AS sum_bytes,
           arg_min(doc_id, cum_prev) AS first_doc_id,
           arg_max(doc_id, cum_prev) AS last_doc_id,
           CAST(SUM(h) AS BIGINT) AS content_sum
    FROM p GROUP BY shard_id
    """,
    survey_ids=(
        "training-pipeline: shard manifest — per-shard doc count, byte "
        "total, first/last doc and an order-independent md5-derived "
        "content checksum (the loader/integrity-audit sidecar of "
        "x_shard_plan)"
    ),
)
def x_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest a loader consumes next to x_shard_plan's layout:
    for each shard (docs attributed to the shard they START in),
    the doc count, byte total, first/last doc ids (min/max by byte
    position — a total order, so deterministic), and a content
    checksum: the exact BIGINT sum of each doc's md5-derived 32-bit
    hash — order-independent (sum), overflow-free (2^32 per term), and
    replicated bit-for-bit by the DuckDB oracle, so a corrupted or
    misattributed doc anywhere flips the manifest row. Same plan as
    x_shard_plan plus one combiner-friendly groupBy(shard_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("bytes"),
        F.expr("CAST(conv(substr(md5(text), 1, 8), 16, 10) AS BIGINT)").alias(
            "h"
        ),
    )
    w_in = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_in_src", F.coalesce(F.sum("bytes").over(w_in), F.lit(0))
    )
    w_off = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        t.groupBy("source")
        .agg(F.sum("bytes").alias("tot"))
        .withColumn("src_off", F.coalesce(F.sum("tot").over(w_off), F.lit(0)))
        .select("source", "src_off")
    )
    p = (
        c.join(F.broadcast(offs), "source")
        .withColumn(
            "cum_prev", (F.col("src_off") + F.col("cum_in_src")).cast("bigint")
        )
        .withColumn("shard_id", F.expr(f"cum_prev div {_SHARD_BYTES}"))
    )
    return p.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bytes").cast("bigint").alias("sum_bytes"),
        F.min_by("doc_id", "cum_prev").alias("first_doc_id"),
        F.max_by("doc_id", "cum_prev").alias("last_doc_id"),
        F.sum("h").cast("bigint").alias("content_sum"),
    )


# Salt-bucket width for the skew-remedy twin: doc_id ranges of this
# width become independent prefix-sum partitions. Data-independent (a
# pure function of doc_id), so the bucket boundaries never depend on a
# statistics pass; at 100 TB the width is sized to (mega-source rows /
# desired parallelism) the same way.
_SALT_W = 64


@query(
    "x_shard_plan_salted",
    f"""
    WITH c AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS bytes,
               CAST(COALESCE(SUM(n_chars) OVER (ORDER BY source, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_prev
        FROM documents
    )
    SELECT doc_id, source, bytes,
           cum_prev // {_SHARD_BYTES} AS shard_id,
           cum_prev % {_SHARD_BYTES} AS shard_offset,
           (cum_prev + greatest(bytes, 1) - 1) // {_SHARD_BYTES} AS shard_end
    FROM c
    """,
    survey_ids=(
        "training-pipeline: SALTED shard planner — the mega-source skew "
        "remedy for the whole distributed-prefix family made checkable: "
        "every source's running sum is split into doc_id-range salt "
        "buckets (independent window partitions), re-based by the "
        "bucket-totals prefix frame; the ORACLE is the unsalted naive "
        "global window, so the hash gate value-proves the three-level "
        "decomposition"
    ),
)
def x_shard_plan_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_shard_plan's output, computed through the SKEW REMEDY that the
    prefix-sum family (x_pack_sequences, x_token_budget_alloc,
    x_shard_plan) documents in prose: no window partition is ever a
    whole source. Each source's docs are split into doc_id-range salt
    buckets of width _SALT_W=64 (data-independent, order-preserving:
    bucket order == doc_id order), the running sum is computed inside
    each (source, salt) bucket, and two model-sized prefix frames
    re-base it — per-source bucket totals prefix-summed in salt order
    (|sources|x|salts| rows), then per-corpus source totals
    prefix-summed in source order (|sources| rows), both broadcast.

    cum_prev = src_off + bucket_off + cum_in_bucket equals the global
    prefix sum because the global order is (source, doc_id), doc_id
    order refines salt order, and every earlier bucket/source
    contributes its whole byte total. The ORACLE is x_shard_plan's
    naive single global window — identical output by construction, so
    the driver's value hash PROVES the salted decomposition (the
    x_epoch_shuffle pattern). At 100 TB this is the plan you actually
    run: a CommonCrawl-shaped mega-source no longer serializes into
    one window partition; the widest corpus-touching stage is keyed by
    (source, salt) with bounded partition width, and the only
    serial structures are the two broadcast frames.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("bytes"),
        F.expr(f"doc_id div {_SALT_W}").alias("salt"),
    )
    # Level 1: running sum INSIDE each (source, salt) bucket — the
    # corpus-touching window; partition width <= _SALT_W by construction.
    w_in = (
        Window.partitionBy("source", "salt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_in_bucket", F.coalesce(F.sum("bytes").over(w_in), F.lit(0))
    )
    # Level 2: per-(source) bucket totals, prefix-summed in salt order.
    # |sources| x |salt buckets| rows — model-sized, broadcast back.
    w_salt = (
        Window.partitionBy("source")
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boffs = (
        t.groupBy("source", "salt")
        .agg(F.sum("bytes").alias("btot"))
        .withColumn(
            "bucket_off", F.coalesce(F.sum("btot").over(w_salt), F.lit(0))
        )
        .select("source", "salt", "bucket_off", "btot")
    )
    # Level 3: cross-source offsets — x_shard_plan's |sources|-row frame,
    # derived from the SAME bucket totals (no second corpus pass).
    w_off = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        boffs.groupBy("source")
        .agg(F.sum("btot").alias("tot"))
        .withColumn("src_off", F.coalesce(F.sum("tot").over(w_off), F.lit(0)))
        .select("source", "src_off")
    )
    plan = (
        c.join(F.broadcast(boffs.select("source", "salt", "bucket_off")),
               ["source", "salt"])
        .join(F.broadcast(offs), "source")
        .withColumn(
            "cum_prev",
            (
                F.col("src_off") + F.col("bucket_off") + F.col("cum_in_bucket")
            ).cast("bigint"),
        )
    )
    return plan.select(
        "doc_id",
        "source",
        "bytes",
        F.expr(f"cum_prev div {_SHARD_BYTES}").alias("shard_id"),
        (F.col("cum_prev") % _SHARD_BYTES).alias("shard_offset"),
        F.expr(
            f"(cum_prev + greatest(bytes, 1) - 1) div {_SHARD_BYTES}"
        ).alias("shard_end"),
    )


@query(
    "x_eval_exposure",
    f"""
    WITH g AS (
        SELECT doc_id, source, {_shingle_duck_n(_DECON_N)} AS g
        FROM documents
    ), ev AS (
        SELECT doc_id, g FROM g WHERE source = '{_EVAL_SRC}'
    ), evg AS (
        SELECT doc_id, unnest(g) AS gram FROM ev
    ), tr AS (
        SELECT doc_id AS tdoc, unnest(g) AS gram
        FROM g WHERE source <> '{_EVAL_SRC}'
    ), hits AS (
        SELECT e.doc_id, e.gram, t.tdoc FROM evg e JOIN tr t ON e.gram = t.gram
    ), per AS (
        SELECT doc_id, COUNT(DISTINCT gram) AS n_hit_grams,
               COUNT(DISTINCT tdoc) AS n_train_docs
        FROM hits GROUP BY doc_id
    )
    SELECT ev.doc_id,
           CAST(len(ev.g) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
           CAST(COALESCE(p.n_train_docs, 0) AS BIGINT)
               AS n_exposing_train_docs,
           ROUND(CAST(COALESCE(p.n_hit_grams, 0) AS DOUBLE)
                 / greatest(len(ev.g), 1), 6) AS exposure,
           COALESCE(p.n_hit_grams, 0) > 0 AS compromised
    FROM ev LEFT JOIN per p ON p.doc_id = ev.doc_id
    """,
    survey_ids=(
        "training-pipeline: eval-set EXPOSURE report — the reverse "
        "direction of decontamination: per benchmark item, how many of "
        "its 13-grams and how many distinct training docs expose it "
        "(the 'which eval items must be discarded/renormalized' release "
        "table, GPT-3 appendix C's dirty-eval accounting)"
    ),
)
def x_eval_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_decontaminate looks from the training side (drop dirty train
    docs); this looks from the EVAL side: a benchmark item that leaked
    into training can't be fixed by dropping train docs you already
    trained on — the standard remedy is scoring clean and dirty eval
    subsets separately, which requires exactly this table: per eval
    doc, distinct 13-grams, how many are exposed in ANY training doc,
    how many distinct training docs expose it, and the compromised
    flag. Zero-hit items kept (the clean subset is the point).

    Scale shape: the EVAL side is the small one — exploded it stays
    benchmark-sized and broadcasts; the training corpus streams
    map-side through the broadcast hash join, and only HIT rows (rare)
    reach the per-eval-doc distinct aggregation. One corpus scan, no
    corpus shuffle — the mirror image of x_decontaminate's plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", "source", token_shingles(F.col("text"), _DECON_N).alias("g")
    )
    ev = g.filter(F.col("source") == _EVAL_SRC).select("doc_id", "g")
    evg = ev.select("doc_id", F.explode("g").alias("gram"))
    tr = g.filter(F.col("source") != _EVAL_SRC).select(
        F.col("doc_id").alias("tdoc"), F.explode("g").alias("gram")
    )
    per = (
        tr.join(F.broadcast(evg), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_hit_grams"),
            F.countDistinct("tdoc").alias("n_train_docs"),
        )
    )
    n_hit = F.coalesce("n_hit_grams", F.lit(0)).cast("bigint")
    return (
        ev.select("doc_id", F.size("g").cast("long").alias("n_grams"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_hit.alias("n_hit_grams"),
            F.coalesce("n_train_docs", F.lit(0))
            .cast("bigint")
            .alias("n_exposing_train_docs"),
            F.round(
                n_hit.cast("double") / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("exposure"),
            (n_hit > 0).alias("compromised"),
        )
    )


@query(
    "e2e_export_prep",
    f"""
    WITH g0 AS (
        SELECT doc_id, lang, source, text, CAST(n_chars AS BIGINT) AS bytes,
               ROUND({{QD}}, 6) AS quality,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS_DUCK}) END AS ntok
        FROM documents
    ), gate AS (
        SELECT * FROM g0
        WHERE quality >= 0.5 AND ntok >= 5 AND source <> '{_EVAL_SRC}'
    ), evg AS (
        SELECT DISTINCT unnest({_shingle_duck_n(_DECON_N)}) AS gram
        FROM documents WHERE source = '{_EVAL_SRC}'
    ), dirty AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest({_shingle_duck_n(_DECON_N)}) AS gram
              FROM gate) t
        JOIN evg e ON t.gram = e.gram
    ), clean AS (
        SELECT g.* FROM gate g ANTI JOIN dirty d ON d.doc_id = g.doc_id
    ), {_temp_qs_ctes("clean")}, rem AS (
        SELECT lang, q,
               CAST(FLOOR({_TEMP_BUDGET} * q) AS BIGINT) AS base,
               {_TEMP_BUDGET} * q - FLOOR({_TEMP_BUDGET} * q) AS r
        FROM qs
    ), lv AS (
        SELECT CAST({_TEMP_BUDGET} - SUM(base) AS BIGINT) AS leftover FROM rem
    ), rk AS (
        SELECT lang, base,
               ROW_NUMBER() OVER (ORDER BY r DESC, lang) AS rr
        FROM rem
    ), alloc AS (
        SELECT lang,
               base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS b_l
        FROM rk, lv
    ), cum AS (
        SELECT c.doc_id, c.lang, c.ntok, c.bytes, a.b_l,
               CAST(COALESCE(SUM(c.ntok) OVER (PARTITION BY c.lang
                   ORDER BY c.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_prev
        FROM clean c JOIN alloc a ON c.lang = a.lang
    ), sel AS (
        SELECT doc_id, lang, ntok, bytes FROM cum
        WHERE cum_prev + ntok <= b_l
    ), laid AS (
        SELECT doc_id, lang, ntok,
               CAST(COALESCE(SUM(bytes) OVER (ORDER BY lang, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_b
        FROM sel
    )
    SELECT doc_id, lang, CAST(ntok AS BIGINT) AS ntok,
           cum_b // {_SHARD_BYTES} AS shard_id,
           cum_b % {_SHARD_BYTES} AS shard_offset
    FROM laid
    """.replace("{QD}", _quality_duck()),
    survey_ids=(
        "training-pipeline e2e: EXPORT preparation — quality/length gate "
        "-> doc-level decontamination drop -> temperature token-budget "
        "apportionment over the CLEAN corpus -> whole-doc greedy fill "
        "-> shard layout (composes x_text_stats, x_decontaminate, "
        "x_token_budget_alloc, x_shard_plan into one dataflow)"
    ),
)
def e2e_export_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus EXPORT pipeline as one dataflow: gate on quality and
    length, drop eval-contaminated docs (doc-level x_decontaminate
    semantics — the strict export posture; x_decontaminate_strip is the
    salvage alternative), apportion the {_TEMP_BUDGET}-token budget
    across languages with the temperature mixture computed over the
    CLEAN corpus (post-gate counts — the mixture a curator actually
    wants), fill each language's budget with WHOLE docs in
    deterministic order (the boundary doc is left out here, unlike the
    component op's truncation: an export ships complete documents),
    and lay the selected docs into output shards. One DuckDB oracle
    certifies the whole composition.

    Scale shape: every stage inherits its component's plan — map-side
    gate, broadcast gram probe, |langs|-row apportionment, one
    lang-keyed prefix window, and the shard layout's per-source...
    per-lang decomposition (the final global window here runs over the
    SELECTED set, which is budget-bounded — <= B tokens of docs — not
    corpus-sized, so the naive window IS the scale plan for the laid
    stage).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = textan.tokens(t)
    ntok = (
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
        .otherwise(F.size(toks))
        .cast("long")
    )
    g0 = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.col("n_chars").cast("long").alias("bytes"),
        F.round(textan.quality_score(t, toks), 6).alias("quality"),
        ntok.alias("ntok"),
    )
    gate = g0.filter(
        (F.col("quality") >= 0.5)
        & (F.col("ntok") >= 5)
        & (F.col("source") != _EVAL_SRC)
    )
    evg = (
        docs.filter(F.col("source") == _EVAL_SRC)
        .select(F.explode(token_shingles(t, _DECON_N)).alias("gram"))
        .distinct()
    )
    dirty = (
        gate.select("doc_id", F.explode(token_shingles(t, _DECON_N)).alias("gram"))
        .join(F.broadcast(evg), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # Narrow plan barrier on the CLEAN set (4 bigint/string cols, no
    # text): the apportionment chain references it repeatedly (lc/wts
    # via _lang_temperature_q, then the cum window) and every reference
    # re-inlined the gate + 13-gram probe + anti-join chain — 63
    # Exchanges / 27 parquet scans with ZERO exchange reuse. Everything
    # downstream needs only (doc_id, lang, ntok, bytes), so the barrier
    # is corpus-narrow; the text column never materializes.
    clean = (
        gate.join(dirty, "doc_id", "left_anti")
        .select("doc_id", "lang", "ntok", "bytes")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    b = F.lit(_TEMP_BUDGET)
    rem = _lang_temperature_q(clean).select(
        "lang",
        F.floor(b * F.col("q")).cast("bigint").alias("base"),
        (b * F.col("q") - F.floor(b * F.col("q"))).alias("r"),
    )
    lv = rem.agg((b - F.sum("base")).cast("bigint").alias("leftover"))
    rk = rem.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("r"), F.asc("lang")))
    )
    alloc = rk.crossJoin(F.broadcast(lv)).select(
        "lang",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("b_l"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        clean.join(F.broadcast(alloc), "lang")
        .withColumn(
            "cum_prev", F.coalesce(F.sum("ntok").over(w), F.lit(0)).cast("bigint")
        )
    )
    sel = cum.filter(F.col("cum_prev") + F.col("ntok") <= F.col("b_l")).select(
        "doc_id", "lang", "ntok", "bytes"
    )
    # The selected set is budget-bounded (<= B tokens of whole docs), so
    # one global ordered window here is model-sized, not corpus-sized.
    w_g = Window.orderBy("lang", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    laid = sel.withColumn(
        "cum_b", F.coalesce(F.sum("bytes").over(w_g), F.lit(0)).cast("bigint")
    )
    return laid.select(
        "doc_id",
        "lang",
        F.col("ntok").cast("bigint").alias("ntok"),
        F.expr(f"cum_b div {_SHARD_BYTES}").alias("shard_id"),
        (F.col("cum_b") % _SHARD_BYTES).alias("shard_offset"),
    )
