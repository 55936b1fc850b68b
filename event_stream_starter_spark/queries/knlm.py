"""Kneser-Ney-smoothed character-trigram LM scoring (VERDICT r6 task 3).

x_ccnet_lm_buckets ranks documents with an add-one-smoothed trigram LM —
the bucketing LAW of CCNet (Wenzek et al. 2019 §4) but not its scoring
method: the published pipeline scores with a Kneser-Ney-smoothed n-gram
LM (KenLM). Interpolated KN (Chen & Goodman 1999 §3; Kneser & Ney 1995)
is fully expressible as gram groupBys + column arithmetic:

- trigram level:  P(c|ab) = max(c(abc)-D, 0)/c(ab) + D·N1+(ab·)/c(ab) · Pb(c|b)
- bigram level:   Pb(c|b) = max(N1+(·bc)-D, 0)/N1+(·b·)
                            + D·N1+(b·)/N1+(·b·) · Pu(c)       (continuation counts)
- unigram level:  Pu(c)   = (N1+(·c) + 1) / (N1+(··) + V + 1)  (add-one floor so
                            unseen final chars keep positive mass)

with the standard fixed discount D = 0.75. All counts come from the
deterministic ``doc_id % 7 = 0`` training sample (the same
model-not-trained-on-what-it-scores contract as x_ccnet_lm_buckets);
a language absent from the sample scores p = 1 (nll 0), like the proxy.

The ENTIRE model is two gram groupBys over the sample (trigram tokens +
trigram types) and four bounded rollups of the type table — so the whole
operator chain has FULL DuckDB value-hash oracles, which is the point:
this is the first LM-scoring path where the probabilities themselves
(not just the bucketing law) are externally re-derived value-for-value.

Numeric posture: the scoring expression is ONE SQL fragment shared
verbatim by the Spark plan (F.expr) and the DuckDB oracle — every cast,
paren and operator association identical, so the composed double
arithmetic is bit-equal across engines; per-gram -ln(p) terms are
rounded to 7 dp and summed as DECIMAL(28,9) (order-independent, 1-ulp
ln() differences cannot flip a term — the established x_ccnet posture).

Scale shape: the model tables are bounded (per-lang trigram TYPES,
<= charset^3) and broadcast; scoring is map-side against the exploded
gram stream; the only corpus-sized shuffle is the per-doc rollup. The
exact tercile twin carries the same per-lang window as the proxy's
exact arm, with x_kn_lm_buckets_approx (mergeable approx_percentile
thresholds + map-only assignment) as the registered 100 TB substitute.

Reference parity: the reference's quality pipeline scores text with
model-backed calls (worker/handlers + api providers); this module is
the Spark-first analog of its scoring seam with a published, fully
checkable model. No reference code is used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from . import query
from .textdata import _CCNET_CTES_SQL

_D = "CAST(0.75 AS DOUBLE)"  # fixed KN discount

# Unigram (continuation) level: add-one floor keeps p > 0 for unseen
# final chars. All inputs are BIGINT counts cast to double — identical
# in both engines.
_PU = (
    "((CAST(coalesce(ncont_c, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE))"
    " / (CAST(ncont_all AS DOUBLE) + CAST(vc AS DOUBLE)"
    " + CAST(1.0 AS DOUBLE)))"
)

# Bigram (continuation-count) level; backs off to _PU when the middle
# char was never seen mid-trigram in the sample.
_PB = (
    "(CASE WHEN ncont_bdot IS NOT NULL THEN"
    f" greatest(CAST(coalesce(ncont_bc, 0) AS DOUBLE) - {_D},"
    " CAST(0.0 AS DOUBLE)) / CAST(ncont_bdot AS DOUBLE)"
    f" + (({_D} * CAST(n1p_b AS DOUBLE)) / CAST(ncont_bdot AS DOUBLE))"
    f" * {_PU}"
    f" ELSE {_PU} END)"
)

# Trigram level; backs off to _PB on an unseen (a,b) context; an
# unsampled language (no model rows at all) scores p = 1.
_P_KN = (
    "CASE WHEN ncont_all IS NULL THEN CAST(1.0 AS DOUBLE) ELSE"
    " (CASE WHEN c12 IS NOT NULL THEN"
    f" greatest(CAST(coalesce(c123, 0) AS DOUBLE) - {_D},"
    " CAST(0.0 AS DOUBLE)) / CAST(c12 AS DOUBLE)"
    f" + (({_D} * CAST(n1p12 AS DOUBLE)) / CAST(c12 AS DOUBLE)) * {_PB}"
    f" ELSE {_PB} END) END"
)

# Oracle CTE chain over a (doc_id, lang, text) source; `{src}` is the
# corpus table/CTE (the _CCNET_CTES_SQL templating convention).
_KN_CTES_SQL = """knbase AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS nt
        FROM {{src}}
    ), knex AS (
        SELECT doc_id, lang, substring(nt, CAST(i AS INTEGER), 3) AS g
        FROM knbase, unnest(generate_series(1, greatest(len(nt) - 2, 1))) AS u(i)
    ), kntri AS (
        SELECT lang, g, COUNT(*) AS c123
        FROM knex WHERE doc_id % 7 = 0 GROUP BY lang, g
    ), knctx2 AS (
        SELECT lang, substring(g, 1, 2) AS ab,
               CAST(SUM(c123) AS BIGINT) AS c12, COUNT(*) AS n1p12
        FROM kntri GROUP BY lang, substring(g, 1, 2)
    ), kncont AS (
        SELECT lang, substring(g, 2, 2) AS bc, COUNT(*) AS ncont_bc
        FROM kntri GROUP BY lang, substring(g, 2, 2)
    ), knctxc AS (
        SELECT lang, substring(bc, 1, 1) AS b,
               CAST(SUM(ncont_bc) AS BIGINT) AS ncont_bdot, COUNT(*) AS n1p_b
        FROM kncont GROUP BY lang, substring(bc, 1, 1)
    ), knuni AS (
        SELECT lang, substring(bc, 2, 1) AS c3, COUNT(*) AS ncont_c
        FROM kncont GROUP BY lang, substring(bc, 2, 1)
    ), kntot AS (
        SELECT lang, CAST(SUM(ncont_c) AS BIGINT) AS ncont_all, COUNT(*) AS vc
        FROM knuni GROUP BY lang
    ), knj AS (
        SELECT knex.doc_id, knex.lang,
               kntri.c123, knctx2.c12, knctx2.n1p12,
               kncont.ncont_bc, knctxc.ncont_bdot, knctxc.n1p_b,
               knuni.ncont_c, kntot.ncont_all, kntot.vc
        FROM knex
        LEFT JOIN kntri  ON knex.lang = kntri.lang  AND knex.g = kntri.g
        LEFT JOIN knctx2 ON knex.lang = knctx2.lang
                        AND substring(knex.g, 1, 2) = knctx2.ab
        LEFT JOIN kncont ON knex.lang = kncont.lang
                        AND substring(knex.g, 2, 2) = kncont.bc
        LEFT JOIN knctxc ON knex.lang = knctxc.lang
                        AND substring(knex.g, 2, 1) = knctxc.b
        LEFT JOIN knuni  ON knex.lang = knuni.lang
                        AND substring(knex.g, 3, 1) = knuni.c3
        LEFT JOIN kntot  ON knex.lang = kntot.lang
    ), knscored AS (
        SELECT doc_id, lang, COUNT(*) AS n_grams,
               CAST(SUM(CAST(ROUND(-ln({p_kn}), 7) AS DECIMAL(28,9)))
                    AS DOUBLE) AS s
        FROM knj GROUP BY doc_id, lang
    ), knout AS (
        SELECT doc_id, lang, n_grams, ROUND(s / n_grams, 6) + 0 AS kn_nll
        FROM knscored
    )""".format(p_kn=_P_KN)


def _kn_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, g) exploded char-trigram stream (the x_ccnet gram
    law: normalized text, greatest(len-2, 1) windows)."""
    nt = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select("doc_id", "lang", nt.alias("nt"))
    grams = F.expr(
        "transform(sequence(1, greatest(length(nt) - 2, 1)),"
        " i -> substring(nt, i, 3))"
    )
    return base.select("doc_id", "lang", F.explode(grams).alias("g"))


def _kn_model_tables(train_docs: DataFrame) -> dict[str, DataFrame]:
    """The six KN model tables fitted on the deterministic
    ``doc_id % 7 == 0`` sample of `train_docs`: trigram counts, prefix
    contexts, suffix-bigram continuation counts, their rollups and the
    per-lang totals. All bounded (per-lang trigram TYPES)."""
    ex = _kn_grams(train_docs)
    tri = (
        ex.filter(F.col("doc_id") % 7 == 0)
        .groupBy("lang", "g")
        .agg(F.count("*").alias("c123"))
        # Plan barrier on the base count table: all five derived model
        # tables (and the scoring joins' broadcast builds) otherwise
        # re-inline the corpus explode + sample aggregation once each —
        # six copies of the gram subtree per scoring consumer. tri is
        # bounded (per-lang trigram TYPES), so the barrier is
        # model-sized; measured 2.25s -> 1.61s per KN scoring at sf0.1
        # (guide §3.3).
        .localCheckpoint(eager=True)
    )
    ctx2 = tri.groupBy("lang", F.substring("g", 1, 2).alias("ab")).agg(
        F.sum("c123").alias("c12"), F.count("*").alias("n1p12")
    )
    cont = tri.groupBy("lang", F.substring("g", 2, 2).alias("bc")).agg(
        F.count("*").alias("ncont_bc")
    )
    ctxc = cont.groupBy("lang", F.substring("bc", 1, 1).alias("b")).agg(
        F.sum("ncont_bc").alias("ncont_bdot"), F.count("*").alias("n1p_b")
    )
    uni = cont.groupBy("lang", F.substring("bc", 2, 1).alias("c3")).agg(
        F.count("*").alias("ncont_c")
    )
    tot = uni.groupBy("lang").agg(
        F.sum("ncont_c").alias("ncont_all"), F.count("*").alias("vc")
    )
    return {
        "tri": tri,
        "ctx2": ctx2,
        "cont": cont,
        "ctxc": ctxc,
        "uni": uni,
        "tot": tot,
    }


def _kn_score_with_model(
    docs: DataFrame, model: dict[str, DataFrame]
) -> DataFrame:
    """Score a (doc_id, lang, text) frame against fitted KN model
    tables: returns (doc_id, lang, n_grams, s). Model tables broadcast
    onto the exploded gram stream (map-side); the one corpus shuffle is
    the per-doc rollup. Shared verbatim by the batch queries and the
    StreamingKnScorer sink."""
    ex = _kn_grams(docs)
    exk = ex.select(
        "doc_id",
        "lang",
        "g",
        F.substring("g", 1, 2).alias("ab"),
        F.substring("g", 2, 2).alias("bc"),
        F.substring("g", 2, 1).alias("b"),
        F.substring("g", 3, 1).alias("c3"),
    )
    joined = (
        exk.join(F.broadcast(model["tri"]), ["lang", "g"], "left")
        .join(F.broadcast(model["ctx2"]), ["lang", "ab"], "left")
        .join(F.broadcast(model["cont"]), ["lang", "bc"], "left")
        .join(F.broadcast(model["ctxc"]), ["lang", "b"], "left")
        .join(F.broadcast(model["uni"]), ["lang", "c3"], "left")
        .join(F.broadcast(model["tot"]), ["lang"], "left")
    )
    return (
        joined.withColumn("p", F.expr(_P_KN))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.round(-F.log("p"), 7).cast("decimal(28,9)"))
            .cast("double")
            .alias("s"),
        )
    )


def _kn_scored(docs: DataFrame) -> DataFrame:
    """Per-doc interpolated-KN scores with the model fitted on the SAME
    corpus's deterministic sample (the batch-query contract)."""
    return _kn_score_with_model(docs, _kn_model_tables(docs))


def _kn_cc_scored(docs: DataFrame) -> DataFrame:
    """BOTH LM scores over ONE gram explode: (doc_id, lang, n_grams,
    kn_s, cc_s) — the KN and CCNet scorers share the exact same gram
    law (_kn_grams == the x_ccnet explode), so every consumer that
    needs both (the DoReMi family's twin-LM excess, x_kn_ccnet_agree)
    was paying the corpus explode + per-doc rollup twice plus a
    doc_id sort-merge join to zip the two score frames back together.
    Here the CCNet model columns (p, n, v — disjoint from the KN model
    names) join onto the same exploded stream and ONE groupBy computes
    both decimal sums. Each sum is term-for-term the standalone
    scorer's (same broadcast model tables, same 7dp rounding, same
    order-independent decimal accumulation), so kn_s/cc_s are
    bit-equal to _kn_scored().s / _ccnet_scored().s — pinned by
    tests/test_knlm.py::test_fused_twin_scorer_matches_standalones."""
    from .textdata import _ccnet_model, _ccnet_p_eff

    ex = _kn_grams(docs)
    m = _kn_model_tables(docs)
    ccmodel, cctot = _ccnet_model(ex)
    # Rename the CC columns: the KN arm assigns its own "p" below.
    ccmodel = ccmodel.select("lang", "g", F.col("p").alias("ccp"))
    cctot = cctot.select(
        "lang", F.col("n").alias("ccn"), F.col("v").alias("ccv")
    )
    exk = ex.select(
        "doc_id",
        "lang",
        "g",
        F.substring("g", 1, 2).alias("ab"),
        F.substring("g", 2, 2).alias("bc"),
        F.substring("g", 2, 1).alias("b"),
        F.substring("g", 3, 1).alias("c3"),
    )
    joined = (
        exk.join(F.broadcast(m["tri"]), ["lang", "g"], "left")
        .join(F.broadcast(m["ctx2"]), ["lang", "ab"], "left")
        .join(F.broadcast(m["cont"]), ["lang", "bc"], "left")
        .join(F.broadcast(m["ctxc"]), ["lang", "b"], "left")
        .join(F.broadcast(m["uni"]), ["lang", "c3"], "left")
        .join(F.broadcast(m["tot"]), ["lang"], "left")
        .join(F.broadcast(ccmodel), ["lang", "g"], "left")
        .join(F.broadcast(cctot), ["lang"], "left")
    )
    return (
        joined.withColumn("p", F.expr(_P_KN))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.round(-F.log("p"), 7).cast("decimal(28,9)"))
            .cast("double")
            .alias("kn_s"),
            F.sum(
                F.round(-F.log(_ccnet_p_eff("ccp", "ccn", "ccv")), 7).cast(
                    "decimal(28,9)"
                )
            )
            .cast("double")
            .alias("cc_s"),
        )
    )


@query(
    "x_kn_trigram_lm",
    "WITH "
    + _KN_CTES_SQL.format(src="documents")
    + "\n    SELECT * FROM knout",
    survey_ids=(
        "training-pipeline: interpolated Kneser-Ney char-trigram LM "
        "scoring (Kneser & Ney 1995; Chen & Goodman 1999) — the "
        "published CCNet scoring method made fully oracle-expressible: "
        "trigram/continuation counts from two sample groupBys, the KN "
        "probability ONE shared SQL fragment in both engines, every "
        "per-doc nll value-hash-checked"
    ),
)
def x_kn_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated-KN trigram nll (see module docstring
    for the model). Emits (doc_id, lang, n_grams, kn_nll)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = _kn_scored(docs.select("doc_id", "lang", "text"))
    return scored.select(
        "doc_id",
        "lang",
        "n_grams",
        (F.round(F.col("s") / F.col("n_grams"), 6) + 0).alias("kn_nll"),
    )


@query(
    "x_kn_lm_buckets",
    "WITH "
    + _KN_CTES_SQL.format(src="documents")
    + """, knb AS (
        SELECT *,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY s / n_grams, doc_id) AS nt3
        FROM knscored
    )
    SELECT doc_id, lang, n_grams,
           ROUND(s / n_grams, 6) + 0 AS kn_nll,
           CASE nt3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
               AS ppl_bucket
    FROM knb""",
    survey_ids=(
        "training-pipeline: CCNet head/middle/tail terciles over the "
        "KN-smoothed LM scores — the published bucketing law on the "
        "published scoring method, full oracle"
    ),
)
def x_kn_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang perplexity terciles over the KN scores (x_ccnet's
    bucketing law). Exact arm: per-lang ntile window;
    x_kn_lm_buckets_approx is the registered 100 TB substitute."""
    docs = load_table(spark, sf_dir, "documents")
    scored = _kn_scored(docs.select("doc_id", "lang", "text"))
    w = Window.partitionBy("lang").orderBy(
        (F.col("s") / F.col("n_grams")).asc(), F.col("doc_id").asc()
    )
    b = scored.withColumn("nt3", F.ntile(3).over(w))
    return b.select(
        "doc_id",
        "lang",
        "n_grams",
        (F.round(F.col("s") / F.col("n_grams"), 6) + 0).alias("kn_nll"),
        F.when(F.col("nt3") == 1, F.lit("head"))
        .when(F.col("nt3") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


@query(
    "x_kn_lm_buckets_approx",
    None,  # sketch-thresholded buckets: boundary ties/sketch error make
    # exact SQL parity meaningless; golden-tested against the exact twin
    # (tests/test_knlm.py) — the a5_approx pattern.
    survey_ids=(
        "training-pipeline 100TB path: KN-LM buckets via per-lang "
        "approx_percentile thresholds + map-only assignment — the "
        "declared scale substitute for x_kn_lm_buckets' per-lang "
        "ntile(3) full-sort window (x_ccnet_lm_buckets_approx's shape)"
    ),
)
def x_kn_lm_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of x_kn_lm_buckets: mergeable approx_percentile
    tercile thresholds (one small agg, no row sort anywhere), broadcast
    back for a map-only bucket assignment. kn_nll values bit-identical
    to the twin (shared _kn_scored); ties at a threshold take the lower
    bucket; sketch rank error <= 0.01%/lang at accuracy 10000."""
    docs = load_table(spark, sf_dir, "documents")
    # Plan barrier on the per-doc scored frame (the x_dsir_select_approx
    # pattern): the threshold agg and the assignment join both consume
    # it, each re-running the corpus KN-scoring pass otherwise.
    scored = (
        _kn_scored(docs.select("doc_id", "lang", "text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
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
        (F.round(F.col("raw"), 6) + 0).alias("kn_nll"),
        F.when(F.col("raw") <= F.col("th")[0], F.lit("head"))
        .when(F.col("raw") <= F.col("th")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


@query(
    "x_kn_ccnet_agree",
    "WITH "
    + _KN_CTES_SQL.format(src="documents")
    + ", "
    + _CCNET_CTES_SQL.format(src="documents")
    + """, knbkt AS (
        SELECT doc_id, lang,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY s / n_grams, doc_id) AS nt3
        FROM knscored
    )
    SELECT k.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN (CASE k.nt3 WHEN 1 THEN 'head'
                                WHEN 2 THEN 'middle' ELSE 'tail' END)
                              = c.ppl_bucket
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           ROUND(CAST(SUM(CASE WHEN (CASE k.nt3 WHEN 1 THEN 'head'
                                     WHEN 2 THEN 'middle' ELSE 'tail' END)
                                   = c.ppl_bucket
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) + 0 AS agree_frac
    FROM knbkt k JOIN ccout c ON k.doc_id = c.doc_id AND k.lang = c.lang
    GROUP BY k.lang""",
    survey_ids=(
        "training-pipeline: KN-vs-proxy bucket agreement report — "
        "per-lang fraction of documents the KN-smoothed LM and the "
        "add-one proxy assign the same perplexity tercile; BOTH sides "
        "SQL-expressible, so the agreement itself is value-hash-checked "
        "(stronger than a bounded cert: no slack to hide a scoring "
        "regression in)"
    ),
)
def x_kn_ccnet_agree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement between the KN terciles and x_ccnet_lm_buckets' add-one
    proxy terciles, per language: (lang, n_docs, n_agree, agree_frac).
    Both arms are deterministic and fully oracled, so the agreement is
    a hash-checked VALUE, not a bounded boolean."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    # Both scores from ONE gram explode (fused scorer, bit-equal by
    # the pinned golden), barriered because the two tercile windows
    # consume it independently. Each window is the registered arm's
    # verbatim (deterministic orderBy over the shared decimal scores),
    # so the buckets match the standalone queries bit-for-bit.
    scored = (
        _kn_cc_scored(docs)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("lang").orderBy(
        (F.col("kn_s") / F.col("n_grams")).asc(), F.col("doc_id").asc()
    )
    knb = scored.withColumn("nt3", F.ntile(3).over(w)).select(
        "doc_id",
        "lang",
        F.when(F.col("nt3") == 1, F.lit("head"))
        .when(F.col("nt3") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("kb"),
    )
    wc = Window.partitionBy("lang").orderBy(
        (F.col("cc_s") / F.col("n_grams")).asc(), F.col("doc_id").asc()
    )
    cc = scored.withColumn("nt3", F.ntile(3).over(wc)).select(
        "doc_id",
        "lang",
        F.when(F.col("nt3") == 1, F.lit("head"))
        .when(F.col("nt3") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    j = knb.join(cc, ["doc_id", "lang"])
    agree = (F.col("kb") == F.col("ppl_bucket")).cast("int")
    return j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(agree).cast("bigint").alias("n_agree"),
        (
            F.round(
                F.sum(agree).cast("double") / F.count("*"), 6
            )
            + 0
        ).alias("agree_frac"),
    )
