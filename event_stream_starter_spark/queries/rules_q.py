"""Rules-engine queries (SURVEY.md §2.10 R1-R7): the YAML→expression
compiler applied to a signals-shaped projection of the events table
(FIXTURES.md §B operator→fixture mapping).

The SAME compiled SQL fragments drive the Spark plan and the DuckDB
oracle — the compiler output is the contract. The signal projection
derives every rule field deterministically from (event_type, value,
props.k), with NULLs injected so missing-source and null-comparison
semantics are exercised.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table, memo
from ..rules.compiler import load_ruleset
from ..rules.onchain import load_onchain_rules, risk_label_sql
from . import query

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RULES_YML = os.path.join(_REPO_ROOT, "configs", "rules.yml")
ONCHAIN_YML = os.path.join(_REPO_ROOT, "configs", "onchain.yml")

# Signal projection from the events table. The ONLY dialect difference is
# JSON extraction; everything downstream is shared SQL.
_K_SPARK = "CAST(get_json_object(props, '$.k') AS INT)"
_K_DUCK = "CAST(json_extract_string(props, '$.k') AS INT)"


def _projection_sql(k: str) -> list[str]:
    return [
        "event_id",
        f"{k} AS k",
        "CASE WHEN event_type <> 'error' THEN ROUND(value * 10000, 6) END AS dex_liquidity",
        f"CASE WHEN {k} % 3 <> 0 THEN ROUND(value * 120, 6) END AS dex_volume_1h",
        f"CAST({k} % 20 AS DOUBLE) AS buy_tax",
        f"CAST(({k} * 3) % 20 AS DOUBLE) AS sell_tax",
        f"CASE WHEN {k} % 5 <> 4 THEN {k} % 120 END AS lp_lock_days",
        f"({k} % 7 = 0) AS honeypot",
        f"CASE WHEN {k} % 5 = 0 THEN 'green' WHEN {k} % 5 = 1 THEN 'yellow' "
        f"WHEN {k} % 5 = 2 THEN 'red' WHEN {k} % 5 = 3 THEN 'unknown' END AS goplus_risk",
        f"ROUND(({k} % 10) / 10.0 - 0.5, 6) AS heat_slope",
        "CASE WHEN event_type <> 'view' THEN ROUND(value % 2 - 1, 6) + 0 END AS last_sentiment_score",
    ]


def _load_rules():
    """Compile rules.yml once per version of the file (io.memo):
    re-reading and re-compiling the YAML on every build of a query is
    pure driver overhead. The version keeps the hot-reload contract: an
    edited file recompiles on next use (and changes io.inputs_version, so
    a ReadApi snapshot built from the old rules is rebuilt)."""
    path = RULES_YML
    return memo("rules_yml", [path], lambda: load_ruleset(path, env={}))


def _load_onchain():
    path = ONCHAIN_YML

    def build():
        import yaml

        with open(path) as f:
            return load_onchain_rules(yaml.safe_load(f))

    return memo("onchain_yml", [path], build)


@query(
    "r1_rules_eval",
    None,  # oracle generated below (needs the compiled ruleset) — patched at import end
    survey_ids="R1-R3 (rules compiler: conditions, score sum, level, top-3 reasons, missing sources), T6",
)
def r1_rules_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    rs = _load_rules()
    ev = load_table(spark, sf_dir, "events")
    proj = ev.selectExpr(*_projection_sql(_K_SPARK))
    return proj.selectExpr(
        "event_id",
        f"CAST(({rs.score_sql()}) AS DOUBLE) AS total_score",
        f"{rs.level_sql()} AS level",
        f"{rs.reasons_sql(top_k=3, dialect='spark')} AS reasons",
        f"{rs.missing_sources_sql(dialect='spark')} AS missing_sources",
        f"CAST(({rs.hit_count_sql()}) AS INT) AS hit_count",
    )


def _r1_oracle() -> str:
    rs = _load_rules()
    proj = ",\n           ".join(_projection_sql(_K_DUCK))
    return f"""
    WITH sig AS (
        SELECT {proj}
        FROM events
    )
    SELECT event_id,
           CAST(({rs.score_sql()}) AS DOUBLE) AS total_score,
           {rs.level_sql()} AS level,
           {rs.reasons_sql(top_k=3, dialect='duckdb')} AS reasons,
           {rs.missing_sources_sql(dialect='duckdb')} AS missing_sources,
           CAST(({rs.hit_count_sql()}) AS INT) AS hit_count
    FROM sig
    """


@query(
    "r6_onchain_verdict",
    None,  # patched at import end
    survey_ids="R6 (on-chain verdict DSL: three-branch verdict + confidence), R11",
)
def r6_onchain_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    frags = _load_onchain().verdict_sql()
    ev = load_table(spark, sf_dir, "events")
    feat = ev.selectExpr(*_feature_projection(_K_SPARK))
    return feat.selectExpr(
        "event_id",
        f"{frags['verdict']} AS verdict",
        f"CAST(CAST(ROUND({frags['confidence']}, 3) AS DECIMAL(4,3)) AS DOUBLE) AS confidence",
    )


def _feature_projection(k: str) -> list[str]:
    # growth_ratio is a ratio in [0, 3.4] (fast=2.0 reachable), with NULLs
    # (k%11) exercising the missing-feature guard and a few -0.5 rows
    # (k%13) exercising the out-of-range guard → 'insufficient'.
    return [
        "event_id",
        f"CASE WHEN {k} % 11 = 0 THEN NULL "
        f"WHEN {k} % 13 = 0 THEN -0.5 "
        f"ELSE ROUND(({k} % 35) / 10.0, 6) END AS growth_ratio",
        f"ROUND(({k} % 10) / 10.0, 6) AS top10_share",
        f"CASE WHEN event_type <> 'signup' THEN ROUND(({k} % 4) / 10.0, 6) END AS self_loop_ratio",
    ]


def _r6_oracle() -> str:
    frags = _load_onchain().verdict_sql()
    proj = ",\n           ".join(_feature_projection(_K_DUCK))
    return f"""
    WITH feat AS (
        SELECT {proj}
        FROM events
    )
    SELECT event_id,
           {frags['verdict']} AS verdict,
           CAST(CAST(ROUND({frags['confidence']}, 3) AS DECIMAL(4,3)) AS DOUBLE) AS confidence
    FROM feat
    """


@query(
    "r7_risk_label",
    None,  # patched at import end
    survey_ids="R7 (GoPlus risk labeling when/otherwise chain), F11-style grading",
)
def r7_risk_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # 'view' rows: no data at all → unknown. 'click' rows: lp_lock_days
    # ONLY — must stay unknown/yellow (the reference's green gate checks
    # buy_tax/sell_tax/honeypot presence, never lp alone). Others: full.
    proj = ev.selectExpr(
        "event_id",
        f"CASE WHEN event_type NOT IN ('view','click') THEN {_K_SPARK} % 7 = 0 END AS honeypot",
        f"CASE WHEN event_type NOT IN ('view','click') THEN CAST({_K_SPARK} % 20 AS DOUBLE) END AS buy_tax",
        f"CASE WHEN event_type NOT IN ('view','click') THEN CAST(({_K_SPARK} * 3) % 20 AS DOUBLE) END AS sell_tax",
        f"CASE WHEN event_type <> 'view' THEN {_K_SPARK} % 120 END AS lp_lock_days",
    )
    return proj.selectExpr("event_id", f"{risk_label_sql()} AS risk_label")


def _r7_oracle() -> str:
    return f"""
    WITH g AS (
        SELECT event_id,
               CASE WHEN event_type NOT IN ('view','click') THEN {_K_DUCK} % 7 = 0 END AS honeypot,
               CASE WHEN event_type NOT IN ('view','click') THEN CAST({_K_DUCK} % 20 AS DOUBLE) END AS buy_tax,
               CASE WHEN event_type NOT IN ('view','click') THEN CAST(({_K_DUCK} * 3) % 20 AS DOUBLE) END AS sell_tax,
               CASE WHEN event_type <> 'view' THEN {_K_DUCK} % 120 END AS lp_lock_days
        FROM events
    )
    SELECT event_id, {risk_label_sql()} AS risk_label FROM g
    """


# Patch in the generated oracles (they need the compiled ruleset, so they
# can't be literals at decoration time).
from . import REGISTRY  # noqa: E402

REGISTRY["r1_rules_eval"].oracle = _r1_oracle()
REGISTRY["r6_onchain_verdict"].oracle = _r6_oracle()
REGISTRY["r7_risk_label"].oracle = _r7_oracle()
