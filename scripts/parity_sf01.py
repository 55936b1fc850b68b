"""Oracle parity at the BENCH scale (sf0.1) — VERDICT r8 task 4.

Parity is pinned at sf0.001 (pytest, all oracles) and sf0.01 (the
driver + drive_driver.py); sf0.1 is where the suite is TIMED but values
had never been checked there. Scale-dependent divergence (DECIMAL
headroom, approx-adjacent certs, salted-window edge cases) is the
residual untested class this probe closes for the most expensive
oracles.

Selection: the top-20 oracle-bearing queries by BENCH_LAST cost, plus
the approx-adjacent families the verdict called out even where cheap
(HLL rollup, approx-distinct stats, KN bucket agreement, salted
shard/top-k twins). Same dtype-strict compare as the driver replica.

Run:  python scripts/parity_sf01.py          (~4 min on local[8])
Result recorded in COVERAGE.md ("Oracle parity at sf0.1").

With ``--all [out.json]`` it instead checks EVERY registered query
(sf0.01 by default, ``SPARK_GRAFT_SF_DIR`` to change it) and writes the
per-query status as an artifact (default ``PARITY.json`` at the repo
root): {"sf_dir", "n_queries", "n_match", "n_rows_only", "n_mismatch",
"per_query": {name: "MATCH" | "rows_only:<n>" | "MISMATCH:<problems>"}}.
The external driver samples only 50 queries, so this is where a
family's correctness is published.
"""
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

import __spark_entry__ as E
from tests.oracle_utils import compare, duck_connection

SF = "/root/testdata/sf0.1"

# top-20 by BENCH_LAST cost among oracle-bearing queries...
TOP_COST = [
    "x_semantic_decon_idf_agree",
    "x_semantic_decontaminate_idf",
    "x_doremi_weights_multiround",
    "ann_opq_recall_cert",
    "x_doremi_resample",
    "x_export_manifest",
    "x_doremi_weights",
    "e2e_tokenize_export",
    "x_corpus_datacard_v2",
    "x_kn_ccnet_agree",
    "dd_cluster_canonical",
    "ann_ivfsq8_recall_cert",
    "x_tokenizer_fertility_compare",
    "e2e_corpus_prep",
    "x_exact_substr_strip",
    "x_hybrid_rrf_batch",
    "x_kn_trigram_lm",
    "x_vocab_coverage",
    "x_bpe_fertility_by_lang",
    "e2e_export_prep",
]
# ...plus the approx-adjacent / salted families named by the verdict.
APPROX_ADJACENT = [
    "a5_hll_mergeable_rollup",
    "a5_distinct_stats",
    "x_kn_lm_buckets",
    "x_ccnet_lm_buckets",
    "x_shard_plan_salted",
    "x_pack_sequences_salted",
    "x_reservoir_sample_topk",
]
# ...plus every round-9 oracle family (first value-check at this scale).
ROUND9 = [
    "dd_edit_distance",
    "dd_edit_lsh_recall_cert",
    "st9_hdr_percentile_rollup",
    "dd_cluster_keep_best",
    "x_source_quality_gate",
    "x_bitext_mine",
    "x_bitext_mine_ann_recall_cert",
]

qs = E.queries()
oracles = E.oracle_sql()


def publish_all(sf: str, out: str) -> int:
    """Every registered query against its oracle (rows only where it has
    none); writes the artifact and returns the mismatch count."""
    con = duck_connection(sf)
    per_query = {}
    for name, fn in sorted(qs.items()):
        sdf = fn(spark, sf)
        if name not in oracles:
            per_query[name] = f"rows_only:{sdf.count()}"
            continue
        problems = compare(sdf, con, oracles[name])
        per_query[name] = f"MISMATCH:{problems}" if problems else "MATCH"
        print(name, per_query[name])
    n = {k: sum(v.startswith(k) for v in per_query.values())
         for k in ("MATCH", "rows_only", "MISMATCH")}
    doc = {
        "sf_dir": sf,
        "n_queries": len(per_query),
        "n_match": n["MATCH"],
        "n_rows_only": n["rows_only"],
        "n_mismatch": n["MISMATCH"],
        "per_query": per_query,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out}: {n['MATCH']} MATCH / {n['rows_only']} rows-only / "
          f"{n['MISMATCH']} MISMATCH over {len(per_query)} queries")
    return n["MISMATCH"]


if sys.argv[1:2] == ["--all"]:
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "PARITY.json")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF), "sf0.01"))
    sys.exit(1 if publish_all(sf, out) else 0)

con = duck_connection(SF)
fails = []
for name in TOP_COST + APPROX_ADJACENT + ROUND9:
    assert name in oracles, f"{name} has no oracle"
    t0 = time.perf_counter()
    problems = compare(qs[name](spark, SF), con, oracles[name])
    dt = time.perf_counter() - t0
    status = "MATCH" if not problems else f"MISMATCH {problems}"
    print(f"{name}: {status} ({dt:.1f}s)")
    if problems:
        fails.append((name, problems))

print(f"FAILS ({len(fails)}):")
for name, problems in fails:
    print(" ", name, problems)
sys.exit(1 if fails else 0)
