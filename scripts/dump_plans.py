"""Regenerate PLANS.md: formatted physical plans for representative
queries, with the plan features (pushed filters, broadcasts, exchanges)
the scale design claims. Run after operator changes:
`python scripts/dump_plans.py`."""

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from event_stream_starter_spark.plans import plan_features  # noqa: E402
from event_stream_starter_spark.plans.inspect import _explain  # noqa: E402
from event_stream_starter_spark.queries import all_queries  # noqa: E402
from event_stream_starter_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
SHOW = [
    ("q5_region_revenue", "star join: all four dims broadcast, fact scan pruned"),
    (
        "x_kn_trigram_lm",
        "Kneser-Ney trigram LM scoring: all six model tables broadcast "
        "onto the exploded corpus gram stream (map-side scoring, zero "
        "SortMergeJoin); the only corpus shuffle is the per-doc rollup",
    ),
    (
        "a12_rollup_lattice",
        "grouping-set lattice: one Expand pass, partial agg before a "
        "single shuffle — the fact table is read once for the whole "
        "subtotal hierarchy",
    ),
    ("a1_event_upsert_merge", "keyed upsert laws: partial agg before one shuffle"),
    ("dd_ngram_jaccard", "prefix-filtered inverted-index set-similarity join"),
    ("j6_asof_snapshot_enrich", "as-of join as union+window — single key shuffle"),
    (
        "j9_interval_join",
        "interval/range join as granule-bucketed hash equi-join "
        "(exploded intervals; exact containment post-filter; the BNLJ "
        "is the 8-row interval-synthesis cross, not the containment join)",
    ),
    ("w10_rolling_range_sum", "event-time RANGE frame — in-sort sliding aggregate"),
    (
        "x_mixture_sample",
        "mixture plan: tiny rates dim broadcast — no keyed shuffle on the "
        "corpus side (exchanges are the local-parallelism spread + the "
        "20-row stats agg)",
    ),
    (
        "d4_source_dedup_keys",
        "D4 per-source keys: map-side key derivation in whole-stage "
        "codegen, one shuffle on dedup_key for the ref-union merge "
        "(no joins at all)",
    ),
    (
        "j3_card_render",
        "card build+render: two partial-agg source rollups co-partitioned "
        "on token_id, small full-outer merge, render is a map-side "
        "projection",
    ),
    (
        "f4_url_expand_budget",
        "F4 budget laws: 400-row mapping dim + 6-row fanout broadcast "
        "to the events scan; only shuffle is the per-tweet budget rollup",
    ),
    (
        "x_boilerplate_strip",
        "C4 boilerplate removal: duplicated-gram dim + kill-set joins "
        "(broadcast at this SF, AQE degrades to shuffle joins when the "
        "dup set outgrows the broadcast threshold); reassembly is one "
        "keyed sort-aggregate",
    ),
    (
        "x_decontaminate",
        "decontamination: eval gram set broadcast — the train corpus is "
        "one scan + map-side explode with no shuffle until the (rare) "
        "surviving hits aggregate",
    ),
    (
        "x_ccnet_lm_buckets",
        "CCNet LM scoring: trigram model built from the SAMPLE only "
        "(partial agg → bounded vocab), broadcast to score the full "
        "gram stream; corpus-sized shuffles are limited to the per-doc "
        "rollup + per-lang ntile window",
    ),
    (
        "x_dsir_select",
        "DSIR: target and raw trigram models folded into ONE broadcast "
        "(lang, g, p_t, p_r) table + one 5-row lang-stats broadcast — "
        "the corpus-sized gram stream takes two broadcast joins, "
        "never a shuffled join side",
    ),
    (
        "dd_semdedup",
        "SemDeDup: map-only centroid assignment (broadcast model "
        "literal), pair generation as an equi-join on cluster id — "
        "in-cluster quadratic only, no cartesian anywhere",
    ),
    (
        "e2e_curation",
        "curation slice: Gopher gate stays a pushed-down map filter, "
        "the CCNet stage inherits its broadcast-model shape over the "
        "gated subset, final rollup is one partial agg on (lang, split)",
    ),
    (
        "x_bm25_topk",
        "BM25 retrieval: corpus stats + df broadcast; global top-k is "
        "TakeOrderedAndProject (per-partition top-k + merge) — the rank "
        "window runs over the k-row result, never the full match set",
    ),
    (
        "x_epoch_shuffle",
        "seeded global permutation: ranking window PARTITIONED by the "
        "256-value hash-prefix bucket; the only SinglePartition "
        "exchange is the 256-row bucket-count prefix sum, broadcast "
        "back as offsets — no corpus-wide sort (pinned by "
        "test_plan_audit)",
    ),
    (
        "x_curriculum_order",
        "curriculum order: same decomposition with the quality band as "
        "the ordered bucket — per-band windows + a <=101-row band-DESC "
        "prefix-sum offsets broadcast; no global sort",
    ),
    (
        "x_corpus_datacard",
        "corpus datasheet: one map pass (ntok/quality/fingerprint), "
        "one fingerprint groupBy joined back, one (lang,source) "
        "rollup — partial aggregation before every shuffle, no "
        "windows or self-joins",
    ),
    (
        "x_hybrid_rrf",
        "hybrid RRF fusion: both retrieval arms end in "
        "TakeOrderedAndProject(50) (no full sort at any corpus size); "
        "the fusion join and rank windows run on two 50-row frames",
    ),
    (
        "x_exact_substr_spans",
        "ExactSubstr spans: phase-1 candidate shuffle carries only "
        "8-byte xxhash64 keys with map-side partial counts; the gram "
        "strings shuffle only for hash-survivors; the run-merge window "
        "is partitioned per doc_id (bounded by doc length)",
    ),
    (
        "e2e_export_prep",
        "export slice: map-side gate, broadcast eval-gram anti probe, "
        "|langs|-row apportionment, one lang-keyed prefix window; the "
        "final layout window runs over the budget-bounded SELECTED set "
        "only",
    ),
    (
        "x_decontaminate_strip",
        "span decontamination: eval grams collapse to a broadcast "
        "DISTINCT set probed map-side; only HIT positions reach the "
        "island window (per-doc bounded); the strip is a per-doc "
        "aggregate fold — no corpus-sized shuffle",
    ),
    (
        "x_hybrid_rrf_batch",
        "batched hybrid RRF: one corpus scan scores all queries per "
        "arm (distinct-term / query-vector broadcasts); per-qid top-N "
        "is two salted bounded windows, never a per-query job or "
        "corpus-wide single-partition sort; fusion joins two "
        "<=Q*50-row frames",
    ),
    (
        "x_exact_substr_spans_stride",
        "stride-sampled ExactSubstr: identical two-phase shape to the "
        "exact arm but the position explode is a stride-4 sequence — "
        "the 8-byte phase-1 shuffle (the operator's dominant 100TB "
        "cost) carries 1/4 of the rows; run-merge window still per-doc",
    ),
    (
        "x_exact_substr_spans_cds",
        "content-defined-sampled ExactSubstr: full-volume map-side gram "
        "hash, but the phase-1 shuffle (the dominant cost) carries only "
        "hash%4==0 grams — alignment-invariant sampling, same two-phase "
        "+ per-doc island merge",
    ),
    (
        "x_shard_plan",
        "shard planner: per-source running-sum windows + a "
        "|sources|-row prefix-summed offset frame joined by broadcast — "
        "global byte layout with NO corpus-wide sort or single "
        "partition; oracle is the naive global window",
    ),
    (
        "x_shard_plan_salted",
        "SALTED shard planner (the skew remedy, value-proven): the "
        "corpus window partitions by (source, doc_id-range salt) — "
        "bounded width even for a mega-source — re-based by two "
        "model-sized broadcast prefix frames; oracle is the unsalted "
        "naive global window",
    ),
    (
        "x_line_dedup_strip",
        "line-level boilerplate strip: map-side line explode, one "
        "line-hash groupBy with partial distinct agg, the (tiny) "
        "boilerplate hash set broadcast into a map-side anti-join, one "
        "doc-keyed reassembly shuffle — no position explode, no island "
        "window",
    ),
    (
        "e2e_tokenize_export",
        "tokenizer-consistent export: frozen-BPE encode is map-only "
        "codegen (12 literal folds per word, zero Python); one "
        "(source,bucket)-keyed window for batch assembly; global batch "
        "layout is a |sources|x|buckets|-row broadcast prefix frame",
    ),
    (
        "x_temperature_resample_dedup",
        "dedup-aware mixture: one fingerprint-keyed corpus shuffle "
        "(shared with the soft-dedup weights plan), |langs|-row "
        "DECIMAL mixture frames broadcast, rate/draw stage map-side",
    ),
    (
        "x_pack_sequences_salted",
        "SALTED packing (token space): the corpus running-sum window "
        "partitions by (source, doc_id-range salt) with bounded width; "
        "per-source bucket totals re-base via one model-sized "
        "broadcast frame; oracle is the unsalted per-source window",
    ),
    (
        "ann_pq_topk",
        "PQ-ADC + re-rank: codes are a map-only projection of the "
        "broadcast codebook literal; ADC scans the 16-byte code table "
        "map-side; shortlist window per-query bounded; the exact "
        "re-rank touches |Q| x 50 float vectors only",
    ),
    (
        "x_semantic_decontaminate",
        "semantic decontamination: benchmark-sized eval vector side "
        "broadcast into a nested-loop compare, train corpus scanned "
        "once map-side; the only corpus shuffle is the partial-agg "
        "per-doc max/count rollup",
    ),
    (
        "x_cms_heavy_hitters",
        "count-min heavy hitters: occurrence explode folds into the "
        "fixed d x w sketch table with one partial-agg shuffle; the "
        "probe join is sketch-sized; exact arm is partial agg + "
        "TakeOrderedAndProject(20)",
    ),
    (
        "x_bloom_decontaminate",
        "Bloom decontamination: the bit set and the eval gram set are "
        "the only broadcast sides; the corpus scan feeds 7 map-side "
        "BroadcastHashJoins on 8-byte positions plus the exact-arm "
        "gram join — no shuffle of corpus data before the per-doc agg "
        "of bloom-hit rows",
    ),
    (
        "dd_containment",
        "containment join: probe side posts only its prefix, index side "
        "posts all shingles; the candidate join parallelizes on distinct "
        "shingles, the verify repartitions on the pair key — no "
        "per-block cross product anywhere",
    ),
    (
        "x_bpe_first_merge",
        "BPE pair-counting core: corpus collapses to the distinct-word "
        "table with one partial-agg shuffle, pair explode is map-side "
        "over distinct words only, top-20 is TakeOrderedAndProject — "
        "no full pair-histogram sort (pinned by test_plan_audit)",
    ),
    (
        "x_zipf_entropy",
        "token-distribution datasheet: one partial-agg (lang, tok) type "
        "shuffle; whole-vocab stats reduce in a single per-lang "
        "aggregate; rank-dependent stats (Zipf head, top-100 mass) see "
        "only salted-top-1000 survivors — no per-lang window over the "
        "full vocabulary",
    ),
    (
        "x_doremi_weights",
        "DoReMi EG reweighting: two broadcast-model LM scoring passes "
        "(map-side gram joins + per-doc rollups), per-doc frames join "
        "on doc_id, then everything past the |sources|-row rollup is "
        "bounded (EG normalization = aggregate + broadcast join back)",
    ),
    (
        "x_semantic_decontaminate_idf",
        "IDF-weighted semantic screen, post-r7-optimization shape: one "
        "explode feeding a (doc, tok, cnt) collapse, broadcast DF join, "
        "per-(doc, dim) DECIMAL rollup (<= 64 rows/doc on the wire), "
        "map-lookup vector assembly, hoisted per-row norms — the pair "
        "compare is a broadcast nested loop with ONE 64-wide dot per "
        "pair",
    ),
    (
        "x_doremi_resample",
        "DoReMi mixture applied: the |sources|-row rate table rides the "
        "bounded weights pipeline and broadcasts onto one corpus scan "
        "(floor + hash-Bernoulli copy counts are map-only) — no "
        "document-data shuffle at all",
    ),
    (
        "x_unigram_encode_frozen",
        "frozen unigram-LM Viterbi encode: map-only, ZERO shuffles — "
        "the 48-piece model is a map literal in the plan, the DP and "
        "backpointer walk run as one whole-stage-codegen projection "
        "(the table carried word-to-walk by a struct transform, no "
        "double fold)",
    ),
    (
        "x_doremi_weights_multiround",
        "iterated EG rounds over a localCheckpointed |sources|-row "
        "table: the corpus-sized LM scoring executes once (round 0's "
        "checkpoint); each subsequent round is broadcast-scalar "
        "arithmetic — the plan shown is the final round's (reads the "
        "checkpoint, not the corpus)",
    ),
    (
        "x_corpus_datacard_v2",
        "per-language release datasheet: every family keeps its own "
        "certified plan; the datasheet itself is |langs|-sized "
        "broadcast joins over their outputs",
    ),
    (
        "dd_edit_distance",
        "banded-Levenshtein near-dup: ONE shuffle on the length-bucket "
        "key (the +/-1-bucket explode is map-side), thresholded "
        "O(len x d) DP per surviving candidate — no cross product, no "
        "window",
    ),
    (
        "st9_hdr_percentile_rollup",
        "mergeable percentile sketch: map-side exact integer binning, "
        "two count aggregations (daily partials -> union merge), then "
        "windows over |event_type| x |buckets| sketch rows only — the "
        "corpus is scanned once and never sorted",
    ),
]


def main() -> None:
    spark = get_spark("plans-dump", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    out = [
        "# PLANS — formatted physical plans of representative queries",
        "",
        "Regenerated by `python scripts/dump_plans.py` (sf0.001, AQE on —",
        "final plans may re-optimize at runtime). The features table is",
        "what tests/test_plans.py and tests/test_plan_audit.py assert.",
        "",
    ]
    for name, why in SHOW:
        df = specs[name].fn(spark, SF)
        f = plan_features(df)
        plan = _explain(df).split("\n\n")[0]  # tree only, not operator details
        out += [
            f"## {name}",
            "",
            f"*{why}*",
            "",
            f"- broadcast exchanges: {f.n_broadcast_exchanges};"
            f" shuffle exchanges: {f.n_shuffle_exchanges};"
            f" cartesian: {f.has_cartesian}",
            f"- pushed filters: {f.pushed_filters or '—'}",
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    with open(os.path.join(REPO_ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
