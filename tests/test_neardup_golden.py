"""Golden tests for the approximate near-dup family: candidates are
verified exactly in-engine, so precision must be 1.0 against a
brute-force recomputation; recall is measured and bounded."""

from __future__ import annotations

import itertools
import os
import re

import duckdb
import pytest

from event_stream_starter_spark.queries import all_queries


def _exact_pairs(sf_dir: str, threshold: float = 0.5, n: int = 5):
    """Brute-force char-5-gram Jaccard over all doc pairs (python)."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    ).fetchall()
    con.close()
    shingles = {}
    for doc_id, text in rows:
        norm = re.sub(r"\s+", " ", text.lower())
        shingles[doc_id] = {norm[i : i + n] for i in range(max(len(norm) - n + 1, 1))}
    out = {}
    for a, b in itertools.combinations(sorted(shingles), 2):
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        if inter == 0:
            continue
        j = inter / len(sa | sb)
        if j >= threshold:
            out[(a, b)] = j
    return out


def test_minhash_lsh_precision_1_and_high_recall(spark, sf_dir):
    exact = _exact_pairs(sf_dir, threshold=0.5, n=5)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in all_queries()["dd_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    # Precision 1.0: every emitted pair is a true >=0.5 pair with the
    # exact Jaccard value (hash-collision probability negligible).
    for pair, sim in got.items():
        assert pair in exact, f"false positive {pair}"
        assert abs(sim - exact[pair]) < 1e-6
    # Recall: 16 bands x 4 rows at t=0.5 -> P(candidate) = 1-(1-J^4)^16,
    # ~0.92 at J=0.5 and ->1 fast above; demand >=80% on this data.
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.8, f"recall {recall:.2f} over {len(exact)} true pairs"


def test_minhash_lsh_mega_bucket_cap_fires_and_bounds_pairs(spark):
    """A boilerplate mega-bucket (60 near-identical docs, all colliding
    in every band) must be truncated to max_bucket_size — the quadratic
    in-bucket expansion is bounded by C(cap, 2) pairs, never C(60, 2) —
    and the opt-in log_fn reports the truncation."""
    from event_stream_starter_spark.operators.dedup import minhash_lsh_pairs

    # 60 docs sharing one long boilerplate body (identical shingle sets →
    # identical signatures → one bucket per band) + 2 unrelated docs.
    body = " ".join(f"w{i}" for i in range(40))
    rows = [(i, body) for i in range(60)]
    rows += [(100, "completely different text about other things entirely x y"),
             (101, "another unrelated document with its own vocabulary a b c")]
    df = spark.createDataFrame(rows, "id long, text string")

    logs: list[str] = []
    pairs = minhash_lsh_pairs(
        df, "id", "text", threshold=0.5, max_bucket_size=10, log_fn=logs.append
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # Cap fired and was reported.
    assert logs and "truncating" in logs[0]
    # Identical docs all land in the same kept prefix (sorted ids 0..9 per
    # bucket), so the emitted pair set is exactly C(10,2) — quadratic in
    # the CAP, not in the mega-bucket size.
    assert got == {(a, b) for a in range(10) for b in range(a + 1, 10)}
    # Without the cap the same input yields the full C(60,2) expansion.
    full = minhash_lsh_pairs(df, "id", "text", threshold=0.5)
    assert full.count() == 60 * 59 // 2


def test_simhash_banding_finds_exact_hamming_pair_set(spark, sf_dir):
    """Pigeonhole guarantee: with 4 bands of 16 bits, any pair within
    hamming<=3 shares at least one identical band — so the banded result
    must EQUAL the brute-force all-pairs result, not approximate it."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.dedup import hamming64, simhash64

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    base = docs.select(F.col("doc_id").alias("id"), simhash64(toks).alias("sh"))
    a, b = base.alias("a"), base.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", hamming64(F.col("a.sh"), F.col("b.sh")))
        .filter(F.col("hamming") <= 3)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
    )
    want = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in all_queries()["dd_simhash"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_ann_lsh_recall_on_planted_clusters(spark):
    """The driver embeddings are isotropic noise (no ANN method beats
    chance there); recall is validated on a PLANTED clustered corpus:
    20 centroids x 25 jittered members — a query's true top-k are its
    cluster siblings, and multi-table hyperplane LSH must find them."""
    import random

    from event_stream_starter_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from event_stream_starter_spark.queries.vectors import _plane_tables

    rng = random.Random(7)
    dim, rows = 16, []
    for c in range(20):
        centroid = [rng.gauss(0, 1) for _ in range(dim)]
        for m in range(25):
            vec = [x + rng.gauss(0, 0.15) for x in centroid]
            rows.append((c * 25 + m, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(emb.vec_id % 25 == 0).limit(10)

    exact = {
        (r["vec_id_q"], r["vec_id_c"])
        for r in brute_force_topk(q, emb, "vec_id", "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["vec_id_q"], r["vec_id_c"])
        for r in lsh_topk(
            q, emb, "vec_id", "vec_id", _plane_tables(4, 6, dim), "embedding", k=5
        ).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"ANN recall on clustered corpus {recall:.2f}"


def test_ann_lsh_driver_data_is_subset_ranked(spark, sf_dir):
    """On the driver's noise embeddings: results must still be correctly
    scored and ranked (subset of the brute-force score table)."""
    exact_scores = {
        (r["vec_id_q"], r["vec_id_c"]): r["cos_sim"]
        for r in all_queries()["ann_cosine_topk"].fn(spark, sf_dir).collect()
    }
    approx = all_queries()["ann_lsh_topk"].fn(spark, sf_dir).collect()
    assert approx
    by_q: dict = {}
    for r in approx:
        by_q.setdefault(r["vec_id_q"], []).append((r["rank"], r["cos_sim"]))
        if (r["vec_id_q"], r["vec_id_c"]) in exact_scores:
            assert abs(r["cos_sim"] - exact_scores[(r["vec_id_q"], r["vec_id_c"])]) < 1e-9
    for ranks in by_q.values():
        ranks.sort()
        sims = [s for _, s in ranks]
        assert sims == sorted(sims, reverse=True)  # rank order == score order


def test_ann_ivf_recall_on_planted_clusters(spark):
    """IVF with a deterministic k-means quantizer on a planted clustered
    corpus: probing 4 of 16 lists must recover >=80% of the exact top-k
    (cluster siblings dominate the true neighbors)."""
    import random

    from event_stream_starter_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = random.Random(11)
    dim, rows = 16, []
    for c in range(20):
        centroid = [rng.gauss(0, 1) for _ in range(dim)]
        for m in range(25):
            vec = [x + rng.gauss(0, 0.15) for x in centroid]
            rows.append((c * 25 + m, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(emb.vec_id % 25 == 0).limit(10)

    exact = {
        (r["vec_id_q"], r["vec_id_c"])
        for r in brute_force_topk(q, emb, "vec_id", "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["vec_id_q"], r["vec_id_c"])
        for r in ivf_topk(
            q, emb, "vec_id", "vec_id", "embedding",
            k=5, n_clusters=16, n_probe=4, kmeans_iters=2,
        ).collect()
    }
    assert approx <= {
        (a, b) for a in {p[0] for p in exact} for b in range(500) if a != b
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall:.2f}"


def test_incremental_minhash_equals_full_recompute(spark, sf_dir):
    """Split the corpus into 'history' and 'increment' by id parity:
    pairs(old-only run) ∪ pairs(incremental run against the stored
    index) must equal the one-shot pairs over the full corpus — same
    pair set, same exact-verified similarities."""
    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    kw = dict(threshold=0.5, num_hashes=64, bands=16, shingle_n=5)
    old = docs.filter(docs["doc_id"] % 2 == 0)
    new = docs.filter(docs["doc_id"] % 2 == 1)

    def as_set(df):
        return {
            (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9))
            for r in df.collect()
        }

    full = as_set(minhash_lsh_pairs(docs, "doc_id", "text", **kw))
    old_only = as_set(minhash_lsh_pairs(old, "doc_id", "text", **kw))
    index = minhash_signatures(old, "doc_id", "text", 64, 5).persist()
    try:
        incr_df, new_index = incremental_minhash_pairs(
            new, index, "doc_id", "text", **kw
        )
        incr = as_set(incr_df)

        assert old_only | incr == full
        assert not (old_only & incr), "incremental re-reported an old-old pair"
        assert new_index.count() == docs.count()
    finally:
        # Session-scoped SparkSession: leaked caches would pin executor
        # memory for the rest of the suite.
        new_index.unpersist()
        index.unpersist()


@pytest.mark.parametrize("small_graph_limit", [None, 0])
def test_connected_components_random_graphs_match_union_find(
    spark, small_graph_limit
):
    """Seeded random graphs (varied density, incl. isolated-pair-free
    long chains), an empty pair set and string node ids vs a
    pure-Python union-find — BOTH strategy paths: the default (driver
    union-find under the size gate) and, with small_graph_limit=0, the
    distributed label-propagation loop, so a regression in either
    cannot hide behind the other. The driver path's labels must be a
    JVM-local relation, not a pickled Python RDD."""
    import random

    from event_stream_starter_spark.operators.graph import connected_components
    from tests.oracle_utils import union_find_clusters

    kwargs = {} if small_graph_limit is None else {
        "small_graph_limit": small_graph_limit
    }
    cases = []
    for seed, n_nodes, n_edges in [(1, 30, 10), (2, 40, 60), (3, 25, 24)]:
        rng = random.Random(seed)
        edges = list(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(n_edges)
            }
        )
        cases.append((f"seed={seed}", edges, "bigint"))
    cases.append(("empty", [], "bigint"))
    # String ids order lexicographically ('doc-10' < 'doc-9'): the
    # label is the min id by string order on both sides.
    cases.append(
        ("strings", [(f"doc-{a}", f"doc-{b}") for a, b in cases[0][1]], "string")
    )
    for name, edges, id_type in cases:
        pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
        cc = connected_components(pairs, **kwargs)
        assert cc.dtypes == [("node", id_type), ("label", id_type)], name
        got = {(r["node"], r["label"]) for r in cc.collect()}
        expected = set(union_find_clusters(edges).items())
        assert got == expected, name
        if small_graph_limit is None:
            plan = cc._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_minhash_vectorized_signature_bit_equals_sql(spark, sf_dir):
    """The Arrow/numpy signature kernel must be BYTE-IDENTICAL to the
    SQL expression form: a signature index written by either path (or a
    mix, e.g. a streaming sink on the vectorized path reading an index
    built by the SQL fallback) must verify/band identically."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Degenerate rows both paths must agree on: NULL text (hh NULL) and
    # blank text (empty shingle set) — each yields an all-NULL sig.
    degenerate = spark.createDataFrame(
        [(-1, None), (-2, "")], "doc_id long, text string"
    )
    docs = docs.unionByName(degenerate)
    vec = dd.minhash_signatures(docs, "doc_id", "text", 64, 5, vectorized=True)
    ref = vec.drop("sig").withColumn(
        "sig", F.expr(dd.minhash_signature_sql("hh", 64))
    )
    got = {(r["id"], tuple(r["sig"])) for r in vec.collect()}
    want = {(r["id"], tuple(r["sig"])) for r in ref.collect()}
    assert got == want
    assert got and all(
        v is None for rid, sig in got for v in sig if rid in (-1, -2)
    )


def test_simhash_pairs_rejects_pigeonhole_violation(spark):
    """Out-of-contract banding silently loses recall — must raise."""
    import pytest

    from event_stream_starter_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, "doc_id", "text", max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        simhash_pairs(df, "doc_id", "text", max_hamming=2, bands=5)


def _numpy_semdedup(rows, centroids, threshold):
    """Pure-numpy recompute of the semdedup laws: argmax-cosine
    assignment against the given centroids, (centroid_cos, id) asc
    order per cluster, drop iff >= threshold-similar to any earlier
    member. Float ops mirror the engine's double math; comparisons in
    the tests below only cross thresholds with wide margins, so 1-ulp
    summation differences cannot flip them."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    ids = [r[0] for r in rows]
    V = np.asarray([r[1] for r in rows], dtype=np.float64)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    sims = Vn @ Cn.T
    cluster = sims.argmax(axis=1)
    ccos = sims.max(axis=1)
    kept = {}
    for cl in set(cluster.tolist()):
        idx = [i for i in range(len(ids)) if cluster[i] == cl]
        idx.sort(key=lambda i: (ccos[i], ids[i]))
        for pos, i in enumerate(idx):
            dropped = any(
                float(Vn[i] @ Vn[j]) >= 0.95 - 1e-12 for j in idx[:pos]
            )
            kept[ids[i]] = (int(cluster[i]), not dropped)
    return kept


def test_semdedup_planted_duplicates_exact(spark):
    """Two well-separated clusters; within each, planted near-identical
    duplicate groups. The kept set must match the numpy recompute
    exactly, the survivor of each dup group must be its
    lowest-centroid-cos member, and distinct-direction vectors must all
    survive."""
    import numpy as np

    from event_stream_starter_spark.operators.similarity import semdedup

    rng = np.random.RandomState(7)
    dim = 16
    a = np.zeros(dim); a[0] = 1.0
    b = np.zeros(dim); b[1] = 1.0
    rows = []
    # Cluster A: one dup trio (tiny distinct perturbations), two loners.
    for i, eps in [(0, 0.00), (1, 0.01), (2, 0.02)]:
        v = a.copy(); v[2] = eps
        rows.append((i, v / np.linalg.norm(v)))
    loner = a.copy(); loner[3] = 0.9          # ~0.74 cos to the trio
    rows.append((3, loner / np.linalg.norm(loner)))
    loner2 = a.copy(); loner2[4] = -0.9
    rows.append((4, loner2 / np.linalg.norm(loner2)))
    # Cluster B: a dup pair + a loner.
    for i, eps in [(10, 0.00), (11, 0.015)]:
        v = b.copy(); v[5] = eps
        rows.append((i, v / np.linalg.norm(v)))
    lb = b.copy(); lb[6] = 0.9
    rows.append((10 + 2, lb / np.linalg.norm(lb)))

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    centroids = [list(a), list(b)]
    out = semdedup(df, "vec_id", "embedding", threshold=0.95, centroids=centroids)
    got = {r["id"]: (r["cluster"], r["is_kept"]) for r in out.collect()}
    want = _numpy_semdedup(rows, centroids, 0.95)
    assert got == want
    # Exactly one survivor per dup group; every loner survives.
    trio_kept = [i for i in (0, 1, 2) if got[i][1]]
    pair_kept = [i for i in (10, 11) if got[i][1]]
    assert len(trio_kept) == 1 and len(pair_kept) == 1
    assert got[3][1] and got[4][1] and got[12][1]
    # Diversity law: the survivor is the lowest-centroid-cos member —
    # id 2 (largest perturbation) in the trio, 11 in the pair.
    assert trio_kept == [2] and pair_kept == [11]


def test_semdedup_kept_set_invariant_on_corpus(spark, sf_dir):
    """On the real embeddings table: no two KEPT members of the same
    cluster may be >= threshold-similar (the drop law's fixpoint), and
    every cluster keeps at least one member."""
    import itertools

    import numpy as np

    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.io import load_table

    out = all_queries()["dd_semdedup"].fn(spark, sf_dir)
    rows = out.collect()
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == len(emb)
    for cl, members in by_cluster.items():
        kept = [m for m in members if m["is_kept"]]
        assert kept, f"cluster {cl} kept nothing"
        for x, y in itertools.combinations(kept, 2):
            vx, vy = emb[x["vec_id"]], emb[y["vec_id"]]
            cos = float(vx @ vy) / (np.linalg.norm(vx) * np.linalg.norm(vy))
            assert cos < 0.95 + 1e-9, (
                f"kept pair {x['vec_id']},{y['vec_id']} in cluster {cl} "
                f"is {cos:.4f}-similar"
            )


def test_semdedup_increment_fixpoint_and_immutability(spark):
    """Two increments against a frozen quantizer: previously kept
    vectors are never dropped, every new decision respects the
    dedup-against-index law, and the kept-set fixpoint (no two kept
    members of a cluster >= threshold-similar) holds over the UNION
    after each run. Cold start degenerates to batch semdedup."""
    import itertools

    import numpy as np

    from event_stream_starter_spark.operators.similarity import (
        semdedup,
        semdedup_increment,
    )

    dim = 16
    a = np.zeros(dim); a[0] = 1.0
    b = np.zeros(dim); b[1] = 1.0
    centroids = [list(a), list(b)]

    def mk(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in (v / np.linalg.norm(v))]) for i, v in rows],
            "vec_id long, embedding array<double>",
        )

    def perturbed(base, axis, eps):
        v = base.copy(); v[axis] = eps
        return v

    # Increment 1: a dup pair in cluster A + one loner in B.
    inc1 = [(0, perturbed(a, 2, 0.0)), (1, perturbed(a, 2, 0.01)),
            (10, perturbed(b, 5, 0.9))]
    dec1, idx1, _new1 = semdedup_increment(
        mk(inc1), None, centroids, "vec_id", "embedding", threshold=0.95
    )
    got1 = {r["id"]: r["is_kept"] for r in dec1.collect()}
    # Cold start == batch semdedup on the same rows.
    batch1 = {
        r["id"]: r["is_kept"]
        for r in semdedup(
            mk(inc1), "vec_id", "embedding", threshold=0.95, centroids=centroids
        ).collect()
    }
    assert got1 == batch1
    kept1 = {i for i, k in got1.items() if k}

    # Increment 2: a near-copy of increment 1's kept A-vector (must be
    # dropped: history wins), a genuinely new A direction (kept), and a
    # new dup pair in B (one survivor).
    kept_a_id = next(i for i in kept1 if i in (0, 1))
    eps_kept = 0.01 if kept_a_id == 1 else 0.0
    inc2 = [
        (20, perturbed(a, 2, eps_kept + 0.001)),  # ~identical to kept A row
        (21, perturbed(a, 3, -0.9)),              # new direction, kept
        (30, perturbed(b, 6, 0.02)), (31, perturbed(b, 6, 0.025)),
    ]
    dec2, idx2, new2 = semdedup_increment(
        mk(inc2), idx1, centroids, "vec_id", "embedding", threshold=0.95
    )
    got2 = {r["id"]: r["is_kept"] for r in dec2.collect()}
    assert got2[20] is False  # history wins
    assert got2[21] is True
    assert [got2[30], got2[31]].count(True) == 1
    # Immutability: increment-1 decisions unchanged in the new index.
    idx_ids = {r["id"] for r in idx2.collect()}
    assert kept1 <= idx_ids
    # Fixpoint over the union: no two kept members of a cluster similar.
    rows = idx2.collect()
    vecs = {r["id"]: np.asarray(r["v"], dtype=np.float64) for r in rows}
    by_cl: dict[int, list] = {}
    for r in rows:
        by_cl.setdefault(r["cluster"], []).append(r["id"])
    for cl, ids in by_cl.items():
        for x, y in itertools.combinations(ids, 2):
            vx, vy = vecs[x], vecs[y]
            cos = float(vx @ vy) / (np.linalg.norm(vx) * np.linalg.norm(vy))
            assert cos < 0.95, f"kept pair {x},{y} in cluster {cl}: {cos:.4f}"


def test_containment_finds_embedded_doc_that_jaccard_misses(spark):
    """The asymmetric case that motivates the operator: a short doc
    quoted verbatim inside a much longer one has containment 1.0 but
    Jaccard far below any dedup threshold — the containment join must
    emit exactly the directed pair, and the Jaccard join must not."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.operators.dedup import (
        containment_prefix_join,
        jaccard_prefix_join,
        token_shingles,
    )

    quote = " ".join(f"q{i}" for i in range(12))  # 12 tokens, 10 shingles
    long_doc = (
        " ".join(f"a{i}" for i in range(300)) + " " + quote + " "
        + " ".join(f"z{i}" for i in range(300))
    )
    other = " ".join(f"m{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    sh = docs.select(
        "doc_id",
        F.transform(token_shingles(F.col("text"), 3), lambda s: F.xxhash64(s)).alias(
            "sh"
        ),
    )
    cont = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_prefix_join(sh, "doc_id", "sh", 0.9).collect()
    }
    assert cont == {(1, 2, 1.0)}  # directed: quote contained in long, only
    jac = jaccard_prefix_join(sh, "doc_id", "sh", 0.5).collect()
    assert jac == []


def _py_para_vectors(sf_dir: str, w: int = 32, d: int = 64):
    """Pure-python recompute of queries/vectors._para_vectors: 32-token
    wrap units, md5-derived 64-dim hashing count vectors."""
    import hashlib

    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    ).fetchall()
    con.close()
    out = {}
    for doc_id, text in rows:
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]
        for i in range(0, (len(toks) + w - 1) // w):
            vec = np.zeros(d)
            for t in toks[i * w : (i + 1) * w]:
                vec[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % d] += 1.0
            out[(doc_id, i)] = vec
    return out


def test_semdedup_para_kept_set_invariant(spark, sf_dir):
    """Paragraph-granular SemDeDup: the featurization matches a pure
    hashlib/numpy recompute, no two KEPT members of a cluster are
    >= 0.95-similar (the drop law's fixpoint), every cluster keeps at
    least one member, and every paragraph unit is covered."""
    import numpy as np

    out = all_queries()["dd_semdedup_para"].fn(spark, sf_dir).collect()
    spark.catalog.clearCache()
    vecs = _py_para_vectors(sf_dir)
    assert len(out) == len(vecs)  # every unit got a verdict
    by_cluster: dict[int, list] = {}
    for r in out:
        assert (r["doc_id"], r["para_idx"]) in vecs
        by_cluster.setdefault(r["cluster"], []).append(r)
    dropped = sum(1 for r in out if not r["is_kept"])
    assert dropped > 0  # the corpus has real structure at 0.95
    for cl, members in by_cluster.items():
        kept = [m for m in members if m["is_kept"]]
        assert kept, f"cluster {cl} kept nothing"
        for x, y in itertools.combinations(kept, 2):
            vx = vecs[(x["doc_id"], x["para_idx"])]
            vy = vecs[(y["doc_id"], y["para_idx"])]
            cos = float(vx @ vy) / (
                np.linalg.norm(vx) * np.linalg.norm(vy)
            )
            assert cos < 0.95 + 1e-9, (
                f"kept pair {x['doc_id']}:{x['para_idx']},"
                f"{y['doc_id']}:{y['para_idx']} in cluster {cl} "
                f"is {cos:.4f}-similar"
            )


def test_pq_codes_and_adc_match_numpy(spark, sf_dir):
    """PQ encoding + ADC math golden: GIVEN the trained codebooks, the
    per-vector codes and the re-ranked top-k must equal a pure numpy
    recompute exactly (first-argmin ties included). Isolates the
    encode/ADC/re-rank law from k-means (seeded deterministically and
    covered by the cert's recall bound)."""
    import numpy as np

    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import (
        _N_QUERIES,
        _PQ_SHORTLIST,
        _TOP_K,
        _pq_codebooks,
    )
    from event_stream_starter_spark.io import load_table

    cbs = _pq_codebooks(spark, sf_dir)
    rows = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    M = len(cbs)
    ds = dim // M
    C = [np.array(cb, dtype=np.float64) for cb in cbs]
    codes = np.zeros((n, M), dtype=int)
    for m in range(M):
        d = ((X[:, None, m * ds:(m + 1) * ds] - C[m][None, :, :]) ** 2).sum(-1)
        codes[:, m] = d.argmin(1)  # numpy argmin = first min, same tie-break

    got = all_queries()["ann_pq_topk"].fn(spark, sf_dir).collect()
    want = {}
    for qi in np.where(ids < _N_QUERIES)[0]:
        qv = X[qi]
        adc = np.zeros(n)
        for m in range(M):
            lut = ((C[m] - qv[m * ds:(m + 1) * ds]) ** 2).sum(-1)
            adc += lut[codes[:, m]]
        order = [i for i in np.lexsort((ids, adc)) if i != qi]
        short = order[:_PQ_SHORTLIST]
        exact = np.sqrt(((X[short] - qv) ** 2).sum(1))
        rr = [short[j] for j in np.lexsort((ids[short], exact))][:_TOP_K]
        for rank, i in enumerate(rr, 1):
            want[(int(ids[qi]), int(ids[i]))] = (
                round(float(np.sqrt(adc[i])), 6),
                round(float(np.sqrt(((X[i] - qv) ** 2).sum())), 6),
                rank,
            )
    got_map = {
        (r["vec_id_q"], r["vec_id_c"]): (
            r["adc_dist"],
            r["exact_dist"],
            r["rank"],
        )
        for r in got
    }
    assert got_map == want and len(want) == _N_QUERIES * _TOP_K


def test_ivfpq_composition_matches_numpy(spark, sf_dir):
    """IVF-PQ composition golden: GIVEN the trained coarse quantizer and
    PQ codebooks, the probe -> ADC -> re-rank chain must equal a numpy
    recompute exactly (assignment argmax, probe ordering, shortlist and
    re-rank tie-breaks included)."""
    import numpy as np

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import (
        _N_QUERIES,
        _PQ_SHORTLIST,
        _TOP_K,
        _ivf_centroids,
        _pq_codebooks,
    )

    cents = np.array(_ivf_centroids(spark, sf_dir), dtype=np.float64)
    cbs = [np.array(c, dtype=np.float64) for c in _pq_codebooks(spark, sf_dir)]
    rows = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    M = len(cbs)
    ds = dim // M

    def cos_to_cents(v):
        num = cents @ v
        den = np.linalg.norm(cents, axis=1) * np.linalg.norm(v)
        return num / den

    cluster = np.array([int(np.argmax(cos_to_cents(x))) for x in X])
    codes = np.zeros((n, M), dtype=int)
    for m in range(M):
        d = ((X[:, None, m * ds:(m + 1) * ds] - cbs[m][None, :, :]) ** 2).sum(-1)
        codes[:, m] = d.argmin(1)

    want = {}
    for qi in np.where(ids < _N_QUERIES)[0]:
        qv = X[qi]
        s = cos_to_cents(qv)
        # reverse(array_sort(struct(s, cl))): desc by s, ties desc by cl
        probe = sorted(range(len(s)), key=lambda j: (-s[j], -j))[:4]
        cand = [
            i for i in range(n)
            if cluster[i] in probe and i != qi
        ]
        adc = np.zeros(n)
        for m in range(M):
            lut = ((cbs[m] - qv[m * ds:(m + 1) * ds]) ** 2).sum(-1)
            adc += lut[codes[:, m]]
        cand.sort(key=lambda i: (adc[i], ids[i]))
        short = cand[:_PQ_SHORTLIST]
        short.sort(key=lambda i: (np.sqrt(((X[i] - qv) ** 2).sum()), ids[i]))
        for rank, i in enumerate(short[:_TOP_K], 1):
            want[(int(ids[qi]), int(ids[i]))] = (
                round(float(np.sqrt(adc[i])), 6),
                round(float(np.sqrt(((X[i] - qv) ** 2).sum())), 6),
                rank,
            )
    got = {
        (r["vec_id_q"], r["vec_id_c"]): (r["adc_dist"], r["exact_dist"], r["rank"])
        for r in all_queries()["ann_ivfpq_topk"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(want) == _N_QUERIES * _TOP_K


def test_pq_joint_trainer_equals_per_subspace(spark):
    """The joint PQ trainer (one corpus pass per Lloyd iteration for
    ALL subspaces) must produce the same codebooks as the canonical
    per-subspace trainer — same seeds, assignment law, mean update and
    empty-cluster rule. Pinned on an exact-arithmetic corpus (small
    integers: double sums are exact, so aggregation-order differences
    between the two plans cannot manufacture a spurious diff)."""
    import itertools

    from event_stream_starter_spark.operators.similarity import (
        pq_codebooks,
        pq_codebooks_per_subspace,
    )

    vals = [0.0, 1.0, 2.0, 3.0]
    rows = [
        (i, [float(vals[(i + j) % 4]) for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    joint = pq_codebooks(df, "embedding", "vec_id", dim=8, m=4, k=3, iters=2)
    per = pq_codebooks_per_subspace(
        df, "embedding", "vec_id", dim=8, m=4, k=3, iters=2
    )
    assert joint == per


def _fold_rotate(V, R):
    """Rotate rows of V by R in Spark's dot-fold order: out[:, j] is the
    LEFT fold sum_i R[j,i]*V[:,i] — numpy's BLAS matmul may sum in a
    different order (pairwise), enough to flip a code on a near-tie."""
    import numpy as np

    n, dim = V.shape
    out = np.zeros((n, dim))
    for j in range(dim):
        acc = np.zeros(n)
        for i in range(dim):
            acc += R[j][i] * V[:, i]
        out[:, j] = acc
    return out


def test_opq_rotation_properties(spark, sf_dir):
    """The parametric-OPQ rotation (Ge et al. 2014 §4) must be a real
    rotation: orthonormal to machine precision (so rotated-space L2 ==
    original L2 — the isometry the query's exact re-rank relies on),
    deterministic across re-fits, and variance-BALANCING: the greedy
    eigen-allocation's per-subspace variance mass must spread no wider
    than the identity coordinate split it replaces."""
    import numpy as np

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.similarity import opq_rotation
    from event_stream_starter_spark.queries.vectors import _PQ_DIM, _PQ_M

    emb = load_table(spark, sf_dir, "embeddings")
    rot = opq_rotation(emb, "embedding", "vec_id", dim=_PQ_DIM, m=_PQ_M)
    R = np.array(rot)
    assert np.abs(R @ R.T - np.eye(_PQ_DIM)).max() < 1e-9
    # determinism: a re-fit returns the identical literal
    rot2 = opq_rotation(emb, "embedding", "vec_id", dim=_PQ_DIM, m=_PQ_M)
    assert rot == rot2
    # isometry on real vectors
    rows = emb.orderBy("vec_id").limit(20).collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    RX = X @ R.T
    for a in range(len(X)):
        for b in range(a + 1, len(X)):
            d0 = np.linalg.norm(X[a] - X[b])
            d1 = np.linalg.norm(RX[a] - RX[b])
            assert abs(d0 - d1) < 1e-9 * max(d0, 1.0)
    # variance balance (the eigenvalue-allocation objective, Ge et al.
    # §4.2): per-subspace log-products of assigned eigenvalues must be
    # FAR tighter than the unbalanced contiguous-descending allocation
    # (measured 2.2-2.4 vs 21.3 on the frozen corpora — a 9x win; the
    # corpus spectrum spans ~425x, so the balance is load-bearing)
    import pyspark.sql.functions as F

    sample = emb.filter(F.col("vec_id") % 7 == 0).collect()
    S = np.array([r["embedding"] for r in sample], dtype=np.float64)
    ds = _PQ_DIM // _PQ_M
    mom = (S.T @ S) / len(S)
    lam = np.diag(R @ mom @ R.T)  # assigned eigenvalues, block order
    lp = [
        np.log(np.maximum(lam[i * ds:(i + 1) * ds], 1e-12)).sum()
        for i in range(_PQ_M)
    ]
    ev = np.sort(np.linalg.eigh(mom)[0])[::-1]
    lpn = [
        np.log(np.maximum(ev[i * ds:(i + 1) * ds], 1e-12)).sum()
        for i in range(_PQ_M)
    ]
    assert max(lp) - min(lp) <= 0.5 * (max(lpn) - min(lpn))


def test_opq_codes_and_adc_match_numpy(spark, sf_dir):
    """OPQ full-path golden (the ann_pq_topk golden on the rotated
    tier): GIVEN the fitted rotation + codebooks, rotate -> encode ->
    ADC -> salted shortlist -> exact re-rank must equal a pure numpy
    recompute exactly (fold-order rotation, first-argmin ties, lexsort
    tie-breaks). On the near-isotropic synthetic corpus the rotation is
    recall-NEUTRAL vs plain PQ (measured shortlist recall 0.96-1.00 vs
    0.98 — the published win needs anisotropic data); the golden pins
    the MECHANISM, the cert pins the deployed bound."""
    import numpy as np

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import (
        _N_QUERIES,
        _PQ_SHORTLIST,
        _TOP_K,
        _opq_model,
    )

    rot, cbs = _opq_model(spark, sf_dir)
    rows = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    M = len(cbs)
    ds = dim // M
    C = [np.array(cb, dtype=np.float64) for cb in cbs]
    RX = _fold_rotate(X, rot)
    codes = np.zeros((n, M), dtype=int)
    for m in range(M):
        d = ((RX[:, None, m * ds:(m + 1) * ds] - C[m][None, :, :]) ** 2).sum(-1)
        codes[:, m] = d.argmin(1)

    got = all_queries()["ann_opq_topk"].fn(spark, sf_dir).collect()
    want = {}
    for qi in np.where(ids < _N_QUERIES)[0]:
        qv, rqv = X[qi], RX[qi]
        adc = np.zeros(n)
        for m in range(M):
            lut = ((C[m] - rqv[m * ds:(m + 1) * ds]) ** 2).sum(-1)
            adc += lut[codes[:, m]]
        order = [i for i in np.lexsort((ids, adc)) if i != qi]
        short = order[:_PQ_SHORTLIST]
        exact = np.sqrt(((X[short] - qv) ** 2).sum(1))
        rr = [short[j] for j in np.lexsort((ids[short], exact))][:_TOP_K]
        for rank, i in enumerate(rr, 1):
            want[(int(ids[qi]), int(ids[i]))] = (
                round(float(np.sqrt(adc[i])), 6),
                round(float(np.sqrt(((X[i] - qv) ** 2).sum())), 6),
                rank,
            )
    got_map = {
        (r["vec_id_q"], r["vec_id_c"]): (
            r["adc_dist"],
            r["exact_dist"],
            r["rank"],
        )
        for r in got
    }
    assert got_map == want and len(want) == _N_QUERIES * _TOP_K


def test_ivfopq_composition_matches_numpy(spark, sf_dir):
    """IVF-OPQ composition golden: GIVEN the coarse quantizer, the OPQ
    rotation and the rotated codebooks, the probe -> rotate -> ADC ->
    re-rank chain must equal a numpy recompute exactly (original-space
    probing, fold-order rotation, first-argmin codes, lexsort
    tie-breaks)."""
    import numpy as np

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.vectors import (
        _N_QUERIES,
        _PQ_SHORTLIST,
        _TOP_K,
        _ivf_centroids,
        _opq_model,
    )

    cents = np.array(_ivf_centroids(spark, sf_dir), dtype=np.float64)
    rot, cbs_l = _opq_model(spark, sf_dir)
    cbs = [np.array(c, dtype=np.float64) for c in cbs_l]
    rows = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    M = len(cbs)
    ds = dim // M
    RX = _fold_rotate(X, rot)

    def cos_to_cents(v):
        num = cents @ v
        den = np.linalg.norm(cents, axis=1) * np.linalg.norm(v)
        return num / den

    cluster = np.array([int(np.argmax(cos_to_cents(x))) for x in X])
    codes = np.zeros((n, M), dtype=int)
    for m in range(M):
        d = ((RX[:, None, m * ds:(m + 1) * ds] - cbs[m][None, :, :]) ** 2).sum(-1)
        codes[:, m] = d.argmin(1)

    want = {}
    for qi in np.where(ids < _N_QUERIES)[0]:
        qv, rqv = X[qi], RX[qi]
        s = cos_to_cents(qv)
        probe = sorted(range(len(s)), key=lambda j: (-s[j], -j))[:4]
        cand = [i for i in range(n) if cluster[i] in probe and i != qi]
        adc = np.zeros(n)
        for m in range(M):
            lut = ((cbs[m] - rqv[m * ds:(m + 1) * ds]) ** 2).sum(-1)
            adc += lut[codes[:, m]]
        cand.sort(key=lambda i: (adc[i], ids[i]))
        short = cand[:_PQ_SHORTLIST]
        short.sort(key=lambda i: (np.sqrt(((X[i] - qv) ** 2).sum()), ids[i]))
        for rank, i in enumerate(short[:_TOP_K], 1):
            want[(int(ids[qi]), int(ids[i]))] = (
                round(float(np.sqrt(adc[i])), 6),
                round(float(np.sqrt(((X[i] - qv) ** 2).sum())), 6),
                rank,
            )
    got = {
        (r["vec_id_q"], r["vec_id_c"]): (r["adc_dist"], r["exact_dist"], r["rank"])
        for r in all_queries()["ann_ivfopq_topk"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(want) == _N_QUERIES * _TOP_K


def test_rotate_udf_equals_column_fold(spark, sf_dir):
    """The Arrow rotation tier must be BIT-IDENTICAL to the Column fold
    over the whole frozen corpus — the contract that lets the OPQ
    family serve through rotate_udf while every cert/golden keeps
    value-proving the path (the x_bpe_encode_cert two-tier pattern,
    with exact equality instead of an in-plan boolean)."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.similarity import (
        opq_rotation,
        rotate_expr,
        rotate_udf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rot = opq_rotation(emb, "embedding", "vec_id", dim=64, m=16)
    j = (
        emb.select(
            "vec_id",
            rotate_expr(F.col("embedding"), rot).alias("r1"),
            rotate_udf(rot)(F.col("embedding")).alias("r2"),
        )
        .selectExpr(
            "sum(cast(r1 = r2 as int)) AS eq", "count(*) AS n"
        )
        .collect()[0]
    )
    assert j["eq"] == j["n"] and j["n"] > 0


def test_edit_distance_blocking_is_lossless_at_band_edges(spark, tmp_path):
    """dd_edit_distance on PLANTED documents: a pair at EXACTLY
    |dlen| = d whose length buckets differ by 1 must be found (the
    +/-1-bucket explode is load-bearing), a pair at |dlen| = d+1 must
    not, and the full output must equal a brute-force python
    Levenshtein sweep."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.queries import all_queries
    from event_stream_starter_spark.queries.textdata import _EDIT_D

    d = _EDIT_D
    base = "x" * 20
    docs = [
        (1, base, "en", "web"),                      # len 20, bucket 2
        (2, base + "y" * d, "en", "web"),            # len 28: dlen=d, bucket 3
        (3, base + "y" * (d + 1), "en", "web"),      # len 29: dlen=d+1 vs doc 1
        (4, base[:-1] + "z", "en", "web"),           # len 20: 1 substitution
        (5, "completely different text here!!", "en", "web"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    sf = tmp_path / "edsf"
    df.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))

    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in all_queries()["dd_edit_distance"].fn(spark, str(sf)).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    texts = {i: t for i, t, _, _ in docs}
    want = {}
    for a in texts:
        for b in texts:
            if a < b and lev(texts[a], texts[b]) <= d:
                want[(a, b)] = lev(texts[a], texts[b])
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == d  # exactly-at-band pair found
    assert (1, 3) not in got                   # one past the bound excluded
    assert got[(1, 4)] == 1
    # docs 2 and 3 differ by one char -> also a cross-check pair
    assert got[(2, 3)] == 1


def test_keep_best_prefers_quality_over_min_id(spark, tmp_path):
    """dd_cluster_keep_best on a PLANTED clique where the HIGHEST-
    quality member has the HIGHEST doc_id: the keeper must be the
    quality argmax (diverging from dd_cluster_canonical's min-id pick),
    and a quality tie must break to the LOWER id."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.queries import all_queries

    clean = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "home tonight with great joy and calm delight in the field"
    )
    junky = clean + " !!!! #### $$$$ %%%% @@@@ ^^^^ &&&& **** (((( ))))"
    docs = [
        (1, junky, "en", "web"),            # min id, LOW quality
        (2, junky + " ....", "en", "web"),  # near-dup of 1, low quality
        (3, clean, "en", "web"),            # near-dup, HIGH quality, max id
        # second clique (disjoint vocabulary so it can't merge with the
        # first): exact copies -> quality tie -> min id wins
        (10, "cats sleep on warm windowsills every sunny afternoon", "en", "web"),
        (11, "cats sleep on warm windowsills every sunny afternoon", "en", "web"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    sf = tmp_path / "kbsf"
    df.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))

    rows = {
        r["cluster_id"]: r
        for r in all_queries()["dd_cluster_keep_best"].fn(spark, str(sf)).collect()
    }
    canon = {
        r["cluster_id"]
        for r in all_queries()["dd_cluster_canonical"]
        .fn(spark, str(sf))
        .filter(F.col("is_canonical"))
        .collect()
    }
    # cluster ids are the min member (the components label)
    c1 = rows[1]
    assert c1["cluster_size"] == 3 and c1["n_dropped"] == 2
    assert c1["keep_doc"] == 3          # quality argmax, NOT min id
    assert 1 in canon                    # canonical picks min id -> differs
    c2 = rows[10]
    assert c2["cluster_size"] == 2
    assert c2["keep_doc"] == 10          # exact tie -> lower id


def test_bitext_margin_mines_planted_mate_and_rejects_hub(spark, tmp_path):
    """x_bitext_mine on PLANTED embeddings: a non-en doc whose vector
    nearly equals one en doc must mine exactly that mate; a HUB en
    vector (moderately close to everything) must not be chosen even
    when its raw cosine beats the margin-normalized mate — the ratio
    margin is the law, not absolute cosine."""
    import math

    from event_stream_starter_spark.queries import all_queries

    dim = 8

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    e = [[1.0 if i == j else 0.0 for j in range(dim)] for i in range(dim)]
    hub = unit([1.0] * dim)  # ~0.35 cosine to every axis vector
    mate = unit([1.0, 0.05, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])  # ~doc x
    rows = [
        # non-en side (x): axis 0 with a nudge
        (0, "de", [1.0, 0.02, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        # more non-en docs on other axes (y-side kNN context)
        (1, "fr", e[2]),
        (2, "zh", e[3]),
        (3, "es", e[4]),
        # en side: the true mate, the hub, and two distractors
        (10, "en", mate),
        (11, "en", hub),
        (12, "en", e[5]),
        (13, "en", e[6]),
    ]
    docs = spark.createDataFrame(
        [(i, "text %d" % i, lang, "web") for i, lang, _ in rows],
        "doc_id long, text string, lang string, source string",
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, _, v in rows],
        "vec_id long, embedding array<float>",
    )
    sf = tmp_path / "btsf"
    docs.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    emb.coalesce(1).write.mode("overwrite").parquet(str(sf / "embeddings.parquet"))

    got = {
        r["doc_id_x"]: (r["doc_id_y"], r["margin"], r["cos_sim"])
        for r in all_queries()["x_bitext_mine"].fn(spark, str(sf)).collect()
    }
    assert 0 in got, got
    y, margin, cos = got[0]
    assert y == 10            # the planted mate, not the hub (11)
    assert cos > 0.99
    assert margin >= 1.05


def test_bitext_strategies_laws(spark, sf_dir):
    """x_bitext_mine_strategies must (1) reproduce x_bitext_mine
    exactly as its in_forward slice, (2) pick at most one backward
    mate per pivot doc, (3) mark intersection = forward AND backward
    on every row, (4) emit no row outside the margin bound."""
    from event_stream_starter_spark.queries import all_queries

    qs = all_queries()
    mine = {
        (r["doc_id_x"], r["doc_id_y"]): (r["cos_sim"], r["margin"])
        for r in qs["x_bitext_mine"].fn(spark, sf_dir).collect()
    }
    rows = qs["x_bitext_mine_strategies"].fn(spark, sf_dir).collect()
    assert rows
    fwd = {
        (r["doc_id_x"], r["doc_id_y"]): (r["cos_sim"], r["margin"])
        for r in rows
        if r["in_forward"]
    }
    assert fwd == mine  # forward slice IS the best-mate miner
    per_y = {}
    for r in rows:
        assert r["in_intersection"] == (r["in_forward"] and r["in_backward"])
        assert r["margin"] >= 1.05
        if r["in_backward"]:
            per_y.setdefault(r["doc_id_y"], []).append(r["doc_id_x"])
    assert per_y and all(len(v) == 1 for v in per_y.values())
    assert any(r["in_intersection"] for r in rows)


def test_pq_encode_udf_equals_hof_kernel(spark, sf_dir):
    """The Arrow PQ encoder must be BIT-IDENTICAL to the
    broadcast-codebook HOF kernel (pq_code_col) over the whole frozen
    corpus plus a NULL-vector plant — the contract that lets pq_encode
    serve every build site through the kernel tier (the
    rotate_udf/test_rotate_udf_equals_column_fold pattern)."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.similarity import (
        pq_code_col,
        pq_encode_udf,
        with_codebooks,
    )
    from event_stream_starter_spark.queries.vectors import _pq_codebooks

    cbs = _pq_codebooks(spark, sf_dir)
    m, ds = len(cbs), len(cbs[0][0])
    dim = m * ds
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Plants: a whole-NULL vector AND vectors with a null ELEMENT inside
    # otherwise-valid data (first dim, a middle subspace, last dim) —
    # the case where the Arrow boundary delivers NaN holes and the
    # kernel must reproduce the HOF's per-subspace NULL propagation.
    holed = [
        [None] + [0.25 * (d % 7) for d in range(dim - 1)],
        [0.1 * (d % 5) for d in range(dim)],
        [0.2] * dim,
    ]
    holed[1][dim // 2] = None
    holed[2][dim - 1] = None
    nullrow = spark.createDataFrame(
        [(10**9, None)] + [(10**9 + 1 + i, v) for i, v in enumerate(holed)],
        "vec_id long, embedding array<float>",
    )
    both = with_codebooks(emb.unionByName(nullrow), cbs).select(
        "vec_id",
        pq_code_col("embedding", m, ds).alias("c1"),
        pq_encode_udf(cbs)(F.col("embedding")).alias("c2"),
    )
    r = both.selectExpr(
        "sum(cast(c1 <=> c2 as int)) AS eq", "count(*) AS n"
    ).collect()[0]
    assert r["eq"] == r["n"] and r["n"] > 1


def test_pq_adc_udf_equals_hof_kernel(spark, sf_dir):
    """The Arrow ADC kernel must be BIT-IDENTICAL to pq_adc_sq_col over
    every (query, corpus) pair of the frozen corpus (the serve paths'
    exact pair frame), including a NULL-codes plant."""
    import pyspark.sql.functions as F

    from event_stream_starter_spark.io import load_table
    from event_stream_starter_spark.operators.similarity import (
        pq_adc_sq_col,
        pq_adc_udf,
        pq_encode,
        with_codebooks,
    )
    from event_stream_starter_spark.queries.vectors import _pq_codebooks

    cbs = _pq_codebooks(spark, sf_dir)
    m, ds = len(cbs), len(cbs[0][0])
    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_encode(
        emb.select(F.col("vec_id").alias("cid"), "embedding"),
        "embedding",
        cbs,
        keep=["cid"],
    ).unionByName(
        # plants: NULL codes array, an array of NULL codes (what the
        # encoder emits for a NULL vector), and codes with one null
        # ELEMENT inside otherwise-valid codes — all must yield NULL adc
        spark.createDataFrame(
            [
                (10**9, None),
                (10**9 + 1, [None] * m),
                (10**9 + 2, [0] * (m - 1) + [None]),
            ],
            "cid long, codes array<int>",
        )
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("qvec"),
    ).unionByName(
        # qvec plant with a null element: the HOF NULLs the holed
        # subspace's partial and the fold absorbs it -> NULL adc; the
        # kernel must match (the NaN-hole guard on the qvec branch).
        spark.createDataFrame(
            [(10**9, [None] + [0.5] * (m * ds - 1))],
            "qid long, qvec array<double>",
        )
    )
    both = with_codebooks(codes.crossJoin(F.broadcast(q)), cbs).select(
        "qid",
        "cid",
        pq_adc_sq_col("qvec", "codes", m, ds).alias("a1"),
        pq_adc_udf(cbs)(F.col("qvec"), F.col("codes")).alias("a2"),
    )
    r = both.selectExpr(
        "sum(cast(a1 <=> a2 as int)) AS eq", "count(*) AS n"
    ).collect()[0]
    assert r["eq"] == r["n"] and r["n"] > 1
