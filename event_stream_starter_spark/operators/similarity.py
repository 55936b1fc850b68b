"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant
(random hyperplane signs) is the 100TB scale path — candidates only meet
inside a bucket, so the join is |Q|x|bucket| not |Q|x|N|.

Dot products use the higher-order `aggregate`/`zip_with` built-ins —
JVM-side, no Python boundary.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import arrow_batch as ab


def dot(a: Column, b: Column) -> Column:
    # Cast to double BEFORE multiplying: float32 products lose ~1e-7 of
    # precision, enough to flip a rounded 6-dp comparison.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def salted_topn(
    scored: DataFrame,
    order,
    n: int,
    rank_name: str = "rank",
    part_cols=("qid",),
    salt_key: str = "cid",
    n_salts: int = 16,
) -> DataFrame:
    """Per-partition top-n WITHOUT a corpus-proportional window on a
    bounded-cardinality key (the x_hybrid_rrf_batch / salted-prefix
    decomposition): phase 1 ranks within (part_cols..., __salt =
    xxhash64(salt_key) mod n_salts) keeping n per salt bucket — each
    window task sorts only ~1/n_salts of one partition's candidates —
    then phase 2 ranks the <= n_salts*n survivors per partition (a
    bounded window at any corpus size).

    VALUE-IDENTICAL to a direct PARTITION BY part_cols row_number <= n
    whenever `order` is a total order within a partition (all callers
    tie-break on the id): a row cut in phase 1 has >= n same-partition
    rows strictly above it, so it cannot be in the true top-n, and
    ranking the surviving superset ranks the true top-n identically.
    Returns the input columns plus `rank_name`, filtered to <= n.
    """
    w1 = Window.partitionBy(*part_cols, "__salt").orderBy(*order)
    w2 = Window.partitionBy(*part_cols).orderBy(*order)
    return (
        scored.withColumn(
            "__salt", F.pmod(F.xxhash64(salt_key), F.lit(n_salts))
        )
        .withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= n)
        .withColumn(rank_name, F.row_number().over(w2))
        .filter(F.col(rank_name) <= n)
        .drop("__salt", "__rn1")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Output: (query_id, corpus_id, cos_sim, rank).

    At scale the corpus side is the big table (map-side scored);
    queries are broadcast; the rank is the salted two-phase top-n, so
    no corpus-proportional partition lands on a single qid reducer.
    """
    q = queries.select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos_sim", cosine(F.col("qvec"), F.col("cvec")))
    )
    return salted_topn(
        scored, (F.col("cos_sim").desc(), F.col("cid").asc()), k
    ).select(
        F.col("qid").alias(query_id + "_q"),
        F.col("cid").alias(corpus_id + "_c"),
        "cos_sim",
        "rank",
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of dot(vec, plane_i),
    packed into a string key. Deterministic given the plane list.
    """
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    planes: list[list[float]] | list[list[list[float]]],
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates meet only inside a matching
    hyperplane bucket, then exact-cosine rank.

    ``planes`` is one plane table or a LIST of tables (multi-probe OR):
    recall = 1-(1-p^b)^L for per-plane agreement p — more/smaller tables
    trade candidate volume for recall. Recall is only meaningful when the
    corpus HAS neighbor structure; on isotropic noise every sublinear
    method degenerates to chance (validated on a planted-cluster corpus
    in tests/test_neardup_golden.py).
    """
    tables: list[list[list[float]]] = (
        planes if isinstance(planes[0][0], list) else [planes]  # type: ignore[index]
    )
    bucket_keys = F.array(
        *[
            F.concat(F.lit(f"{i}:"), hyperplane_bucket(F.col(vec_col), tbl))
            for i, tbl in enumerate(tables)
        ]
    )
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(bucket_keys).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cvec"),
        F.explode(bucket_keys).alias("bucket"),
    )
    cand = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("qid") != F.col("cid"))
        .dropDuplicates(["qid", "cid"])  # pair may share several tables
    )
    scored = cand.withColumn("cos_sim", cosine(F.col("qvec"), F.col("cvec")))
    return (
        salted_topn(
            scored, (F.col("cos_sim").desc(), F.col("cid").asc()), k
        )
        .select(
            F.col("qid").alias(query_id + "_q"),
            F.col("cid").alias(corpus_id + "_c"),
            "cos_sim",
            "rank",
        )
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    planes: list[list[list[float]]],
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs at corpus scale: hyperplane-bucket
    blocking instead of a label column (the 100TB path the plain
    embedding_near_dup_pairs docstring defers to). Candidates meet only
    inside a matching (table, bucket) cell across the L plane tables
    (multi-probe OR), then exact cosine verifies — so precision is 1.0
    by construction and recall is the banding probability
    1-(1-p^b)^L, ~1 for near-identical vectors. Deterministic for fixed
    literal planes, which also makes the WHOLE pipeline SQL-expressible
    (the dd_embed_near_dup_lsh DuckDB oracle reproduces the bucket bits
    exactly)."""
    bucket_keys = F.array(
        *[
            F.concat(F.lit(f"{i}:"), hyperplane_bucket(F.col(vec_col), tbl))
            for i, tbl in enumerate(planes)
        ]
    )
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(bucket_keys).alias("bucket"),
    )
    a, c = b.alias("a"), b.alias("b")
    cand = (
        a.join(c, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])  # pair may share several tables
    )
    return (
        cand.withColumn("cos_sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: Column | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    `block_col` bounds the self-join (e.g. an LSH bucket or a label); when
    None the join is unblocked — fine for oracle-scale tests, NOT the
    100TB path (use hyperplane buckets there).
    """
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("vec")]
    if block_col is not None:
        cols.append(block_col.alias("blk"))
    base = df.select(*cols)
    a, b = base.alias("a"), base.alias("b")
    on = (
        (F.col("a.blk") == F.col("b.blk"))
        if block_col is not None
        else F.lit(True)
    )
    return (
        a.join(b, on & (F.col("a.id") < F.col("b.id")))
        .withColumn("cos_sim", cosine(F.col("a.vec"), F.col("b.vec")))
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            "cos_sim",
        )
    )


def _centroid_literal(centroids: list[list[float]]) -> Column:
    """array<array<double>> literal for a (small) centroid table.

    Built as ONE expr() parse: the Column-API form (and F.lit over a
    nested list, which decomposes element-wise) costs k*dim py4j round
    trips per query build — measured ~0.65s of driver latency at k=16,
    dim=64. repr() round-trips doubles exactly; CAST pins the type (a
    bare decimal literal would parse as DECIMAL in Spark SQL).
    """
    rows = ", ".join(
        "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in c) + ")"
        for c in centroids
    )
    return F.expr(f"array({rows})")


def l2_sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two equal-length arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_clusters: int,
    iters: int = 2,
    id_col: str | None = None,
    metric: str = "cosine",
) -> list[list[float]]:
    """Deterministic distributed Lloyd iterations for an IVF coarse
    quantizer. Returns the centroid table (n_clusters x dim floats).

    Seeds are the first n_clusters rows in id order (deterministic across
    runs/partitionings). Each iteration is: map-side assign (argmax cosine
    or argmin L2 against the broadcast centroid literal — `metric`) ->
    posexplode dims -> groupBy(cluster, dim) avg -> collect
    n_clusters*dim aggregated cells. The collect is bounded by the MODEL
    size (k x dim), never the data size — the same contract as MLlib's
    KMeans driver loop. Empty clusters keep their previous centroid.
    L2 is the product-quantization convention (Jegou 2011); cosine is
    the IVF/SemDeDup one.
    """
    vec = F.col(vec_col)
    order = [F.col(id_col)] if id_col else [F.col(vec_col).cast("string")]
    seeds = [
        [float(v) for v in r[0]]
        for r in corpus.select(vec.alias("v")).orderBy(*order).limit(n_clusters).collect()
    ]
    centroids = seeds
    for _ in range(iters):
        lit = _centroid_literal(centroids)
        if metric == "l2":
            dists = F.transform(lit, lambda c: l2_sq(vec, c))
            pick = F.array_position(dists, F.array_min(dists)) - 1
        else:
            scores = F.transform(lit, lambda c: cosine(vec, c))
            pick = F.array_position(scores, F.array_max(scores)) - 1
        # A zero-norm vector (padding/missing-embedding artifact) has
        # NULL cosine to every centroid → NULL argmax; coalesce it into
        # cluster 0 deterministically instead of crashing the driver
        # update loop with a None index.
        assigned = corpus.select(
            F.coalesce(pick, F.lit(0)).alias("cluster"),
            vec.alias("v"),
        )
        cells = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in cells:
            new[r["cluster"]][r["dim"]] = r["m"]
        centroids = new
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into n_clusters
    inverted lists, probe the n_probe closest lists per query, exact-rank
    inside them.

    Scale shape: the centroid table is k x dim floats (a broadcast
    literal); corpus assignment is MAP-ONLY; the probe is an equi-join on
    cluster id, so each query scores ~n_probe/n_clusters of the corpus
    instead of all of it. Corpus lists can be written bucketed-by-cluster
    once and reused across query batches (the assignment is a pure
    column expression of the centroid table).
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, vec_col, n_clusters, iters=kmeans_iters, id_col=corpus_id
        )
    assigned = ivf_assign(corpus, corpus_id, vec_col, centroids)
    return ivf_probe(
        assigned, queries, query_id, corpus_id, vec_col,
        centroids=centroids, k=k, n_probe=n_probe,
    )


def _cluster_scores(vec: Column, centroids: list[list[float]]) -> Column:
    lit = _centroid_literal(centroids)
    return F.transform(lit, lambda c: cosine(vec, c))


def ivf_assign(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """Map-only inverted-list assignment: (cid, cvec, cluster) against a
    broadcast centroid literal. This IS the persistable IVF index state
    (write it bucketed-by-cluster once, reuse across query batches —
    streaming/ann_index.StreamingIvfIndex appends it per micro-batch).

    Aliases to fresh columns FIRST, then derives cluster expressions
    from the aliased columns: queries and corpus usually share lineage
    (a filter of the same table), and nested lambda expressions over
    the original attribute can bind to the wrong self-join instance."""
    return corpus.select(
        F.col(corpus_id).alias("cid"), F.col(vec_col).alias("cvec")
    ).withColumn(
        "cluster",
        # coalesce: zero-norm corpus vectors land in cluster 0 (same
        # rule as the kmeans assignment) instead of a NULL list nobody
        # probes.
        F.coalesce(
            F.array_position(
                _cluster_scores(F.col("cvec"), centroids),
                F.array_max(_cluster_scores(F.col("cvec"), centroids)),
            )
            - 1,
            F.lit(0),
        ),
    )


def ivf_probe(
    assigned: DataFrame,
    queries: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Probe pre-assigned inverted lists (`assigned` = ivf_assign output,
    fresh or loaded from a persisted index): top n_probe clusters per
    query by centroid cosine, equi-join on cluster id, exact rank inside
    the probed lists."""
    # Query side: top n_probe clusters by centroid cosine — sort the
    # (score, cluster_id) structs descending, take n_probe, explode.
    qscores = F.transform(
        _cluster_scores(F.col("qvec"), centroids),
        lambda s, i: F.struct(s.alias("s"), i.alias("cl")),
    )
    probes = F.slice(F.reverse(F.array_sort(qscores)), 1, n_probe)
    q = (
        queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("qvec"))
        .withColumn("p", F.explode(probes))
        .select("qid", "qvec", F.col("p.cl").cast("long").alias("cluster"))
    )
    scored = (
        assigned.join(F.broadcast(q), on="cluster")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos_sim", cosine(F.col("qvec"), F.col("cvec")))
    )
    return salted_topn(
        scored, (F.col("cos_sim").desc(), F.col("cid").asc()), k
    ).select(
        F.col("qid").alias(query_id + "_q"),
        F.col("cid").alias(corpus_id + "_c"),
        "cos_sim",
        "rank",
    )


def semdedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    kmeans_iters: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    cluster-then-dedup-within-cluster.

    The published pipeline: k-means the embeddings, compute pairwise
    cosine inside each cluster only, and among semantic duplicates keep
    the example with the LOWEST cosine to its cluster centroid
    (preserving outliers preserves diversity). The released
    implementation vectorizes the keep rule over the in-cluster
    similarity matrix: sort members by centroid-cosine ascending and
    drop an item iff it is >= threshold-similar to ANY earlier item in
    that order (kept or dropped) — that exact law is reproduced here,
    with (centroid_cos, id) as the deterministic order.

    Returns (id, cluster, centroid_cos, is_kept) for every input row.

    Scale shape: assignment is map-only against the broadcast centroid
    literal (model-sized, like ivf_topk); the pair comparison is an
    equi-join on cluster id — O(m^2) per cluster, never across
    clusters, which is the published trade: n_clusters scales with the
    corpus so in-cluster m stays bounded (SemDeDup used 50k clusters
    for LAION-440M). The kept/dropped decision is one anti-join-shaped
    aggregation over the pair stream.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, vec_col, n_clusters, iters=kmeans_iters, id_col=id_col
        )
    lit = _centroid_literal(centroids)
    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    scores = F.transform(lit, lambda c: cosine(F.col("v"), c))
    assigned = base.select(
        "id",
        "v",
        F.coalesce(
            F.array_position(scores, F.array_max(scores)) - 1, F.lit(0)
        ).alias("cluster"),
        F.coalesce(F.array_max(scores), F.lit(-1.0)).alias("centroid_cos"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("centroid_cos").asc(), F.col("id").asc()
    )
    # Eager persist: `ranked` feeds both pair-join sides plus the output
    # projection (concurrent stages would recompute the assignment, see
    # minhash_lsh_pairs). The cache is SESSION-owned, like the other
    # fan-out dedup operators: callers that loop over corpora run
    # spark.catalog.clearCache() between queries (bench/scale_smoke do).
    ranked = assigned.withColumn("rk", F.row_number().over(w)).persist()
    ranked.count()
    a = ranked.select(
        "cluster", F.col("rk").alias("rk_a"), F.col("v").alias("v_a")
    )
    b = ranked.select(
        "cluster", F.col("rk").alias("rk_b"), F.col("v").alias("v_b"),
        F.col("id").alias("id_b"),
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("rk_a") < F.col("rk_b"))
        .filter(cosine(F.col("v_a"), F.col("v_b")) >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    out = (
        ranked.join(dropped.withColumn("dropped", F.lit(True)), "id", "left")
        .select(
            "id",
            "cluster",
            "centroid_cos",
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("is_kept"),
        )
    )
    return out


def semdedup_increment(
    new_vecs: DataFrame,
    kept_index: DataFrame | None,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    caches: list | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental SemDeDup: dedup NEW vectors against the frozen kept
    set WITHOUT revisiting old decisions (the embedding-space analog of
    incremental_minhash_pairs — dedup-against-index semantics).

    `kept_index` is the (id, cluster, centroid_cos, v) table of
    previously KEPT vectors (None for a cold start, which degenerates
    to batch semdedup over the increment). `centroids` is the frozen
    coarse quantizer fitted at bootstrap — increments reuse it, they
    never refit (refitting would reassign history).

    Laws (declared divergence from one-shot batch semdedup, same
    contract as any dedup-against-index): previously kept vectors are
    NEVER dropped retroactively — a new vector is dropped iff it is
    >= threshold-similar to ANY already-kept vector in its cluster, or
    to an earlier new vector in this increment's own
    (centroid_cos, id) order. The kept-set fixpoint (no two kept
    members of a cluster are >= threshold-similar) still holds over
    the UNION after every increment — asserted in tests.

    Returns (decisions, new_kept_index, newly_kept): decisions has one
    row per NEW id (id, cluster, centroid_cos, is_kept); new_kept_index
    is kept_index ∪ newly-kept rows, ready for the next run; newly_kept
    is JUST this increment's kept rows — the O(batch) frame an
    append-only index sink writes (re-deriving it from new_index would
    cost a full-index anti-join).

    Scale shape: assignment is map-only; both the new-vs-kept probe and
    the new-vs-new pass are equi-joins on cluster id with one side
    increment-sized. History contributes one columnar scan of the
    index, no re-scoring.
    """
    lit = _centroid_literal(centroids)
    base = new_vecs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    scores = F.transform(lit, lambda c: cosine(F.col("v"), c))
    assigned = base.select(
        "id",
        "v",
        F.coalesce(
            F.array_position(scores, F.array_max(scores)) - 1, F.lit(0)
        ).alias("cluster"),
        F.coalesce(F.array_max(scores), F.lit(-1.0)).alias("centroid_cos"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("centroid_cos").asc(), F.col("id").asc()
    )
    ranked = assigned.withColumn("rk", F.row_number().over(w)).persist()
    ranked.count()
    # Cache ownership: pass `caches` to receive the persisted frame and
    # unpersist it once decisions/new_index are materialized — REQUIRED
    # in a loop (a streaming sink leaks one cached frame per batch
    # otherwise); a one-shot caller may leave it session-owned instead.
    if caches is not None:
        caches.append(ranked)

    # New-vs-new: the batch drop law inside the increment.
    a = ranked.select("cluster", F.col("rk").alias("rk_a"), F.col("v").alias("v_a"))
    b = ranked.select(
        "cluster", F.col("rk").alias("rk_b"), F.col("v").alias("v_b"),
        F.col("id").alias("id_b"),
    )
    dropped_new = (
        a.join(b, "cluster")
        .filter(F.col("rk_a") < F.col("rk_b"))
        .filter(cosine(F.col("v_a"), F.col("v_b")) >= threshold)
        .select(F.col("id_b").alias("id"))
    )
    # New-vs-kept: any similarity to an already-kept member drops the
    # new vector (history always wins — kept decisions are immutable).
    if kept_index is not None:
        k = kept_index.select("cluster", F.col("v").alias("v_k"))
        dropped_old = (
            ranked.join(k, "cluster")
            .filter(cosine(F.col("v"), F.col("v_k")) >= threshold)
            .select("id")
        )
        dropped_new = dropped_new.unionByName(dropped_old)
    dropped = dropped_new.distinct()
    decisions = ranked.join(
        dropped.withColumn("dropped", F.lit(True)), "id", "left"
    ).select(
        "id",
        "cluster",
        "centroid_cos",
        F.coalesce(~F.col("dropped"), F.lit(True)).alias("is_kept"),
        "v",
    )
    newly_kept = decisions.filter("is_kept").select(
        "id", "cluster", "centroid_cos", "v"
    )
    new_index = (
        newly_kept
        if kept_index is None
        else kept_index.unionByName(newly_kept)
    )
    return decisions.drop("v"), new_index, newly_kept


# --- Product quantization (Jegou et al. 2011) -------------------------------
# The memory-side half of IVF-PQ, the standard billion-vector ANN
# layout: each vector is stored as M subspace code bytes instead of
# dim floats, and query-time distance is the sum of M codebook-lookup
# terms (asymmetric distance computation, ADC). Everything below is
# deterministic: codebooks are per-subspace L2 k-means with id-ordered
# seeds, code assignment is a first-argmin pure column expression of
# the broadcast codebook literal, and ADC is a literal-lookup fold —
# the broadcast-a-model shape shared with ivf_topk.


def pq_codebooks_per_subspace(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Reference trainer: M independent per-subspace L2 k-means runs.
    Semantically canonical but costs M corpus scans PER ITERATION —
    the naive layout a 100TB job cannot afford. Kept as the
    path-equality twin of :func:`pq_codebooks` (the BPE
    driver/distributed precedent, pinned in tests/test_neardup_golden
    ::test_pq_joint_trainer_equals_per_subspace)."""
    ds = dim // m
    out = []
    for i in range(m):
        sub = corpus.select(
            F.col(id_col).alias("id"),
            F.slice(F.col(vec_col), i * ds + 1, ds).alias("sub"),
        )
        out.append(
            kmeans_centroids(sub, "sub", k, iters=iters, id_col="id", metric="l2")
        )
    return out


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Train M per-subspace L2 codebooks (each k x dim/m) JOINTLY: the
    M subspace k-means problems are independent, so one Lloyd
    iteration for ALL of them is a single corpus pass — per row,
    assign every subspace to its nearest codeword (pure column
    expression of the broadcast codebook literals), explode
    (subspace, cluster, dim, value) cells, and aggregate one
    M*k*(dim/m)-row mean table. Per iteration: ONE job instead of M —
    at 100 TB that is the difference between 2 and 2*M corpus scans.
    Seeds are the first k rows in id order sliced per subspace
    (identical to the per-subspace trainer's seeds); the assignment
    law (first-argmin), the mean update, and the empty-cluster
    keep-previous rule are the same, so the two trainers produce the
    same codebooks (pinned on an exact-arithmetic corpus by
    test_pq_joint_trainer_equals_per_subspace)."""
    ds = dim // m
    vec = F.col(vec_col)
    seed_rows = (
        corpus.select(vec.alias("v"))
        .orderBy(F.col(id_col))
        .limit(k)
        .collect()
    )
    cbs = [
        [[float(x) for x in r["v"][i * ds : (i + 1) * ds]] for r in seed_rows]
        for i in range(m)
    ]
    for _ in range(iters):

        def _sub_struct(i: int) -> Column:
            sub = F.slice(vec, i * ds + 1, ds)
            dists = F.transform(
                _centroid_literal(cbs[i]), lambda c: l2_sq(sub, c)
            )
            code = F.coalesce(
                F.array_position(dists, F.array_min(dists)) - 1, F.lit(0)
            )
            return F.struct(
                F.lit(i).alias("sub"), code.alias("cl"), sub.alias("sv")
            )

        cells_expr = F.explode(F.array(*[_sub_struct(i) for i in range(m)]))
        cells = (
            corpus.select(cells_expr.alias("x"))
            .select("x.sub", "x.cl", F.posexplode("x.sv").alias("dim", "val"))
            .groupBy("sub", "cl", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("mu"))
            .collect()
        )
        new = [[list(c) for c in cb] for cb in cbs]
        for r in cells:
            new[r["sub"]][r["cl"]][r["dim"]] = r["mu"]
        cbs = new
    return cbs


def opq_rotation(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge et al. 2014 §4, "OPQ-P"): PQ splits
    the vector into M coordinate blocks, so correlated/unbalanced
    dimensions make some subspaces carry most of the variance and
    waste the others' codebooks. The non-iterative published fix:
    eigen-decompose the data's second-moment matrix, then ALLOCATE the
    eigen-directions to the M subspaces so the variance mass (product
    of eigenvalues) is balanced across them — the rotation is the
    permuted eigenbasis, orthonormal by construction.

    Estimation: one pass over the deterministic ``id % 7 == 0`` sample
    (the model-not-trained-on-everything convention) building the
    dim*dim mean outer-product — a corpus-side flatten + posexplode
    feeding ONE 4096-row partial-combine aggregate (model-sized
    collect, the kmeans_centroids contract). Eigen-decomposition and
    the greedy balance run on the driver over the 64x64 matrix (a
    model artifact, like the codebooks). Deterministic: frozen parquet
    + LAPACK eigh in one container.

    Returns R row-major (dim x dim); rotated vector = [dot(R[j], v)].
    """
    import numpy as np

    sample = corpus.filter(F.col(id_col) % 7 == 0)
    outer = F.expr(
        f"flatten(transform({vec_col},"
        f" x -> transform({vec_col}, y -> cast(x as double) * cast(y as double))))"
    )
    rows = (
        sample.select(F.posexplode(outer).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.avg("val").alias("mu"))
        .collect()
    )
    mom = np.zeros((dim, dim))
    for r in rows:
        mom[r["pos"] // dim, r["pos"] % dim] = r["mu"]
    evals, evecs = np.linalg.eigh((mom + mom.T) / 2.0)
    order = np.argsort(evals)[::-1]  # descending variance
    ds = dim // m
    # Serpentine balance: deal the sorted eigenvalues to the M buckets
    # in snake order (0..M-1, then M-1..0, ...), pairing each bucket's
    # large directions with small ones so the per-subspace variance
    # PRODUCTS stay balanced (the eigenvalue-allocation objective of
    # Ge et al. §4.2; a plain "min current product" greedy degenerates
    # to contiguous blocks here because every log-eigenvalue is
    # negative, so an empty bucket never looks smallest).
    buckets: list[list[int]] = [[] for _ in range(m)]
    for rnd in range(ds):
        deal = range(m) if rnd % 2 == 0 else range(m - 1, -1, -1)
        for j, b in enumerate(deal):
            buckets[b].append(int(order[rnd * m + j]))
    perm = [i for b in buckets for i in b]
    rot = evecs[:, perm].T  # rows = permuted eigenvectors
    return [[float(x) for x in row] for row in rot]


def rotate_expr(vec: Column, rotation: list[list[float]]) -> Column:
    """array<double> of the rotated vector: out[j] = dot(R[j], vec).
    Map-only; the rotation rides the plan as a literal (model-sized,
    like the PQ codebooks)."""
    return F.array(
        *[
            dot(F.array(*[F.lit(float(x)) for x in row]), vec)
            for row in rotation
        ]
    )


_L2_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " 0D, (s, x) -> s + x)"
)


def with_codebooks(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Attach the PQ codebooks to `df` as a broadcast ONE-ROW model
    frame (column ``cbs``) instead of a plan literal.

    A codebook-literal form (M unrolled transforms over
    _centroid_literal) embeds M x K x ds doubles into the expression
    tree TWICE per consumer; at M=16, K=64 that is ~8k literal nodes
    whose construction + analysis measured 3.4-10s PER QUERY BUILD at
    sf0.1 — more than the query's execution.
    A 1-row broadcast costs one BroadcastNestedLoopJoin row-append and
    keeps the tree constant-size (the x_bitext_mine_ann centroid-frame
    precedent: "plan compile was 2s+ with the literal"). Drop ``cbs``
    after the code/ADC projection.
    """
    spark = df.sparkSession
    cb = spark.createDataFrame(
        [(codebooks,)], "cbs: array<array<array<double>>>"
    )
    return df.crossJoin(F.broadcast(cb))


def pq_code_col(vec: str, m: int, ds: int) -> Column:
    """array<int> of M subspace codes against the ``cbs`` column (see
    with_codebooks) — the reference tier of the PQ encoder: per
    subspace, the sequential L2 fold per codeword and the first-argmin
    tie-break (deterministic), evaluated as one constant-size nested-HOF
    expression instead of M unrolled transforms over codebook
    literals."""
    sub = f"slice({vec}, cast(i * {ds} + 1 as int), {ds})"
    dists = (
        "transform(element_at(cbs, cast(i + 1 as int)), c -> "
        + _L2_SQL.format(a=sub, b="c")
        + ")"
    )
    return F.expr(
        f"transform(sequence(0, {m - 1}), i -> "
        f"cast(array_position({dists}, array_min({dists})) - 1 as int))"
    )


def pq_adc_sq_col(qvec: str, codes: str, m: int, ds: int) -> Column:
    """Squared ADC distance against the ``cbs`` column — the reference
    tier of the PQ approximation of ||q - x||^2: the subspace partials
    ||q_sub - codeword[code]||^2 accumulate left-to-right from 0D."""
    cent = (
        "element_at(element_at(cbs, cast(i + 1 as int)),"
        f" cast(element_at({codes}, cast(i + 1 as int)) + 1 as int))"
    )
    body = _L2_SQL.format(
        a=f"slice({qvec}, cast(i * {ds} + 1 as int), {ds})", b=cent
    )
    return F.expr(f"aggregate(sequence(0, {m - 1}), 0D, (s, i) -> s + {body})")


def pq_encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoder: vec -> array<int> of M subspace codes,
    BIT-EQUAL to the reference tier pq_code_col (pinned by
    tests/test_neardup_golden.py::test_pq_encode_udf_equals_hof_kernel
    and the plants of tests/test_kernel_plants.py):

    - per (row, codeword) the squared distance is the DIM-SEQUENTIAL
      fold acc_{d+1} = acc_d + (x_d - c_d)^2 — the exact association of
      ``aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0D, (s,x) -> s+x)``
      (float32 inputs widen to double exactly, as zip_with promotes);
    - the code is the FIRST argmin (np.argmin == array_position of
      array_min — both first-match);
    - NULL law: a subspace with a hole — a NULL vector, a NULL element,
      or dims past the end of a short vector — gets a NULL code (the
      hole NULLs every codeword distance of that subspace, so
      array_position(NULL) is NULL) and the other subspaces keep
      theirs; a NULL vector yields M NULL codes, not a NULL array.
      Dims past M*ds of a long vector are never read (``slice``);
    - NaN law: a NaN element makes every distance of its subspace NaN;
      array_min of an all-NaN array is NaN and array_position finds it
      at 1, so the code is 0 — np.argmin's first NaN.

    Why it exists: the nested-HOF kernel is interpreted per element —
    M x K x ds lambda evaluations per row (~8M per 2k-row corpus at
    M=16, K=64, measured ~1.7s); the same arithmetic vectorizes to
    M x ds fused numpy ops per batch (guide §4.2), ~20x less wall.
    """
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, ds)
    m, k, ds = cb.shape

    @F.arrow_udf("array<int>")
    def _enc(vec):  # type: ignore[no-untyped-def]
        X, holes, _ = ab.dense_rows(vec, m * ds)
        codes = np.empty((len(X), m), dtype=np.int32)
        for i in range(m):
            sub = X[:, i * ds : (i + 1) * ds]
            acc = np.zeros((len(X), k), dtype=np.float64)
            for d in range(ds):
                diff = sub[:, d : d + 1] - cb[i, None, :, d]
                acc += diff * diff
            codes[:, i] = np.argmin(acc, axis=1)
        return ab.list_array(codes, holes.reshape(len(X), m, ds).any(axis=2))

    return _enc


def pq_adc_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched ADC distance: (qvec, codes) -> squared asymmetric
    distance, BIT-EQUAL to the reference tier pq_adc_sq_col (pinned by
    tests/test_neardup_golden.py::test_pq_adc_udf_equals_hof_kernel
    and the plants of tests/test_kernel_plants.py): the subspace
    partials accumulate LEFT-TO-RIGHT from 0.0 (the
    ``aggregate(sequence(0, m-1), 0D, ...)`` order) and each partial is
    the dim-sequential L2 fold of pq_encode_udf's law.

    - NULL law: the distance is NULL when qvec has a hole in its first
      M*ds dims (NULL, a NULL element, or too short) or codes has one
      in its first M (NULL, a NULL code, or too short) — one NULL
      partial NULLs the fold. A code >= K reads a NULL codeword
      (ANSI-off ``element_at``) and NULLs the fold too; so does a
      negative code here, which no encoder emits (the reference rejects
      -1 and reads others from the end). Dims and codes past those
      lengths are never read;
    - NaN law: a NaN element of qvec makes the distance NaN.

    Replaces the per-PAIR interpreted traversal of the nested codebook
    array (the measured hot spot of the ADC scan).
    """
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, ds)
    m, k, ds = cb.shape

    @F.arrow_udf("double")
    def _adc(qv, cd):  # type: ignore[no-untyped-def]
        Q, qholes, _ = ab.dense_rows(qv, m * ds)
        C, choles, _ = ab.dense_rows(cd, m)
        null = qholes.any(axis=1) | choles.any(axis=1)
        null |= ((C < 0) | (C >= k)).any(axis=1)
        C = np.where(null[:, None], 0, C).astype(np.int64)
        total = np.zeros(len(Q), dtype=np.float64)
        for i in range(m):
            cw = cb[i][C[:, i]]  # (n, ds)
            part = np.zeros(len(Q), dtype=np.float64)
            for d in range(ds):
                diff = Q[:, i * ds + d] - cw[:, d]
                part += diff * diff
            total += part
        return pa.array(total, mask=null)

    return _adc


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    keep: list[str],
    out: str = "codes",
) -> DataFrame:
    """Encode `df[vec_col]` to PQ codes, keeping `keep` columns: the
    shared build-side helper for the one-shot queries and the streaming
    index sinks. Uses the Arrow kernel tier (pq_encode_udf) —
    bit-equal to the broadcast-codebook HOF kernel by the pinned test;
    pq_code_col remains the reference implementation."""
    return df.select(*keep, pq_encode_udf(codebooks)(F.col(vec_col)).alias(out))


def _pq_rerank_emit(
    short: DataFrame, vectors: DataFrame, k: int
) -> DataFrame:
    """Shared tail of the PQ serving paths: exact re-rank of a bounded
    ADC shortlist against the float vector table + the canonical
    (vec_id_q, vec_id_c, adc_dist, exact_dist, rank) emission."""
    rer = short.join(vectors, "cid").withColumn(
        "dist",
        F.sqrt(
            l2_sq(
                F.transform(F.col("qvec"), lambda x: x.cast("double")),
                F.transform(F.col("cvec"), lambda x: x.cast("double")),
            )
        ),
    )
    # bounded input: |Q| x shortlist rows — a direct per-qid window is
    # fine at any corpus size
    wr = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("cid").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id_q"),
            F.col("cid").alias("vec_id_c"),
            F.round(F.sqrt("adc"), 6).alias("adc_dist"),
            F.round("dist", 6).alias("exact_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_adc_serve(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """PQ-ADC top-k with exact re-rank over a PREBUILT code table — the
    serving half of ann_pq_topk, shared verbatim by the batch query and
    StreamingPqIndex.query so stream-built == one-shot parity is
    structural (the StreamingIvfIndex/ivf_probe precedent).

    `codes` = (cid, codes array<int>), `vectors` = (cid, cvec) for the
    exact re-rank, `queries` = (qid, qvec). ADC scoring is map-side over
    the code table against the broadcast query set; the shortlist is the
    salted two-phase rank (no corpus-proportional window on the bounded
    qid key); the re-rank touches |Q| x `shortlist` float vectors. Emits
    (vec_id_q, vec_id_c, adc_dist, exact_dist, rank).
    """
    scored = (
        codes.crossJoin(F.broadcast(queries))
        .filter(F.col("qid") != F.col("cid"))
        # Arrow ADC kernel — bit-equal to pq_adc_sq_col (pinned test),
        # ~20x less per-pair wall than the interpreted HOF traversal.
        .withColumn("adc", pq_adc_udf(codebooks)(F.col("qvec"), F.col("codes")))
    )
    short = salted_topn(
        scored, (F.col("adc").asc(), F.col("cid").asc()), shortlist, "srank"
    )
    return _pq_rerank_emit(short, vectors, k)


def ivfpq_serve(
    index: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int = 4,
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """IVF-PQ top-k over a PREBUILT (cid, cluster, codes) index — the
    serving half of ann_ivfpq_topk, shared verbatim by the batch query
    and StreamingIvfPqIndex.query so stream-built == one-shot parity is
    structural.

    Each query expands to its `n_probe` closest coarse clusters (model
    literal arithmetic, broadcast); the probe join touches only the
    probed lists' code rows; the ADC shortlist is the salted two-phase
    rank; the exact re-rank reads |Q| x `shortlist` float vectors.
    Emits (vec_id_q, vec_id_c, adc_dist, exact_dist, rank).
    """
    qscores = F.transform(
        _cluster_scores(F.col("qvec"), centroids),
        lambda s, i: F.struct(s.alias("s"), i.alias("cl")),
    )
    probes = F.slice(F.reverse(F.array_sort(qscores)), 1, n_probe)
    q = (
        queries.withColumn("p", F.explode(probes))
        .select("qid", "qvec", F.col("p.cl").cast("long").alias("cluster"))
    )
    scored = (
        index.join(F.broadcast(q), "cluster")
        .filter(F.col("qid") != F.col("cid"))
        # Arrow ADC kernel (the pq_adc_serve note).
        .withColumn("adc", pq_adc_udf(codebooks)(F.col("qvec"), F.col("codes")))
    )
    short = salted_topn(
        scored, (F.col("adc").asc(), F.col("cid").asc()), shortlist, "srank"
    )
    return _pq_rerank_emit(short, vectors, k)


def opq_adc_serve(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """OPQ serving over a PREBUILT rotated-code table — the serving half
    of ann_opq_topk, shared verbatim by the batch query and
    StreamingOpqIndex.query so stream-built == one-shot parity is
    structural (the pq_adc_serve precedent).

    ADC runs in ROTATED space (queries rotated via the Arrow tier,
    bit-identical to the column fold); the exact re-rank runs in
    ORIGINAL space against `vectors` — the rotation is an isometry, but
    original-space distances keep exact_dist comparable across every
    quantization tier. `codes` = (cid, codes), `vectors` = (cid, cvec),
    `queries` = (qid, qvec original)."""
    rq = queries.select(
        "qid", "qvec", rotate_udf(rotation)(F.col("qvec")).alias("rqvec")
    )
    scored = (
        codes.crossJoin(F.broadcast(rq))
        .filter(F.col("qid") != F.col("cid"))
        # Arrow ADC kernel (the pq_adc_serve note).
        .withColumn("adc", pq_adc_udf(codebooks)(F.col("rqvec"), F.col("codes")))
    )
    short = salted_topn(
        scored, (F.col("adc").asc(), F.col("cid").asc()), shortlist, "srank"
    )
    return _pq_rerank_emit(short, vectors, k)


def ivfopq_serve(
    index: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int = 4,
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """IVF-OPQ top-k over a PREBUILT (cid, cluster, codes) index — the
    serving half of ann_ivfopq_topk, shared verbatim by the batch query
    and StreamingIvfOpqIndex.query so stream-built == one-shot parity
    is structural (the ivfpq_serve / opq_adc_serve precedent).

    Coarse probing runs in ORIGINAL space (the same inverted lists
    serve every tier); ADC compares the ROTATED query to the rotated
    codes (valid because the rotation is an isometry); the exact
    re-rank runs in original space against `vectors`. Each query is
    rotated ONCE (before probe expansion); the probe join touches only
    the probed lists' code rows; the ADC shortlist is the salted
    two-phase rank. `queries` = (qid, qvec original). Emits
    (vec_id_q, vec_id_c, adc_dist, exact_dist, rank)."""
    rq = queries.select(
        "qid", "qvec", rotate_udf(rotation)(F.col("qvec")).alias("rqvec")
    )
    qscores = F.transform(
        _cluster_scores(F.col("qvec"), centroids),
        lambda s, i: F.struct(s.alias("s"), i.alias("cl")),
    )
    probes = F.slice(F.reverse(F.array_sort(qscores)), 1, n_probe)
    q = rq.withColumn("p", F.explode(probes)).select(
        "qid", "qvec", "rqvec", F.col("p.cl").cast("long").alias("cluster")
    )
    scored = (
        index.join(F.broadcast(q), "cluster")
        .filter(F.col("qid") != F.col("cid"))
        # Arrow ADC kernel (the pq_adc_serve note).
        .withColumn("adc", pq_adc_udf(codebooks)(F.col("rqvec"), F.col("codes")))
    )
    short = salted_topn(
        scored, (F.col("adc").asc(), F.col("cid").asc()), shortlist, "srank"
    )
    return _pq_rerank_emit(short, vectors, k)


def sq8_code_expr(vec_col: str, mn: list[float], mx: list[float]) -> Column:
    """SQ8 codes of the array column named `vec_col` under FROZEN
    per-dim (mn, mx) literals — the x_sq8_quantize law (floor(+0.5)
    affine to 0..255, constant dims guarded to code 0) with the stats
    as broadcast model literals instead of an aggregated frame;
    identical arithmetic, so codes are bit-equal whenever the stats
    are."""
    dim = len(mn)
    mns = ", ".join(repr(float(x)) + "D" for x in mn)
    mxs = ", ".join(repr(float(x)) + "D" for x in mx)
    return F.expr(
        f"transform(sequence(1, {dim}),"
        f" i -> cast(floor((cast({vec_col}[i - 1] as double)"
        f" - array({mns})[i - 1])"
        f" / greatest(array({mxs})[i - 1] - array({mns})[i - 1], 1e-12)"
        " * 255 + 0.5) as bigint))"
    )


def sq8_dequant_expr(
    codes_col: str, mn: list[float], mx: list[float]
) -> Column:
    """De-quantize a stored SQ8 `codes_col` back to the serving doubles:
    dv[i] = mn[i] + code[i] * (mx[i] - mn[i]) / 255.

    THE single copy of the float-association recipe (r9 ADVICE): both
    sq8_serve and the streaming sinks (StreamingIvfSq8Index.query)
    splice this helper, so the bit-equality between stream-built and
    one-shot distances can never drift out of sync via a hand-edited
    twin."""
    dim = len(mn)
    mns = ", ".join(repr(float(x)) + "D" for x in mn)
    mxs = ", ".join(repr(float(x)) + "D" for x in mx)
    return F.expr(
        f"transform(sequence(1, {dim}),"
        f" i -> array({mns})[i - 1] + {codes_col}[i - 1]"
        f" * (array({mxs})[i - 1] - array({mns})[i - 1]) / 255)"
    )


def sq8_serve(
    codes: DataFrame,
    queries: DataFrame,
    mn: list[float],
    mx: list[float],
    k: int = 5,
) -> DataFrame:
    """SQ8 asymmetric top-k over a PREBUILT code table under frozen
    (mn, mx) stats — the serving shape of ann_sq8_topk (exact query vs
    de-quantized corpus, salted two-phase rank), shared by
    StreamingSq8Index.query. `codes` = (cid, codes array<bigint>),
    `queries` = (qid, qvec). Emits (vec_id_q, vec_id_c, sq_dist, rank).
    """
    deq = codes.withColumn("dv", sq8_dequant_expr("codes", mn, mx))
    q = queries.select(
        "qid",
        F.expr("transform(qvec, x -> cast(x as double))").alias("qv"),
    )
    scored = (
        deq.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("dist", F.sqrt(l2_sq(F.col("qv"), F.col("dv"))))
    )
    return salted_topn(
        scored, (F.col("dist").asc(), F.col("cid").asc()), k
    ).select(
        F.col("qid").alias("vec_id_q"),
        F.col("cid").alias("vec_id_c"),
        F.round("dist", 6).alias("sq_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def ivfsq8_serve(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """IVF-SQ8 top-k over a PREBUILT (cid, cluster, dv) index (dv = the
    de-quantized SQ8 vector, algebraically mn + code*step — production
    computes it from stored codes without touching floats): each query
    probes its n_probe closest coarse lists and ranks exact-query vs
    de-quantized L2 inside them. `queries` = (qid, qv double array).
    Emits (vec_id_q, vec_id_c, sq_dist, rank) — the ann_sq8_topk
    emission over the probed fraction of the corpus."""
    qscores = F.transform(
        _cluster_scores(F.col("qv"), centroids),
        lambda s, i: F.struct(s.alias("s"), i.alias("cl")),
    )
    probes = F.slice(F.reverse(F.array_sort(qscores)), 1, n_probe)
    q = queries.withColumn("p", F.explode(probes)).select(
        "qid", "qv", F.col("p.cl").cast("long").alias("cluster")
    )
    scored = (
        index.join(F.broadcast(q), "cluster")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("dist", F.sqrt(l2_sq(F.col("qv"), F.col("dv"))))
    )
    return salted_topn(
        scored, (F.col("dist").asc(), F.col("cid").asc()), k
    ).select(
        F.col("qid").alias("vec_id_q"),
        F.col("cid").alias("vec_id_c"),
        F.round("dist", 6).alias("sq_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def rotate_udf(rotation: list[list[float]]):
    """Arrow tier of :func:`rotate_expr` — BIT-IDENTICAL outputs, ~10^3
    less per-row interpreter overhead.

    The Column fold evaluates dim^2 interpreted lambda steps per row
    (64 `aggregate(zip_with(...))` dots for the 64-dim OPQ rotation —
    measured ~2 ms/row, the whole OPQ family's serving hotspot). This
    tier runs the SAME arithmetic in one Arrow batch, vectorized ACROSS
    rows with the identical per-row operation order: each output
    coordinate accumulates 0.0 + R[j][0]*v[0] + R[j][1]*v[1] + ... in k
    order, exactly the fold's association, and float32 inputs widen to
    float64 before the multiply exactly like the fold's cast — so every
    double is bit-equal to the Column form (pinned over the full corpus
    by tests/test_neardup_golden.py::test_rotate_udf_equals_column_fold,
    and on the plants of tests/test_kernel_plants.py).

    - NULL law: every output dim pairs the whole vector with a rotation
      row (``zip_with`` pads the shorter side with NULLs), so a NULL
      vector, a NULL element, or a vector whose length is not the
      rotation's width yields an array of NULLs, not a NULL array;
    - NaN law: a NaN element makes every output dim NaN.

    The brief's contract for dense linear algebra: built-ins where they
    win, Arrow-batched numpy where the interpreter is the bottleneck.
    """
    import numpy as np

    rm = np.array(rotation, dtype=np.float64)

    @F.arrow_udf("array<double>")
    def _rot(vec):  # type: ignore[no-untyped-def]
        x, holes, ragged = ab.dense_rows(vec, rm.shape[1])
        out = np.empty((len(x), rm.shape[0]))
        for j in range(rm.shape[0]):
            acc = np.zeros(len(x))
            for k in range(rm.shape[1]):
                # same left-fold order as the Column dot: ((0 + t0) + t1)...
                acc = acc + rm[j, k] * x[:, k]
            out[:, j] = acc
        return ab.list_array(out, (holes.any(axis=1) | ragged)[:, None])

    return _rot
