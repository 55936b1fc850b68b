"""Deduplication operator family (SURVEY.md §2.4 D1-D8) plus the
training-data-scale near-dup family (MinHash-LSH, SimHash, n-gram Jaccard).

Scale notes:
- Exact/windowed dedup is one hash-shuffle on the dedup key.
- Near-dup NEVER does an unblocked self-join: MinHash-LSH blocks by band
  bucket, n-gram Jaccard blocks by a cheap key, SimHash blocks by band
  substrings. Candidate pairs are verified exactly, so precision is 1.0
  and recall is the LSH recall.
- All hashing uses xxhash64/sha2 built-ins (JVM-side, deterministic).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import reuse


def exact_dedup(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """D1/D7: keep the earliest row per exact key (deterministic).

    Reference: worker/jobs/x_kol_poll.py:89-117 (Redis SETEX id dedup) —
    re-expressed as row_number==1 so batch and streaming
    (dropDuplicatesWithinWatermark) agree on the survivor.
    """
    order = [F.col(order_col).asc()] + [F.col(t).asc() for t in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Near-duplicate family over documents
# ---------------------------------------------------------------------------


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles of a normalized text column.

    Overlapping n-grams come from ONE regex pass (`(?=(.{n}))` lookahead
    capture) instead of a per-index `transform`+`substring` — inside a
    higher-order-function lambda every referenced subexpression (here the
    whitespace-normalizing regexp_replace) re-evaluates per element, which
    measured ~17x slower at sf0.1.
    """
    norm = F.regexp_replace(F.lower(text), r"\s+", " ")
    return F.array_distinct(F.regexp_extract_all(norm, F.lit(f"(?=(.{{{n}}}))"), 1))


def token_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles.

    The token array is bound ONCE via a single-element-array transform
    (lambda variables are evaluated once; free subexpressions inside a
    higher-order-function lambda re-evaluate per element).
    """
    toks = F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), " ")

    def grams(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.array_join(F.slice(tk, i, n), " "))

    return F.array_distinct(F.get(F.transform(F.array(toks), grams), 0))


def jaccard(a: Column, b: Column) -> Column:
    """E2: |a ∩ b| / |a ∪ b| over array columns (set semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """All-pairs Jaccard >= threshold via a prefix-filtered inverted-index
    self-join (AllPairs/PPJoin family) — the 100TB-scale replacement for a
    block-nested-loop self-join.

    Lossless: J(A,B) >= t implies |A∩B| >= t*max(|A|,|B|), and two sets
    with overlap >= a must collide within their first |X|-a+1 elements
    under any shared total order (here: hashed shingles ascending). So
    candidates come from an equi-join on prefix elements — parallelism
    scales with DISTINCT SHINGLES, not with the number of blocks, and the
    quadratic per-block pair loop disappears. Candidate volume is bounded
    by the shingle document-frequency distribution (near-dup corpora:
    df is tiny except for boilerplate, which the prefix filter mostly
    skips since high-df shingles land outside short prefixes ~half the
    time; a df-ordered prefix is the standard refinement if needed).

    Input shingles must be array<long> (pre-hashed). Output:
    (id_a, id_b, jaccard_sim double, *block_cols) with id_a < id_b.

    Cache lifetime: `base` (the sorted-shingle map) feeds four
    concurrent attach points of one job, so it is filled before the
    fan-out through io.reuse: once per version of the files it reads.
    A repeat call over unchanged files reuses it and runs no job for it;
    a rewritten, added or removed input file rebuilds it, so the pairs
    are never computed from stale shingles. It stays cached for the
    session (one shingle map per distinct input) until
    `spark.catalog.clearCache()`, after which the next call refills it.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    blocks = [F.col(c) for c in block_cols]
    # Filled eagerly: base feeds BOTH posting sides and both verify
    # attaches — independent stages of one job that launch concurrently,
    # and concurrent stages each recompute a not-yet-cached partition
    # (upstream here is the whole shingle map).
    base = reuse(
        df.select(
            *block_cols,
            F.col(id_col).alias("__id"),
            F.array_sort(F.col(shingles_col)).alias("__sh"),
        ).withColumn("__n", F.size("__sh"))
    )
    # Prefix length |A| - ceil(t*|A|) + 1 over ascending hash order.
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    postings = base.select(
        *block_cols,
        "__id",
        "__n",
        F.explode(F.slice("__sh", 1, prefix_len.cast("int"))).alias("__g"),
    )
    a, b = postings.alias("a"), postings.alias("b")
    # Size-compat prune inside the join: J <= min(|A|,|B|)/max(|A|,|B|).
    size_ok = F.least(F.col("a.__n"), F.col("b.__n")) >= F.lit(
        threshold
    ) * F.greatest(F.col("a.__n"), F.col("b.__n"))
    join_cond = (F.col("a.__g") == F.col("b.__g")) & (
        F.col("a.__id") < F.col("b.__id")
    ) & size_ok
    for c in block_cols:
        join_cond = join_cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        a.join(b, join_cond)
        .select(
            *[F.col(f"a.{c}") for c in block_cols],
            F.col("a.__id").alias("__id_a"),
            F.col("b.__id").alias("__id_b"),
        )
        # Pin verify parallelism: candidate rows are bytes-tiny but each
        # verify is O(|A|+|B|); AQE would coalesce on size alone. Before
        # the dedup so its distribution requirement is already satisfied.
        .repartition(par, "__id_a", "__id_b")
        .dropDuplicates(["__id_a", "__id_b"])
    )
    verify = (
        cand.join(
            base.select(F.col("__id").alias("__id_a"), F.col("__sh").alias("__sh_a")),
            "__id_a",
        )
        .join(
            base.select(F.col("__id").alias("__id_b"), F.col("__sh").alias("__sh_b")),
            "__id_b",
        )
        .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
    )
    return verify.select(
        F.col("__id_a").alias("id_a"),
        F.col("__id_b").alias("id_b"),
        "jaccard_sim",
        *block_cols,
    )


def containment_prefix_join(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Directed containment pairs C(A,B) = |A∩B| / |A| >= threshold via a
    prefix-filtered inverted-index join — the ASYMMETRIC near-dup case
    Jaccard misses: a short document wholly quoted inside a long one has
    tiny resemblance (|A∩B|/|A∪B| shrinks with |B|) but containment ~1.
    Training-data reality: quotes, excerpt pages, boilerplate inclusion.

    Lossless prefix filter, probe side only: C >= t means |A∩B| >=
    ceil(t*|A|) = a, so if none of A's first |A|-a+1 sorted shingles is
    in B, all >= a intersection elements would have to fit in A's last
    a-1 positions — impossible. The INDEX side (B) cannot be prefix-
    truncated (the shared element may sit anywhere in B's order), so B
    posts all shingles; A posts its prefix. Size prune: |B| >=
    ceil(t*|A|) (B must hold the whole required intersection).

    Input shingles must be array<long> (pre-hashed, distinct). Output:
    (id_a, id_b, containment double, *block_cols), id_a != id_b,
    directed (A contained in B); mutual near-equality yields both
    directions. Same verify shape as jaccard_prefix_join: candidates
    repartitioned by pair before the O(|A|+|B|) intersect.

    Cache lifetime: as in jaccard_prefix_join, `base` feeds the
    multi-attach fan-out and is filled through io.reuse, once per
    version of its input files: a repeat call over unchanged files
    reuses it, a changed input file rebuilds it.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    base = reuse(  # filled before the fan-out (see jaccard_prefix_join)
        df.select(
            *block_cols,
            F.col(id_col).alias("__id"),
            F.array_sort(F.col(shingles_col)).alias("__sh"),
        )
        .withColumn("__n", F.size("__sh"))
        .filter(F.col("__n") > 0)
    )
    a_req = F.ceil(F.lit(threshold) * F.col("__n")).cast("int")
    probe = base.select(
        *block_cols,
        F.col("__id").alias("__id_a"),
        F.col("__n").alias("__n_a"),
        F.explode(
            F.slice(F.col("__sh"), 1, (F.col("__n") - a_req + 1).cast("int"))
        ).alias("__g"),
    )
    index = base.select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("__id").alias("__id_b"),
        F.col("__n").alias("__n_b"),
        F.explode(F.col("__sh")).alias("__g"),
    )
    join_cond = (
        (F.col("__id_a") != F.col("__id_b"))
        & (F.col("__n_b") >= F.ceil(F.lit(threshold) * F.col("__n_a")))
    )
    for c in block_cols:
        join_cond = join_cond & (F.col(c) == F.col(f"__b_{c}"))
    cand = (
        probe.join(index, ["__g"], "inner")
        .where(join_cond)
        .select(*block_cols, "__id_a", "__id_b")
        .repartition(par, "__id_a", "__id_b")
        .dropDuplicates(["__id_a", "__id_b"])
    )
    verify = (
        cand.join(
            base.select(F.col("__id").alias("__id_a"), F.col("__sh").alias("__sh_a")),
            "__id_a",
        )
        .join(
            base.select(F.col("__id").alias("__id_b"), F.col("__sh").alias("__sh_b")),
            "__id_b",
        )
        .withColumn(
            "__c_raw",
            F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
            / F.size("__sh_a"),
        )
        # Threshold on the RAW ratio (like jaccard_prefix_join) so the
        # boundary matches an exact-arithmetic oracle; rounding is
        # presentation-only, applied in the output projection below.
        .filter(F.col("__c_raw") >= threshold)
    )
    return verify.select(
        F.col("__id_a").alias("id_a"),
        F.col("__id_b").alias("id_b"),
        F.round(F.col("__c_raw"), 6).alias("containment"),
        *block_cols,
    )


def minhash_signature_sql(col_name: str, num_hashes: int = 64) -> str:
    """SQL for a MinHash signature over PRE-HASHED shingles (array<long>):
    the i-th permutation is xxhash64(h, i) over the fixed-width long.
    Evaluates to array<long> of length num_hashes.

    Callers hash each shingle's string bytes ONCE into a materialized
    column (`transform(sh, s -> xxhash64(s))`) so the expensive
    variable-length hash isn't re-inlined per permutation. Pure JVM
    expressions, map-only, ANSI-safe (no overflowing arithmetic).

    Why k independent permutations and not one-permutation hashing:
    OPH's bin-min construction needs either an explode+groupBy (a full
    shuffle of every shingle hash — measured 2x SLOWER than this
    map-only form at sf0.1, and at cluster scale an extra all-data
    shuffle is exactly the wrong trade) or a per-element map rebuild
    that re-introduces the O(k) factor. xxhash64 over a fixed-width
    long is cheap enough that k in-register hashes beat one shuffled
    hash; recall/precision were identical on the corpus (same 256
    verified pairs).

    Returned as a SQL string (callers wrap in F.expr): building this
    64-wide tree through the per-node Column API costs hundreds of py4j
    round trips PER QUERY CONSTRUCTION (~1s of driver latency measured);
    one expr() parse is a single round trip for the identical plan.
    """
    mins = ", ".join(
        f"array_min(transform({col_name}, h -> xxhash64(h, {i})))"
        for i in range(num_hashes)
    )
    return f"array({mins})"


def lsh_band_keys_sql(col_name: str, bands: int, rows_per_band: int) -> str:
    """SQL for banding a signature into (band_id:hash-of-slice) strings
    (one expr() parse — see minhash_signature_sql for why)."""
    keys = ", ".join(
        f"concat_ws(':', '{b}', cast(xxhash64(array_join("
        f"slice({col_name}, {b * rows_per_band + 1}, {rows_per_band}), ',')) as string))"
        for b in range(bands)
    )
    return f"array({keys})"


_PAIR_STRUCTS_SQL = (
    "flatten(transform({col}, (x, i) -> "
    "transform(slice({col}, i + 2, size({col})), "
    "y -> named_struct('id_a', x, 'id_b', y))))"
)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    max_bucket_size: int | None = None,
    log_fn=None,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard verified.

    shingle → minhash → band → bucket self-join → verify. Output:
    (id_a, id_b, jaccard_sim) with id_a < id_b and jaccard_sim >= threshold.
    Candidate generation touches only same-bucket pairs — the self-join is
    on the band key, never the full cross product.

    `max_bucket_size` (opt-in; None = uncapped) caps in-bucket pair
    expansion (quadratic per bucket): a pathological mega-bucket —
    thousands of boilerplate docs sharing a band key — is truncated to
    its first `max_bucket_size` sorted ids instead of going O(n²) at
    100× scale. Truncation LOSES every pair with at least one member
    outside the kept prefix (for near-identical docs the bucket
    composition repeats across bands, so other bands do not rescue
    them) — it is a recall-for-bound trade, which is why it is opt-in:
    the default path keeps the exact LSH pair set, and the documented
    union-over-runs == one-shot invariant with incremental_minhash_pairs
    (which has no cap) holds. Collapse byte-identical docs with exact
    dedup upstream FIRST; reach for the cap only when a boilerplate
    family survives that. Pass `log_fn` (e.g. ``logging.warning``) to
    count and report truncated buckets — costs one extra aggregation
    job over the (small) bucket frame.
    """
    rows_per_band = num_hashes // bands
    par = df.sparkSession.sparkContext.defaultParallelism
    # The signature frame is consumed by FIVE branches (banding + both
    # sides of the estimate and exact verify attaches). EAGER
    # materialization, not lazy persist: the branches are independent
    # stages of one job and launch concurrently, and concurrent stages
    # hitting a not-yet-cached partition each recompute it — measured
    # up to 5 simultaneous runs of the signature map (ruinous once the
    # map is an Arrow/Python stage: 81s vs 30s at 50k docs). io.reuse
    # fills the cache before the fan-out ever schedules, once per
    # version of the input files.
    sig = reuse(minhash_signatures(df, id_col, text_col, num_hashes, shingle_n))
    # Candidate generation carries ONLY (id, band-key): the wide shingle
    # arrays never enter the shuffle, and grouping by bucket computes the
    # signature ONCE (a band-key self-join would evaluate the whole
    # upstream twice). In-bucket pair expansion is quadratic per bucket —
    # LSH buckets are tiny by construction; a pathological mega-bucket
    # (thousands of byte-identical docs) should be collapsed by exact
    # dedup upstream first.
    # repartition(N) pins: bucket rows are bytes-tiny but pair expansion
    # and Jaccard verify are compute-dense — AQE coalesces shuffle
    # partitions on SIZE alone and would serialize these stages onto one
    # core (measured 3.4x on the full pipeline). AQE never coalesces an
    # explicit user repartition(N), and placing the pin BEFORE the
    # aggregation satisfies its required distribution, so no second
    # exchange is inserted.
    banded = sig.select(
        "id",
        F.explode(F.expr(lsh_band_keys_sql("sig", bands, rows_per_band))).alias("bk"),
    ).repartition(par, "bk")
    buckets = (
        banded.groupBy("bk")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        if log_fn is not None:
            n_over = buckets.filter(F.size("ids") > max_bucket_size).count()
            if n_over:
                log_fn(
                    f"minhash_lsh_pairs: {n_over} band bucket(s) over "
                    f"max_bucket_size={max_bucket_size}, truncating"
                )
        buckets = buckets.withColumn("ids", F.slice("ids", 1, max_bucket_size))

    cand = (
        buckets.select(F.explode(F.expr(_PAIR_STRUCTS_SQL.format(col="ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .repartition(par, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Two-phase verify. Phase 1 joins only the fixed-width signatures
    # (64 longs/side) and filters on the MinHash ESTIMATE of Jaccard —
    # matching components / num_hashes, an unbiased Binomial(k, J)
    # estimator. Candidates from banding are dominated by moderately
    # similar pairs (boilerplate families) whose exact verification is
    # O(|A|+|B|) set work; the estimate is 64 integer compares and kills
    # most of them before the wide shingle arrays are ever shuffled.
    # The cut sits 3 sigma (sigma = sqrt(J(1-J)/k) ~= 0.0625) below the
    # threshold, so the extra recall loss on true pairs is <1%; emitted
    # pairs are still exactly verified, so precision stays 1.0.
    return _two_phase_verify(cand, sig, threshold, num_hashes)


try:  # numpy is baked into the target env; gate anyway (import-try rule)
    import numpy as _np
except ImportError:  # pragma: no cover
    _np = None


def _minhash_sig_batches(num_hashes: int):
    """Arrow-batched MinHash signature kernel for mapInPandas.

    Replicates Spark's `xxhash64(h, i)` BIT-EXACTLY in vectorized
    numpy (XXH64 one-long + one-int chain, public xxHash spec), so the
    output is byte-identical to minhash_signature_sql — same signature
    index whether built by this path, the SQL path, or a mix (asserted
    in tests). Why it exists: the SQL form is ~num_hashes interpreted
    higher-order-function passes (~1G hash evals at 50k docs,
    measured ~11s); this kernel does the same arithmetic as ~15
    elementwise uint64 ops per (shingle, permutation) in numpy and is
    ~20x faster per core. Per-doc minima come from one
    `np.minimum.reduceat` over the concatenated shingle-hash array —
    no Python loop over rows.
    """
    import numpy as np

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (np.uint64(64) - r))

    def fmix(h):
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        return h ^ (h >> np.uint64(32))

    def hash_long(x, seed):  # XXH64 of one 8-byte lane
        acc = np.uint64(seed) + P5 + np.uint64(8)
        acc = acc ^ (rotl(x * P2, 31) * P1)
        acc = rotl(acc, 27) * P1 + P4
        return fmix(acc)

    def hash_int(i, seed):  # XXH64 4-byte tail, vector seed
        acc = seed + P5 + np.uint64(4)
        acc = acc ^ ((np.uint64(i) & np.uint64(0xFFFFFFFF)) * P1)
        acc = rotl(acc, 23) * P2 + P3
        return fmix(acc)

    def gen(batches):
        err = np.seterr(over="ignore")
        try:
            for pdf in batches:
                hh = pdf["hh"]
                n = len(hh)
                # hh is None for NULL text (transform of NULL is NULL);
                # both that and an empty shingle set produce the SQL
                # path's all-NULL signature (array_min over NULL/empty
                # is NULL per entry), so treat them alike here.
                lens = np.fromiter(
                    (0 if a is None else len(a) for a in hh),
                    dtype=np.int64,
                    count=n,
                )
                sigs: list = [[None] * num_hashes] * n
                nz = np.flatnonzero(lens > 0)
                if nz.size:
                    vals = np.concatenate(
                        [np.asarray(hh.iloc[i], dtype=np.int64) for i in nz]
                    )
                    starts = np.zeros(nz.size, dtype=np.int64)
                    np.cumsum(lens[nz][:-1], out=starts[1:])
                    t = hash_long(vals.view(np.uint64), 42)
                    mat = np.empty((num_hashes, nz.size), dtype=np.int64)
                    for i in range(num_hashes):
                        # min over SIGNED longs, matching SQL array_min
                        mat[i] = np.minimum.reduceat(
                            hash_int(i, t).view(np.int64), starts
                        )
                    rows = mat.T.tolist()
                    for j, idx in enumerate(nz):
                        sigs[idx] = rows[j]
                out = pdf.copy()
                out["sig"] = sigs
                yield out
        finally:
            np.seterr(**err)

    return gen


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 5,
    vectorized: bool = False,
) -> DataFrame:
    """(id, hh, sig): hashed shingle set + MinHash signature per doc.

    This IS the persisted state of incremental near-dup: store it once
    per doc and history never needs its text re-shingled (hh carries
    everything exact verification needs, 8 bytes per distinct shingle).

    The map stage is CPU-bound (|shingles| * num_hashes hash evals per
    row) — spread it across all cores even when the source is a single
    small parquet split. At cluster scale the input already has many
    splits and this round-robin shuffle is noise vs. the map cost.
    hh = 64-bit hashes of the (distinct) shingles: downstream Jaccard
    runs over hh, not strings — identical set sizes barring 64-bit
    collisions, and the wide string arrays never leave this stage.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    # Repartition the RAW text, then shingle: the exchange moves the
    # ~chars-sized text column, not the several-times-wider distinct
    # shingle-string arrays, and the shingle map itself runs spread
    # across cores instead of on the pre-shuffle (possibly single-split)
    # read stage.
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")).repartition(
        par
    )
    shingled = base.select("id", char_shingles(F.col("t"), shingle_n).alias("sh"))
    hh_df = shingled.select(
        "id",
        F.expr("transform(sh, s -> xxhash64(s))").alias("hh"),
    )
    if vectorized and _np is not None:
        # Vectorized Arrow kernel, bit-identical to the SQL expression
        # (see _minhash_sig_batches). OPT-IN, measured at 50k docs on
        # local[32]: the kernel alone is 2.7x faster than the SQL form
        # (4.0s vs 10.8s to a noop sink), but DEFAULT OFF because every
        # current consumer fans the signature frame into multiple
        # cached-read branches, and block-manager cache of
        # Python-produced array rows read 3-5x slower than the same
        # bytes from the SQL form (76s vs 26s full LSH pipeline;
        # serialized cache 268s; only a parquet round-trip of the
        # kernel output restored parity at 27s). Flip it on when the
        # signatures go straight to columnar storage with a single
        # consumer — or re-measure on a real cluster where Arrow
        # buffers are off-heap per executor instead of fighting one
        # driver JVM's GCLocker.
        schema = T.StructType(
            list(hh_df.schema.fields)
            + [T.StructField("sig", T.ArrayType(T.LongType()), True)]
        )
        return hh_df.mapInPandas(_minhash_sig_batches(num_hashes), schema)
    return hh_df.withColumn("sig", F.expr(minhash_signature_sql("hh", num_hashes)))


def _two_phase_verify(
    cand: DataFrame, sig: DataFrame, threshold: float, num_hashes: int
) -> DataFrame:
    """Estimate-filter then exact-verify candidate pairs (see
    minhash_lsh_pairs for the 3-sigma cut rationale)."""
    est_cut = max(0.0, threshold - 3 * (0.25 / num_hashes) ** 0.5)
    sg_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sg_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)),"
        " 0, (a, x) -> a + x)"
    ) / F.lit(float(num_hashes))
    survivors = (
        cand.join(sg_a, "id_a")
        .join(sg_b, "id_b")
        .filter(est >= est_cut)
        .select("id_a", "id_b")
    )
    sh_a = sig.select(F.col("id").alias("id_a"), F.col("hh").alias("hh_a"))
    sh_b = sig.select(F.col("id").alias("id_b"), F.col("hh").alias("hh_b"))
    return (
        survivors.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("hh_a"), F.col("hh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index: DataFrame | None,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    new_sigs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup NEW docs against history WITHOUT rescanning old text.

    `index` is the (id, hh, sig) table from minhash_signatures for all
    previously-ingested docs (None for a cold start). Returns
    (pairs, new_index):
    - pairs: exact-verified near-dup pairs touching >= 1 new doc
      (new-vs-old and new-vs-new; id_a < id_b). Old-old pairs were
      reported by earlier runs — union over runs equals the one-shot
      minhash_lsh_pairs over the full corpus (asserted in tests).
    - new_index: index ∪ new signatures — persist this for the next run.
      It is returned in a `.persist()`ed state (the band/verify stages
      fan out over it); the CALLER owns the cache lifecycle and must
      `unpersist()` it after consuming pairs (or after writing the
      index), or repeated calls leak O(corpus) cached frames.

    The 100TB shape: a daily increment hashes ONLY its own text (the
    dominant cost is the shingle map, and it never re-runs for history),
    joins its band keys against the stored index's band keys — an
    equi-join whose left side is increment-sized — and verifies against
    stored hh arrays. History contributes one columnar scan of the
    index, no text re-processing, mirroring the HLL rollup pattern
    (sketch once, merge forever).
    """
    rows_per_band = num_hashes // bands
    par = new_docs.sparkSession.sparkContext.defaultParallelism
    # new_sigs: callers that also persist the increment's signatures
    # (the streaming sink) pass them in so the shingle map runs once and
    # THEY own that cache. When absent, the increment's signatures are
    # NOT persisted here — an internal persist would be unreachable to
    # the caller and leak one cached frame per call; instead the
    # increment is read back out of the persisted all_sig union by id
    # (one increment-sized semi-join, no re-shingling).
    sig_new = (
        new_sigs
        if new_sigs is not None
        else minhash_signatures(new_docs, id_col, text_col, num_hashes, shingle_n)
    )
    # Cold start included: all_sig must be persisted on EVERY path — the
    # count + banding + verify fan-out below re-runs the shingle map ~3x
    # otherwise, and the docstring's "returned persisted" contract (the
    # caller unpersists) would silently not hold on a one-shot call.
    all_sig = (
        sig_new.persist()
        if index is None
        else index.unionByName(sig_new).persist()
    )
    # Eager cache fill: all_sig fans out into banding + verify stages
    # that launch concurrently (see minhash_lsh_pairs note).
    all_sig.count()
    band_expr = lsh_band_keys_sql("sig", bands, rows_per_band)
    if new_sigs is not None or index is None:
        # sig_new is cached (by the caller, or as all_sig itself).
        bands_new_src = sig_new
    else:
        ids_new = new_docs.select(F.col(id_col).alias("id")).distinct()
        bands_new_src = all_sig.join(ids_new, "id", "left_semi")
    bands_new = bands_new_src.select(
        F.col("id").alias("id_n"), F.explode(F.expr(band_expr)).alias("bk")
    )
    bands_all = all_sig.select(
        F.col("id").alias("id_o"), F.explode(F.expr(band_expr)).alias("bk")
    )
    cand = (
        bands_new.join(bands_all, "bk")
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .repartition(par, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _two_phase_verify(cand, all_sig, threshold, num_hashes), all_sig


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash over a token array using xxhash64 bit votes.

    For each bit position, sum +1/-1 votes across token hashes; bit = 1 if
    the vote is positive. Pure expressions (bitwise ops + aggregate).
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    # ONE aggregate pass accumulating all 64 per-bit votes (a free
    # subexpression referenced from 64 separate aggregates would
    # re-evaluate the token hashing 64x per row).
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.transform(
            acc, lambda v, i: v + F.when(F.getbit(h, i) == 1, 1).otherwise(-1)
        ),
    )

    def pack(vs: Column) -> Column:
        out = F.lit(0).cast("long")
        for bit in range(64):
            weight = F.lit(2**bit if bit < 63 else -(2**63)).cast("long")
            out = out.bitwiseXOR(
                F.when(F.element_at(vs, bit + 1) > 0, weight).otherwise(
                    F.lit(0).cast("long")
                )
            )
        return out

    # Bind the vote array once; 64 element_at reads are then cheap.
    return F.get(F.transform(F.array(votes), pack), 0)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit longs via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into `bands` equal
    blocks (pigeonhole: any pair within max_hamming<=bands-1 shares a
    block), self-join per block, verify Hamming distance.
    """
    # Fail fast on out-of-contract arguments: violating the pigeonhole
    # precondition silently DROPS true near-dup pairs (a pair differing
    # in one bit per block shares no block key and never becomes a
    # candidate) — a recall loss with no error.
    if bands <= 0 or 64 % bands != 0:
        raise ValueError(f"bands={bands} must divide 64")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} bands "
            f"(pigeonhole: only pairs within bands-1={bands - 1} bit flips are "
            "guaranteed a shared block)"
        )
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    par = df.sparkSession.sparkContext.defaultParallelism
    # CPU-bound map stage: spread across cores even from one parquet
    # split; the (id, simhash) frame is tiny — reuse it so the hash is
    # computed once across banding and verification, filled before the
    # fan-out (see minhash_lsh_pairs note on concurrent-stage recompute).
    base = reuse(
        df.repartition(par).select(F.col(id_col).alias("id"), simhash64(toks).alias("sh"))
    )
    width = 64 // bands
    block_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.shiftrightunsigned(F.col("sh"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .cast("string"),
            )
            for b in range(bands)
        ]
    )
    banded = base.select(
        "id", "sh", F.explode(block_keys).alias("bk")
    ).repartition(par, "bk")  # same AQE-coalesce pin as minhash_lsh_pairs
    # Pairs are generated within each block bucket (no self-join → the
    # upstream hash map runs once; same skew caveat as minhash_lsh_pairs).
    buckets = (
        banded.groupBy("bk")
        .agg(F.array_sort(F.collect_set(F.struct("id", "sh"))).alias("rs"))
        .filter(F.size("rs") > 1)
    )

    def pair_structs(rs: Column) -> Column:
        return F.flatten(
            F.transform(
                rs,
                lambda x, i: F.transform(
                    F.slice(rs, i + F.lit(2), F.size(rs)),
                    lambda y: F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        hamming64(x["sh"], y["sh"]).alias("hamming"),
                    ),
                ),
            )
        )

    return (
        buckets.select(F.explode(pair_structs(F.col("rs"))).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def evidence_merge(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    weight_col: str,
    summary_col: str,
) -> DataFrame:
    """D4 merge laws per (event_key, dedup_key): earliest ts, max weight,
    longest summary (ties → lexicographically greatest, deterministic).

    Reference: api/events.py:531-586 (dedup keys), 682-875 (merge fields).
    Implemented as one groupBy — max_by on a (length, value) struct gives
    argmax-by-length without a second shuffle.
    """
    return df.groupBy(*key_cols).agg(
        F.min(ts_col).alias("first_ts"),
        F.max(weight_col).alias("max_weight"),
        F.max(
            F.struct(
                F.length(summary_col).alias("l"), F.col(summary_col).alias("v")
            )
        )["v"].alias("longest_summary"),
        F.count(F.lit(1)).alias("merged_count"),
    )


def first_nonempty(field: str, order_cols: Sequence[str]) -> F.Column:
    """Ref-union field-completion law (reference api/events.py:732-739:
    union of ref keys, prefer the already-present non-empty value): the
    FIRST non-empty value of `field` in `order_cols` order, '' if none.

    The reference folds evidence in list order (existing before new);
    the batch analog orders by (ts, id) — deterministic because the id
    is unique, so the same rows give the same merged ref on any
    partitioning. Struct-min = argmin without a second shuffle."""
    return F.coalesce(
        F.min(
            F.when(
                F.col(field) != "",
                F.struct(
                    *[F.col(c) for c in order_cols], F.col(field).alias("v")
                ),
            )
        )["v"],
        F.lit(""),
    )
