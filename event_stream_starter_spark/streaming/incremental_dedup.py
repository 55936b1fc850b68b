"""Streaming incremental near-dup: a document stream deduplicated
against the accumulated MinHash signature index via foreachBatch.

This is the training-data counterpart of the reference's streaming
dedup (worker/jobs/x_kol_poll.py:89-117 keeps a Redis id/fingerprint
index so re-polled tweets are cheap to reject): here the persisted
state is the (id, hh, sig) signature table from
operators/dedup.minhash_signatures, so each micro-batch

- shingles + hashes ONLY its own text (the dominant cost never re-runs
  for history),
- joins its band keys against the stored index (equi-join, left side
  increment-sized),
- exact-verifies against stored shingle hashes,
- appends its signatures to the index and its verified pairs to the
  pair log.

At-least-once semantics (ST5): the CURRENT pointer records the last
committed batch id and is written LAST, so a replayed batch either
short-circuits (pointer already advanced) or re-appends — and both
sinks tolerate re-appends: the pair log is deduplicated on read by
(id_a, id_b) and the index is deduplicated on read by id. On a real
cluster the append+pointer pair is replaced by a transactional table
format's commit protocol; the read-side dedup laws stay identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..io import atomic_write
from ..operators.dedup import incremental_minhash_pairs, minhash_signatures


class _PointerSink:
    """Shared at-least-once sink plumbing: the CURRENT pointer records
    the last committed batch id and is written LAST (tmp + atomic
    rename); append directories are deduplicated on read. One
    implementation so a protocol fix (fsync, commit shape) can never
    drift between the MinHash and SemDeDup sinks."""

    spark: SparkSession
    path: str

    def _pointer(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def last_batch_id(self) -> int:
        try:
            with open(self._pointer()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return -1

    def _commit(self, batch_id: int) -> None:
        atomic_write(self._pointer(), str(batch_id))

    def _read_dir(self, name: str, dedup_cols: list[str]) -> DataFrame | None:
        d = os.path.join(self.path, name)
        if not any(f.endswith(".parquet") for f in os.listdir(d)):
            return None
        return self.spark.read.parquet(d).dropDuplicates(dedup_cols)

    def foreach_batch_writer(self):
        def write(batch: DataFrame, batch_id: int) -> None:
            self.process_batch(batch, batch_id)

        return write


class StreamingNearDup(_PointerSink):
    """foreachBatch sink: incremental near-dup with persisted index."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_n: int = 5,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        os.makedirs(os.path.join(path, "index"), exist_ok=True)
        os.makedirs(os.path.join(path, "pairs"), exist_ok=True)

    def read_index(self) -> DataFrame | None:
        # Crash-replay can duplicate a batch's signature append before
        # the pointer advanced — collapse by id on read.
        return self._read_dir("index", ["id"])

    def pairs(self) -> DataFrame | None:
        out = self._read_dir("pairs", ["id_a", "id_b"])
        return None if out is None else out.select("id_a", "id_b", "jaccard_sim")

    def clusters(self) -> DataFrame | None:
        """Transitive cluster assignment + canonical pick over every
        document the stream has indexed: operators/graph
        .canonical_assignments (iterative min-label connected
        components) on the accumulated pair log, with the signature
        index supplying the document set — the dd_cluster_canonical
        output shape (doc_id, cluster_id, is_canonical, cluster_size)
        maintained incrementally.

        Read-side recompute is deliberate: connected components is a
        GLOBAL fixpoint (one new pair can merge any two existing
        clusters, retroactively re-labeling history), so no append-only
        per-batch assignment can be correct; the 100TB-sane posture is
        the StreamingLineDedup one — immutable per-batch logs, verdicts
        derived at read time. The recompute is bounded by the PAIR log
        (|pairs| << |corpus| for near-dup graphs) plus one corpus-sized
        left join for singleton coverage; per-batch ingest cost is
        untouched (O(batch) signature + pair append). Stream-end
        equality with the one-shot minhash clustering is pinned in
        tests/test_streaming.py::test_streaming_neardup_clusters_match_one_shot.
        """
        from pyspark.sql import functions as F

        from ..operators.graph import canonical_assignments

        index = self.read_index()
        if index is None:
            return None
        docs = index.select(F.col("id").alias(self.id_col)).distinct()
        pairs = self.pairs()
        if pairs is None:
            # No near-dup pair yet: every indexed doc is a singleton.
            return docs.select(
                self.id_col,
                F.col(self.id_col).alias("cluster_id"),
                F.lit(True).alias("is_canonical"),
                F.lit(1).cast("bigint").alias("cluster_size"),
            )
        return canonical_assignments(docs, pairs, self.id_col)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        index = self.read_index()
        sig_cols = ["id", "hh", "sig"]
        sig_new = minhash_signatures(
            batch, self.id_col, self.text_col, self.num_hashes, self.shingle_n
        ).persist()
        pairs, all_sig = incremental_minhash_pairs(
            batch,
            index.select(*sig_cols) if index is not None else None,
            self.id_col,
            self.text_col,
            threshold=self.threshold,
            num_hashes=self.num_hashes,
            bands=self.bands,
            shingle_n=self.shingle_n,
            new_sigs=sig_new,
        )
        pairs.write.mode("append").parquet(os.path.join(self.path, "pairs"))
        # Append ONLY this batch's signatures: index growth per batch is
        # O(batch), never an O(corpus) rewrite.
        sig_new.write.mode("append").parquet(os.path.join(self.path, "index"))
        # Drop BOTH caches before committing: all_sig is the full-index
        # union persisted inside incremental_minhash_pairs — leaking it
        # would pin an O(corpus) cached frame per micro-batch, growing
        # block-manager memory without bound over the stream's lifetime.
        # (On a cold start all_sig IS sig_new; double-unpersist is a
        # no-op.)
        all_sig.unpersist()
        sig_new.unpersist()
        self._commit(batch_id)


def _require_distinct_vectors(
    batch: DataFrame, vec_col: str, needed: int, sink: object, what: str
) -> None:
    """First-fit guard for every frozen-model sink: a model fitted on a
    degenerate first micro-batch (maxFilesPerTrigger=1 can deliver a
    handful of rows) would be FROZEN for all history with no error and
    silently degrade recall forever. Require at least as many distinct
    vectors as the model has centroids before fitting; production
    streams should pass a pre-fitted model instead."""
    n = batch.select(vec_col).distinct().limit(needed).count()
    if n < needed:
        raise ValueError(
            f"{type(sink).__name__} at {getattr(sink, 'path', '?')}: first "
            f"non-empty batch has only {n} distinct vectors but fitting "
            f"the {what} needs >= {needed}; pass a pre-fitted model (or "
            "batch more data) — freezing a degenerate quantizer would "
            "silently degrade all history"
        )


class _FrozenQuantizerMixin:
    """Persisted-coarse-quantizer contract shared by every sink whose
    index is keyed on cluster ids (StreamingSemDeDup, StreamingIvfIndex):
    fitted once (on the first non-empty batch, or passed in), written to
    centroids.json, and NEVER refit — the index was built under the
    persisted assignment, and a restart that reconstructs the sink with
    different constructor centroids would silently probe mismatched
    cluster ids, so the file always wins and a conflicting explicit
    value is an error, not a refit."""

    path: str
    id_col: str
    vec_col: str
    n_clusters: int
    centroids: list[list[float]] | None

    def _centroids_file(self) -> str:
        return os.path.join(self.path, "centroids.json")

    def _persist_centroids(self) -> None:
        import json

        atomic_write(self._centroids_file(), json.dumps(self.centroids))

    def _load_centroids(self) -> list[list[float]]:
        """Read-path model load: the persisted sidecar ALWAYS wins, and
        a conflicting constructor value is the same 'persisted
        quantizer' error as on the write path — a reader constructed
        with different centroids would otherwise silently probe
        cluster ids the index was never built under."""
        import json

        try:
            with open(self._centroids_file()) as fh:
                persisted = json.load(fh)
        except FileNotFoundError:
            persisted = None
        if persisted is not None:
            if self.centroids is not None and self.centroids != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "centroids differ from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.centroids = persisted
        if self.centroids is None:
            raise FileNotFoundError(self._centroids_file())
        return self.centroids

    def _load_or_fit_centroids(self, batch: DataFrame) -> list[list[float]]:
        import json

        try:
            with open(self._centroids_file()) as fh:
                persisted = json.load(fh)
        except FileNotFoundError:
            persisted = None
        if persisted is not None:
            if self.centroids is not None and self.centroids != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "centroids differ from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.centroids = persisted
            return self.centroids
        if self.centroids is None:
            from ..operators.similarity import kmeans_centroids

            _require_distinct_vectors(
                batch, self.vec_col, self.n_clusters, self, "coarse quantizer"
            )
            self.centroids = kmeans_centroids(
                batch, self.vec_col, self.n_clusters, iters=2, id_col=self.id_col
            )
        # Persist explicitly-passed centroids too: the frozen-quantizer
        # contract must survive a restart that doesn't re-supply them.
        self._persist_centroids()
        return self.centroids


class StreamingSemDeDup(_PointerSink, _FrozenQuantizerMixin):
    """foreachBatch sink: incremental SEMANTIC dedup with a persisted
    kept-vector index — the embedding-space sibling of StreamingNearDup,
    same at-least-once protocol (append sinks deduplicated on read, the
    CURRENT pointer written last).

    The coarse quantizer is fitted ONCE (on the first batch, or passed
    in) and frozen: increments reuse it, matching semdedup_increment's
    immutable-history contract. Persisted state is the kept rows only —
    dropped vectors never enter the index, so the per-cluster probe side
    stays as small as the surviving corpus.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.95,
        n_clusters: int = 16,
        centroids: list[list[float]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.n_clusters = n_clusters
        self.centroids = centroids
        os.makedirs(os.path.join(path, "kept"), exist_ok=True)
        os.makedirs(os.path.join(path, "decisions"), exist_ok=True)

    def read_kept(self) -> DataFrame | None:
        return self._read_dir("kept", ["id"])

    def decisions(self) -> DataFrame | None:
        return self._read_dir("decisions", ["id"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.similarity import semdedup_increment

        if batch_id <= self.last_batch_id():
            return
        # Empty batch: advance the pointer and write nothing. CRITICAL
        # on a cold start — fitting k-means on zero rows would persist
        # an EMPTY centroid table forever (frozen quantizer), collapsing
        # every future batch into one O(n^2) cluster.
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        centroids = self._load_or_fit_centroids(batch)
        kept = self.read_kept()
        # Replay idempotence: a crash AFTER the kept append but BEFORE
        # the pointer commit replays this batch against an index that
        # already contains the batch's own kept rows — each would match
        # itself at cosine 1.0 and flip to dropped. Anti-join the
        # batch's ids out of the probe side so a replayed batch decides
        # exactly as the original did (re-appends are then
        # byte-identical and the read-side id-dedup absorbs them).
        if kept is not None:
            batch_ids = batch.select(F.col(self.id_col).alias("id"))
            kept = kept.join(batch_ids, "id", "left_anti")
        caches: list = []
        decisions, _new_index, newly_kept = semdedup_increment(
            batch,
            kept,
            centroids,
            self.id_col,
            self.vec_col,
            threshold=self.threshold,
            caches=caches,
        )
        decisions.write.mode("append").parquet(
            os.path.join(self.path, "decisions")
        )
        # Append ONLY this batch's kept rows (O(batch) growth) — the
        # increment hands them back directly; no index re-scan.
        newly_kept.write.mode("append").parquet(os.path.join(self.path, "kept"))
        # Both sinks are materialized — release the increment's cache so
        # a long-lived stream doesn't pin one frame per micro-batch.
        for c in caches:
            c.unpersist()
        self._commit(batch_id)


class StreamingExactSubstr(_PointerSink):
    """Incremental ExactSubstr (Lee et al. 2022): a document stream
    indexed per batch so duplicated spans >= k chars are maintained
    continuously, with RETROACTIVE flagging — when a later document
    duplicates text from an earlier one, the earlier document's spans
    are recomputed and re-emitted, so the stream-end state equals the
    one-shot batch operator (queries/textdata._exact_substr_spans_df)
    bidirectionally — equal MODULO ~2^-128 hash-pair collisions: this
    index confirms duplicate grams by their 128-bit seeded-xxhash64
    pair, while the batch twin string-confirms survivors, so a
    colliding gram pair (probability ~n^2/2^128, negligible at any
    corpus size but not zero) could diverge the two. The batch twin
    remains the exact arm of record.

    State: `index/` holds one row per k-gram start position —
    (batch_id, doc_id, i, h1, h2) where (h1, h2) is a 128-bit seeded
    xxhash64 pair of the gram. Storing hashes instead of gram strings
    keeps the index at ~24 bytes/position; equality on the 128-bit pair
    stands in for gram equality (collision probability ~n^2/2^128 —
    negligible at any corpus size; the batch twin remains the
    string-confirmed exact arm).

    Per batch: only the batch's text is exploded/hashed (dominant cost
    never re-runs for history); duplicated grams are recounted; the
    AFFECTED doc set = docs holding a position of a duplicated gram
    that this batch touched — batch docs plus any historical docs
    retro-flagged by them. Their spans are recomputed from all their
    covered positions and appended with the current batch_id; `spans()`
    reads the LATEST emission per doc (span sets only grow, counts
    never decrease). Replay safety: the probe reads index rows with
    batch_id < current only, so a crash between the spans append and
    the commit replays into byte-identical appends (deduplicated on
    read), and a fully committed batch short-circuits on the pointer.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 20,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        os.makedirs(os.path.join(path, "index"), exist_ok=True)
        os.makedirs(os.path.join(path, "spans"), exist_ok=True)

    def _positions(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        k = self.k
        gram = F.expr(f"substring(_t, i, {k})")
        return (
            df.filter(F.length(self.text_col) >= k)
            .select(
                F.col(self.id_col).alias("doc_id"),
                F.explode(
                    F.sequence(
                        F.lit(1), F.length(self.text_col) - F.lit(k - 1)
                    )
                ).alias("i"),
                F.col(self.text_col).alias("_t"),
            )
            .select(
                "doc_id",
                "i",
                F.xxhash64(gram).alias("h1"),
                F.xxhash64(gram, F.lit(1)).alias("h2"),
            )
        )

    def _index_df(self) -> DataFrame | None:
        return self._read_dir("index", ["batch_id", "doc_id", "i"])

    def spans(self) -> DataFrame | None:
        from pyspark.sql import functions as F

        s = self._read_dir("spans", ["batch_id", "doc_id", "span_start"])
        if s is None:
            return None
        latest = s.groupBy("doc_id").agg(F.max("batch_id").alias("batch_id"))
        return s.join(latest, ["doc_id", "batch_id"]).select(
            "doc_id", "span_start", "span_len"
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        pos_new = self._positions(batch).persist()
        hist = self._index_df()
        if hist is not None:
            # Crash-replay guard: an uncommitted prior attempt may have
            # appended THIS batch's rows already — exclude them so the
            # recomputation is deterministic.
            hist = hist.filter(F.col("batch_id") < batch_id).select(
                "doc_id", "i", "h1", "h2"
            )
            all_pos = hist.unionByName(pos_new)
        else:
            all_pos = pos_new
        dup = (
            all_pos.groupBy("h1", "h2")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= 2)
            .select("h1", "h2")
        )
        touched = dup.join(
            pos_new.select("h1", "h2").distinct(), ["h1", "h2"], "left_semi"
        )
        affected = (
            all_pos.join(touched, ["h1", "h2"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        apos = all_pos.join(affected, "doc_id", "left_semi")
        covered = apos.join(dup, ["h1", "h2"], "left_semi").select("doc_id", "i")
        # Same island rule as the batch op: starts whose char ranges
        # overlap or abut (gap <= k) merge, so spans are DISJOINT char
        # intervals — required for batch==stream parity.
        w = Window.partitionBy("doc_id").orderBy("i")
        brk = F.when(
            F.col("i") - F.lag("i").over(w) <= self.k, F.lit(0)
        ).otherwise(F.lit(1))
        runs = covered.withColumn("brk", brk).withColumn(
            "run", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        spans = (
            runs.groupBy("doc_id", "run")
            .agg(
                F.min("i").cast("bigint").alias("span_start"),
                (F.max("i") - F.min("i") + F.lit(self.k))
                .cast("bigint")
                .alias("span_len"),
            )
            .select("doc_id", "span_start", "span_len")
            .withColumn("batch_id", F.lit(batch_id))
        )
        spans.write.mode("append").parquet(os.path.join(self.path, "spans"))
        # Append ONLY this batch's positions: index growth is O(batch).
        pos_new.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(os.path.join(self.path, "index"))
        pos_new.unpersist()
        self._commit(batch_id)
