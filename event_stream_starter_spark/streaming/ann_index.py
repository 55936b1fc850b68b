"""Persisted incremental ANN index: IVF inverted lists maintained as
the corpus streams in, queried without ever re-embedding or
re-assigning history.

This closes the similarity-search side of the daily-increment triangle
the repo already has for near-dup (StreamingNearDup: persisted MinHash
signature index) and semantic dedup (StreamingSemDeDup: persisted kept
index): production similarity search is "index once, append increments,
probe many times", not "re-cluster the corpus per query batch".

Per micro-batch the sink appends the batch's (cid, cvec, cluster)
assignment rows — MAP-ONLY against the broadcast centroid literal,
O(batch) work, no shuffle of history — under the shared at-least-once
pointer protocol (_PointerSink: a replayed committed batch
short-circuits, a crash re-append collapses on the read-side id dedup,
both proven in tests). The coarse quantizer follows the frozen
contract (_FrozenQuantizerMixin): fitted once, persisted, never refit,
conflicting constructor centroids are an error — the lists were built
under the persisted assignment.

``query(queries, k, n_probe)`` probes the accumulated lists with
operators/similarity.ivf_probe — the exact code path ivf_topk uses on a
fresh corpus, so stream-built == one-shot equality is structural, and
pinned in tests/test_streaming.py.

At cluster scale the append directory becomes a table bucketed by
`cluster` (the probe join key), so probes read only the n_probe/
n_clusters fraction of the index from storage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..io import atomic_write
from ..operators.similarity import ivf_assign, ivf_probe
from .incremental_dedup import _FrozenQuantizerMixin, _PointerSink


class StreamingIvfIndex(_PointerSink, _FrozenQuantizerMixin):
    """foreachBatch sink: append-only IVF inverted lists with a frozen
    coarse quantizer."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_clusters: int = 16,
        centroids: list[list[float]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_clusters = n_clusters
        self.centroids = centroids
        os.makedirs(os.path.join(path, "lists"), exist_ok=True)

    def read_lists(self) -> DataFrame | None:
        """(cid, cvec, cluster) index rows; crash re-appends collapse on
        the id dedup."""
        return self._read_dir("lists", ["cid"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        # Empty batch: advance the pointer, write nothing — fitting the
        # quantizer on zero rows would freeze an empty centroid table
        # (same guard as StreamingSemDeDup).
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        centroids = self._load_or_fit_centroids(batch)
        assigned = ivf_assign(batch, self.id_col, self.vec_col, centroids)
        assigned.write.mode("append").parquet(os.path.join(self.path, "lists"))
        self._commit(batch_id)

    def query(
        self, queries: DataFrame, k: int = 5, n_probe: int = 4
    ) -> DataFrame | None:
        """ANN top-k of `queries` against the accumulated index — the
        same probe code path as a one-shot ivf_topk."""
        lists = self.read_lists()
        if lists is None:
            return None
        # sidecar-wins load with the same conflict check as the write
        # path: a reader holding mismatched centroids must error, not
        # probe cluster ids the lists were never built under.
        self.centroids = self._load_centroids()
        return ivf_probe(
            lists,
            queries,
            self.id_col,
            self.id_col,
            self.vec_col,
            centroids=self.centroids,
            k=k,
            n_probe=n_probe,
        )


class _FrozenCodebooksMixin:
    """Frozen-PQ-codebooks contract shared by the code-bearing sinks
    (StreamingPqIndex, StreamingIvfPqIndex): fitted once (on the first
    non-empty batch, or passed in), written to codebooks.json, NEVER
    refit — history was encoded under the persisted model, so a restart
    with conflicting constructor codebooks is an error, not a refit
    (the _FrozenQuantizerMixin semantics applied to the PQ model)."""

    path: str
    id_col: str
    vec_col: str
    dim: int
    m: int
    k: int
    codebooks: list[list[list[float]]] | None

    def _codebooks_file(self) -> str:
        return os.path.join(self.path, "codebooks.json")

    def _load_codebooks(self) -> list[list[list[float]]]:
        """Read-path model load: the persisted sidecar ALWAYS wins, and
        a conflicting constructor value raises the same 'persisted
        quantizer' error as the write path — a reader constructed with
        different codebooks would otherwise silently serve ADC
        distances under a model the codes were never encoded with."""
        import json

        try:
            with open(self._codebooks_file()) as fh:
                persisted = json.load(fh)
        except FileNotFoundError:
            persisted = None
        if persisted is not None:
            if self.codebooks is not None and self.codebooks != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "codebooks differ from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.codebooks = persisted
        if self.codebooks is None:
            raise FileNotFoundError(self._codebooks_file())
        return self.codebooks

    def _load_or_fit_codebooks(
        self, batch: DataFrame
    ) -> list[list[list[float]]]:
        import json

        try:
            with open(self._codebooks_file()) as fh:
                persisted = json.load(fh)
        except FileNotFoundError:
            persisted = None
        if persisted is not None:
            if self.codebooks is not None and self.codebooks != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "codebooks differ from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.codebooks = persisted
            return self.codebooks
        if self.codebooks is None:
            from ..operators.similarity import pq_codebooks
            from .incremental_dedup import _require_distinct_vectors

            _require_distinct_vectors(
                batch, self.vec_col, self.k, self, "PQ codebooks"
            )
            self.codebooks = pq_codebooks(
                batch,
                self.vec_col,
                self.id_col,
                dim=self.dim,
                m=self.m,
                k=self.k,
                iters=2,
            )
        atomic_write(self._codebooks_file(), json.dumps(self.codebooks))
        return self.codebooks


class StreamingPqIndex(_PointerSink, _FrozenCodebooksMixin):
    """foreachBatch sink: append-only PQ code index under FROZEN
    codebooks — the compressed-memory counterpart of StreamingIvfIndex
    (the other half of the billion-vector IVF-PQ layout).

    Per micro-batch the sink appends (cid, cvec, codes): the M=16
    subspace codes are a MAP-ONLY column expression of the broadcast
    broadcast codebook frame (operators/similarity.pq_encode) — O(batch),
    no history re-encode — plus the original float vector for the exact
    re-rank at query time. The codebooks follow the frozen-quantizer
    contract (fitted once on the first non-empty batch or passed in,
    persisted to codebooks.json, NEVER refit; a conflicting constructor
    value is an error — history was encoded under the persisted model).

    ``query(queries, k, shortlist)`` runs operators/similarity
    .pq_adc_serve over the accumulated codes — the EXACT serving path
    ann_pq_topk uses on a fresh corpus (ADC scoring map-side, salted
    two-phase shortlist, bounded exact re-rank), so stream-built ==
    one-shot equality is structural and pinned in
    tests/test_streaming.py::test_streaming_pq_index_matches_batch.

    At cluster scale the codes directory is the 16-byte-per-vector
    table PQ exists to make scannable; the float vectors live beside it
    and are touched only for |Q| x shortlist re-rank rows.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        m: int = 16,
        k: int = 64,
        codebooks: list[list[list[float]]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim = dim
        self.m = m
        self.k = k
        self.codebooks = codebooks
        os.makedirs(os.path.join(path, "codes"), exist_ok=True)

    def read_codes(self) -> DataFrame | None:
        """(cid, cvec, codes) index rows; crash re-appends collapse on
        the id dedup."""
        return self._read_dir("codes", ["cid"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        from pyspark.sql import functions as F

        from ..operators.similarity import pq_encode

        cbs = self._load_or_fit_codebooks(batch)
        rows = pq_encode(
            batch.select(
                F.col(self.id_col).alias("cid"),
                F.col(self.vec_col).alias("cvec"),
            ),
            "cvec",
            cbs,
            keep=["cid", "cvec"],
        )
        rows.write.mode("append").parquet(os.path.join(self.path, "codes"))
        self._commit(batch_id)

    def query(
        self, queries: DataFrame, k: int = 5, shortlist: int = 50
    ) -> DataFrame | None:
        """PQ-ADC top-k of `queries` against the accumulated index —
        the same serving code path as a one-shot ann_pq_topk."""
        idx = self.read_codes()
        if idx is None:
            return None
        from pyspark.sql import functions as F

        from ..operators.similarity import pq_adc_serve

        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.vec_col).alias("qvec"),
        )
        return pq_adc_serve(
            idx.select("cid", "codes"),
            idx.select("cid", "cvec"),
            q,
            self._load_codebooks(),
            k=k,
            shortlist=shortlist,
        )


class StreamingIvfPqIndex(_PointerSink, _FrozenQuantizerMixin, _FrozenCodebooksMixin):
    """foreachBatch sink: the COMPOSED billion-vector layout — append-
    only (cid, cluster, codes, cvec) rows under BOTH frozen models (the
    IVF coarse quantizer via _FrozenQuantizerMixin / centroids.json, the
    PQ codebooks via _FrozenCodebooksMixin / codebooks.json).

    Per micro-batch: coarse assignment AND subspace encoding are one
    map-only pass against the two broadcast model literals — O(batch),
    no history re-touch. ``query(queries, k, n_probe, shortlist)`` runs
    operators/similarity.ivfpq_serve over the accumulated index — the
    EXACT serving path ann_ivfpq_topk uses on a fresh corpus (coarse
    probes, ADC inside the probed lists, salted shortlist, bounded exact
    re-rank), so stream-built == one-shot equality is structural and
    pinned in tests/test_streaming.py::test_streaming_ivfpq_index_matches_batch.

    Unlike StreamingIvfIndex (float lists) the scan state here is 16
    bytes/vector; unlike StreamingPqIndex (flat codes) probes touch only
    n_probe/n_clusters of it. At cluster scale the codes directory is
    bucketed by `cluster` (the probe join key).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_clusters: int = 16,
        centroids: list[list[float]] | None = None,
        dim: int = 64,
        m: int = 16,
        k: int = 64,
        codebooks: list[list[list[float]]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_clusters = n_clusters
        self.centroids = centroids
        self.dim = dim
        self.m = m
        self.k = k
        self.codebooks = codebooks
        os.makedirs(os.path.join(path, "codes"), exist_ok=True)

    def read_codes(self) -> DataFrame | None:
        """(cid, cluster, codes, cvec) index rows; crash re-appends
        collapse on the id dedup."""
        return self._read_dir("codes", ["cid"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        from pyspark.sql import functions as F

        from ..operators.similarity import pq_encode

        centroids = self._load_or_fit_centroids(batch)
        cbs = self._load_or_fit_codebooks(batch)
        assigned = ivf_assign(batch, self.id_col, self.vec_col, centroids)
        rows = pq_encode(assigned, "cvec", cbs, keep=["cid", "cluster", "cvec"])
        rows.write.mode("append").parquet(os.path.join(self.path, "codes"))
        self._commit(batch_id)

    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        shortlist: int = 50,
    ) -> DataFrame | None:
        """IVF-PQ top-k of `queries` against the accumulated index —
        the same serving code path as a one-shot ann_ivfpq_topk."""
        idx = self.read_codes()
        if idx is None:
            return None
        # sidecar-wins + conflict check on BOTH frozen models (see
        # StreamingIvfIndex.query / _load_codebooks).
        self.centroids = self._load_centroids()
        from pyspark.sql import functions as F

        from ..operators.similarity import ivfpq_serve

        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.vec_col).alias("qvec"),
        )
        return ivfpq_serve(
            idx.select("cid", "cluster", "codes"),
            idx.select("cid", "cvec"),
            q,
            self.centroids,
            self._load_codebooks(),
            n_probe=n_probe,
            k=k,
            shortlist=shortlist,
        )


class _FrozenRotationMixin:
    """Frozen-OPQ-rotation contract (the _FrozenCodebooksMixin semantics
    applied to the rotation matrix): fitted/passed once, persisted to
    rotation.json, NEVER refit; conflicting constructor values error on
    BOTH the write and the read path — rotated codes are meaningless
    under any other rotation."""

    path: str
    rotation: list[list[float]] | None

    def _rotation_file(self) -> str:
        return os.path.join(self.path, "rotation.json")

    def _load_rotation(self) -> list[list[float]]:
        import json

        try:
            with open(self._rotation_file()) as fh:
                persisted = json.load(fh)
        except FileNotFoundError:
            persisted = None
        if persisted is not None:
            if self.rotation is not None and self.rotation != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "rotation differs from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.rotation = persisted
        if self.rotation is None:
            raise FileNotFoundError(self._rotation_file())
        return self.rotation

    def _persist_rotation(self) -> None:
        import json

        atomic_write(self._rotation_file(), json.dumps(self.rotation))

    def _load_or_require_opq_models(
        self,
    ) -> tuple[list[list[float]], list[list[list[float]]]]:
        """Write-path model resolution shared by the OPQ-coded sinks
        (StreamingOpqIndex, StreamingIvfOpqIndex): sidecar-wins conflict
        check on BOTH models; unlike the PQ sinks there is NO
        first-batch fit — rotation + codebooks are trained offline
        (operators/similarity.opq_rotation is an eigen-decomposition)
        and must be supplied or already persisted. Persists both
        sidecars on success."""
        import json

        try:
            rot = self._load_rotation()
        except FileNotFoundError:
            if self.rotation is None:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: OPQ rotation "
                    "must be supplied (offline-trained) on first use"
                ) from None
            rot = self.rotation
        try:
            with open(self._codebooks_file()) as fh:
                persisted = json.load(fh)
            if self.codebooks is not None and self.codebooks != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "codebooks differ from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.codebooks = persisted
        except FileNotFoundError:
            if self.codebooks is None:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: OPQ codebooks "
                    "must be supplied (offline-trained) on first use"
                ) from None
        self._persist_rotation()
        atomic_write(self._codebooks_file(), json.dumps(self.codebooks))
        return rot, self.codebooks


class StreamingOpqIndex(_PointerSink, _FrozenRotationMixin, _FrozenCodebooksMixin):
    """foreachBatch sink: append-only OPQ code index under BOTH frozen
    models (rotation.json + codebooks.json) — the rotated tier of
    StreamingPqIndex, completing the streaming quantization matrix
    (PQ / IVF-PQ / OPQ / SQ8 all have append-only serving indexes).

    Per micro-batch: one Arrow rotation pass + map-only subspace coding
    against the broadcast codebook literals — O(batch), no history
    re-encode; the original float vector rides along for the exact
    ORIGINAL-SPACE re-rank. ``query`` runs operators/similarity
    .opq_adc_serve — the EXACT serving path ann_opq_topk uses on a
    fresh corpus, so stream-built == one-shot equality is structural
    (pinned in tests/test_streaming.py). Unlike PQ the models here are
    REQUIRED constructor inputs on first use (rotation training is an
    offline eigen-decomposition — operators/similarity.opq_rotation —
    not something a first micro-batch should freeze); restarts reload
    the sidecars.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        m: int = 16,
        k: int = 64,
        rotation: list[list[float]] | None = None,
        codebooks: list[list[list[float]]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim = dim
        self.m = m
        self.k = k
        self.rotation = rotation
        self.codebooks = codebooks
        os.makedirs(os.path.join(path, "codes"), exist_ok=True)

    def read_codes(self) -> DataFrame | None:
        return self._read_dir("codes", ["cid"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        from pyspark.sql import functions as F

        from ..operators.similarity import pq_encode, rotate_udf

        rot, _ = self._load_or_require_opq_models()
        rows = pq_encode(
            batch.select(
                F.col(self.id_col).alias("cid"),
                F.col(self.vec_col).alias("cvec"),
                rotate_udf(rot)(F.col(self.vec_col)).alias("rvec"),
            ),
            "rvec",
            self.codebooks,
            keep=["cid", "cvec"],
        )
        rows.write.mode("append").parquet(os.path.join(self.path, "codes"))
        self._commit(batch_id)

    def query(
        self, queries: DataFrame, k: int = 5, shortlist: int = 50
    ) -> DataFrame | None:
        """OPQ top-k against the accumulated index — the same serving
        code path as a one-shot ann_opq_topk."""
        idx = self.read_codes()
        if idx is None:
            return None
        from pyspark.sql import functions as F

        from ..operators.similarity import opq_adc_serve

        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.vec_col).alias("qvec"),
        )
        return opq_adc_serve(
            idx.select("cid", "codes"),
            idx.select("cid", "cvec"),
            q,
            self._load_rotation(),
            self._load_codebooks(),
            k=k,
            shortlist=shortlist,
        )


class _FrozenSqStatsMixin:
    """Frozen-SQ8-stats contract shared by the int8-coded sinks
    (StreamingSq8Index, StreamingIvfSq8Index): per-dimension (mn, mx)
    fitted once (first non-empty batch via two plain aggregates, or
    passed in), persisted to sqstats.json, NEVER refit; conflicts error
    on write AND read — codes are meaningless under other stats."""

    path: str
    vec_col: str
    stats: list[list[float]] | None

    def _stats_file(self) -> str:
        return os.path.join(self.path, "sqstats.json")

    def _load_stats(self) -> list[list[float]]:
        import json

        try:
            with open(self._stats_file()) as fh:
                persisted = json.load(fh)
        except FileNotFoundError:
            persisted = None
        if persisted is not None:
            if self.stats is not None and self.stats != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "stats differ from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.stats = persisted
        if self.stats is None:
            raise FileNotFoundError(self._stats_file())
        return self.stats

    def _load_or_fit_stats(self, batch: DataFrame) -> list[list[float]]:
        import json

        from pyspark.sql import functions as F

        try:
            with open(self._stats_file()) as fh:
                persisted = json.load(fh)
        except FileNotFoundError:
            persisted = None
        if persisted is not None:
            if self.stats is not None and self.stats != persisted:
                raise ValueError(
                    f"{type(self).__name__} at {self.path}: constructor "
                    "stats differ from the persisted quantizer this "
                    "index was built under; drop the argument (or the "
                    "index) instead of mixing"
                )
            self.stats = persisted
            return self.stats
        if self.stats is None:
            dim = len(
                batch.select(self.vec_col).limit(1).collect()[0][0]
            )
            row = batch.agg(
                F.array(
                    *[
                        F.min(F.col(self.vec_col)[i]).cast("double")
                        for i in range(dim)
                    ]
                ).alias("mn"),
                F.array(
                    *[
                        F.max(F.col(self.vec_col)[i]).cast("double")
                        for i in range(dim)
                    ]
                ).alias("mx"),
            ).collect()[0]
            self.stats = [list(row["mn"]), list(row["mx"])]
        atomic_write(self._stats_file(), json.dumps(self.stats))
        return self.stats


class StreamingSq8Index(_PointerSink, _FrozenSqStatsMixin):
    """foreachBatch sink: append-only SQ8 (int8) code index under FROZEN
    per-dimension (mn, mx) scale stats — the scalar-quantization tier of
    the streaming index family.

    The stats follow the frozen-model contract (fitted on the first
    non-empty batch via two plain aggregates, or passed in; persisted to
    sqstats.json; NEVER refit; conflicts error on write AND read). Per
    micro-batch the sink appends (cid, codes) — map-only against the
    stat literals (operators/similarity.sq8_code_expr, the
    x_sq8_quantize law). ``query`` runs operators/similarity.sq8_serve:
    exact query vs de-quantized corpus, salted two-phase rank — the
    ann_sq8_topk serving shape; when the frozen stats equal the
    full-corpus stats the outputs are value-identical (pinned in
    tests/test_streaming.py).

    Unlike PQ/OPQ there is no re-rank float table: SQ8's de-quantized
    distance IS the emitted distance (the FAISS int8 posture), so the
    persisted scan state is 64 bytes of codes per vector and nothing
    else.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        stats: tuple[list[float], list[float]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.stats = [list(stats[0]), list(stats[1])] if stats else None
        os.makedirs(os.path.join(path, "codes"), exist_ok=True)

    def read_codes(self) -> DataFrame | None:
        return self._read_dir("codes", ["cid"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        from pyspark.sql import functions as F

        from ..operators.similarity import sq8_code_expr

        mn, mx = self._load_or_fit_stats(batch)
        rows = batch.select(
            F.col(self.id_col).alias("cid"),
            sq8_code_expr(self.vec_col, mn, mx).alias("codes"),
        )
        rows.write.mode("append").parquet(os.path.join(self.path, "codes"))
        self._commit(batch_id)

    def query(self, queries: DataFrame, k: int = 5) -> DataFrame | None:
        """SQ8 top-k against the accumulated codes — the ann_sq8_topk
        serving shape under the frozen stats."""
        idx = self.read_codes()
        if idx is None:
            return None
        from pyspark.sql import functions as F

        from ..operators.similarity import sq8_serve

        mn, mx = self._load_stats()
        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.vec_col).alias("qvec"),
        )
        return sq8_serve(idx.select("cid", "codes"), q, mn, mx, k=k)


class StreamingIvfSq8Index(_PointerSink, _FrozenQuantizerMixin, _FrozenSqStatsMixin):
    """foreachBatch sink: the COMPOSED probe-able int8 layout — append-
    only (cid, cluster, codes) rows under BOTH frozen models (the IVF
    coarse quantizer via centroids.json, the SQ8 scale stats via
    sqstats.json), completing the streaming quantization matrix
    ({flat, IVF} x {PQ, OPQ, SQ8} all have append-only serving sinks).

    Per micro-batch: coarse assignment AND int8 coding are one map-only
    pass against the two broadcast model literals — O(batch), no
    history re-touch. Scan state is 64 bytes of codes + a cluster id
    per vector; like StreamingSq8Index there is no re-rank float table
    (SQ8's de-quantized distance IS the serving distance, the FAISS
    int8 posture), and like StreamingIvfIndex probes touch only
    n_probe/n_clusters of it.

    ``query(queries, k, n_probe)`` de-quantizes the probed codes with
    the sq8_serve arithmetic and runs operators/similarity.ivfsq8_serve
    — the EXACT serving path ann_ivfsq8_topk uses on a fresh corpus, so
    stream-built == one-shot equality is structural (pinned in
    tests/test_streaming.py). Read-path model conflicts error via both
    sidecar checks. At cluster scale the codes directory is bucketed by
    `cluster` (the probe join key).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_clusters: int = 16,
        centroids: list[list[float]] | None = None,
        stats: tuple[list[float], list[float]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_clusters = n_clusters
        self.centroids = centroids
        self.stats = [list(stats[0]), list(stats[1])] if stats else None
        os.makedirs(os.path.join(path, "codes"), exist_ok=True)

    def read_codes(self) -> DataFrame | None:
        """(cid, cluster, codes) index rows; crash re-appends collapse
        on the id dedup."""
        return self._read_dir("codes", ["cid"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        from ..operators.similarity import sq8_code_expr

        centroids = self._load_or_fit_centroids(batch)
        mn, mx = self._load_or_fit_stats(batch)
        assigned = ivf_assign(batch, self.id_col, self.vec_col, centroids)
        rows = assigned.select(
            "cid", "cluster", sq8_code_expr("cvec", mn, mx).alias("codes")
        )
        rows.write.mode("append").parquet(os.path.join(self.path, "codes"))
        self._commit(batch_id)

    def query(
        self, queries: DataFrame, k: int = 5, n_probe: int = 4
    ) -> DataFrame | None:
        """IVF-SQ8 top-k against the accumulated codes — the same
        serving code path as a one-shot ann_ivfsq8_topk."""
        idx = self.read_codes()
        if idx is None:
            return None
        from pyspark.sql import functions as F

        from ..operators.similarity import ivfsq8_serve, sq8_dequant_expr

        # sidecar-wins + conflict check on BOTH frozen models.
        self.centroids = self._load_centroids()
        mn, mx = self._load_stats()
        index = idx.select(
            "cid", "cluster", sq8_dequant_expr("codes", mn, mx).alias("dv")
        )
        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.expr(
                f"transform({self.vec_col}, x -> cast(x as double))"
            ).alias("qv"),
        )
        return ivfsq8_serve(index, q, self.centroids, n_probe=n_probe, k=k)


class StreamingIvfOpqIndex(
    _PointerSink, _FrozenQuantizerMixin, _FrozenRotationMixin, _FrozenCodebooksMixin
):
    """foreachBatch sink: the COMPOSED anisotropic billion-vector layout
    — append-only (cid, cluster, codes, cvec) rows under THREE frozen
    models (IVF centroids via centroids.json, OPQ rotation via
    rotation.json, rotated codebooks via codebooks.json), completing the
    streaming quantization matrix alongside StreamingIvfSq8Index.

    Per micro-batch: coarse assignment (ORIGINAL space — the same
    inverted lists serve every tier), one Arrow rotation pass, and
    map-only subspace coding against the broadcast codebook literals —
    O(batch), no history re-encode; the original float vector rides
    along for the exact original-space re-rank. Like StreamingOpqIndex
    the rotation + codebooks are REQUIRED offline inputs on first use
    (an eigen-decomposition is not something a first micro-batch should
    freeze); the coarse centroids may first-batch-fit like every IVF
    sink. ``query`` runs operators/similarity.ivfopq_serve — the EXACT
    serving path ann_ivfopq_topk uses on a fresh corpus, so
    stream-built == one-shot equality is structural (pinned in
    tests/test_streaming.py). Read-path conflicts error via all three
    sidecar checks. At cluster scale the codes directory is bucketed by
    `cluster` (the probe join key).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_clusters: int = 16,
        centroids: list[list[float]] | None = None,
        dim: int = 64,
        m: int = 16,
        k: int = 64,
        rotation: list[list[float]] | None = None,
        codebooks: list[list[list[float]]] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_clusters = n_clusters
        self.centroids = centroids
        self.dim = dim
        self.m = m
        self.k = k
        self.rotation = rotation
        self.codebooks = codebooks
        os.makedirs(os.path.join(path, "codes"), exist_ok=True)

    def read_codes(self) -> DataFrame | None:
        """(cid, cluster, codes, cvec) index rows; crash re-appends
        collapse on the id dedup."""
        return self._read_dir("codes", ["cid"])

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id():
            return  # replayed, fully committed batch
        if batch.limit(1).count() == 0:
            self._commit(batch_id)
            return
        from pyspark.sql import functions as F

        from ..operators.similarity import pq_encode, rotate_udf

        centroids = self._load_or_fit_centroids(batch)
        rot, cbs = self._load_or_require_opq_models()
        assigned = ivf_assign(batch, self.id_col, self.vec_col, centroids)
        rows = pq_encode(
            assigned.select(
                "cid",
                "cluster",
                rotate_udf(rot)(F.col("cvec")).alias("rvec"),
                "cvec",
            ),
            "rvec",
            cbs,
            keep=["cid", "cluster", "cvec"],
        )
        rows.write.mode("append").parquet(os.path.join(self.path, "codes"))
        self._commit(batch_id)

    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        shortlist: int = 50,
    ) -> DataFrame | None:
        """IVF-OPQ top-k against the accumulated index — the same
        serving code path as a one-shot ann_ivfopq_topk."""
        idx = self.read_codes()
        if idx is None:
            return None
        from pyspark.sql import functions as F

        from ..operators.similarity import ivfopq_serve

        # sidecar-wins + conflict check on ALL THREE frozen models.
        self.centroids = self._load_centroids()
        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.vec_col).alias("qvec"),
        )
        return ivfopq_serve(
            idx.select("cid", "cluster", "codes"),
            idx.select("cid", "cvec"),
            q,
            self.centroids,
            self._load_rotation(),
            self._load_codebooks(),
            n_probe=n_probe,
            k=k,
            shortlist=shortlist,
        )
