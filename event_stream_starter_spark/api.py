"""Read-path API facade — the engine-side answers to the reference's HTTP
query surface (SURVEY.md §2.13, api/main.py:184-211 endpoint table).

The reference serves these via FastAPI over Postgres; here each endpoint
is a method returning a DataFrame (callers collect or serve it — the
HTTP layer itself is out of engine scope, like any Spark deployment).
Each endpoint's answer is the registered query that the oracle checks,
reused verbatim, so the facade cannot drift from the tested semantics.

The reference's jobs write tables and its API reads them through
response caches (api/cache.py:240-396, the 120 s summary cache). Here
each endpoint holds one snapshot of its whole answer, as an Arrow table,
keyed by ``io.inputs_version``: the stat of every data file of the
testdata tables and of the hot-reloaded rule configs, a superset of
what any endpoint reads. None of the endpoint queries reads the clock,
so the snapshot is exact: there is no TTL, and a read whose inputs
changed rebuilds it before answering. A read served from the snapshot
runs no Spark job and compiles no class:
the answer is a ``LocalTableScan`` over the snapshot, or over the rows
of one key for a keyed read (filtered in Arrow), and a caller's
``.limit(n)`` folds into it. Key laws follow the ``col == key`` filter:
``None`` returns the whole answer, an absent key or ``""`` on a string
key returns no rows, and a NULL key cell never matches.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .io import inputs_version, load_table
from .queries import all_queries


# Single source of truth for the table list (schemas.TESTDATA_TABLES):
# a table added there must reach the SQL catalog without a manual sync.
from .schemas import TESTDATA_TABLES as TABLES  # noqa: E402


def register_catalog(
    spark: SparkSession,
    sf_dir: str,
    queries: list[str] | None = None,
    query_prefix: str = "ess_q_",
) -> list[str]:
    """Expose the engine through plain ``spark.sql``.

    Registers every base table as a temp view (normalized via
    load_table, so SQL users get the same timestamp/layout handling as
    the DataFrame API), plus one ``ess_q_<name>`` view per requested
    registered query (all of them when ``queries`` is None). Returns
    the registered view names.

    Cost note: most query views are lazy (plan construction only), but
    the near-dup/clustering family (``dd_minhash_lsh``,
    ``dd_cluster_canonical``, ``e2e_corpus_prep``, ...) materializes
    work at CONSTRUCTION time — signature/shingle frames and the pair
    set are eagerly cached (``io.reuse``) and connected components
    iterates. Those caches are exact: each is keyed by the version of
    the files it reads and rebuilt when one of them changes, so a view
    over rewritten inputs never answers from stale ones. They stay
    resident until ``spark.catalog.clearCache()``. Register the subset
    you need via ``queries`` on an interactive session.
    """
    names: list[str] = []
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)
    specs = all_queries()
    for qname in queries if queries is not None else sorted(specs):
        specs[qname].fn(spark, sf_dir).createOrReplaceTempView(query_prefix + qname)
        names.append(query_prefix + qname)
    return names


@dataclass
class _Snapshot:
    """One endpoint's whole answer at one inputs version."""

    version: tuple
    table: pa.Table
    schema: StructType
    frame: DataFrame | None = None  # the whole answer, made on first use


def _latest_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.unix_micros(F.max("ts")).alias("latest_ts_us"))


class ReadApi:
    """One instance per (spark, sf_dir) — the reference's app state.

    Reference: api/main.py:184-211 (endpoint registry); each method
    docstring cites the route it re-expresses.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._q = all_queries()
        self._snaps: dict[str, _Snapshot] = {}

    def _serve(self, name: str, key_col: str | None = None, key=None, build=None) -> DataFrame:
        """The answer of registered query ``name`` (or of ``build(spark,
        sf_dir)``), or only its rows where ``key_col == key`` when ``key``
        is not None. It comes from the snapshot of ``name``, rebuilt when
        the inputs version differs from the one it was built at. The
        version is read before the build, so a file that changes during a
        build makes the next read rebuild again."""
        version = inputs_version(self.sf_dir)
        snap = self._snaps.get(name)
        if snap is None or snap.version != version:
            df = (build or self._q[name].fn)(self.spark, self.sf_dir)
            snap = self._snaps[name] = _Snapshot(version, df.toArrow(), df.schema)
        if key is None:
            if snap.frame is None:
                snap.frame = self.spark.createDataFrame(snap.table, snap.schema)
            return snap.frame
        rows = snap.table.filter(pc.equal(snap.table[key_col], key))
        return self.spark.createDataFrame(rows, snap.schema)

    # -- signals ----------------------------------------------------------

    def signals_heat(self, event_type: str | None = None) -> DataFrame:
        """GET /signals/heat?token — A3 trailing counts + W5 slope/trend.

        Reference: api/routes/signals_heat.py:28-142. The token selects
        one group key; an empty-string token from the HTTP layer selects
        zero rows, not all of them.
        """
        return self._serve("a3_w5_heat_slope", "event_type", event_type)

    def signals_summary(self, event_id: int | None = None) -> DataFrame:
        """GET /signals/{event_key} — point lookup + R6 verdict.

        Reference: api/routes/signals_summary.py:65-253 (its 120 s cache
        is the snapshot here). The driver events table keys rows by
        event_id; the reference's event_key is the same point-lookup
        shape (C4/C5 derived key).
        """
        return self._serve("r6_onchain_verdict", "event_id", event_id)

    def signals_topic(self, topic_hash: str | None = None) -> DataFrame:
        """GET /signals/topic — A2 topic aggregate (mentions, entities).

        Reference: api/routes/signals_topic.py:17-50.
        """
        return self._serve("a2_topic_aggregate", "topic_hash", topic_hash)

    # -- rules ------------------------------------------------------------

    def rules_eval(self, event_id: int | None = None) -> DataFrame:
        """GET /rules/eval?event_key — J4 context merge + R1-R3 scoring.

        Reference: api/routes/rules.py:24-205. The J4 merge itself is the
        oracle-checked j4_rules_context_merge; scoring is r1_rules_eval.
        """
        return self._serve("r1_rules_eval", "event_id", event_id)

    # -- onchain ----------------------------------------------------------

    def onchain_features(self, user_id: int | None = None) -> DataFrame:
        """GET /onchain/features — W7 latest row per key.

        Reference: api/routes/onchain.py:51-160.
        """
        return self._serve("w7_latest_per_key", "user_id", user_id)

    def onchain_freshness(self) -> DataFrame:
        """GET /onchain/freshness — max ingested timestamp (the reference's
        max-block probe). Reference: api/routes/onchain.py:163-295."""
        return self._serve("onchain_freshness", build=_latest_ts)

    def expert_onchain(self) -> DataFrame:
        """GET /expert/onchain — W8 windowed series grid.

        Reference: api/routes_expert_onchain.py:338-463.
        """
        return self._serve("w8_series_split")

    # -- cards ------------------------------------------------------------

    def cards_preview(self) -> DataFrame:
        """GET /cards/preview — J3 multiway card merge with degrade flags.

        Reference: api/routes/cards.py:19.
        """
        return self._serve("j3_card_merge")

    # -- security / sentiment ---------------------------------------------

    def security_token(self) -> DataFrame:
        """GET /security/token — R7 GoPlus risk labeling.

        Reference: api/routes/security.py:50-142.
        """
        return self._serve("r7_risk_label")

    def sentiment(self) -> DataFrame:
        """GET /sentiment — U1/C11 lexicon sentiment.

        Reference: api/sentiment/router.py:18-31.
        """
        return self._serve("c11_lexicon_sentiment")

    # -- health -----------------------------------------------------------

    def healthz(self) -> dict:
        """GET /healthz — session liveness. Reference: routes/health.py:16-28."""
        alive = self.spark.sparkContext._jsc is not None
        return {"status": "ok" if alive else "down"}

    def readyz(self) -> dict:
        """GET /readyz — storage reachability (one metadata-only read)."""
        try:
            load_table(self.spark, self.sf_dir, "region").limit(1).collect()
            return {"status": "ready"}
        except Exception as exc:  # pragma: no cover - storage failure path
            return {"status": "not_ready", "error": str(exc)}

    def metrics(self, listener=None, outbox_df: DataFrame | None = None) -> str | None:
        """GET /metrics — Prometheus v0.0.4 text exposition.

        Reference: api/routes/metrics.py:116-180. Gated by
        ``METRICS_EXPOSED`` (None = the 404 analog); emits ``up=1``, the
        pipeline_latency_ms histogram from the streaming listener's
        batch durations, outbox_backlog counted as status IN
        (pending, retry) (routes/metrics.py:38-55), config_version from
        the rules hot-reload file version, and build_info from env —
        plus the standard zero-placeholder tail so scrapes see a stable
        series set from the first request.
        """
        import os

        from .streaming.prom import build_prom_text, metrics_exposed

        if not metrics_exposed():
            return None
        gauges: dict[str, float] = {"up": 1.0}
        labeled: dict[str, tuple[dict[str, str], float]] = {}
        if outbox_df is not None:
            backlog = outbox_df.filter(
                F.col("status").isin("pending", "retry")
            ).count()
            gauges["outbox_backlog"] = float(backlog)
        rules_path = os.environ.get("ESS_RULES_PATH")
        if rules_path and os.path.exists(rules_path):
            st = os.stat(rules_path)
            # Same "<mtime_ns>-<size>" version law as rules/hotreload.py.
            labeled["config_version"] = ({"sha": f"{st.st_mtime_ns}-{st.st_size}"}, 1.0)
        build_version = os.environ.get("BUILD_VERSION", "")
        build_commit = os.environ.get("BUILD_COMMIT", "")
        if build_version or build_commit:
            labeled["build_info"] = (
                {"version": build_version, "commit": build_commit},
                1.0,
            )
        samples = listener.latency_samples() if listener is not None else []
        return build_prom_text(
            latency_samples_ms=samples, gauges=gauges, labeled=labeled
        )


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the deterministic model-backed UDF family as SQL
    functions (SURVEY §2.12: 'expose pandas_udf/SQL-function
    registration natively') so plain ``spark.sql`` users can call the
    same laws the DataFrame API ships:

    - ``ess_refined_type(text)`` / ``ess_refined_summary(text)`` — U4
      rules-refiner fields (bit-parity with functions/refine.py, the
      seam's fallback twins);
    - ``ess_sentiment_score(text)`` / ``ess_sentiment_label(text)`` —
      U1 lexicon sentiment (c11 laws);
    - ``ess_doc_fingerprint(text)`` — the C1-normalized exact-dedup key.

    All are Arrow-vectorized pandas UDFs over the tested Python twins —
    the SQL-surface convenience path. The column expressions remain the
    hot path (JVM codegen); these exist so an ad-hoc SQL session
    composes the laws without importing the package.
    """
    import hashlib
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .functions import inference as INF

    # Explicit return-type form (not type hints): this module uses
    # `from __future__ import annotations`, which stringifies hints and
    # breaks pandas_udf's hint inference.
    def _refined_type(s):
        return pd.Series(
            [r["type"] for r in INF.rules_refine_batch(s.fillna("").tolist())]
        )

    def _refined_summary(s):
        return pd.Series(
            [r["summary"] for r in INF.rules_refine_batch(s.fillna("").tolist())]
        )

    def _sentiment_score(s):
        return pd.Series([INF.rules_sentiment_one(t)["score"] for t in s.fillna("")])

    def _sentiment_label(s):
        return pd.Series([INF.rules_sentiment_one(t)["label"] for t in s.fillna("")])

    _ws = _re.compile(r"[ \t\n\x0b\f\r]+")

    def _doc_fingerprint(s):
        # Twin of textan.doc_fingerprint: sha256 of whitespace-collapsed
        # lowercase text (ASCII-space trim, Java-\s collapse), first 16
        # hex chars.
        def fp(t):
            norm = _ws.sub(" ", t.lower()).strip(" ")
            return hashlib.sha256(norm.encode("utf-8")).hexdigest()[:16]

        return pd.Series([fp(t) for t in s.fillna("")])

    fns = {
        "ess_refined_type": pandas_udf(_refined_type, "string"),
        "ess_refined_summary": pandas_udf(_refined_summary, "string"),
        "ess_sentiment_score": pandas_udf(_sentiment_score, "double"),
        "ess_sentiment_label": pandas_udf(_sentiment_label, "string"),
        "ess_doc_fingerprint": pandas_udf(_doc_fingerprint, "string"),
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
