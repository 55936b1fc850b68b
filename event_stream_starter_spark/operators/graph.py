"""Distributed connected components + canonical-document selection.

The near-dup family (operators/dedup.py) emits PAIRS; an actual
training-data dedup must turn pairs into CLUSTERS (duplicates are
transitive: A~B and B~C puts A,C in one group even if they never
matched directly) and then keep one canonical document per cluster.
The reference's analog is the topic semantic-merge step
(api/services/topic_analyzer.py:311-353), which merges pairwise — this
operator is its transitive closure, the missing piece any
web-scale dedup pipeline needs.

Algorithm: iterative min-label propagation over the undirected pair
graph. Each node starts labeled with its own id; every iteration each
node takes the min of its label and its neighbors' labels. At fixpoint
every node carries the MINIMUM id of its component, which doubles as
the cluster id (no second pass to canonicalize labels).

Scale posture (100TB):
- Per iteration: one shuffle join (edges x labels) + one groupBy(min) —
  both hash-partitioned on node id, so AQE coalesces and the join is
  never a cartesian. Cost is O(|E|) per iteration.
- Iteration count is O(component diameter). Near-dup clusters are
  near-cliques (every member matches most others), so diameter is 2-3
  and the loop exits in 3-4 rounds. If max_iter rounds pass without a
  fixpoint (adversarial long-chain graph), the loop escapes to
  large-star/small-star contraction (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14; _star_contraction
  below) which converges in O(log^2 n) rounds with the same
  join+groupBy-min primitive per round.
- `localCheckpoint(eager=True)` truncates lineage every iteration —
  without it the plan doubles per round and the driver OOMs on plan
  serialization long before data is the problem.
- The pair set is cached, not checkpointed: it is filled through
  io.reuse, once per version of the files it is derived from, so a
  repeat call over unchanged inputs (the common case for a curation
  session re-clustering the same corpus) runs no job to rebuild it, and
  a changed input file rebuilds it.
- Convergence test: the round's groupBy also keeps each node's previous
  label, so the fixpoint is "no label decreased" — one count per round
  instead of an old-vs-new anti-join, and it holds for any orderable id
  type (a numeric checksum such as sum(label) is NULL for string ids).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..io import reuse

logger = logging.getLogger(__name__)

# Rounds used by the most recent _star_contraction call (driver-local).
# Exposed so tests/monitoring can observe an adversarial-input
# regression (a convergence slowdown is invisible in the result, which
# stays exact — only the round count moves).
last_contraction_rounds: int = 0


# Below this many pairs the component computation runs as driver-side
# union-find in one job: each distributed label-propagation round costs
# 2+ jobs of fixed scheduling overhead that dwarfs the actual work.
# Same size-gated strategy switch Spark itself applies to joins
# (broadcast under autoBroadcastJoinThreshold, shuffle above). Results
# are identical: label = min node id per component either way. The
# limit budgets DRIVER PYTHON MEMORY, not raw bytes — collect()
# materializes Row objects plus two dicts at ~100x the 16-byte edge
# payload, so 200k pairs ≈ low hundreds of MB, safe under the same
# driver sizing that broadcast joins already assume.
SMALL_GRAPH_PAIR_LIMIT = 200_000


def _driver_union_find(rows: list) -> dict:
    """Min-label components of an edge list, driver-side.

    Path-halving union-find with union-by-min: the root of every set is
    kept as the set's minimum id, so find() directly yields the label.
    """
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    for s, d in rows:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _star_contraction(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    adversarial-diameter escape for label propagation.

    Label propagation needs O(diameter) rounds; a pathological chain
    graph makes that O(n). Star contraction halves long paths every
    alternation (large-star hangs every larger neighbor off the local
    minimum, small-star re-hangs each star's leaves off the star's
    minimum), converging in O(log² n) rounds worst-case — in practice
    ~log n for chains. Same primitive per round as the propagation loop
    (one groupBy-min + one equi-join on node id, never a cartesian);
    lineage is localCheckpoint-truncated per round identically.

    Takes the symmetric (s, d) edge frame; returns (node, label) with
    label = component minimum — the same contract as the propagation
    loop, because the fixpoint is a star from every non-min node to its
    component min.
    """
    global last_contraction_rounds
    e = (
        edges.select("s", "d")
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def edges_unchanged(new: DataFrame, old: DataFrame) -> bool:
        # Exact fixpoint test: both frames are distinct, checkpointed
        # edge sets, so an empty symmetric difference means set equality.
        # A checksum (count + endpoint sums) is NOT sound here — neither
        # quantity is monotone under the star operations (small-star can
        # grow the edge count; distinct() can drop arbitrary-signed
        # sums), so two different consecutive edge sets could collide
        # and exit early with wrong labels. One isEmpty job per check.
        return new.exceptAll(old).unionAll(old.exceptAll(new)).isEmpty()

    prev = e
    rounds = max_rounds
    for i in range(max_rounds):
        # Large-star: in the symmetric view, attach every neighbor larger
        # than u to m = min(N(u) ∪ {u}).
        sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        m = sym.groupBy("s").agg(F.least(F.min("d"), F.col("s")).alias("m"))
        e = (
            sym.join(m, "s")
            .where(F.col("d") > F.col("s"))
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .where(F.col("s") != F.col("d"))
            .distinct()
        )
        # Small-star: orient each edge large→small, attach every small
        # neighbor AND the center to the center's minimum neighbor.
        oriented = e.select(
            F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v")
        ).distinct()
        mn = oriented.groupBy("u").agg(F.min("v").alias("m"))
        joined = oriented.join(mn, "u")
        e = (
            joined.select(F.col("v").alias("s"), F.col("m").alias("d"))
            .union(joined.select(F.col("u").alias("s"), F.col("m").alias("d")))
            .where(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # `prev` tracks the previous ROUND (assigned every iteration, a
        # free variable copy), so each executed check compares adjacent
        # rounds — a genuine T(e)==e fixpoint test. Running it only on
        # every other alternation halves the per-round driver job count;
        # the worst case is one extra (idempotent — a star maps to
        # itself) round past the fixpoint.
        if (i % 2 == 1 or i == max_rounds - 1) and edges_unchanged(e, prev):
            rounds = i + 1
            break
        prev = e
    last_contraction_rounds = rounds
    logger.info(
        "star contraction converged in %d/%d alternations", rounds, max_rounds
    )
    # Fixpoint: every non-min node carries exactly the edge (node → min).
    return (
        e.select(F.col("s").alias("node"), F.col("d").alias("label"))
        .union(e.select(F.col("d").alias("node"), F.col("d").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    small_graph_limit: int = SMALL_GRAPH_PAIR_LIMIT,
) -> DataFrame:
    """Components of the undirected graph given by (src, dst) pairs.

    Returns (node, label) where label = min node id in the component.
    Nodes appearing only in `pairs` are covered; isolated documents are
    handled by the caller (left join + coalesce, see
    canonical_assignments) so the operator never scans the full corpus.
    """
    # Materialize the pair set ONCE before symmetrizing: the probe and
    # the union below consume it, and without this the (expensive)
    # upstream candidate join would execute again for each. io.reuse
    # keeps it across calls while the files it derives from are
    # unchanged, so a repeat call runs no job for it. Null-sided rows are
    # dropped up front: the distributed path ignores them structurally
    # (null never equi-joins; min() skips nulls) and the driver path must
    # match — either way a node paired with null ends up a singleton via
    # the caller's coalesce.
    p = reuse(
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
            F.col(src).isNotNull() & F.col(dst).isNotNull()
        )
    )
    # ONE probe job decides the path AND feeds the driver union-find:
    # limit(n+1) returns every row iff the graph is small enough, so
    # the separate count() job (plus its scheduling overhead, paid by
    # every caller) folds into the collect it preceded (guide §1 —
    # measure what each driver job costs; the big path never collects).
    head = p.limit(small_graph_limit + 1).collect()
    node_type = p.schema["s"].dataType
    if len(head) <= small_graph_limit:
        labels = _driver_union_find([(r["s"], r["d"]) for r in head])
        # Ship the labels as an Arrow table: Spark plans it as a
        # JVM-local relation (LocalTableScan), where a list of tuples
        # becomes a pickled Python RDD whose every execution starts
        # Python-worker jobs.
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        arrow_type = to_arrow_type(node_type)
        table = pa.table(
            {
                "node": pa.array(list(labels), arrow_type),
                "label": pa.array(list(labels.values()), arrow_type),
            }
        )
        schema = StructType([StructField(c, node_type) for c in table.column_names])
        return p.sparkSession.createDataFrame(table, schema)
    edges = (
        p.union(p.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Seed with one propagation round folded into label init:
    # label0 = min(self, min(neighbors)) — saves a full join+agg cycle.
    labels = (
        edges.groupBy("s")
        .agg(F.least(F.min("d"), F.col("s")).alias("label"))
        .select(F.col("s").alias("node"), "label")
        .localCheckpoint(eager=True)
    )
    no_own = F.lit(None).cast(node_type)

    for _ in range(max_iter):
        # Neighbor labels flow along edges; keep own label via union. The
        # own row also carries the label into `own`, so one aggregation
        # yields both the new label and the previous one to test against.
        nbr = (
            edges.join(labels, edges["d"] == labels["node"])
            .select(F.col("s").alias("node"), "label", no_own.alias("own"))
        )
        step = (
            labels.withColumn("own", F.col("label"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("own").alias("own"))
            .localCheckpoint(eager=True)
        )
        labels = step.select("node", "label")
        if step.where(F.col("label") < F.col("own")).count() == 0:
            return labels
    # max_iter exhausted without a fixpoint: the graph has an adversarial
    # diameter (> max_iter). O(diameter)-round propagation is the wrong
    # algorithm there — escape to O(log² n)-round star contraction.
    return _star_contraction(edges)


def canonical_assignments(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cluster assignment + canonical pick for every document.

    Output: (doc_id, cluster_id, is_canonical, cluster_size). Documents
    in no pair form singleton clusters (cluster_id = own id). Canonical
    = the min-id member — deterministic, and free because min-label
    propagation already made the label the component minimum.
    """
    cc = connected_components(pairs, max_iter=25)
    joined = docs.select(id_col).join(
        cc, docs[id_col] == cc["node"], "left"
    )
    with_cluster = joined.select(
        F.col(id_col),
        F.coalesce("label", F.col(id_col)).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    return with_cluster.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
