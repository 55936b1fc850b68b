"""Generate the sf1 tier (10x sf0.1) into /root/sf1 — the larger-SF
bench tier VERDICT r10 asked for ("at sf0.1 the suite is
fixed-overhead-bound; 8 cores beat 32; stand up sf1 and re-adjudicate
the sf0.1-reverted decisions there").

Deterministic (hash-derived, no rand()): every run writes byte-stable
values. Scaling law per table (all 10x rows, FK-preserving):

- documents: copy 0 verbatim; copies 1-9 are token-level REMIXES of the
  source doc — every 8th token is replaced by a (doc, copy)-hash-unique
  hex token and one unique salt token is appended. A 5-gram shingle dies
  whenever it covers a replaced token, so remixes are NOT near-dups of
  their original (Jaccard ~0.2 << 0.5) and the near-dup pair volume
  stays per-capita like sf0.1 instead of exploding quadratically the
  way scale_smoke's 10-copy cliques do (that corpus is a stress test;
  this one is a bench tier). Docs keep lang/source so every stratified
  query sees the same group structure. One planted append-salt near-dup
  per 50 originals keeps the dedup operators' positive paths exercised.
- embeddings: copy 0 verbatim; copies 1-9 perturbed per-dim with a
  deterministic sin pattern of ~0.2 magnitude — spreads copies off the
  original (not an ANN near-dup clique) while keeping the label/cluster
  geometry. NOTE: the exact bitext/brute-cosine arms are corpus-
  quadratic BY DESIGN — at 20k vectors they cost ~100x their sf0.1
  wall; bench them single-pass or via their ANN twins.
- events: event_id*10+c, ts shifted c*73s, value jittered by hash —
  key distributions (user_id heavy tail) preserved exactly.
- customer/orders/part/supplier/lineitem: every key k -> k*10+c on BOTH
  sides of each FK, so join selectivity per key is unchanged and the
  row count is 10x. Other attributes copied verbatim.
- region/nation: dimension tables, copied as-is.

Fact and entity tables land as 32 files each; the dimension tables
(nation, region, supplier) as one file each, since 32-way writes of 25
or 5 rows give one-row and empty files that every raw scan must open.

Usage: python scripts/gen_sf1.py [outdir=/root/sf1]
Then: SPARK_GRAFT_SF_DIR=/root/sf1 python scripts/probe_queries.py ...
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from event_stream_starter_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/sf1"
COPIES = 10


def main() -> None:
    spark = get_spark("gen-sf1", cpus=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    def src(name):
        return spark.read.parquet(f"{SRC}/{name}.parquet")

    def write(df, name, files=32):
        df = df.coalesce(1) if files == 1 else df.repartition(files)
        df.write.mode("overwrite").parquet(f"{OUT}/{name}.parquet")
        n = spark.read.parquet(f"{OUT}/{name}.parquet").count()
        print(f"{name}: {n} rows")

    cexp = F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("c")

    # --- documents ---------------------------------------------------
    d = src("documents").select(cexp, "doc_id", "text", "lang", "source")
    # Token remix for copies >= 1: replace every 8th token with a
    # (doc, copy, position)-derived hex token; append one salt token.
    # Verbatim for copy 0. Planted near-dup: copy 1 of doc_id % 50 == 0
    # keeps the original text + salt (the scale_smoke clique law).
    toks = F.split(F.col("text"), " ")
    remixed = F.concat(
        F.array_join(
            F.expr(
                "transform(split(text, ' '), (t, i) -> IF("
                "  i % 8 = 3,"
                "  substr(md5(concat(cast(doc_id as string), ':',"
                "                    cast(c as string), ':',"
                "                    cast(i as string))), 1, 6),"
                "  t))"
            ),
            " ",
        ),
        F.lit(" "),
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("c"))), 1, 6
        ),
    )
    near_dup = F.concat(
        F.col("text"),
        F.lit(" "),
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("c"))), 1, 6
        ),
    )
    new_text = (
        F.when(F.col("c") == 0, F.col("text"))
        .when((F.col("c") == 1) & (F.col("doc_id") % 50 == 0), near_dup)
        .otherwise(remixed)
    )
    docs = d.select(
        (F.col("doc_id") * COPIES + F.col("c")).alias("doc_id"),
        new_text.alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text"))
    write(docs, "documents")
    del toks

    # --- embeddings --------------------------------------------------
    e = src("embeddings").select(cexp, "vec_id", "embedding", "label")
    pert = F.expr(
        "transform(embedding, (x, d) -> CAST(x + IF(c = 0, CAST(0.0 AS"
        " DOUBLE), 0.2 * sin((CAST(vec_id AS DOUBLE) * 10 + c) * (d + 1)"
        " * 0.37)) AS FLOAT))"
    )
    emb = e.select(
        (F.col("vec_id") * COPIES + F.col("c")).alias("vec_id"),
        pert.alias("embedding"),
        "label",
    )
    write(emb, "embeddings")

    # --- events ------------------------------------------------------
    ev = src("events").select(
        cexp, "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    events = ev.select(
        (F.col("event_id") * COPIES + F.col("c")).alias("event_id"),
        (F.col("ts") + F.make_interval(secs=F.col("c") * 73)).alias("ts"),
        "user_id",
        "event_type",
        F.round(
            F.col("value")
            + (F.pmod(F.xxhash64("event_id", "c"), 100) / 1000.0),
            6,
        ).alias("value"),
        "props",
    )
    write(events, "events")

    # --- relational (FK-preserving key scale-out) --------------------
    cust = src("customer").select(
        cexp, "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    write(
        cust.select(
            (F.col("c_custkey") * COPIES + F.col("c")).alias("c_custkey"),
            "c_name",
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        ),
        "customer",
    )

    orders = src("orders").select(
        cexp,
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    write(
        orders.select(
            (F.col("o_orderkey") * COPIES + F.col("c")).alias("o_orderkey"),
            (F.col("o_custkey") * COPIES + F.col("c")).alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ),
        "orders",
    )

    part = src("part").select(
        cexp, "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    write(
        part.select(
            (F.col("p_partkey") * COPIES + F.col("c")).alias("p_partkey"),
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            "p_retailprice",
        ),
        "part",
    )

    supp = src("supplier").select(
        cexp, "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    write(
        supp.select(
            (F.col("s_suppkey") * COPIES + F.col("c")).alias("s_suppkey"),
            "s_name",
            "s_nationkey",
            "s_acctbal",
        ),
        "supplier",
        files=1,
    )

    li = src("lineitem").select(
        cexp,
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    write(
        li.select(
            (F.col("l_orderkey") * COPIES + F.col("c")).alias("l_orderkey"),
            (F.col("l_partkey") * COPIES + F.col("c")).alias("l_partkey"),
            (F.col("l_suppkey") * COPIES + F.col("c")).alias("l_suppkey"),
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ),
        "lineitem",
    )

    for name in ("region", "nation"):
        write(src(name), name, files=1)

    print(f"sf1 written to {OUT}")


if __name__ == "__main__":
    main()
