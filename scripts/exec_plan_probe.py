"""Run named queries once with the noop sink and print the AQE FINAL
executed plan's operator census (ReusedExchange / Exchange / joins /
Python evals) plus wall time — the runtime-truth companion to
dump_round_plans.py (initial plans can't show exchange reuse).

Usage: python scripts/exec_plan_probe.py q1 q2 ...
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_stream_starter_spark.queries import all_queries  # noqa: E402
from event_stream_starter_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

names = sys.argv[1:]
assert names

spark = get_spark("ess-exec-probe", cpus=CPUS, shuffle_partitions=CPUS)
spark.sparkContext.setLogLevel("ERROR")
specs = all_queries()

from event_stream_starter_spark.io import ingest_managed  # noqa: E402

ingest_managed(spark, SF_DIR)

KEYS = [
    "ReusedExchange",
    "Exchange",
    "BroadcastExchange",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "Generate",
    "Scan parquet",
    "ArrowEvalPython",
    "BatchEvalPython",
    "Window",
    "AQEShuffleRead",
]

for name in names:
    df = specs[name].fn(spark, SF_DIR)
    spark.sparkContext.setJobDescription(f"exec-probe:{name}")
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    census = {k: plan.count(k) for k in KEYS}
    census["Exchange"] -= census["ReusedExchange"] + census["BroadcastExchange"]
    print(f"\n=== {name}: {dt:.2f}s, {len(plan.splitlines())} plan lines")
    print("   ", {k: v for k, v in census.items() if v})
    spark.catalog.clearCache()
