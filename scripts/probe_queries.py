"""Focused per-query timing probe for optimization work (guide §1):
best-of-N noop-sink wall times for a named subset of the registry, with
a JIT warmup pass at sf0.001 and the same session the bench uses.

Usage: python scripts/probe_queries.py q1 q2 ...  [N via PROBE_N, default 4]
Prints one JSON line {"queries": {...}, "env": {...}}.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_stream_starter_spark.queries import all_queries  # noqa: E402
from event_stream_starter_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N = int(os.environ.get("PROBE_N", "4"))

names = sys.argv[1:]
assert names, "pass query names"

spark = get_spark("ess-probe", cpus=CPUS, shuffle_partitions=CPUS)
spark.sparkContext.setLogLevel("ERROR")
specs = all_queries()

from event_stream_starter_spark.io import ingest_managed  # noqa: E402

ingest_managed(spark, SF_DIR)

warm_dir = "/root/testdata/sf0.001"
if not os.path.isdir(warm_dir):
    warm_dir = SF_DIR
for name in names:
    specs[name].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
spark.catalog.clearCache()
spark.range(CPUS * 10).repartition(CPUS).mapInPandas(
    lambda it: it, "id long"
).write.format("noop").mode("overwrite").save()

best = {name: float("inf") for name in names}
for _ in range(N):
    for name in names:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        t0 = time.perf_counter()
        specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        best[name] = min(best[name], time.perf_counter() - t0)
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)

print(
    json.dumps(
        {
            "queries": {k: round(v, 3) for k, v in best.items()},
            "env": {"loadavg_1m": round(os.getloadavg()[0], 2), "n": N, "sf_dir": SF_DIR},
        }
    )
)
