"""Dump `.explain("formatted")` for named queries to
<out_dir>/<query>_<tag>.txt (an optimization round's evidence files,
e.g. plans/r11).

Usage: python scripts/dump_round_plans.py <out_dir> <tag> q1 q2 ...
Reads the sf dir named by SPARK_GRAFT_SF_DIR (default: the sf0.1 copy
under perfbench/data). The final queries are planned, not run (plan
construction still runs its eager jobs).
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from event_stream_starter_spark.queries import all_queries  # noqa: E402
from event_stream_starter_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(REPO, "perfbench", "data", "sf0.1")
)

if len(sys.argv) < 4:
    sys.exit(__doc__)
OUT, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]

spark = get_spark("ess-round-plans")
spark.sparkContext.setLogLevel("ERROR")
specs = all_queries()
os.makedirs(OUT, exist_ok=True)

from event_stream_starter_spark.io import ingest_managed  # noqa: E402

ingest_managed(spark, SF_DIR)

for name in names:
    df = specs[name].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    path = os.path.join(OUT, f"{name}_{tag}.txt")
    with open(path, "w") as f:
        f.write(plan)
    n_exch = plan.count("Exchange")
    joins = [
        w
        for w in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
        if w in plan
    ]
    pyeval = [
        w
        for w in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
        if w in plan
    ]
    print(f"{name}: {len(plan.splitlines())} lines, Exchange x{n_exch}, joins={joins}, py={pyeval} -> {path}")
