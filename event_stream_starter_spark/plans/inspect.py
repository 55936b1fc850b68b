"""Plan-feature extraction for tests and governors.

Reads the FORMATTED explain output — the same surface a human reviews —
so assertions track exactly what the optimizer will execute: pushed
filters, pruned read schemas, exchange/broadcast counts, codegen spans.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def _explain(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@dataclass
class PlanFeatures:
    n_exchanges: int = 0
    n_broadcast_exchanges: int = 0
    n_shuffle_exchanges: int = 0
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    n_codegen_stages: int = 0
    has_cartesian: bool = False

    @property
    def scan_columns(self) -> list[set[str]]:
        out = []
        for rs in self.read_schemas:
            out.append(set(re.findall(r"(\w+):", rs)))
        return out


def plan_features(df: DataFrame) -> PlanFeatures:
    plan = _explain(df)
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p]
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # Count ONLY tree nodes "Op (N)" — formatted explain prints every
    # operator twice (once in the tree, once as a "(N) Op" detail
    # header); matching both doubled every exchange count.
    n_bc = len(re.findall(r"BroadcastExchange \(\d+\)", plan))
    n_ex = len(re.findall(r"(?:\bExchange|BroadcastExchange) \(\d+\)", plan))
    return PlanFeatures(
        n_exchanges=n_ex,
        n_broadcast_exchanges=n_bc,
        n_shuffle_exchanges=n_ex - n_bc,
        pushed_filters=pushed,
        read_schemas=reads,
        # formatted mode tags operators with "[codegen id : N]"; simple
        # mode uses "WholeStageCodegen (N)" — count either.
        n_codegen_stages=len(
            set(re.findall(r"codegen id : (\d+)|WholeStageCodegen \((\d+)\)", plan))
        ),
        has_cartesian="CartesianProduct" in plan,
    )


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by whole-stage and expression
    codegen in this JVM since it started. A class served from Spark's
    codegen cache is not compiled again, so the delta across a step is
    the step's cache misses."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics
    n = compiles.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6
