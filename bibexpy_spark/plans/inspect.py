"""Plan-inspection helpers: assert physical-plan properties in tests/CI.

The 100 TB contract is plan-shaped: filters must reach the scan, small dims
must broadcast, Python must stay out of the hot loop.  These helpers make
those properties assertable (used by tests and by tools that regenerate
PLANS.md) instead of eyeballed.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters line in the physical plan."""
    return [
        line.strip()
        for line in explain_formatted(df).splitlines()
        if "PushedFilters" in line
    ]


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return any(fragment in line for line in pushed_filters(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema lines — what each scan actually reads (column pruning)."""
    return [
        line.strip()
        for line in explain_formatted(df).splitlines()
        if "ReadSchema" in line
    ]


def join_strategies(df: DataFrame) -> list[str]:
    """Join operator names appearing in the plan (BroadcastHashJoin,
    SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin...)."""
    names = (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    )
    plan = explain_formatted(df)
    return [n for n in names if n in plan]


def python_eval_nodes(df: DataFrame) -> int:
    """Count of Arrow/Batch Python evaluation nodes in the plan text.
    NOTE: cached (InMemoryRelation) subtrees reprint per reference — compare
    against a baseline, don't treat the absolute number as executions."""
    plan = explain_formatted(df)
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan — the scale currency.  Counts distinct
    ``Exchange (id)`` nodes of the formatted tree: the partitioning sits on
    a separate ``Arguments:`` line, a cached subtree reprints per reference
    under the same ids, and BroadcastExchange / ReusedExchange do not
    shuffle."""
    return len(set(re.findall(r"(?<!\w)Exchange \((\d+)\)", explain_formatted(df))))
