"""Plan-quality assertions — the 100 TB design checks made executable.

The reference has no optimizer (SURVEY §4); with Spark the optimizer IS the
execution strategy, so we assert the plans we rely on actually materialize:
filters reach the parquet scan (PushedFilters), column pruning reaches the
scan (ReadSchema), small dims broadcast instead of shuffling the fact
table, and nothing degenerates into a cartesian product. tests/test_plans.py
runs these over the live registry queries.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every parquet scan node in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings from each scan (column-pruning witness)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan)]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    return "CartesianProduct" in formatted_plan(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes (excluding broadcast exchanges and
    SinglePartition collapses) — the operator's shuffle budget.

    r7 fix: Spark 4's "formatted" explain puts the operator name and its
    Arguments on separate lines, so the old single-line regex
    ("Exchange hashpartitioning...") matched NOTHING and every exchange
    budget asserted on it was vacuously satisfied. Count Exchange operator
    entries by their detail blocks instead."""
    plan = formatted_plan(df)
    count = 0
    for m in re.finditer(r"^\(\d+\) Exchange\b.*\n(?:^(?!\(\d+\) )[^\n]*\n)*?^Arguments: (\w+)", plan, re.M):
        if m.group(1) in (
            "hashpartitioning",
            "rangepartitioning",
            "RoundRobinPartitioning",
        ):
            count += 1
    return count


def keyed_exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges with a KEYED partitioning (hash/range) — i.e.
    excluding the keyless round-robin exchange tables.parallel_scan adds
    over an under-parallel one-file scan. Gates that assert a path never
    shuffles BY KEY use this; `exchange_count` keeps counting every
    shuffle including round robin."""
    plan = formatted_plan(df)
    count = 0
    for m in re.finditer(r"^\(\d+\) Exchange\b.*\n(?:^(?!\(\d+\) )[^\n]*\n)*?^Arguments: (\w+)", plan, re.M):
        if m.group(1) in ("hashpartitioning", "rangepartitioning"):
            count += 1
    return count
