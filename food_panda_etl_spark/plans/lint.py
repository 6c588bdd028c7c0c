"""Physical-plan linting.

`.explain()` is a human feedback loop; these helpers make the same checks
assertable in CI so plan regressions (a lost pushdown, an accidental
cartesian product, a broadcast that silently became a sort-merge join with
a giant shuffle) fail tests instead of surfacing as a 100 TB incident.

The linter reads the *executed* plan string — the same artifact a human
reads — so it works on any DataFrame with zero instrumentation.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    return _explain(df, "formatted")


def _explain(df: DataFrame, mode: str) -> str:
    qe = df._jdf.queryExecution()
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return qe.explainString(jmode)


@dataclass
class PlanSummary:
    scans: int = 0
    scans_with_pushed_filters: int = 0
    scans_with_partition_filters: int = 0
    exchanges: int = 0
    broadcast_joins: int = 0
    sort_merge_joins: int = 0
    nested_loop_joins: int = 0
    cartesian_products: int = 0
    window_group_limits: int = 0
    python_scans: int = 0
    python_evals: int = 0
    read_schemas: list[str] = field(default_factory=list)


def plan_summary(df: DataFrame) -> PlanSummary:
    plan = explain_formatted(df)
    s = PlanSummary()
    s.scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    s.scans_with_pushed_filters = len(
        re.findall(r"PushedFilters: \[(?!\])", plan)
    )
    s.scans_with_partition_filters = len(
        re.findall(r"PartitionFilters: \[(?!\])", plan)
    )
    # count numbered tree nodes only — "formatted" output repeats each
    # operator in the details section below the tree
    s.exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    s.broadcast_joins = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    s.sort_merge_joins = len(re.findall(r"\(\d+\) SortMergeJoin", plan))
    s.nested_loop_joins = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    s.cartesian_products = len(re.findall(r"\(\d+\) CartesianProduct", plan))
    s.window_group_limits = len(re.findall(r"\(\d+\) WindowGroupLimit", plan))
    # Python UDF / pandas nodes: each pays a worker hand-off per task
    s.python_evals = len(
        re.findall(
            r"\(\d+\) (?:MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython)\b",
            plan,
        )
    )
    # Python data-source scans: only the one-line node string marks them
    # ("BatchScan <name>[cols] (Python)"), not the formatted details
    s.python_scans = len(
        re.findall(r"\bBatchScan [^\n]*\(Python\)", _explain(df, "simple"))
    )
    s.read_schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    return s


def lint_plan(
    df: DataFrame,
    *,
    forbid_cartesian: bool = True,
    forbid_nested_loop: bool = False,
    max_exchanges: int | None = None,
    require_pushed_filters: bool = False,
    max_scan_columns: int | None = None,
) -> list[str]:
    """Return lint violations (empty list = clean plan)."""
    s = plan_summary(df)
    problems: list[str] = []
    if forbid_cartesian and s.cartesian_products:
        problems.append(f"{s.cartesian_products} CartesianProduct node(s)")
    if forbid_nested_loop and s.nested_loop_joins:
        problems.append(f"{s.nested_loop_joins} BroadcastNestedLoopJoin node(s)")
    if max_exchanges is not None and s.exchanges > max_exchanges:
        problems.append(f"{s.exchanges} exchanges (max {max_exchanges})")
    if require_pushed_filters and s.scans and not s.scans_with_pushed_filters:
        problems.append("no scan has pushed filters")
    if max_scan_columns is not None:
        for rs in s.read_schemas:
            ncols = rs.count(":")
            if ncols > max_scan_columns:
                problems.append(
                    f"scan reads {ncols} columns (max {max_scan_columns}): {rs[:80]}"
                )
    return problems
