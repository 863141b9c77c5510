"""Physical-plan scale audit.

`tests/test_plans.py` pins the plan shape of *registered* queries; this
module makes the same checks available as a library call for ad-hoc
pipelines — the pre-flight lint a 100 TB job runs before submission, so a
plan that quietly degenerated (a filter that stopped pushing down, a join
that fell back to a cartesian product, a row-at-a-time Python UDF sneaking
into the hot path) is caught at plan time, not at cluster-bill time.

The checks read the *executed* (physical) plan string — what Spark will
actually run after Catalyst and AQE static planning — and so they see the
real join strategies and scan metadata, not the logical intent.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Finding:
    severity: str  # "error" | "warn" | "info"
    code: str
    detail: str


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def audit_plan(df: DataFrame) -> list[Finding]:
    """Scan a DataFrame's physical plan for patterns that do not survive
    scale-up. Returns findings ordered most-severe first.

    | code | severity | meaning |
    |---|---|---|
    | ``cartesian-product`` | error | both join sides stream: O(n·m) with no broadcast bound — never survives two corpus-sized inputs |
    | ``row-python-udf`` | error | ``BatchEvalPython``: row-at-a-time Python in the plan; 10-100× slower than Arrow (`ArrowEvalPython`/`mapInPandas` do not trigger this) |
    | ``nested-loop-join`` | warn | ``BroadcastNestedLoopJoin``: sound ONLY while the broadcast side stays driver-small; verify the small side is bounded by construction |
    | ``single-partition-exchange`` | warn | ``Exchange SinglePartition``: a stage collapses to one task (global sort/window/agg without partial phase) |
    | ``unpartitioned-window`` | warn | a window function with an empty PARTITION BY moves every row through one task |
    | ``no-pushed-filters`` | info | a Parquet scan carries no pushed predicates while the plan filters above it |
    """
    plan = physical_plan(df)
    findings: list[Finding] = []

    def add(sev: str, code: str, detail: str) -> None:
        findings.append(Finding(sev, code, detail))

    if "CartesianProduct" in plan:
        add("error", "cartesian-product", "CartesianProduct join: O(n·m) row pairing with no broadcast bound")
    if "BatchEvalPython" in plan:
        add("error", "row-python-udf", "BatchEvalPython: row-at-a-time Python UDF in the plan; use pandas_udf / mapInPandas")
    if "BroadcastNestedLoopJoin" in plan:
        add("warn", "nested-loop-join", "BroadcastNestedLoopJoin: fine only while the broadcast side is small by construction")
    if "Exchange SinglePartition" in plan:
        add("warn", "single-partition-exchange", "a stage runs as ONE task (global sort/window/aggregate without a partial phase)")
    for line in plan.splitlines():
        ls = line.strip()
        # WindowExec prints "Window [fns], [partition spec], [order spec]",
        # omitting whichever spec is empty. ONE separator is therefore
        # ambiguous: an order-only window (global sort — the bad shape) and
        # a partition-only window (count/sum over groups, no order — fine)
        # both print two lists. Disambiguate by the trailing list's content:
        # an order spec carries ASC/DESC direction markers, a partition
        # spec never does.
        if ls.startswith(("Window ", "+- Window ", ":- Window ")):
            n_sep = ls.count("], [")
            tail = ls.rsplit("], [", 1)[-1] if n_sep else ""
            if n_sep == 0 or (n_sep == 1 and (" ASC" in tail or " DESC" in tail)):
                add("warn", "unpartitioned-window", "window function without PARTITION BY: all rows through one task")
                break
    if "Filter " in plan and "PushedFilters: []" in plan:
        add("info", "no-pushed-filters", "a Parquet scan has no pushed predicates while the plan filters above it")

    order = {"error": 0, "warn": 1, "info": 2}
    findings.sort(key=lambda f: order[f.severity])
    return findings


def assert_scales(df: DataFrame) -> None:
    """Raise ``AssertionError`` listing every error-severity finding —
    the one-liner for test suites and pipeline pre-flight checks."""
    errors = [f for f in audit_plan(df) if f.severity == "error"]
    if errors:
        raise AssertionError(
            "plan does not scale: " + "; ".join(f"[{f.code}] {f.detail}" for f in errors)
        )
