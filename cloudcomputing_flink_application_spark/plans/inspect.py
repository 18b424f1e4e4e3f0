"""Plan inspection helpers for tests: assert the physical plan we designed
for is the plan Catalyst actually produces (pushdown reached the scan, the
small side broadcast, no expensive expression leaked into a scan filter)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_filters_containing(df: DataFrame, needle: str) -> int:
    """Count optimized-plan Filter lines containing ``needle`` — used to
    assert expensive expressions (md5, array_intersect) never run inside
    scan-side filters."""
    return sum(
        1
        for line in optimized_plan(df).split("\n")
        if "Filter" in line and needle in line
    )


def count_in_plan(df: DataFrame, needle: str, physical: bool = False) -> int:
    plan = physical_plan(df) if physical else optimized_plan(df)
    return plan.count(needle)


def distinct_exchange_count(df: DataFrame, kind: str = "hashpartitioning") -> int:
    """Number of DISTINCT Exchange operators in the executed plan (r15).

    Substring counts over-count nested-persist pipelines: every consumer
    of a persisted frame re-renders the frame's whole cachedPlan inside
    its InMemoryRelation, so one real exchange can appear once per
    consumer per nesting level in the string.  ``plan_id`` is stable
    across renders of the same operator, so deduping on it counts the
    exchanges that can actually execute.

    The id is the last ``[plan_id=N]`` on the exchange's own line, so
    brackets inside the partitioning expressions (``arr#3[0]``) do not
    hide it.  A plan that has ``Exchange <kind>`` but no id to read
    raises, instead of counting 0 and passing a budget vacuously."""
    import re

    plan = physical_plan(df)
    ids = set(re.findall(rf"Exchange {kind}.*\[plan_id=(\d+)\]", plan))
    if not ids and f"Exchange {kind}" in plan:
        raise ValueError(f"no plan_id on any 'Exchange {kind}' in:\n{plan}")
    return len(ids)
