"""Physical-plan auditing.

`.explain()` as a testable API: the scale contract for every operator is
not just "right rows" but "right plan" — filters reaching the parquet
scan, small sides broadcast, window dedup compiled to per-group limits,
aggregates with map-side partials. tests/test_plans.py pins those
properties so a refactor that silently de-optimizes a plan fails CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Final (AQE-prepared) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def assert_plan_contains(df: DataFrame, *fragments: str) -> None:
    plan = physical_plan(df)
    missing = [f for f in fragments if f not in plan]
    assert not missing, f"plan is missing {missing}\n---\n{plan[:4000]}"


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters: [...] clause from the scans in the plan."""
    out = []
    for line in physical_plan(df).splitlines():
        if "PushedFilters: [" in line:
            out.append(line.split("PushedFilters: [", 1)[1].split("]", 1)[0])
    return out
