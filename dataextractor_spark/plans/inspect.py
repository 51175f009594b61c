"""Plan inspection: the '.explain and iterate' loop as code, so tests
can ASSERT plan properties (pushdown happened, a join broadcast, a
bucketed join didn't shuffle) instead of eyeballing them."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (same text as .explain(mode))."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    return jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded) — the engine's primary scale cost metric."""
    plan = physical_plan(df, "simple")
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
        or "Exchange SinglePartition" in line
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every scan in the plan."""
    out = []
    for line in physical_plan(df, "formatted").splitlines():
        s = line.strip()
        if s.startswith("PushedFilters:"):
            out.append(s[len("PushedFilters:") :].strip())
    return out
