"""Plan-shape assertions: the "would this survive 100×?" checks.

The optimizer work the reference hand-writes (predicate pushdown into its
generated SQL, the (COMMITSEQ, INTENTSEQ) index) is delegated to Catalyst
here — but delegation needs *verification*: a filter that silently stops
reaching the parquet scan, or a broadcast join that silently becomes a
sort-merge join, is a 100×-scale regression that still passes every
correctness test.  These helpers let tests pin the plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan node carries a PushedFilters entry
    containing ``fragment``."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes — the primary scale cost driver."""
    plan = formatted_plan(df)
    return sum(
        1 for ln in plan.splitlines()
        if ln.strip().startswith("+- Exchange") or ln.strip().startswith("Exchange")
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read by the first parquet scan (column pruning)."""
    import re

    plan = formatted_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [c.split(":")[0] for c in m.group(1).split(",") if c]
