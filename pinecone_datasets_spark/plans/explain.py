"""Physical-plan introspection helpers.

Used by tests and by the bench harness to *verify* the plans we claim:
filters pushed to the parquet scan, pruned read schemas.
Scale discipline is only real if it's asserted.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every scan node in the formatted plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        inner = m.group(1).strip()
        if inner:
            out.extend(p.strip() for p in inner.split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", plan):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols

