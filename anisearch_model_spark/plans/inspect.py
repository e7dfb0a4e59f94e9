"""Physical-plan inspection helpers — the ".explain and iterate" loop as
assertable code, so plan quality regressions fail tests instead of rotting.

Checks the task brief calls out explicitly: filters reaching the Parquet
scan (PushedFilters), column pruning (ReadSchema), broadcast joins chosen
for small dims, whole-stage codegen coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a Parquet scan in the plan pushes a filter containing
    ``fragment`` (e.g. a column name)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line and "[]" not in line:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of every scan's ReadSchema — verifies pruning."""
    out = []
    for line in formatted_plan(df).splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            out.append([c.split(":")[0] for c in inner.split(",") if c])
    return out


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    """True if a scan prunes PARTITION directories on ``fragment`` (e.g. a
    partition column name) — pruning happens at planning, before any file
    is opened."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PartitionFilters" in line and fragment in line and "[]" not in line:
            return True
    return False


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def uses_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def generate_count(df: DataFrame) -> int:
    """Number of Generate (explode) nodes — each one multiplies its input
    relation, so operators assert a budget on them.  Counts the plan-tree
    overview lines of ``explain("formatted")``, where every node appears
    exactly once as ``NodeName (id)``."""
    import re

    return len(re.findall(r"Generate \(\d+\)", formatted_plan(df)))


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) nodes in the plan-tree overview —
    each is a full materialize-and-repartition of its input, so operators
    assert a budget on them."""
    import re

    return len(re.findall(r"Exchange \(\d+\)", formatted_plan(df)))


def takes_ordered_and_project(df: DataFrame) -> bool:
    """ORDER BY + LIMIT planned as a per-partition heap (no full sort)."""
    return "TakeOrderedAndProject" in formatted_plan(df)
