"""Window-function operators: ordered ID assignment (SURVEY.md §2.5 W5) as a
single-partition running count for dimension-sized frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def assign_running_ids(
    df: DataFrame,
    *,
    order: list[str],
    new_group: Column,
    out: str = "assigned_id",
    base: int = 1000,
) -> DataFrame:
    """W5: running count → ID assignment (security_master.py:582-593):
    ``id = base + cumsum(new_group_flag)`` over a globally ordered frame.

    Scale note: a global ordered window is single-partition; acceptable ONLY
    for dimension-sized inputs (~50k rows).  Fact-scale ID assignment should
    run the flag through ``operators.prefix.distributed_prefix_sum`` instead.
    """
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(new_group.cast("long")).over(w) + F.lit(base))
