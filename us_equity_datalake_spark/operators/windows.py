"""Window-function operators: ordered ID assignment (SURVEY.md §2.5 W5), as a
single-partition running count for dimension-sized frames and as a
distributed prefix sum at fact scale.
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
    use ``monotonically_increasing_id`` or ``zipWithIndex`` semantics instead.
    """
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(new_group.cast("long")).over(w) + F.lit(base))


def assign_running_ids_distributed(
    df: DataFrame,
    *,
    order: str,
    new_group: Column,
    out: str = "assigned_id",
    base: int = 1000,
) -> DataFrame:
    """W5 at fact scale: same ``id = base + cumsum(new_group_flag)`` semantics
    as :func:`assign_running_ids`, but the global running count comes from
    ``operators.prefix.distributed_prefix_sum`` (range buckets + local
    cumsums + driver-scanned offsets) instead of a single-partition window —
    use this form when the ordered frame is no longer dimension-sized.
    ``order`` must be a unique numeric key (the prefix-sum contract)."""
    from us_equity_datalake_spark.operators.prefix import distributed_prefix_sum

    flagged = df.withColumn("__flag", new_group.cast("long"))
    out_df = distributed_prefix_sum(flagged, order_by=order, value="__flag", out="__cum")
    return out_df.withColumn(out, F.col("__cum") + F.lit(base)).drop("__flag", "__cum")
