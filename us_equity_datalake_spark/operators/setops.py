"""Set operations (SURVEY.md §2.7): universe diff and anti-membership — the
reference's snapshot state machine building blocks
(security_master.py:1251-1259; update/app.py:896-900).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def snapshot_diff(prev: DataFrame, cur: DataFrame, *, key: str) -> DataFrame:
    """U2: full-outer membership diff → one row per key with status in
    {appeared, disappeared, still_active} (security_master.py:1251-1259)."""
    p = prev.select(F.col(key).alias("k")).distinct().withColumn("in_prev", F.lit(1))
    c = cur.select(F.col(key).alias("k")).distinct().withColumn("in_cur", F.lit(1))
    joined = p.join(c, "k", "full_outer")
    status = (
        F.when(F.col("in_prev").isNotNull() & F.col("in_cur").isNotNull(), F.lit("still_active"))
        .when(F.col("in_cur").isNotNull(), F.lit("appeared"))
        .otherwise(F.lit("disappeared"))
    )
    return joined.select(F.col("k").alias(key), status.alias("status"))


def anti_members(df: DataFrame, existing: DataFrame, *, on: list[str]) -> DataFrame:
    """U3/J8: rows of ``df`` whose key is absent from ``existing`` (fresh
    filings / unwritten partitions)."""
    return df.join(existing.select(*on).distinct(), on=on, how="left_anti")
