"""Null-safe arithmetic matching the reference's discipline: every guarded
expression yields **null** — never NaN/Inf — on a null or zero denominator
(reference derived/metrics.py:93-106).

Spark's non-ANSI division already returns null for x/0, but 0.0/0.0 on
literal-double paths and sums over NaN inputs can still surface NaN, so the
guards are explicit.  ``dec_sum`` exists for oracle comparability: double
summation order differs between engines; summing as DECIMAL(18,4) is exact and
order-independent, then one final cast back to double is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def safe_div(num: Column, denom: Column) -> Column:
    return F.when(denom.isNotNull() & (denom != 0) & num.isNotNull(), num / denom).otherwise(F.lit(None))


def safe_add(a: Column, b: Column) -> Column:
    return F.when(a.isNotNull() & b.isNotNull(), a + b).otherwise(F.lit(None))


def safe_sub(a: Column, b: Column) -> Column:
    return F.when(a.isNotNull() & b.isNotNull(), a - b).otherwise(F.lit(None))


def safe_mul(a: Column, b: Column) -> Column:
    return F.when(a.isNotNull() & b.isNotNull(), a * b).otherwise(F.lit(None))


def dec_sum(col: Column, scale: int = 6) -> Column:
    """Order-independent exact sum of a double column via decimal, as double."""
    return F.sum(col.cast(f"decimal(30,{scale})")).cast("double")


def dec_sum_sql(expr: str, scale: int = 6) -> str:
    """DuckDB-side equivalent of :func:`dec_sum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE)"
