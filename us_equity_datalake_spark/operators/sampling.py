"""Deterministic sampling / dataset splitting for training pipelines.

Random `df.sample()` is non-reproducible across runs, engines, and —
critically — across *re-partitionings* of the same 100 TB corpus.  Training
splits must be a pure function of the row's identity, so membership is
decided by a hash of the id column:

  bucket(id) = md5_64bits(id) mod 100   →   train < 80 ≤ valid < 90 ≤ test

Properties that matter at scale:

- **Stable under reprocessing**: adding or removing other rows never moves an
  existing row between splits (no dependence on row order or partition count).
- **Join-free leakage control**: all rows sharing an id (e.g. chunks of one
  document) land in the same split, preventing train/test contamination.
- **Engine-portable**: md5-based (functions.hashing), so the exact same split
  reproduces in DuckDB — the oracle checks membership, not just counts.

Narrow transformation: no shuffle; the split column is computed at scan time
and is a partition-pruning-friendly write key (`partitionBy("split")`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pyspark.sql import Window

from us_equity_datalake_spark.functions.hashing import (
    md5_long32,
    md5_long32_sql,
    md5_long60,
    md5_long60_sql,
)


def split_bucket(id_col: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from the id's md5."""
    return (md5_long60(id_col.cast("string")) % n_buckets).cast("int")


def split_bucket_sql(id_expr: str, n_buckets: int = 100) -> str:
    return f"CAST({md5_long60_sql(f'CAST({id_expr} AS VARCHAR)')} % {n_buckets} AS INT)"


def hash_split(
    df: DataFrame,
    id_col: str,
    *,
    train: int = 80,
    valid: int = 10,
    n_buckets: int = 100,
) -> DataFrame:
    """Add a ``split`` column ('train'/'valid'/'test') decided by id hash.

    ``train`` and ``valid`` are bucket counts out of ``n_buckets``; the
    remainder is test.
    """
    b = split_bucket(F.col(id_col), n_buckets)
    return df.withColumn(
        "split",
        F.when(b < train, F.lit("train"))
        .when(b < train + valid, F.lit("valid"))
        .otherwise(F.lit("test")),
    )


def hash_split_sql(id_expr: str, *, train: int = 80, valid: int = 10, n_buckets: int = 100) -> str:
    b = split_bucket_sql(id_expr, n_buckets)
    return (
        f"CASE WHEN {b} < {train} THEN 'train' "
        f"WHEN {b} < {train + valid} THEN 'valid' ELSE 'test' END"
    )


# -- weighted priority sampling -------------------------------------------------
#
# Deterministic analog of weighted sampling without replacement: each row gets
# priority = (md5_32bits(id) * SCALE) div weight; the sample is the k smallest
# priorities.  Heavier rows divide their (uniform) hash by a larger weight, so
# inclusion probability grows with weight — the A-ES/priority-sampling idea
# (Efraimidis & Spirakis 2006) with integer division instead of u^(1/w) so the
# ordering is bit-identical across engines (no transcendental math).  32-bit
# hash × SCALE stays < 2^53: exact in both BIGINT and double arithmetic.

_PRIORITY_SCALE = 1_000_000


def weighted_priority(id_col: Column, weight_col: Column) -> Column:
    """Integer sampling priority; smaller = more likely selected."""
    h = md5_long32(id_col.cast("string")) * _PRIORITY_SCALE
    w = weight_col.cast("bigint")
    # (h - h % w) / w == integer division for positive operands; the quotient
    # is an exact integer < 2^53 so the double round-trip is lossless
    return ((h - h % w) / w).cast("bigint")


def weighted_priority_sql(id_expr: str, weight_expr: str) -> str:
    h = md5_long32_sql(f"CAST({id_expr} AS VARCHAR)")
    return f"(({h} * {_PRIORITY_SCALE}) // CAST({weight_expr} AS BIGINT))"


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, *, k: int) -> DataFrame:
    """The k rows with smallest weighted priority (ties broken by id).

    Top-k, not a sort: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition heaps, no global shuffle of the corpus.
    """
    out = df.withColumn("priority", weighted_priority(F.col(id_col), F.col(weight_col)))
    return out.orderBy("priority", id_col).limit(k)


def stratified_sample(df: DataFrame, id_col: str, strata: list[str], *, k: int) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by hash order —
    deterministic equal-allocation stratified sampling (rebalances skewed
    strata, e.g. per-language caps in a multilingual corpus).  One shuffle on
    the strata key; rank by (md5(id), id) so the choice is reproducible and
    independent of physical row order."""
    w = Window.partitionBy(*strata).orderBy(md5_long60(F.col(id_col).cast("string")), id_col)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
