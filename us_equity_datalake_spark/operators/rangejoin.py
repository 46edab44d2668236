"""Range joins on time: pairs of rows whose timestamps lie within a tolerance.

For a big-big temporal join (|ts_a − ts_b| <= tolerance) the scalable plan is
**bucketed equi-join**: quantize time into tolerance-sized buckets, join on
(key, bucket) for the bucket and its neighbor, then apply the exact predicate.
This turns an O(n²)-per-key theta join into a hash join whose per-bucket
fan-out is bounded — the plan that holds when one key has millions of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def within_tolerance_pairs(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    id_col: str,
    tolerance_seconds: int,
    payload: list[str] | None = None,
) -> DataFrame:
    """Self-join: pairs of rows with the same key whose timestamps are within
    tolerance, id_a < id_b.  Bucketed equi-join as described above."""
    tol_us = tolerance_seconds * 1_000_000
    sel = [F.col(key).alias("k"), F.unix_micros(F.col(ts)).alias("t"), F.col(id_col).alias("id")] + [
        F.col(c) for c in (payload or [])
    ]
    base = df.select(*sel).withColumn("b", F.expr(f"t div {tol_us}"))
    # each left row probes its own bucket and the next; pairs in adjacent
    # buckets are found exactly once, same-bucket pairs deduped by id order.
    left = base.select("k", "t", "id", F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("jb"))
    right = base.withColumnRenamed("b", "jb")
    pairs = (
        left.alias("a")
        .join(right.alias("b"), ["k", "jb"])
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.t") - F.col("b.t")) <= tol_us)
        )
        .select(
            F.col("k").alias(key),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.t").alias("t_a_us"),
            F.col("b.t").alias("t_b_us"),
        )
        .distinct()
    )
    return pairs

