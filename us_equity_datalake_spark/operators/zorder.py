"""Z-order (Morton) clustering key for multi-dimensional data skipping.

The reference's lake prunes on ONE dimension (year/month partition paths,
storage layout SURVEY §1.4).  A 100 TB lake queried by several dimensions at
once (symbol AND date; customer AND order day) wants files whose min/max
ranges are narrow on ALL of them — that is exactly what sorting by an
interleaved-bit key gives: contiguous z-ranges are small hyper-rectangles, so
every file's per-column min/max footer stats stay tight and scans prune on
either dimension.

Implementation is pure bit arithmetic on the JVM (no UDF): each dimension is
clamped to ``bits`` bits, then bit i of dim d lands at position i*ndims+d of
the key.  Write-side layout = ``repartitionByRange(z).sortWithinPartitions(z)``
— one range shuffle, then each file covers one z-range.

DuckDB twins for every expression keep the operator oracle-checkable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, functions as F


def z_value(cols: list[Column], *, bits: int = 16) -> Column:
    """Morton key interleaving ``bits`` low bits of each (non-negative int)
    column; dimension 0 owns the even bit positions of a 2-dim key."""
    n = len(cols)
    mask = (1 << bits) - 1
    clamped = [c.cast("bigint").bitwiseAND(F.lit(mask)) for c in cols]
    terms = [
        F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + d)
        for d, c in enumerate(clamped)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a + b, terms).alias("z")


def z_value_sql(exprs: list[str], *, bits: int = 16) -> str:
    n = len(exprs)
    mask = (1 << bits) - 1
    parts = []
    for d, e in enumerate(exprs):
        c = f"(CAST({e} AS BIGINT) & {mask})"
        parts += [f"((({c} >> {i}) & 1) << {i * n + d})" for i in range(bits)]
    return "(" + " + ".join(parts) + ")"

