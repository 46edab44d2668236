"""Statistical sketches: fixed-bin histogram quantiles with a DuckDB twin
that grades them exactly (the quantile member of the sketch family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


# ---------------------------------------------------------------------------
# Histogram quantile sketch — fixed-bin approximate quantiles
# ---------------------------------------------------------------------------
#
# The quantile member of the sketch family (KMV/HLL: distinct, CMS:
# frequency): a fixed equi-width histogram whose counts are the aggregation
# state.  At 100 TB the per-partition state is `bins` counters, partial
# aggregation collapses every map task to <= bins rows before the shuffle,
# and any quantile reads off the (bins)-row cumulative table — the same
# two-pass shape engines use for t-digest/GK, but with deterministic,
# engine-portable arithmetic: bin indexes and interpolation are identical
# IEEE double expressions in Spark and DuckDB, so the approximate estimates
# grade exactly.  (t-digest's merge order is engine-internal and cannot be
# reproduced across engines; the fixed-bin sketch trades adaptivity for
# exact reproducibility, with error bounded by one bin width.)

HIST_BINS = 1024


def histogram_quantiles(
    df: DataFrame,
    value: str,
    *,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    bins: int = HIST_BINS,
) -> DataFrame:
    """Approximate quantiles from a fixed equi-width histogram, alongside the
    exact rank-based quantile (so the result exhibits the sketch's <= 1-bin
    error).  Pass 1: min/max/count (one agg); pass 2: bin counts; the
    estimate interpolates linearly inside the target bin at rank ceil(q*N).
    """
    from pyspark.sql import Window

    v = F.col(value)
    bounds = df.agg(
        F.min(v).alias("lo"), F.max(v).alias("hi"), F.count(v).alias("n_rows")
    )  # 1 row — broadcast, never collected
    binned = df.where(v.isNotNull()).crossJoin(F.broadcast(bounds))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    idx = F.floor((v - F.col("lo")) / width).cast("long")
    # hi == lo (constant column) makes width 0 and the index 0/0: Spark's
    # null-division folds to bucket 0 via greatest(), DuckDB's may yield
    # inf/NULL with different CAST behavior — short-circuit the degenerate
    # case explicitly in BOTH engines (every row lands in bucket 0; the
    # interpolation term multiplies by width, so every quantile equals lo)
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(F.lit(bins - 1), F.greatest(F.lit(0), idx))
    )
    hist = (
        binned.select(bucket.alias("bucket"), "lo", "hi", "n_rows")
        .groupBy("bucket", "lo", "hi", "n_rows")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "cum_prev", F.col("cum") - F.col("c")
    )  # bins rows: the single-partition window is dimension-sized by contract
    # ONE cum table theta-joined with the literal quantile list (broadcast
    # 3-row side) — a per-q union would re-derive the histogram per quantile
    import pandas as pd

    # pandas/Arrow-backed local relation: executes JVM-side (a tuple-list
    # frame pays a Python worker round-trip in every job that joins it)
    qdf = df.sparkSession.createDataFrame(
        pd.DataFrame({"q": [float(q) for q in qs]}), schema="q double"
    )
    r = F.ceil(F.col("q") * F.col("n_rows")).cast("long")
    quants = (
        F.broadcast(qdf)
        .join(cum, (F.col("cum") >= r) & (F.col("cum_prev") < r))
        .select(
            "q",
            r.alias("target_rank"),
            F.col("bucket").alias("hit_bucket"),
            (r - F.col("cum_prev")).alias("rank_in_bucket"),
            F.round(
                F.col("lo")
                + (F.col("bucket") + (r - F.col("cum_prev")) / F.col("c"))
                * ((F.col("hi") - F.col("lo")) / F.lit(float(bins))),
                6,
            ).alias("est_q"),
        )
    )
    # exact rank-based quantile for the error column — BIN-PRUNED selection:
    # the cum table already locates the target bin, so only that bin's rows
    # (~N/bins) are sorted, per q, instead of a global single-partition sort
    # of the corpus (measured 30 s at a 6M-row sf1 before this rework)
    in_bin = (
        binned.select(v.alias("val"), bucket.alias("bucket"))
        .join(F.broadcast(quants), F.col("bucket") == F.col("hit_bucket"))
    )
    rw = Window.partitionBy("q").orderBy("val")
    exact = (
        in_bin.withColumn("__rn", F.row_number().over(rw))
        .where(F.col("__rn") == F.col("rank_in_bucket"))
        .select("q", "target_rank", "est_q", F.col("val").alias("exact_q"))
    )
    return exact.select(
        "q",
        "target_rank",
        "est_q",
        "exact_q",
        F.round(F.abs(F.col("est_q") - F.col("exact_q")), 6).alias("abs_err"),
    )


def histogram_quantiles_sql(
    table: str,
    value: str,
    *,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    bins: int = HIST_BINS,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles` (same bins, ranks, math)."""
    per_q = "\nUNION ALL\n".join(
        f"""
        SELECT CAST({q} AS DOUBLE) AS q,
               CAST(CEIL({q} * n_rows) AS BIGINT) AS target_rank,
               bucket AS hit_bucket,
               CAST(CEIL({q} * n_rows) AS BIGINT) - cum_prev AS rank_in_bucket,
               ROUND(lo + (bucket + (CAST(CEIL({q} * n_rows) AS BIGINT) - cum_prev)
                           / CAST(c AS DOUBLE))
                          * ((hi - lo) / {float(bins)}), 6) AS est_q
        FROM cum
        WHERE cum >= CAST(CEIL({q} * n_rows) AS BIGINT)
          AND cum_prev < CAST(CEIL({q} * n_rows) AS BIGINT)
        """
        for q in qs
    )
    return f"""
    WITH bounds AS (
      SELECT MIN({value}) AS lo, MAX({value}) AS hi, COUNT({value}) AS n_rows
      FROM {table}
    ),
    hist AS (
      -- hi = lo short-circuit mirrors the Spark operator (constant column
      -- => one bucket, every quantile = lo); without it 0/0 arithmetic
      -- diverges between engines
      SELECT CASE WHEN hi = lo THEN 0 ELSE LEAST({bins - 1}, GREATEST(0,
               CAST(FLOOR(({value} - lo) / ((hi - lo) / {float(bins)})) AS BIGINT)
             )) END AS bucket,
             lo, hi, n_rows, COUNT(*) AS c
      FROM {table}, bounds
      WHERE {value} IS NOT NULL
      GROUP BY 1, 2, 3, 4
    ),
    cum AS (
      SELECT *, CAST(SUM(c) OVER (ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (ORDER BY bucket) - c AS BIGINT) AS cum_prev
      FROM hist
    ),
    quants AS ({per_q}),
    in_bin AS (
      SELECT q, target_rank, est_q, rank_in_bucket, {value} AS val,
             ROW_NUMBER() OVER (
               PARTITION BY q ORDER BY {value}
             ) AS rn
      FROM {table}, bounds JOIN quants
        ON CASE WHEN hi = lo THEN 0 ELSE LEAST({bins - 1}, GREATEST(0,
             CAST(FLOOR(({value} - lo) / ((hi - lo) / {float(bins)})) AS BIGINT)
           )) END = hit_bucket
      WHERE {value} IS NOT NULL
    )
    SELECT q, target_rank, est_q, val AS exact_q,
           ROUND(ABS(est_q - val), 6) AS abs_err
    FROM in_bin WHERE rn = rank_in_bucket
    """
