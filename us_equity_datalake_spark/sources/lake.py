"""Lake layout + incremental write patterns (SURVEY.md §1.4, §2.12).

The reference manages one-file-per-entity objects with hand-rolled hot/cold
routing (storage/pipeline/publishers.py:246-302; update/app.py:447-607).  The
Spark redesign is one logical table per entity, Hive-partitioned:

    ticks_daily/   partitioned by year          (hot: + month at ingest)
    ticks_minute/  partitioned by year, month
    fundamental/   partitioned by concept bucket or plain

with Catalyst partition pruning replacing the reference's manual month-file
routing (clients/ticks.py:235-292) — and three incremental write patterns:

- I3 idempotent overwrite: total refetch of the hot partition, dynamic
  partition overwrite (exactly-once by rewrite; update/app.py:296-445).
- I4 read-check-append: existing ∪ (new ⟕anti existing) by key — the
  MERGE-less dedup upsert (update/app.py:877-958).
- I5 compaction: rewrite a year partition into few large files
  (the Jan-1 consolidation, update/app.py:447-607).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from us_equity_datalake_spark.operators._cache import materialize_once


def _cluster_for_write(df: DataFrame, partition_by: list[str], files_per_partition: int | None) -> DataFrame:
    """Co-locate each output partition's rows before a partitioned write.

    Without this, EVERY upstream task writes a file into EVERY partition it
    holds rows for — an UpstreamTasks × Partitions small-file explosion (the
    incremental-maintenance fixture measured 32 tasks × 16 buckets → up to
    512 files per write).  A repartition on the partition columns makes it
    one task (= ``files_per_partition`` files) per partition; AQE coalesces
    the tiny shuffle.  ``files_per_partition=None`` skips the shuffle for
    callers that pre-arranged their layout."""
    if not partition_by or files_per_partition is None:
        return df
    cols = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        # spray term: splits each partition's rows across N write tasks
        cols.append(F.monotonically_increasing_id() % files_per_partition)
    return df.repartition(*cols)


def write_partitioned(
    df: DataFrame, path: str, *, partition_by: list[str], mode: str = "overwrite",
    files_per_partition: int | None = 1,
) -> None:
    df = _cluster_for_write(df, partition_by, files_per_partition)
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def overwrite_partition(
    spark: SparkSession, df: DataFrame, path: str, *, partition_by: list[str],
    files_per_partition: int | None = 1,
) -> None:
    """I3: dynamic partition overwrite — only partitions present in ``df`` are
    replaced; re-running with the same input is a no-op (idempotent upsert)."""
    df = _cluster_for_write(df, partition_by, files_per_partition)
    _overwrite_dynamic(df, path, partition_by)


def _overwrite_dynamic(df: DataFrame, path: str, partition_by: list[str]) -> None:
    # a writer option, not the session conf: concurrent writers on the same
    # session keep their own overwrite mode
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_check_append(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    *,
    keys: list[str],
    partition_by: list[str] | None = None,
    cache_fresh: bool = True,
    existing_filter=None,
) -> int:
    """I4: append only rows whose key is absent (anti-join dedup upsert).
    Returns the number of appended rows.

    ``cache_fresh`` (default True) persists the fresh rows across the
    count + write pair: without it the upstream plan executes TWICE — once
    for the emptiness probe, once for the write.  When the upstream is an
    ingest-edge pipeline (normalize/derive chains — update_fundamentals) the
    double execution is the dominant cost at every scale; when the upstream
    is a bare scan/filter the cache materialization costs MORE than the
    recompute (measured ~1 s on the lake round-trip fixture), so such
    callers pass ``cache_fresh=False``.

    ``existing_filter`` (optional Column) prunes the EXISTING-keys scan of
    the anti-join.  When the lake is partitioned on a key-derived column
    (sym_bucket = pmod(hash(symbol), N)), rows outside the partitions the
    new batch hashes into cannot share a key with it — so the dedup probe
    only needs to read those partitions.  Without this, a 400-row daily
    append against a multi-TB lake pays a full keys scan just to dedup;
    with it, the probe is partition-pruned to the touched buckets.  The
    CALLER asserts the filter is key-complete (every new row's key falls
    inside the filtered partitions) — a wrong filter silently re-appends
    duplicates."""
    if _exists(spark, path):
        existing = spark.read.parquet(path)
        if existing_filter is not None:
            existing = existing.filter(existing_filter)
        existing_keys = existing.select(*keys).distinct()
        fresh = new_rows.join(existing_keys, on=keys, how="left_anti")
    else:
        fresh = new_rows
    if cache_fresh:
        # materialize_once, not a bare persist: a cached plan materializes
        # WITHOUT AQE partition coalescing (full shuffle width on a
        # day-sized batch); this runs the upstream pipeline once through
        # the normal AQE path and both consumers read the blocks
        fresh = materialize_once(fresh)
    n = fresh.count()
    if n:
        out = _cluster_for_write(fresh, partition_by or [], 1)
        w = out.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
    return n


def compact_partition(spark: SparkSession, path: str, *, partition_by: list[str],
                      predicate: str, target_files: int = 1) -> None:
    """I5: rewrite the partitions selected by ``predicate`` into
    ``target_files`` files each (small-file compaction).  The read must
    resolve fully before the dynamic overwrite re-lands it."""
    part = spark.read.parquet(path).filter(predicate)
    compacted = part.repartition(target_files, *partition_by).cache()
    compacted.count()
    try:
        _overwrite_dynamic(compacted, path, partition_by)
    finally:
        compacted.unpersist()


def table_metadata_path(path: str) -> str:
    return os.path.join(path, "_table_metadata.json")


def write_table_metadata(spark: SparkSession, path: str, meta: dict) -> None:
    """The reference stashes custom parquet metadata on the security master
    (security_master.py:831-840); as a table-level sidecar here."""
    import json

    os.makedirs(path, exist_ok=True)
    with open(table_metadata_path(path), "w") as f:
        json.dump(meta, f, sort_keys=True)


def read_table_metadata(path: str) -> dict | None:
    import json

    p = table_metadata_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds a parquet dataset.  Only "nothing to read" (no
    schema-bearing file: UNABLE_TO_INFER_SCHEMA) counts as absent.  Any
    other read error (a corrupt footer) re-raises: callers take the absent
    branch to write with a whole-path overwrite or a full append, which on a
    table that exists but cannot be read deletes every other partition or
    re-appends every key."""
    if not os.path.exists(path):
        return False
    try:
        spark.read.parquet(path).schema
        return True
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        return False


def consolidate_year(
    spark: SparkSession,
    hot_path: str,
    history_path: str,
    *,
    year: int,
    force: bool = False,
) -> dict:
    """Jan-1 year consolidation (reference update/app.py:447-607
    ``consolidate_year``): move a completed year from the hot monthly layout
    into the consolidated history dataset, then drop the hot files.

    Reference steps re-expressed set-based (the per-symbol thread pool
    becomes ONE partition-pruned job over the whole universe):

    1. read the year's hot slice (partition-pruned on ``year``);
    2. safeguard — if history already holds that year and ``force`` is not
       set, raise (reference: 'Year N already exists... Use --force');
    3. land it into history via dynamic partition overwrite of exactly
       ``year=N`` (≡ reference's read-history / drop-year / append / rewrite,
       but without touching any other year's files);
    4. delete the hot ``year=N`` directory.

    Returns {'rows': n, 'status': 'consolidated' | 'skipped'}.
    """
    import shutil

    hot_year_dir = os.path.join(hot_path, f"year={year}")
    if not os.path.exists(hot_year_dir):
        return {"rows": 0, "status": "skipped"}
    year_df = spark.read.parquet(hot_path).filter(F.col("year") == year)

    if _exists(spark, history_path):
        have = {r.year for r in spark.read.parquet(history_path).select("year").distinct().collect()}
        if year in have and not force:
            raise ValueError(
                f"Year {year} already exists in {history_path}. Use force=True to overwrite."
            )
        # sever lineage from the files the dynamic overwrite will replace
        staged = year_df.localCheckpoint(eager=True)
        n = staged.count()
        _overwrite_dynamic(staged, history_path, ["year"])
    else:
        staged = year_df.localCheckpoint(eager=True)
        n = staged.count()
        staged.write.mode("overwrite").partitionBy("year").parquet(history_path)

    shutil.rmtree(hot_year_dir, ignore_errors=True)
    return {"rows": n, "status": "consolidated"}
