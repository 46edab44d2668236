"""Z-order FILE-SKIPPING proof (VERDICT r6 #7): `zorder_bucket_stats` grades
the Morton-key layout math; this module proves the layout actually PRUNES —
the parquet scan's own metrics (rows surviving row-group min/max pruning)
and the per-file footer statistics both drop on a 2-D box predicate, vs an
unclustered twin and vs a single-dimension-sorted twin.

Why numOutputRows is the right metric: Spark's vectorized parquet reader
applies pushed predicates at ROW-GROUP granularity (footer min/max), not per
record — a skipped row group's rows never leave the scan, so the scan's
numOutputRows is exactly "rows read after stats pruning".  With one row
group per file (small files), row-group pruning IS file skipping.  The
per-file footer check mirrors what a stats-indexed lake format (the file
min/max index of Delta/Iceberg/Hudi) would prune at the FILE level.
"""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from us_equity_datalake_spark.operators import zorder

N_SIDE = 512          # x,y grid in [0, 512)
N_FILES = 32
ROWS_PER_FILE = N_SIDE * N_SIDE // N_FILES
Z_BITS = 10           # Morton bits per dimension (covers N_SIDE)
BOX = 64              # predicate: x < 64 AND y < 64


def _scan_metrics(df):
    """(numFiles, numOutputRows) of the leaf parquet scan AFTER running the
    plan — collect() executes the same java queryExecution the metrics hang
    off (count() would run a separate one and leave them zeroed)."""
    n_rows = len(df.collect())
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    scan = plan.collectLeaves().apply(0)
    m = scan.metrics()
    return n_rows, m.apply("numFiles").value(), m.apply("numOutputRows").value()


def _files_overlapping_box(path: str) -> tuple[int, int]:
    """(n_files, n_files a min/max file index would READ for the box) from
    the parquet footers — the file-level skip a stats-indexed lake gets."""
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    overlap = 0
    for f in names:
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo_x = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        lo_y = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        if lo_x < BOX and lo_y < BOX:
            overlap += 1
    return len(names), overlap


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("zskip"))
    grid = spark.range(N_SIDE * N_SIDE).select(
        (F.col("id") % N_SIDE).alias("x"),
        F.floor(F.col("id") / N_SIDE).alias("y"),
    )
    paths = {k: os.path.join(root, k) for k in ("zorder", "xsort", "random")}
    # The sorted layouts are written as ONE sorted partition cut into files
    # of ROWS_PER_FILE rows, so every file is a contiguous key range fixed by
    # the data alone.  (repartitionByRange takes its boundaries from a
    # sampler seeded by the RDD id, so its files would vary with whatever
    # ran earlier in the session.)
    # z-ordered: sort by the Morton key, key dropped
    (
        grid.withColumn("__z", zorder.z_value([F.col("x"), F.col("y")], bits=Z_BITS))
        .coalesce(1)
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.option("maxRecordsPerFile", ROWS_PER_FILE)
        .parquet(paths["zorder"])
    )
    # single-dimension sort: prunes on x, blind on y
    (
        grid.coalesce(1)
        .sortWithinPartitions("x")
        .write.option("maxRecordsPerFile", ROWS_PER_FILE)
        .parquet(paths["xsort"])
    )
    # unclustered: hash shuffle, every file spans the full x/y range
    grid.repartition(N_FILES).write.parquet(paths["random"])
    return paths


def _layout_diag(path: str) -> str:
    """Per-file (rows, x/y min-max) from the footers — enough to tell a
    degenerate WRITE (bad range boundaries / fragmented files) from a
    non-pruning READ when the bound assert trips in a long suite session.
    Columns are found by name, a row group without statistics prints
    ``no stats``, and any other failure is reported inline: the diagnostic
    only decorates the assertion message, it must never replace it."""

    def span(md, col):
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        if col not in names:
            return "missing"
        i = names.index(col)
        st = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
        if any(s is None or not s.has_min_max for s in st):
            return "no stats"
        return f"[{min(s.min for s in st)},{max(s.max for s in st)}]"

    lines = []
    try:
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            lines.append(
                f"{f}: rows={md.num_rows} rgs={md.num_row_groups} "
                f"x={span(md, 'x')} y={span(md, 'y')}"
            )
    except Exception as e:  # noqa: BLE001 - see docstring
        lines.append(f"layout diagnostic failed: {e!r}")
    return "\n".join(lines)


def test_scan_row_group_pruning_orders_the_three_layouts(spark, layouts):
    got = {}
    for k, p in layouts.items():
        df = spark.read.parquet(p).filter((F.col("x") < BOX) & (F.col("y") < BOX))
        n_rows, n_files, scanned = _scan_metrics(df)
        assert n_rows == BOX * BOX  # pruning never changes the ANSWER
        got[k] = (n_files, scanned)
    total = N_SIDE * N_SIDE
    # unclustered: every row group overlaps the box -> full scan
    assert got["random"][1] == total, got
    # x-sorted: prunes to the x < 64 stripe (~1/8 of rows), all y inside it
    assert got["xsort"][1] <= total // 4, got
    # z-ordered: the box is a contiguous z-range -> at most ~3 of 32 files
    assert got["zorder"][1] <= 3 * (total // N_FILES), (
        f"{got}\nzorder layout:\n{_layout_diag(layouts['zorder'])}"
    )
    # and z-order must beat the single-dimension sort on the 2-D predicate
    assert got["zorder"][1] < got["xsort"][1], got


def test_file_footer_stats_give_file_level_skipping(layouts):
    n_z, hit_z = _files_overlapping_box(layouts["zorder"])
    n_r, hit_r = _files_overlapping_box(layouts["random"])
    assert n_z == N_FILES and n_r == N_FILES
    # every unclustered file overlaps the box; the z-ordered layout confines
    # it to a few z-range files — the file-level skip a min/max index buys
    assert hit_r == N_FILES
    assert hit_z <= max(2, N_FILES // 8)


def _morton(x, y):
    """2-dim Morton key of non-negative int arrays: x owns the even bits
    (the bit order of ``zorder.z_value``)."""
    z = np.zeros_like(x)
    for i in range(Z_BITS):
        z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_files_are_aligned_morton_blocks(layouts):
    path = layouts["zorder"]
    blocks = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, f))
        z = _morton(t.column("x").to_numpy().astype(np.int64), t.column("y").to_numpy().astype(np.int64))
        lo = int(z.min())
        assert lo % ROWS_PER_FILE == 0 and int(z.max()) == lo + ROWS_PER_FILE - 1, (f, lo, int(z.max()))
        assert len(z) == ROWS_PER_FILE, (f, len(z))
        blocks.append(lo // ROWS_PER_FILE)
    # disjoint and covering: each of the N_FILES aligned blocks exactly once
    assert sorted(blocks) == list(range(N_FILES)), blocks


def test_layout_diag_survives_missing_stats_and_columns(tmp_path):
    """The diagnostic decorates a failing assert, so it must report a file
    without statistics (or without an x/y column) instead of raising."""
    import pyarrow as pa

    pq.write_table(pa.table({"y": [1, 2], "x": [3, 4]}),
                   str(tmp_path / "a.parquet"), write_statistics=False)
    pq.write_table(pa.table({"z": [5]}), str(tmp_path / "b.parquet"))
    diag = _layout_diag(str(tmp_path))
    assert "a.parquet: rows=2 rgs=1 x=no stats y=no stats" in diag
    assert "b.parquet: rows=1 rgs=1 x=missing y=missing" in diag
